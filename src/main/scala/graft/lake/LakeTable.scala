package graft.lake

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileStatus, Path => HPath}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructType}

import graft.schema.{JArr, JNum, JObj, JStr, JValue, Json}

/** One data segment: a parquet leaf directory holding exactly one key
  * bucket, written under one schema version, rows at the top level.
  *
  * @param kind "base" (compacted, one per bucket) or "delta" (append-only
  *             upsert batch — merge-on-read)
  * @param seq  commit sequence the segment was written at (row visibility
  *             order for merge-on-read resolution)
  * @param maxSeq largest row-visibility seq in the segment (−1 = unknown,
  *             pre-r8 segment): recorded at write time from the same
  *             Observation that counts rows, so [[LakeTable.readChangesSince]]
  *             can prune cold segments FROM THE MANIFEST instead of
  *             opening every live footer per feed poll — at 10^10 rows
  *             the difference between O(changed segments) and O(live
  *             segments) listings (VERDICT r7 #3).
  */
final case class Segment(path: String, bucket: Int, schemaVer: Int,
    kind: String, seq: Long, maxSeq: Long = -1L)

/** Per-commit lineage record (the rebuild's answer to the reference's
  * TMPDIR db script audit files, sqlDDL.ts:107-116). */
final case class Lineage(tag: String, buckets: Seq[Int], upserted: Long,
    deleted: Long, compacted: Seq[Int], wallMs: Long)

/** An immutable table snapshot: schema history, live segments, merge keys,
  * applied commit tags (exactly-once), lineage. */
final case class Snapshot(
    version: Int,
    schemaVer: Int,
    schemas: Map[Int, StructType], // ver → schema (history for old files)
    keyCols: Seq[String],          // merge identity (FK chain + PK)
    rootKey: String,               // root-document key column (bucketing,
                                   // delete-tombstone cascade)
    segments: Seq[Segment],
    commits: Seq[String],          // applied (streamId:batchId) tags,
                                   // oldest-first, bounded retention
    lineage: Seq[Lineage],
    seqDomain: String = "",        // row-visibility seq domain: "lsn"
                                   // (caller's monotone event seq) or
                                   // "commit" (table version) — mixing the
                                   // two would silently break LWW, so the
                                   // first data merge pins it and later
                                   // merges must match
    numBuckets: Int = 0,           // PERSISTED bucket count — the layout
                                   // is a property of the data, not the
                                   // opener: a session constructing the
                                   // table with a different constructor
                                   // default must keep hashing keys the
                                   // way the segments were written
                                   // (0 = pre-persistence snapshot:
                                   // fall back to the constructor)
    timeMs: Long = 0L,             // commit wall clock, MONOTONIZED per
                                   // table at publish (max(now, prev+1),
                                   // Delta-commit-timestamp style) so a
                                   // clock regression can never reorder
                                   // snapshot history; 0 = pre-feature
                                   // snapshot (sorts before any real ts)
) {
  def schema: StructType = schemas(schemaVer)
  private lazy val commitSet = commits.toSet
  def hasCommit(tag: String): Boolean = commitSet.contains(tag)
}

/** A minimal snapshot-committing lake table over parquet — MERGE upserts,
  * additive schema evolution, snapshot isolation, idempotent re-commit.
  * No Iceberg jar exists in this sandbox (SURVEY.md §7.0); this supplies
  * the properties the north rule names.
  *
  * Replaces the reference's SQL Server tables + per-row `MERGE INTO`
  * (/root/reference/src/lib/sqlDML.ts:155-423) with a **merge-on-read**
  * design (the Hudi-MOR / Paimon shape):
  *
  *  - data is hash-bucketed on the ROOT document key, co-partitioning a
  *    document's rows across all of its tables;
  *  - an upsert batch APPENDS one delta segment per touched bucket — no
  *    existing data is read or rewritten on the hot path, so ingest cost
  *    is O(batch), not O(touched table data);
  *  - reads resolve the newest row per key with bucket-local windows
  *    over a [[LakeScan]] (`row_number over (partition by _gbucket, key
  *    order by _gseq desc)`), so they plan no exchange;
  *  - deletes and delta buildup (≥ maxDeltas) trigger per-bucket inline
  *    compaction: those buckets are resolved and rewritten as a single
  *    base segment, so read amplification stays bounded;
  *  - every commit is an atomic snapshot-file rename; a commit tag seen
  *    before makes the whole merge a no-op (exactly-once under
  *    foreachBatch retries).
  *
  * At 100 TB: numBuckets scales to thousands; a micro-batch writes ~1 file
  * per touched bucket, compaction amortizes rewrites to 1/maxDeltas of
  * ingested bytes, and a read runs one task per bucket it touches with
  * no shuffle.
  */
final class LakeTable(val spark: SparkSession, val root: String,
    val name: String, val numBuckets: Int = 64, val maxDeltas: Int = 8) {

  /** Snapshot-log retention: the commit-tag set exists for exactly-once
    * re-apply, which only matters within the streaming engine's retry
    * window — keep the most recent tags, not all history (at 10^10
    * events the log would otherwise grow with every micro-batch). Same
    * for lineage records. */
  val maxCommitTags = 4096
  val maxLineage = 256

  /** ALL control-plane and data-plane paths resolve through the Hadoop
    * FileSystem the lake root's scheme maps to (VERDICT r5 #1): plain /
    * `file:` paths hit the raw local FS (tests, this sandbox), `hdfs:` /
    * `s3a:` / any `fs.<scheme>.impl` hit the real DFS on a cluster —
    * same code, no porting seam. */
  private val fio = new Fio(spark.sessionState.newHadoopConf())
  private val dir: HPath = fio.qualify(new HPath(new HPath(root), name))
  /** The snapshot log: `_snap/vNNNNN.json`, one file per version. */
  private val log = new VersionLog[Snapshot](fio, new HPath(dir, "_snap"),
    readSnapshot)
  val BucketCol = LakeTable.BucketCol
  val SeqCol = LakeTable.SeqCol
  val DelCol = LakeTable.DelCol

  // ---------- snapshot log ----------

  def currentVersion(): Int = log.versions().lastOption.fold(0)(_._1)

  def exists(): Boolean = currentVersion() > 0

  def snapshot(): Snapshot = {
    val s = snapshotOpt()
    require(s.isDefined, s"lake table $name does not exist at $dir")
    s.get
  }

  /** The current snapshot, None before [[create]]: one listing, a parse
    * only when the log's cache does not hold that file. */
  def snapshotOpt(): Option[Snapshot] = log.latest().map(_._2)

  /** All retained snapshot versions, oldest first (vacuum keeps the
    * newest `keepSnapshots`). */
  def snapshotVersions(): Seq[Int] = log.versions().map(_._1)

  /** All retained snapshots, oldest first, parsed lazily through the
    * cache (one listing). */
  def retainedSnapshots(): Iterator[Snapshot] =
    log.versions().iterator.map { case (v, st) => log.read(v, st) }

  /** Time-travel: the snapshot at `version` (must still be retained). */
  def snapshotAt(version: Int): Snapshot = log.read(version)

  /** Is `version`'s snapshot JSON still on disk? Vacuum keeps the newest
    * `keepSnapshots` plus pinned versions, so retention is NOT a
    * contiguous range once pins exist. A retained version may still be
    * unreadable: [[materialized]] checks its segments. One stat. */
  def retained(version: Int): Boolean =
    version >= 1 && log.status(version).isDefined

  private def readSnapshot(v: Int, text: String): Snapshot = {
    def arr(o: JObj, k: String) =
      o.get(k).collect { case JArr(x) => x }.getOrElse(Vector.empty)
    def num(o: JObj, k: String) = o.get(k).collect { case JNum(n) => n.toLong }
    def str(o: JObj, k: String) = o.get(k).collect { case JStr(s) => s }
    def ints(o: JObj, k: String) = arr(o, k).collect { case JNum(n) => n.toInt }
    val o = Json.parse(text).asInstanceOf[JObj]
    val schemas = o.get("schemas").collect { case JObj(fs) =>
      fs.map {
        case (k, JStr(s)) => k.toInt -> DataType.fromJson(s).asInstanceOf[StructType]
        case (k, _) => throw new IllegalStateException(s"bad schema entry $k")
      }.toMap
    }.get
    val segs = arr(o, "segments").map {
      case seg: JObj =>
        val path = str(seg, "path").get
        // a non-empty "sub" marks a segment of the removed single-job
        // multi-table commit (rows nested under a per-table struct):
        // reading it as a plain segment would return wrong rows
        if (seg.get("sub").exists(_ != JStr("")))
          throw new IllegalStateException(
            s"table $name snapshot v$v: segment $path was written by the " +
              "removed multi-table commit path and cannot be read; run " +
              "compactAll on this table with the previous release first")
        Segment(path, num(seg, "bucket").get.toInt,
          num(seg, "schemaVer").get.toInt, str(seg, "kind").getOrElse("base"),
          num(seg, "seq").getOrElse(0L), num(seg, "maxSeq").getOrElse(-1L))
      case _ => throw new IllegalStateException("bad segment")
    }
    val lineage = arr(o, "lineage").map {
      case l: JObj =>
        Lineage(str(l, "tag").get, ints(l, "buckets"),
          num(l, "upserted").getOrElse(0L), num(l, "deleted").getOrElse(0L),
          ints(l, "compacted"), num(l, "wallMs").getOrElse(0L))
      case _ => throw new IllegalStateException("bad lineage")
    }
    Snapshot(v, num(o, "schemaVer").get.toInt, schemas,
      arr(o, "keyCols").collect { case JStr(s) => s },
      str(o, "rootKey").getOrElse(""), segs,
      arr(o, "commits").collect { case JStr(s) => s }, lineage,
      str(o, "seqDomain").getOrElse(""), num(o, "numBuckets").fold(0)(_.toInt),
      num(o, "timeMs").getOrElse(0L))
  }

  private def renderSnapshot(s: Snapshot): String = {
    val body = JObj(Vector(
      "version" -> JNum(s.version.toString),
      "schemaVer" -> JNum(s.schemaVer.toString),
      "schemas" -> JObj(s.schemas.toVector.sortBy(_._1).map { case (k, v) =>
        k.toString -> (JStr(v.json): JValue)
      }),
      "keyCols" -> JArr(s.keyCols.map(JStr(_): JValue).toVector),
      "rootKey" -> JStr(s.rootKey),
      "seqDomain" -> JStr(s.seqDomain),
      "numBuckets" -> JNum(s.numBuckets.toString),
      "timeMs" -> JNum(s.timeMs.toString),
      "segments" -> JArr(s.segments.map(seg => JObj(Vector(
        "path" -> JStr(seg.path), "bucket" -> JNum(seg.bucket.toString),
        "schemaVer" -> JNum(seg.schemaVer.toString),
        "kind" -> JStr(seg.kind),
        "seq" -> JNum(seg.seq.toString),
        "maxSeq" -> JNum(seg.maxSeq.toString))): JValue).toVector),
      "commits" -> JArr(s.commits.map(JStr(_): JValue).toVector),
      "lineage" -> JArr(s.lineage.map(l => JObj(Vector(
        "tag" -> JStr(l.tag),
        "buckets" -> JArr(l.buckets.map(b => JNum(b.toString): JValue).toVector),
        "upserted" -> JNum(l.upserted.toString),
        "deleted" -> JNum(l.deleted.toString),
        "compacted" -> JArr(l.compacted.map(b => JNum(b.toString): JValue).toVector),
        "wallMs" -> JNum(l.wallMs.toString))): JValue).toVector),
    ))
    Json.render(body)
  }

  /** The one commit loop of every mutator. A head (`at`, then the log's
    * newest after a lost race) that carries `tag` is returned as is;
    * otherwise `derive` gives the next body (a copy of the head) and the
    * commit's lineage, or None to let the head stand. The loop stamps the
    * version and the commit clock (monotonized over the head, so
    * [[versionAsOf]] is a threshold walk), appends the tag and lineage
    * (both bounded), and publishes create-exclusive; a lost race
    * re-derives on the new head (VERDICT r4 #7). */
  @annotation.tailrec
  private def commit(tag: Option[String], at: Snapshot)(
      derive: Snapshot => Option[(Snapshot, Option[Lineage])]): Snapshot =
    if (tag.exists(at.hasCommit)) at
    else derive(at) match {
      case None => at
      case Some((body, lineage)) =>
        val next = body.copy(version = at.version + 1,
          timeMs = math.max(System.currentTimeMillis(), at.timeMs + 1),
          commits = (at.commits ++ tag).takeRight(maxCommitTags),
          lineage = (at.lineage ++ lineage).takeRight(maxLineage))
        if (log.publish(next.version, renderSnapshot(next))) next
        else commit(tag, snapshot())(derive)
    }

  // ---------- DDL ----------

  /** Create the table (v1 snapshot, no data; the constructor's bucket
    * count becomes the PERSISTED layout) and return its current snapshot.
    * No-op if it exists, also when a concurrent creator wins the race. */
  def create(schema: StructType, keyCols: Seq[String],
      rootKey: String): Snapshot =
    commit(None, snapshotOpt().getOrElse(LakeTable.Absent)) { s =>
      Option.when(s.version == 0) {
        fio.mkdirs(new HPath(dir, "data"))
        (Snapshot(0, 1, Map(1 -> schema), keyCols, rootKey, Nil, Nil, Nil,
          numBuckets = numBuckets), None)
      }
    }

  /** Additive schema evolution (alterTables, sqlDDL.ts:27-65): commit a
    * new schema version (and refreshed key columns). Existing files keep
    * their old schema version and are cast on read. No-op when unchanged.
    * `at`: the current snapshot when the caller already holds it. */
  def evolve(newSchema: StructType, keyCols: Seq[String],
      rootKey: String, at: Option[Snapshot] = None): Snapshot =
    commit(None, at.getOrElse(snapshot())) { s =>
      Option.when(s.schema != newSchema || s.keyCols != keyCols ||
          s.rootKey != rootKey) {
        val ver = if (s.schema == newSchema) s.schemaVer else s.schemaVer + 1
        (s.copy(schemaVer = ver, schemas = s.schemas + (ver -> newSchema),
          keyCols = keyCols, rootKey = rootKey), None)
      }
    }

  // ---------- read ----------

  /** Read the current snapshot, merge-on-read resolved: newest row per key
    * across base + delta segments, aligned to the current schema. */
  def read(): DataFrame = resolve(snapshot(), _ => true)

  /** Read a specific (possibly historical) snapshot — time travel within
    * the vacuum retention window. For a cut held across queries (e.g. a
    * registered consistent view), [[pinSnapshot]] it first: vacuum keeps
    * pinned versions' segments and snapshot files alive; an unpinned
    * historical snapshot's superseded segment dirs can be GC'd at any
    * time. */
  def readAt(s: Snapshot): DataFrame = resolve(s, _ => true)

  /** Time travel by WALL CLOCK (Delta `TIMESTAMP AS OF` / Iceberg
    * `as-of-timestamp` analogue): the newest retained snapshot whose
    * commit time is ≤ `tsMs`. Commit times are stamped at publish and
    * strictly increasing per table ([[commit]]); pre-feature
    * snapshots carry `timeMs = 0` and a running max keeps the walk sound
    * across them. Throws when `tsMs` predates the oldest RETAINED
    * snapshot — vacuum bounds the time-travel horizon, the same contract
    * as [[readChangesBetween]] (an error, never a silent misread). */
  def versionAsOf(tsMs: Long): Int = {
    val snaps = retainedSnapshots().toSeq
    var mono = 0L
    var hit = -1
    snaps.foreach { s =>
      mono = math.max(mono, s.timeMs)
      if (mono <= tsMs) hit = s.version
    }
    require(hit > 0,
      s"$name: no retained snapshot at or before timeMs=$tsMs (oldest " +
        s"retained: v${snaps.headOption.fold(0)(_.version)} at timeMs=" +
        s"${snaps.headOption.fold(0L)(_.timeMs)}; " +
        "vacuum bounds the time-travel horizon)")
    hit
  }

  /** [[readAt]] the [[versionAsOf]] `tsMs` — pin first to hold the state
    * across queries (the [[readAt]] caveat applies). */
  def readAsOf(tsMs: Long): DataFrame = readAt(snapshotAt(versionAsOf(tsMs)))

  /** Commit history (`DESCRIBE HISTORY` analogue): one row per RETAINED
    * snapshot — version, publish clock, schema version, operation kind,
    * and for data commits the producing tag plus its lineage counters
    * (touched buckets, upserted/deleted rows, commit wall). A version
    * whose lineage did not grow over its predecessor is a metadata-only
    * commit (create/evolve) and reports `operation = "ddl"` with null
    * tag; for the OLDEST retained snapshot the predecessor may be
    * vacuumed, so its lineage attribution is best-effort. Metadata-only:
    * assembled from the snapshot log on the driver (O(retained
    * versions), vacuum-bounded) — no data files are opened. */
  def history(): DataFrame = {
    import org.apache.spark.sql.Row
    val snaps = retainedSnapshots().toSeq
    val prevs: Seq[Option[Snapshot]] =
      None +: snaps.init.map(Some(_): Option[Snapshot])
    val rows: java.util.List[Row] = new java.util.ArrayList[Row]()
    snaps.zip(prevs).foreach { case (s, prev) =>
      val l = s.lineage.lastOption
      val dataCommit = prev match {
        case Some(p) => s.lineage != p.lineage
        case None    => l.isDefined
      }
      rows.add(if (dataCommit)
        Row(s.version, s.timeMs, s.schemaVer, "commit",
          l.map(_.tag).orNull,
          l.map(_.buckets.size).getOrElse(0),
          l.map(_.upserted).getOrElse(0L),
          l.map(_.deleted).getOrElse(0L),
          l.map(_.wallMs).getOrElse(0L),
          s.segments.size)
      else
        Row(s.version, s.timeMs, s.schemaVer, "ddl",
          null, 0, 0L, 0L, 0L, s.segments.size))
    }
    val schema = StructType(Seq(
      org.apache.spark.sql.types.StructField("version", IntegerType, false),
      org.apache.spark.sql.types.StructField("time_ms", LongType, false),
      org.apache.spark.sql.types.StructField("schema_ver", IntegerType, false),
      org.apache.spark.sql.types.StructField("operation", StringType, false),
      org.apache.spark.sql.types.StructField("commit_tag", StringType, true),
      org.apache.spark.sql.types.StructField("buckets_touched", IntegerType, false),
      org.apache.spark.sql.types.StructField("upserted", LongType, false),
      org.apache.spark.sql.types.StructField("deleted", LongType, false),
      org.apache.spark.sql.types.StructField("wall_ms", LongType, false),
      org.apache.spark.sql.types.StructField("n_segments", IntegerType, false)))
    spark.createDataFrame(rows, schema)
  }

  // ---------- consistent-read pins (vacuum protection) ----------

  private def pinKey: String = dir.toString // fully qualified (fio.qualify)

  /** Pin `version` against vacuum (refcounted, process-wide): its segments
    * and snapshot file survive [[vacuum]] until every pin is released.
    * VERDICT r4 #8: a consistent-view cut chosen between a concurrent
    * vacuum's liveness scan and the reader's query execution would
    * otherwise dirty-read half-deleted segment dirs. */
  def pinSnapshot(version: Int): Unit = {
    LakeTable.pinnedVs.compute(pinKey, (_, cur) => {
      val m = Option(cur).getOrElse(Map.empty[Int, Int])
      m + (version -> (m.getOrElse(version, 0) + 1))
    })
    ()
  }

  /** Release one pin on `version` (see [[pinSnapshot]]). */
  def unpinSnapshot(version: Int): Unit = {
    LakeTable.pinnedVs.computeIfPresent(pinKey, (_, m) => {
      val n = m.getOrElse(version, 0) - 1
      val m2 = if (n <= 0) m - version else m + (version -> n)
      if (m2.isEmpty) null else m2
    })
    ()
  }

  /** Versions currently pinned on this table (any holder, this process). */
  def pinnedVersions(): Set[Int] =
    Option(LakeTable.pinnedVs.get(pinKey)).map(_.keySet).getOrElse(Set.empty)

  /** The still-readable snapshots of every pinned version. */
  def pinnedSnapshots(): Seq[Snapshot] =
    pinnedVersions().toSeq.sorted.flatMap { v =>
      log.status(v).map(log.read(v, _))
    }

  /** Whether every segment of `s` is still on disk — the verify half of
    * the pin-then-verify protocol: choose a cut, pin it, then check it
    * was not vacuumed in between (retry the choice if it was). One
    * listing per commit dir `s` references answers for all of that
    * commit's segments; a missing commit dir lists empty. */
  def materialized(s: Snapshot): Boolean =
    s.segments.map(seg => fio.resolveRel(dir, seg.path)).groupBy(_.getParent)
      .forall { case (commitDir, segDirs) =>
        val listed = fio.list(commitDir).map(st => fio.qualify(st.getPath)).toSet
        segDirs.forall(listed)
      }

  /** Read only the given buckets of `s` (partition pruning for key-local
    * scans). */
  def readBuckets(buckets: Set[Int], s: Snapshot): DataFrame =
    resolve(s, seg => buckets.contains(seg.bucket))

  def readBuckets(buckets: Set[Int]): DataFrame = readBuckets(buckets, snapshot())

  /** The bucket the given root-key VALUE hashes to under the persisted
    * layout — driver-side replica of [[bucketExpr]] (same xxhash64 seed),
    * for predicate→bucket pruning and operational key lookups. */
  def bucketOfKey(key: String): Int = bucketOfKey(key, snapshot())

  private def bucketOfKey(key: String, s: Snapshot): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal.create(
        org.apache.spark.unsafe.types.UTF8String.fromString(key),
        org.apache.spark.sql.types.StringType)), 42L)
      .eval(null).asInstanceOf[Long]
    math.floorMod(h, bucketsOf(s).toLong).toInt
  }

  /** Read with PREDICATE-DRIVEN bucket pruning — the point-lookup path:
    * root-key equality / IN predicates in `cond` prune the scan to the
    * matching buckets (a key lookup reads 1/numBuckets of the table —
    * at 10^10 rows the difference between a point query and a full
    * scan); every other predicate applies as a normal filter and still
    * pushes into the parquet reader. Conservative extraction: `=`/`IN`
    * on the root-key column, conjunctions narrow, disjunctions union;
    * anything unrecognized falls back to the full (unpruned) read.
    *
    * Pruning applies ONLY when the root-key column is a string: the
    * persisted layout hashes the column in its NATIVE type, while the
    * driver-side replica ([[bucketOfKey]]) hashes the literal's string
    * rendering — for a non-string key those disagree and pruning would
    * silently return missing rows, so such tables take the full-scan
    * path (correct, just unpruned). */
  def readWhere(cond: Column): DataFrame = {
    val s = snapshot()
    // resolve the predicate against the table schema (driver-only, ms):
    // Spark 4 Columns are ColumnNode trees, so the catalyst form comes
    // from analyzing a probe Filter — which also validates the predicate
    val analyzed = emptyDf(s.schema).filter(cond)
      .queryExecution.analyzed
    val rootKeyIsString = s.schema.fields
      .find(_.name.equalsIgnoreCase(s.rootKey))
      .exists(_.dataType == StringType)
    val keys = if (!rootKeyIsString) None else analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition
    }.flatMap(rootKeyValues(_, s.rootKey))
    val base = keys match {
      case Some(vs) =>
        val buckets = vs.map(bucketOfKey(_, s))
        resolve(s, seg => buckets.contains(seg.bucket))
      case None => resolve(s, _ => true)
    }
    base.filter(cond)
  }

  // ---------- changefeed (CDC OUTPUT — the lake as an incremental source) ----

  /** Incremental read in VISIBILITY-SEQ space (Hudi incremental query /
    * Iceberg incremental scan analogue): the net changes a downstream
    * consumer must apply to advance from `horizonSeq` to the CURRENT
    * snapshot. Emits the table schema plus `_change_type` ("upsert" |
    * "delete") and `_change_seq` (the winning row's visibility seq —
    * event lsn for lsn-domain tables, commit version for commit-domain).
    *
    * Correct under compaction WITHOUT time travel, by seq monotonicity:
    * a key's current winner carries the key's max seq, so restricting the
    * raw scan to `seq > horizonSeq` BEFORE merge-on-read resolution
    * yields exactly the true current winners of post-horizon-touched
    * keys — pre-horizon rows can never win against a post-horizon row.
    * The seq predicate pushes into the parquet reader (row-group stats
    * prune untouched files), so cost tracks the CHANGED data, not the
    * table.
    *
    * Net semantics (the consumer applies upserts as MERGE, deletes
    * idempotently): intermediate revisions inside the window are not
    * replayed, and a key both created and deleted within the window
    * surfaces as a bare delete (its pre-horizon absence is unknowable
    * post-compaction; deleting an absent key is a no-op downstream).
    * `horizonSeq` must lie within the delete-retention bound — compaction
    * with `expireTombstonesBelow` drops tombstones older than that
    * horizon, silencing older deletes (same contract as Hudi/Paimon
    * changelog retention). */
  def readChangesSince(horizonSeq: Long): DataFrame = {
    val s = snapshot()
    // MANIFEST pruning (r8, VERDICT r7 #3): a segment whose recorded max
    // visibility seq is ≤ the horizon can contain no post-horizon row —
    // skip it from the FILE LIST, not just via parquet row-group stats,
    // so a feed poll on a mostly-cold table lists O(changed segments)
    // instead of opening every live footer. Unknown maxSeq (−1,
    // pre-upgrade segment) stays in the scan — conservative, never wrong.
    val raw = readRaw(s, seg => seg.maxSeq < 0L || seg.maxSeq > horizonSeq)
      .filter(col(SeqCol) > horizonSeq)
    // the post-horizon rows resolved as a read resolves them, plus each
    // root key's net delete: its newest tombstone when no live row
    // re-created the key after it
    resolveRows(raw, s.keyCols, s.rootKey, netDeletes = true)
      .select((s.schema.fieldNames.toSeq.map(col) ++ Seq(
        when(col(DelCol) <=> true, lit("delete")).otherwise(lit("upsert"))
          .as("_change_type"),
        col(SeqCol).as("_change_seq"))): _*)
  }

  /** Classified row-level diff of two snapshot VERSIONS (Delta CDF /
    * Iceberg changelog-scan analogue): every key whose state differs
    * between `fromV` and `toV`, tagged `_change_type` "insert" (absent →
    * present), "update" (present → present, any column differs — emitted
    * as the POST-image), or "delete" (present → absent — emitted as the
    * PRE-image). Keys touched but left byte-identical emit nothing (net
    * semantics, idempotent re-merges invisible).
    *
    * Scale shape: only buckets whose SEGMENT SET differs between the two
    * snapshots are read (any data change replaces the bucket's segment
    * list; maintenance-only rewrites add no-op diff work), both versions
    * in one bucket-partitioned scan — cost tracks touched buckets, not
    * the table. The pre-side is aligned to `toV`'s schema, so the feed
    * crosses schema-evolution boundaries (new columns read as null
    * pre-images).
    *
    * `fromV` must still be materialized — [[pinSnapshot]] it for feeds
    * held across queries; a vacuumed horizon throws here rather than
    * misreading (Iceberg's expired-snapshot incremental-read contract). */
  def readChangesBetween(fromV: Int, toV: Int): DataFrame =
    changedPairs(fromV, toV) match {
      case (to, None) => emptyDf(to.schema.add("_change_type", StringType))
      case (_, Some((pairs, cols))) =>
        pairs
          .withColumn("_row", coalesce(col("_post"), col("_pre")))
          .withColumn("_change_type",
            when(col("_pre").isNull, lit("insert"))
              .when(col("_post").isNull, lit("delete"))
              .otherwise(lit("update")))
          .select((cols.map(c => col(s"_row.$c").as(c)) :+
            col("_change_type")): _*)
    }

  /** [[readChangesBetween]] in Delta-CDF form: updates emit TWO rows —
    * the before-image tagged `update_preimage` and the after-image
    * tagged `update_postimage` (inserts/deletes as before). This is the
    * shape a downstream DELTA consumer needs: an incrementally
    * maintained aggregate subtracts the pre-image's contribution and
    * adds the post-image's, so base + feed ≡ full recompute — without
    * pre-images an update's old group would never be retired. Same
    * bucket-pruned cost shape; the pair explode is a per-row map. */
  def readChangesBetweenCdf(fromV: Int, toV: Int): DataFrame =
    changedPairs(fromV, toV) match {
      case (to, None) => emptyDf(to.schema.add("_change_type", StringType))
      case (_, Some((pairs, cols))) =>
        pairs
          .select(explode(
            when(col("_pre").isNull, array(
              struct(col("_post").as("img"), lit("insert").as("ct"))))
            .when(col("_post").isNull, array(
              struct(col("_pre").as("img"), lit("delete").as("ct"))))
            .otherwise(array(
              struct(col("_pre").as("img"),
                lit("update_preimage").as("ct")),
              struct(col("_post").as("img"),
                lit("update_postimage").as("ct"))))).as("_e"))
          .select((cols.map(c => col(s"_e.img.$c").as(c)) :+
            col("_e.ct").as("_change_type")): _*)
    }

  /** Shared changefeed core: `toV`'s snapshot and, unless the window is
    * empty, the changed keys as (`_pre`, `_post`) image structs plus the
    * `toV`-schema column list. One scan reads the touched buckets'
    * segments of both versions, each tagged with its side; each side is
    * resolved by the bucket-local windows, then the two sides of a key
    * meet in one aggregate over (bucket, key) — no join, no exchange.
    * Across a [[rebucket]] a key sits in different buckets on the two
    * sides, so there the aggregate groups by the key alone (one exchange). */
  private def changedPairs(fromV: Int, toV: Int)
      : (Snapshot, Option[(DataFrame, Seq[String])]) = {
    // one listing gives the head, the retention check and both statuses
    val files = log.versions().toMap
    val cur = if (files.isEmpty) 0 else files.keys.max
    require(fromV >= 1 && fromV <= toV && toV <= cur,
      s"table $name: changefeed window [$fromV, $toV] outside 1..$cur")
    // friendly vacuumed-horizon errors for BOTH failure shapes: snapshot
    // JSON gone (would be a raw FileNotFoundException from the log read)
    // and JSON present but segments GC'd (checked below)
    def gone(v: Int): Nothing = throw new IllegalArgumentException(
      s"table $name: snapshot v$v was vacuumed — pin the feed horizon " +
        "(pinSnapshot), raise keepSnapshots, or restart the feed from a " +
        s"retained version (oldest retained: v${files.keys.min})")
    val to = log.read(toV, files.getOrElse(toV, gone(toV)))
    if (fromV == toV) return (to, None)
    val from = log.read(fromV, files.getOrElse(fromV, gone(fromV)))
    def byBucket(s: Snapshot): Map[Int, Set[String]] =
      s.segments.groupBy(_.bucket).map { case (b, xs) =>
        b -> xs.map(_.path).toSet }
    val fb = byBucket(from); val tb = byBucket(to)
    val touched = (fb.keySet ++ tb.keySet)
      .filter(b => fb.get(b) != tb.get(b))
    val pre = from.segments.filter(seg => touched(seg.bucket))
    val post = to.segments.filter(seg => touched(seg.bucket))
    // a segment dir that lists empty was vacuumed: its snapshot is gone
    val raw = scan(withMeta(to.schema),
      pre.map((_, 0, from)) ++ post.map((_, 1, to)), snap => gone(snap.version))
    val cols = to.schema.fieldNames.toSeq
    val img = struct(cols.map(col): _*)
    val layout = if (bucketsOf(from) == bucketsOf(to)) Seq(BucketCol) else Nil
    val keys = (layout ++ (to.rootKey +: to.keyCols.filterNot(_ == to.rootKey)))
      .map(col)
    val resolved = resolveRows(raw, to.keyCols, to.rootKey,
      Some(LakeScan.SideCol))
    val side = col(LakeScan.SideCol)
    val pairs =
      if (pre.isEmpty)
        // a window from an empty pre-state (the backfill fold of every
        // materialized view) is all inserts: no pairing needed
        resolved.select(img.as("_post"),
          lit(null).cast(StructType(cols.map(c => to.schema(c)))).as("_pre"))
      else
        resolved.groupBy(keys: _*).agg(
          first(when(side === 0, img), ignoreNulls = true).as("_pre"),
          first(when(side === 1, img), ignoreNulls = true).as("_post"))
          .filter(col("_post").isNull || col("_pre").isNull ||
            !(col("_post") <=> col("_pre")))
    (to, Some((pairs.select("_pre", "_post"), cols)))
  }

  /** Root-key values `e` constrains the scan to, or None ("all keys").
    * And: intersection of constraints (either side may be unconstrained);
    * Or: union (both sides must be constrained, else everything). */
  private def rootKeyValues(
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      rootKey: String): Option[Set[String]] = {
    import org.apache.spark.sql.catalyst.expressions._
    def isRootKey(x: Expression): Boolean = x match {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.name.equalsIgnoreCase(rootKey)
      case a: AttributeReference => a.name.equalsIgnoreCase(rootKey)
      case _                     => false
    }
    def litStr(x: Expression): Option[String] = x match {
      case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) =>
        Some(v.toString)
      case Literal(v, _) if v != null => Some(v.toString)
      case _ => None
    }
    e match {
      case EqualTo(a, l) if isRootKey(a) => litStr(l).map(Set(_))
      case EqualTo(l, a) if isRootKey(a) => litStr(l).map(Set(_))
      case In(a, vs) if isRootKey(a) =>
        val lits = vs.map(litStr)
        if (lits.forall(_.isDefined)) Some(lits.flatten.toSet) else None
      case InSet(a, vs) if isRootKey(a) =>
        Some(vs.map {
          case s: org.apache.spark.unsafe.types.UTF8String => s.toString
          case other                                       => String.valueOf(other)
        }.toSet)
      case And(l, r) =>
        (rootKeyValues(l, rootKey), rootKeyValues(r, rootKey)) match {
          case (Some(a), Some(b)) => Some(a intersect b)
          case (Some(a), None)    => Some(a)
          case (None, b)          => b
        }
      case Or(l, r) =>
        for {
          a <- rootKeyValues(l, rootKey)
          b <- rootKeyValues(r, rootKey)
        } yield a union b
      case _ => None
    }
  }

  private def emptyDf(schema: StructType): DataFrame =
    spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)

  private def withMeta(t: StructType): StructType =
    t.add(SeqCol, LongType).add(DelCol,
      org.apache.spark.sql.types.BooleanType)

  /** Raw scan (with visibility-seq, tombstone and bucket columns). */
  private def readRaw(s: Snapshot, keep: Segment => Boolean): DataFrame =
    readSegments(s, s.segments.filter(keep))

  private def readSegments(s: Snapshot, segs: Seq[Segment]): DataFrame =
    scan(withMeta(s.schema), segs.map((_, 0, s)))

  /** The [[LakeScan]] over `inputs` — each a segment, its side, and the
    * snapshot whose schema that side resolves at — aligned to `target`.
    * `vacuumed` is called with the snapshot of a segment whose dir lists
    * no data files.
    *
    * Commit-domain DELTA rows take their visibility seq from the SEGMENT
    * metadata, not the parquet: a collision-retried commit re-stamps only
    * the segment seq (the files keep the losing attempt's stale value),
    * and all rows of one commit-domain delta share one seq by
    * construction — so the committed seq is authoritative (ADVICE r5).
    * Lsn-domain rows keep their per-row event seq; base segments carry
    * per-row seqs persisted from an (already-corrected) resolution. */
  private def scan(target: StructType,
      inputs: Seq[(Segment, Int, Snapshot)],
      vacuumed: Snapshot => Nothing = noFiles): DataFrame =
    LakeScan.frame(spark, target, sources(target, inputs, vacuumed))

  private def noFiles(snap: Snapshot): Nothing =
    throw new FileNotFoundException(s"table $name: a segment of snapshot " +
      s"v${snap.version} has no data files (vacuumed?)")

  /** The [[ScanSource]]s of `inputs`, listed: see [[scan]]. */
  private def sources(target: StructType,
      inputs: Seq[(Segment, Int, Snapshot)],
      vacuumed: Snapshot => Nothing): Seq[ScanSource] =
    inputs.map { case (seg, side, snap) =>
      val d = fio.resolveRel(dir, seg.path)
      val files = dataFiles(d)
      if (files.isEmpty) vacuumed(snap)
      // each side's rows pass through that side's schema on the way to
      // the target, as a read of that snapshot would cast them
      val at = withMeta(snap.schema)
      ScanSource(seg.bucket, d, files,
        withMeta(snap.schemas(seg.schemaVer)),
        if (at == target) Seq(target) else Seq(at, target),
        if (snap.seqDomain == "commit" && seg.kind == "delta") seg.seq else -1L,
        side)
    }

  /** The data files of segment dir `d`, listed here in place of Spark's
    * file index: one listing per segment per read. Empty once vacuum has
    * deleted the dir. */
  private def dataFiles(d: HPath): Seq[FileStatus] =
    fio.list(d).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.sortBy(_.getPath.getName)

  /** Merge-on-read resolution over a raw scan: the newest row per key
    * wins unless its root key's newest tombstone is at or above it. Both
    * are windows over the bucket — a key's rows all sit in its root key's
    * bucket, so neither plans an exchange — sharing one sort: (bucket,
    * root key, other key columns, side, seq desc). For a root table (key
    * = root key) the two windows have one spec and run as one operator;
    * a tombstone there shares its key's row numbering, which is why a
    * winner must also be live. With `side`, each side resolves on its
    * own. With `netDeletes` (the seq-space feed), tombstones number apart
    * from live rows (the sort gains the tombstone marker before seq) and a
    * root key's newest tombstone is kept too when no live row of that
    * root key is newer. Returns the winners with the
    * helper columns; callers select what they keep. */
  private def resolveRows(raw: DataFrame, keyCols: Seq[String],
      rootKey: String, side: Option[String] = None,
      netDeletes: Boolean = false): DataFrame = {
    val rest = keyCols.filterNot(_ == rootKey)
    val dead = col(DelCol) <=> true
    val apart = if (netDeletes) Seq(DelCol) else Nil
    val byRoot = Window.partitionBy(col(BucketCol), col(rootKey))
      .orderBy((rest ++ side ++ apart).map(col) :+ col(SeqCol).desc: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // the newest seq of a root key's rows that `of` selects, per side
    def rootMax(of: Column): Column = side match {
      case None     => max(when(of, col(SeqCol))).over(byRoot)
      case Some(sd) =>
        when(col(sd) === 0, max(when(of && col(sd) === 0, col(SeqCol))).over(byRoot))
          .otherwise(max(when(of && col(sd) =!= 0, col(SeqCol))).over(byRoot))
    }
    val byKey = Window
      .partitionBy((BucketCol +: rootKey +: rest ++: side.toSeq ++: apart)
        .map(col): _*)
      .orderBy(col(SeqCol).desc)
    val newer = (c: String) => col(c).isNull || col(SeqCol) > col(c)
    val live = !dead && newer("_gdelseq")
    val kept =
      if (netDeletes) live || (dead && col(SeqCol) === col("_gdelseq") &&
        newer("_glivemax"))
      else live
    raw.select(Seq(col("*"), rootMax(dead).as("_gdelseq")) ++
        Option.when(netDeletes)(rootMax(!dead).as("_glivemax")) :+
        row_number().over(byKey).as("_grn"): _*)
      .filter(col("_grn") === 1 && kept)
  }

  /** Merge-on-read resolution of the segments `keep` selects. Buckets
    * holding a single base segment are already resolved and skip the
    * windows (a codegen'd tombstone filter only); the rest resolve in the
    * scan's own stage. */
  private def resolve(s: Snapshot, keep: Segment => Boolean): DataFrame = {
    val segs = s.segments.filter(keep)
    val clean = segs.groupBy(_.bucket).collect {
      case (b, Seq(seg)) if seg.kind == "base" => b }.toSet
    val (cleanSegs, dirtySegs) = segs.partition(seg => clean(seg.bucket))
    // compacted bases carry retained tombstone rows (out-of-order guard
    // across compaction)
    val parts = Seq(
      Option.when(cleanSegs.nonEmpty)(readSegments(s, cleanSegs)
        .filter(!(col(DelCol) <=> true))),
      Option.when(dirtySegs.nonEmpty)(resolveRows(readSegments(s, dirtySegs),
        s.keyCols, s.rootKey))).flatten
    val cols = s.schema.fieldNames.toSeq.map(col)
    parts.map(_.select(cols: _*)).reduceOption(_ unionByName _)
      .getOrElse(emptyDf(s.schema))
  }

  // ---------- merge (the reference's MERGE INTO, set-oriented MoR) ----------

  /** The table's EFFECTIVE bucket count: the snapshot's persisted layout;
    * constructor fallback only for pre-persistence snapshots. */
  def bucketsOf(s: Snapshot): Int =
    if (s.numBuckets > 0) s.numBuckets else numBuckets

  /** Bucket expression over the table's root-key column — co-partitions
    * all tables of one document family into the same bucket. Uses the
    * CURRENT snapshot's persisted count (an opener constructed with a
    * different default must keep hashing the way the data is laid out). */
  def bucketExpr(rootKey: Column): Column = bucketExpr(rootKey, snapshot())

  /** [[bucketExpr]] under the layout of `s`. */
  def bucketExpr(rootKey: Column, s: Snapshot): Column =
    LakeTable.bucketOf(rootKey, bucketsOf(s))

  /** The table's effective bucket count (the current snapshot's layout). */
  def buckets: Int = bucketsOf(snapshot())

  /** A [[RevisionProbe]] of root table `s` (its one key column is its
    * root key) over the segments of `buckets`, which this lists. */
  def revisionProbe(s: Snapshot, revCol: String,
      buckets: Set[Int]): RevisionProbe = {
    val target = withMeta(s.schema)
    new RevisionProbe(LakeScan.bucketReader(spark, target,
      sources(target, s.segments.filter(seg => buckets(seg.bucket))
        .map((_, 0, s)), noFiles),
      Seq(s.rootKey, revCol, SeqCol, DelCol)),
      s.schema(s.rootKey).dataType, s.schema(revCol).dataType,
      spark.sessionState.conf.sessionLocalTimeZone)
  }

  /** Idempotent merge-on-read upsert:
    *   - `updates` rows shadow older rows with the same `keyCols`
    *     (visibility via the commit sequence column)
    *   - `deleteRootKeys` become TOMBSTONE rows in the same delta append —
    *     a delete costs O(keys), never a bucket rewrite; reads drop every
    *     row (any full key) under a newer tombstone of its root key
    *   - buckets at the delta cap (maxDeltas) are compacted inline:
    *     resolved to a single base segment; tombstones are CARRIED into the
    *     base (deduped to one per root key) so a late lower-lsn event
    *     cannot resurrect a deleted key across a compaction boundary
    *   - a `commitTag` already in the snapshot makes the call a no-op
    *
    * Job shape (the at-scale contract): ONE write job on the hot path —
    * touched buckets and upsert/delete counts come from an `Observation`
    * on the same write, not a separate scan, and nothing is persisted.
    * A second job runs only when some bucket hit the delta cap.
    *
    * `at`: the table's current snapshot when the caller already holds it
    * (the engine reads each table's snapshot once per batch); read from
    * the log otherwise.
    *
    * Seq domains: `rowSeqCol` present ⇒ the caller's monotone event
    * sequence (CDC lsn — exact global LWW, late events can't clobber newer
    * rows); absent ⇒ the table's commit seq (batch-granular). The first
    * data merge pins the table's domain and mixing is rejected — an
    * lsn-domain table silently losing all commit-seq rows (tiny seqs) or
    * vice versa would be a correctness trap, not a merge.
    */
  def merge(
      updates: DataFrame,
      keyCols: Seq[String],
      rootKeyCol: String,
      commitTag: String,
      deleteRootKeys: Option[DataFrame] = None,
      rowSeqCol: Option[String] = None,
      at: Option[Snapshot] = None,
  ): Snapshot = {
    val t0 = System.nanoTime()
    val s = at.getOrElse(snapshot())
    if (s.hasCommit(commitTag)) return s // idempotent re-commit
    val up = prepareDelta(s, updates, rootKeyCol, deleteRootKeys, rowSeqCol)
    val (deltaSegs, upserted, deleted) = writeDelta(s, up)
    commitDelta(s, commitTag, keyCols, rootKeyCol, deltaSegs,
      upserted, deleted, t0, if (rowSeqCol.isDefined) "lsn" else "commit")
  }

  /** Write one merge's prepared delta frame as parquet (the data half of
    * [[merge]], metadata untouched): ONE scan, ONE write — every row
    * (upserts + tombstones, all buckets) appends as delta; touched buckets
    * and counts ride on an Observation of the same query, no separate
    * pre-scan job, nothing persisted. Returns (segments, upserted,
    * deleted). */
  private[lake] def writeDelta(s: Snapshot,
      up: DataFrame): (Seq[Segment], Long, Long) = {
    val nb = bucketsOf(s)
    val ver = s.version + 1
    val obs = org.apache.spark.sql.Observation()
    // unique dir per writer: two concurrent mergers at the same version
    // must never share (and clobber) one commit dir
    val rel = f"data/c$ver%05dd-" +
      java.util.UUID.randomUUID().toString.take(6)
    // deltas are NOT sorted: they live ≤ maxDeltas merges before
    // compaction rewrites them, and the merge-on-read resolution shuffles
    // on the key anyway — only base segments (long-lived, read-heavy)
    // pay for key-clustered layout. A frame already hash-partitioned on its
    // bucket column into `writeParts` partitions (an engine batch, see
    // `GraftSqlShims.aggregateOn`) keeps its partitioning: Spark drops a
    // repartition whose child already has it.
    up.observe(obs, count(when(!col(DelCol), 1)).as("nup"),
      count(when(col(DelCol), 1)).as("ndel"),
      max(col(SeqCol)).as("maxseq"))
      .repartition(LakeTable.writeParts(spark, nb), col(BucketCol))
      .write.options(LakeTable.WriteOptions)
      .partitionBy(BucketCol).mode("overwrite")
      .parquet(new HPath(dir, rel).toString)
    // AQE empty-propagation can eliminate the CollectMetrics node when the
    // batch is provably empty (the observation then reports no metrics) —
    // touched buckets come from the written bucket dirs (ground truth
    // either way), counts default to 0 for that empty case
    val m = obs.get
    val upserted = m.get("nup").map(_.asInstanceOf[Long]).getOrElse(0L)
    val deleted = m.get("ndel").map(_.asInstanceOf[Long]).getOrElse(0L)
    // per-commit max visibility seq (manifest changefeed pruning): the
    // commit-level max is sound for every one of its segments (a
    // segment's own max can only be ≤ it — pruning stays conservative)
    val maxSeq = m.get("maxseq").collect { case l: java.lang.Long =>
      l.longValue() }.getOrElse(-1L)
    val deltaSegs = listBucketDirs(new HPath(dir, rel)).map { case (b, p) =>
      Segment(fio.relativize(dir, p), b, s.schemaVer, "delta", ver.toLong,
        maxSeq = maxSeq)
    }
    (deltaSegs, upserted, deleted)
  }

  /** Build the meta-carrying delta frame of one merge (aligned upserts ∪
    * tombstones, with visibility seq, tombstone marker and bucket column) —
    * the write-side half of [[merge]]. Validates the seq-domain contract;
    * does NOT touch the snapshot log. */
  private[lake] def prepareDelta(s: Snapshot, updates: DataFrame,
      rootKeyCol: String, deleteRootKeys: Option[DataFrame],
      rowSeqCol: Option[String]): DataFrame = {
    val domain = if (rowSeqCol.isDefined) "lsn" else "commit"
    require(s.seqDomain.isEmpty || s.seqDomain == domain,
      s"table $name uses seq domain '${s.seqDomain}' but this merge is " +
        s"'$domain' — mixed visibility domains would corrupt last-write-wins")

    // a named-but-absent row seq column would silently fall back to the
    // commit seq while the merge pins seqDomain='lsn' — exactly the
    // domain mix the guard above exists to reject; fail instead
    require(rowSeqCol.forall(updates.columns.contains),
      s"table $name: rowSeqCol ${rowSeqCol.get} is not a column of the " +
        s"updates frame ${updates.columns.mkString("(", ",", ")")}")
    val metaTarget = withMeta(s.schema)
    val newSeq = s.version + 1L
    val keyType = metaTarget(rootKeyCol).dataType
    // ONE projection per side: every target column cast (null where the
    // frame lacks it), the visibility seq, the tombstone marker, and the
    // bucket. An incoming bucket column is KEPT, not recomputed:
    // Engine.load partitions the batch by bucket once, in its dedup
    // exchange, and every table's write inherits that partitioning.
    def project(df: DataFrame, given: Map[String, Column]): DataFrame = {
      val have = df.columns.toSet
      def value(n: String): Column = given.getOrElse(n,
        if (have(n)) col(n) else lit(null))
      val bucket =
        if (have(BucketCol)) col(BucketCol)
        else bucketExpr(value(rootKeyCol).cast(keyType), s)
      df.select(metaTarget.fields.toSeq.map(f =>
        value(f.name).cast(f.dataType).as(f.name)) :+ bucket.as(BucketCol): _*)
    }
    val upRows = project(updates, Map(
      // try_cast: lenient regardless of the session's ANSI mode — the
      // engine never flips session-global conf (ADVICE r4)
      SeqCol -> rowSeqCol
        .map(c => coalesce(col(c).try_cast(LongType), lit(newSeq)))
        .getOrElse(lit(newSeq)),
      DelCol -> lit(false)))
    val tombRows = deleteRootKeys.map { dk =>
      // delete-key frame: first column = root key, optional second = seq.
      // Under the lsn domain each delete MUST carry its own lsn (a
      // commit-seq default would never shadow lsn-domain rows).
      require(domain == "commit" || dk.columns.length >= 2,
        s"table $name: lsn-domain deletes need an explicit delete lsn")
      project(dk, Map(
        rootKeyCol -> col(dk.columns(0)),
        SeqCol -> (if (domain == "lsn") col(dk.columns(1)).try_cast(LongType)
          else lit(newSeq)), // commit domain: ignore any caller seq
        DelCol -> lit(true)))
    }
    tombRows.fold(upRows)(upRows.unionByName(_))
  }

  /** Commit already-written delta segments: inline-compact at-cap buckets,
    * then publish the next snapshot — the commit-side half of [[merge]].
    * `deltaSegs` must be leaf dirs of THIS table's data dir.
    *
    * Collision-safe under concurrent writers: the publish is
    * create-exclusive, and on losing the race the WHOLE commit derivation
    * re-runs against the fresh log head — delta segments are re-stamped
    * to the new visibility seq, the at-cap set is recomputed, and any
    * compaction re-runs over the merged segment view (the loser's earlier
    * compaction output is orphaned and vacuumed). The already-written
    * delta FILES are never redone — only the metadata commit. A head whose
    * bucket count differs from `s0`'s (a [[rebucket]] published since the
    * delta was written) fails the commit instead: the files are laid out
    * under the old modulus, and the caller's frame may carry buckets
    * hashed under it too. The tag stays uncommitted, so a retry of the
    * same merge plans it again under the new layout. */
  private[lake] def commitDelta(s0: Snapshot, commitTag: String,
      keyCols: Seq[String], rootKeyCol: String, deltaSegs: Seq[Segment],
      upserted: Long, deleted: Long, t0: Long, domain: String): Snapshot =
    commit(Some(commitTag), s0) { s =>
      if (bucketsOf(s) != bucketsOf(s0)) throw new IllegalStateException(
        s"table $name was re-laid to ${bucketsOf(s)} buckets while commit " +
          s"$commitTag wrote ${bucketsOf(s0)}-bucket deltas; retry the merge")
      // buckets already at the delta cap go straight to compaction (known
      // from the snapshot alone — no pre-scan of the batch needed)
      val atCap: Set[Int] = s.segments
        .filter(_.kind == "delta").groupBy(_.bucket)
        .collect { case (b, xs) if xs.size >= maxDeltas - 1 => b }.toSet
      val ver = s.version + 1
      // visibility seq = the version this attempt will publish as; in the
      // commit domain the rows' persisted seqs are superseded by this
      // re-stamp, so the manifest maxSeq must follow it too
      val stamped = deltaSegs.map(seg => seg.copy(seq = ver.toLong,
        maxSeq = if (domain == "commit") ver.toLong else seg.maxSeq))
      val touched: Set[Int] = stamped.map(_.bucket).toSet
      // compaction (the rare second job): at-cap buckets — existing
      // segments ∪ their fresh delta, read back COLUMNAR from what was
      // just written — resolve to one base segment each; winners keep
      // their SeqCol so later deltas still shadow correctly, and live
      // tombstones ride along
      val baseSegs =
        if (atCap.isEmpty) Nil
        else writeBase(s, ver, readSegments(s, (s.segments ++ stamped)
          .filter(seg => atCap.contains(seg.bucket))), keyCols, rootKeyCol,
          atCap.size, None)
      val inCap = (seg: Segment) => atCap.contains(seg.bucket)
      Some((s.copy(
        segments = (s.segments ++ stamped).filterNot(inCap) ++ baseSegs,
        // a commit that writes nothing pins no seq domain
        seqDomain = if (touched.isEmpty && atCap.isEmpty) s.seqDomain
          else domain),
        Some(Lineage(commitTag, touched.toSeq.sorted, upserted, deleted,
          atCap.toSeq.sorted, (System.nanoTime() - t0) / 1000000))))
    }

  /** Resolve `raw` (existing ∪ fresh, meta-carrying) and write one base
    * segment per bucket: newest live row per key PLUS one carried tombstone
    * row per deleted root key (so out-of-order events older than a delete
    * stay dead across the compaction). `expireTombstonesBelow` drops
    * tombstones with seq < the horizon — the delete-retention knob
    * (Hudi/Paimon-style): safe once the out-of-orderness bound has passed. */
  private def writeBase(s: Snapshot, ver: Int, raw: DataFrame,
      keyCols: Seq[String], rootKeyCol: String, nBuckets: Int,
      expireTombstonesBelow: Option[Long]): Seq[Segment] = {
    val metaTarget = withMeta(s.schema)
    val winners = align(resolveRows(raw, keyCols, rootKeyCol)
      .withColumn(DelCol, lit(false)), metaTarget)
    val horizon = expireTombstonesBelow.getOrElse(Long.MinValue)
    val toms = align(
      raw.filter(col(DelCol) === true)
        .groupBy(col(BucketCol), col(rootKeyCol))
        .agg(max(col(SeqCol)).as(SeqCol))
        .filter(col(SeqCol) >= horizon)
        .withColumn(DelCol, lit(true)), metaTarget)
    val rel = f"data/c$ver%05db-" +
      java.util.UUID.randomUUID().toString.take(6)
    val obs = org.apache.spark.sql.Observation()
    winners.unionByName(toms)
      .observe(obs, max(col(SeqCol)).as("maxseq"))
      .withColumn(BucketCol, bucketExpr(col(rootKeyCol), s))
      .repartition(math.max(1, math.min(bucketsOf(s), nBuckets)),
        col(BucketCol))
      .sortWithinPartitions(keyCols.map(col): _*)
      .write.options(LakeTable.WriteOptions)
      .partitionBy(BucketCol).mode("overwrite")
      .parquet(new HPath(dir, rel).toString)
    val maxSeq = obs.get.get("maxseq").collect { case l: java.lang.Long =>
      l.longValue() }.getOrElse(-1L)
    listBucketDirs(new HPath(dir, rel)).map { case (b, p) =>
      Segment(fio.relativize(dir, p), b, s.schemaVer, "base", ver.toLong,
        maxSeq = maxSeq)
    }
  }

  /** Project `df` onto `target` (casts, null-filled missing columns),
    * then append whichever `passThrough` columns `df` has, untouched. */
  private def align(df: DataFrame, target: StructType,
      passThrough: Seq[String] = Nil): DataFrame = {
    val have = df.schema.fieldNames.toSet
    df.select(target.fields.toSeq.map { f =>
      if (have.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    } ++ passThrough.filter(have).map(col): _*)
  }

  /** Force-compact every bucket that currently holds deltas: resolve and
    * rewrite each as a single base segment (read-optimize before heavy
    * query workloads). No-op when everything is already compacted.
    * `expireTombstonesBelow`: drop delete tombstones older than this seq —
    * the delete-retention horizon; pass the max applied seq minus the
    * pipeline's out-of-orderness bound. Default keeps all tombstones. */
  def compactAll(commitTag: String,
      expireTombstonesBelow: Option[Long] = None): Snapshot =
    commit(Some(commitTag), snapshot()) { s =>
      val dirty = s.segments.groupBy(_.bucket)
        .collect { case (b, segs) if segs.exists(_.kind == "delta") => b }.toSet
      Option.when(dirty.nonEmpty) {
        val newSegs = writeBase(s, s.version + 1,
          readRaw(s, seg => dirty.contains(seg.bucket)), s.keyCols, s.rootKey,
          dirty.size, expireTombstonesBelow)
        (s.copy(segments =
          s.segments.filterNot(seg => dirty.contains(seg.bucket)) ++ newSegs),
          Some(Lineage(commitTag, dirty.toSeq.sorted, 0, 0,
            dirty.toSeq.sorted, 0)))
      }
    }

  /** Re-layout the table into `newBuckets` hash buckets — the GROWTH path
    * (Iceberg rewrite-with-new-partition-spec / Hudi clustering shape): a
    * table created with N buckets at small scale needs more as data
    * grows, or per-bucket files blow past executor-memory-sized splits.
    * One job: the fully-resolved state plus live tombstones is rewritten
    * as one base segment per NEW bucket, and the commit atomically swaps
    * every segment and pins the new count — readers see the old layout
    * until the snapshot publishes, and subsequent merges hash with the
    * new modulus. Cost = one full rewrite, same as a full compaction;
    * run it from `maintain`-style windows, not the hot path.
    * Idempotent by tag; no-op when the count is unchanged. */
  def rebucket(newBuckets: Int, commitTag: String,
      expireTombstonesBelow: Option[Long] = None): Snapshot = {
    require(newBuckets > 0, "newBuckets must be positive")
    commit(Some(commitTag), snapshot()) { s =>
      Option.when(bucketsOf(s) != newBuckets || s.numBuckets == 0) {
        // writeBase buckets with the TARGET layout (bucketsOf reads it off
        // the snapshot it is handed)
        val relaid = s.copy(numBuckets = newBuckets)
        val newSegs =
          if (s.segments.isEmpty) Nil
          else writeBase(relaid, s.version + 1, readRaw(s, _ => true),
            s.keyCols, s.rootKey, newBuckets, expireTombstonesBelow)
        val buckets = newSegs.map(_.bucket).sorted
        (relaid.copy(segments = newSegs),
          Some(Lineage(commitTag, buckets, 0, 0, buckets, 0)))
      }
    }
  }

  /** Remove data directories no live segment references (failed writes,
    * superseded commits) and old snapshot files — the expire-snapshots
    * maintenance op. Keeps the latest `keepSnapshots` snapshot JSONs.
    * Only directories older than `graceMs` (mtime) are touched — an
    * in-flight concurrent merge has already written its commit dir before
    * publishing the snapshot, and deleting it mid-commit would corrupt
    * that write (the Iceberg remove-orphan-files default, same reason). */
  def vacuum(keepSnapshots: Int = 10, graceMs: Long = 600000L): Int = {
    val s = snapshot()
    var pins = pinnedVersions()
    // liveness = current snapshot ∪ every PINNED snapshot still readable
    // (a registered consistent-view cut must stay queryable, VERDICT r4 #8)
    def liveSet(): Set[HPath] =
      (s.segments ++ pinnedSnapshots().flatMap(_.segments))
        .map(seg => fio.resolveRel(dir, seg.path).getParent).toSet
    var live = liveSet()
    val dataDir = new HPath(dir, "data")
    val cutoff = System.currentTimeMillis() - graceMs
    var removed = 0
    fio.list(dataDir).foreach { st =>
      val c = fio.qualify(st.getPath)
      if (st.isDirectory && !live.contains(c) &&
        !s.segments.exists(seg =>
          fio.resolveRel(dir, seg.path).toString.startsWith(c.toString)) &&
        st.getModificationTime < cutoff) {
        // re-read pins IMMEDIATELY before the delete (ADVICE r5 #3): a
        // pin taken and verified after the initial read would otherwise
        // lose its segments during vacuum's own runtime; the remaining
        // window is a few µs, and the pinner's materialized() re-check
        // (pin-then-verify) catches even that
        val nowPins = pinnedVersions()
        if (nowPins != pins) { pins = nowPins; live = liveSet() }
        if (!live.contains(c)) {
          fio.delete(c, recursive = true)
          removed += 1
        }
      }
    }
    // expire old snapshot files (keep the newest K, plus pinned versions)
    log.expire(keepSnapshots, pins)
    removed
  }

  private def listBucketDirs(commitDir: HPath): Seq[(Int, HPath)] =
    fio.list(commitDir)
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(s"$BucketCol="))
      .map { st =>
        val b = st.getPath.getName.stripPrefix(s"$BucketCol=").toInt
        b -> fio.qualify(st.getPath)
      }
}

object LakeTable {
  val BucketCol = LakeScan.BucketCol
  val SeqCol = "_gseq"
  val DelCol = "_gdel" // tombstone marker (delete of a root key)

  /** The bucket of root-key value `key` in a `buckets`-bucket layout. */
  def bucketOf(key: Column, buckets: Int): Column =
    pmod(xxhash64(key), lit(buckets)).cast(IntegerType)

  /** The task count of a delta write to a `buckets`-bucket table: its
    * rows are hash-partitioned on the bucket COLUMN into this many
    * partitions. That keeps every bucket's rows in one task whatever the
    * count, and partitionBy still writes one leaf dir per bucket, so
    * capping it at the session's core count changes nothing about the
    * layout while cutting task count (r8, guide §2.2/§6); a cluster with
    * ≥ `buckets` cores keeps one task per bucket. */
  def writeParts(spark: SparkSession, buckets: Int): Int =
    math.max(1, math.min(buckets, spark.sparkContext.defaultParallelism))

  /** Per-write Hadoop options for every lake data write. Scoped per-write
    * (DataFrameWriter options merge into that job's Hadoop conf, which the
    * tasks receive) so constructing an engine never mutates the shared
    * session's conf for non-lake writes (ADVICE r4).
    *
    *  - FileOutputCommitter v2 (task-side renames instead of a serial
    *    driver rename pass at job commit): a micro-batch writes
    *    O(tables × buckets) files, and on a real DFS the v1 driver pass is
    *    seconds of SERIAL per-batch cost that scales with file count, not
    *    cluster size. Crash-safety holds because the snapshot log registers
    *    files only after job success, and vacuum GCs orphans.
    *  - `file:` through [[ChecksummedLocalFs]]: the same checksummed local
    *    FS, minus the `chmod` process stock Hadoop forks per created file
    *    and `.crc` when libhadoop is absent (see [[LocalFs]]). The cache
    *    switch is required: Hadoop's FileSystem cache key ignores the conf,
    *    so a cached stock instance would otherwise win. Other schemes are
    *    untouched. */
  val WriteOptions: Map[String, String] = Map(
    "mapreduce.fileoutputcommitter.algorithm.version" -> "2",
    "fs.file.impl" -> classOf[ChecksummedLocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** Process-wide refcounted snapshot pins per table dir (consistent-view
    * cuts) — see [[LakeTable.pinSnapshot]]. */
  private val pinnedVs =
    new java.util.concurrent.ConcurrentHashMap[String, Map[Int, Int]]()

  /** The head the commit loop derives a table's first snapshot from. */
  private val Absent = Snapshot(0, 0, Map.empty, Nil, "", Nil, Nil, Nil)
}
