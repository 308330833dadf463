package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.lake.LakeTable

/** Incrementally maintained MATERIALIZED VIEW: a GROUP-BY rollup of one
  * lake table, kept as another lake table, driven by the source's
  * Delta-CDF changefeed — the CDC loop closed as a user API instead of a
  * hand-rolled consumer. The reference has no analogue (it ends at the
  * relational tables, `/root/reference/src/index.ts:14-72`); this is the
  * operator a 100 TB training-data pipeline builds per-language corpus
  * statistics with.
  *
  * Semantics: `target` converges to
  * {{{ source.groupBy(groupCol).agg(count(*) as countCol,
  *     sum(expr_i) as name_i ...) }}}
  * after every micro-batch (base + delta ≡ recompute — the invariant
  * `cdc_incr_agg` oracles in batch form). Updates are consumed as
  * `update_preimage`/`update_postimage` PAIRS, so a row moving between
  * groups retires its old group's contribution exactly once; a group
  * whose count reaches zero is DELETED from the target, not left at 0.
  *
  * Scale shape (the 10^10-row story):
  *   - feed cost is O(changed buckets) of the SOURCE (bucket-pruned
  *     version diff), never O(table);
  *   - the per-batch fold is ONE hash aggregate of the feed plus a join
  *     against the TARGET — a table with one row per group, i.e. small
  *     by construction — with the batch's group-delta side broadcast;
  *   - nothing is collected to the driver.
  *
  * Exactly-once: each micro-batch merges under tag
  * `mv:<streamId>:<batchId>` (`mv:<batchId>` for the batches a checkpoint
  * planned before stream ids existed); the lake's applied-tag dedup makes
  * replays after a crash no-ops (the replayed batch recomputes against the
  * already-merged target, then its merge is skipped on the tag — the
  * recomputed values are discarded, so read-modify-write stays
  * idempotent). Restart resumes from the stream
  * checkpoint; `maxVersionsPerTrigger` bounds catch-up batches.
  *
  * Sum expressions must be integral (folded as LongType) — exact under
  * signed retirement, where floating sums would drift. Two deliberate
  * deltas from plain `groupBy` SQL, both forced by the target being a
  * KEYED lake table: a NULL group key is dropped (a lake table cannot
  * key a null — same null-key rule as Sampling), and a null sum input
  * contributes 0 (a running total has no way to carry SQL's
  * all-inputs-null NULL without wiping accumulated state). */
object Materialize {

  /** Start the maintenance stream. `sums` maps output column name →
    * integral expression over the SOURCE's columns (e.g.
    * `"BYTES" -> length(col("CONTENT"))`). The target table is created
    * (or reused) at `targetRoot/targetName`, keyed by `groupCol`;
    * `groupExpr` lets the group be a derived expression (default: the
    * source column named `groupCol`) — since the TARGET is itself a
    * full lake table with its own changefeed, rollups COMPOSE into a
    * streaming DAG (source → per-key rollup → coarser rollup), each
    * edge an O(changed-groups) fold. */
  def rollup(
      spark: SparkSession,
      sourceRoot: String,
      sourceTable: String,
      targetRoot: String,
      targetName: String,
      groupCol: String,
      sums: Map[String, Column],
      checkpoint: String,
      countCol: String = "N",
      targetBuckets: Int = 4,
      maxVersionsPerTrigger: Option[Long] = None,
      groupExpr: Option[Column] = None,
  ): StreamingQuery = {
    require(!sums.contains(countCol) && !sums.contains(groupCol),
      s"sum column names collide with $countCol/$groupCol")
    val sumNames = sums.keys.toSeq.sorted
    val target = new LakeTable(spark, targetRoot, targetName, targetBuckets)
    if (!target.exists()) {
      val srcSchema = new LakeTable(spark, sourceRoot, sourceTable)
        .snapshot().schema
      // the group column's type: the source field, or the derived
      // expression's type resolved against an empty source-shaped frame
      val groupType = groupExpr match {
        case None => srcSchema(groupCol).dataType
        case Some(e) => spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), srcSchema)
          .select(e).schema.head.dataType
      }
      target.create(StructType(
        StructField(groupCol, groupType, nullable = false) +:
          StructField(countCol, LongType) +:
          sumNames.map(n => StructField(n, LongType))),
        Seq(groupCol), groupCol)
    }

    val reader = spark.readStream.format("graft-changefeed")
      .option("root", sourceRoot).option("table", sourceTable)
      .option("cdf", "true")
    maxVersionsPerTrigger.foreach(m =>
      reader.option("maxVersionsPerTrigger", m.toString))

    // PER-STREAM TAG NAMESPACE (ADVICE r7): bare mv:<batchId> tags let a
    // rollup restarted with a FRESH checkpoint (or a second stream into
    // the same target) silently skip genuinely new merges as "replays" —
    // batch ids restart at 0 and collide with already-applied tags. A
    // uuid persisted IN the checkpoint dir scopes the tags: the same
    // checkpoint (a normal restart) keeps its id, so replay dedup still
    // fires; a fresh checkpoint gets a fresh id and its batches apply.
    //
    // UPGRADE (ADVICE r8): a checkpoint that predates the namespace has
    // planned batches but no id file, and merged each of them under the
    // bare mv:<batchId> tag. Every batch it already planned keeps that tag,
    // so a torn one (merged, not yet committed in the checkpoint) replays
    // as a no-op; later batches take the namespaced tag. That horizon is
    // persisted before the id file: a crash between the two writes
    // re-derives the same horizon from the untouched offset log.
    val fio = new graft.lake.Fio(spark.sessionState.newHadoopConf())
    val ckpt = new org.apache.hadoop.fs.Path(checkpoint)
    val idFile = new org.apache.hadoop.fs.Path(ckpt, "graft-mv-id")
    val legacyFile = new org.apache.hadoop.fs.Path(ckpt, "graft-mv-legacy")
    val streamId =
      if (fio.exists(idFile)) fio.readString(idFile).trim
      else {
        val planned = fio.list(new org.apache.hadoop.fs.Path(ckpt, "offsets"))
          .map(_.getPath.getName).filter(n => n.nonEmpty && n.forall(_.isDigit))
        if (planned.nonEmpty)
          fio.writeAtomic(legacyFile, planned.map(_.toLong).max.toString)
        val id = java.util.UUID.randomUUID().toString.take(12)
        fio.writeAtomic(idFile, id)
        id
      }
    val legacyThrough =
      if (fio.exists(legacyFile)) fio.readString(legacyFile).trim.toLong
      else -1L

    reader.load().writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        applyDelta(batch, target, groupCol, sums, countCol,
          if (id <= legacyThrough) s"mv:$id" else s"mv:$streamId:$id",
          groupExpr)
        ()
      }.start()
  }

  /** One micro-batch fold: signed feed contributions → per-group deltas →
    * read-modify-write merge into `target`. Package-private for the
    * batch-form tests and harness; streaming callers go through
    * [[rollup]]. */
  private[graft] def applyDelta(feed: DataFrame, target: LakeTable,
      groupCol: String, sums: Map[String, Column],
      countCol: String, tag: String,
      groupExpr: Option[Column] = None): Unit = {
    val sumNames = sums.keys.toSeq.sorted
    // integral-contract guard (ADVICE r7): a fractional sum expression
    // (e.g. col("SZ") * 0.5) silently truncated per row under the
    // cast(LongType) fold, permanently diverging the maintained rollup
    // from the documented groupBy/sum recompute — fail loud instead
    locally {
      import org.apache.spark.sql.types._
      feed.select(sumNames.map(n => sums(n).as(n)): _*).schema.fields
        .foreach { f =>
          require(f.dataType match {
            case ByteType | ShortType | IntegerType | LongType => true
            case _ => false
          }, s"Materialize sums: '${f.name}' resolves to " +
            s"${f.dataType.sql} — sum expressions must be integral " +
            "(signed retirement is exact only for integers; cast or " +
            "scale the expression to an integral type explicitly)")
        }
    }
    val sgn = when(col("_change_type").isin("insert", "update_postimage"),
      lit(1L)).otherwise(lit(-1L))
    val delta = feed
      // the group key is the TARGET's primary key — a lake table cannot
      // key a null, so null-group rows are dropped (the same null-key
      // rule as Sampling; SQL's null group is not representable here)
      .filter(groupExpr.getOrElse(col(groupCol)).isNotNull)
      .groupBy(groupExpr.getOrElse(col(groupCol)).as(groupCol))
      // null sum inputs contribute 0, not null: sum() over an all-null
      // batch returns null, and null + running would WIPE the group's
      // accumulated value downstream
      .agg(sum(sgn).as("_dn"),
        sumNames.map(n =>
          sum(coalesce(sums(n).cast(LongType), lit(0L)) * sgn)
            .as(s"_d_$n")): _*)
      // a net-zero group (e.g. an update that changed neither group nor
      // any summed value) needs no write at all
      .filter(col("_dn") =!= 0L ||
        sumNames.map(n => col(s"_d_$n") =!= 0L)
          .foldLeft(lit(false))(_ || _))

    // current contributions joined in: the target has one row per group
    // (small by construction) and sits on the RIGHT of the left join, so
    // it broadcasts — the delta side never shuffles, and the big source
    // table is never touched by this fold at all
    val cur = target.read()
      .select((col(groupCol) +: (countCol +: sumNames).map(col)): _*)
    val merged = delta.join(broadcast(cur), Seq(groupCol), "left")
      .select(col(groupCol) +:
        (coalesce(col(countCol), lit(0L)) + col("_dn")).as(countCol) +:
        sumNames.map(n =>
          (coalesce(col(n), lit(0L)) + col(s"_d_$n")).as(n)): _*)

    // upserts and deletes are two filters of the SAME frame, and both
    // feed one merge write job — without materialization Catalyst
    // duplicates the whole subtree (CDF feed + aggregate + join) and the
    // bucket-pruned diff is computed TWICE per fold (measured as ~half of
    // cdc_mv_rollup's wall). `merged` is O(changed groups) — tiny by
    // construction — so one persist caps the feed at one evaluation.
    val mergedC = merged.persist()
    try {
      val upserts = mergedC.filter(col(countCol) > 0L)
      val deletes = mergedC.filter(col(countCol) <= 0L).select(groupCol)
      target.merge(upserts, Seq(groupCol), groupCol, tag,
        deleteRootKeys = Some(deletes))
    } finally mergedC.unpersist()
    ()
  }
}
