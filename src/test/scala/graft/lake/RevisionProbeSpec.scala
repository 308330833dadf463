package graft.lake

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkTestSession

/** The incr revision probe against the marker join it replaced: on random
  * root-table histories — deltas, compacted bases, tombstones below, at
  * and above the live row's seq, rows of a schema version without REV, a
  * REV column widened from int to string, both seq domains — the probe's
  * skip decision for every document of a batch equals the one of a left
  * join of the batch on (ID, REV) with the resolved table. */
class RevisionProbeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val Buckets = 4

  /** One random history; returns the (old, new) skip decision per doc. */
  private def history(seed: Int): Seq[(Boolean, Boolean)] = {
    val rnd = new scala.util.Random(seed)
    val lsnDomain = seed % 2 == 0
    val t = new LakeTable(spark, SparkTestSession.tmpDir("graft-probe-"), "R",
      numBuckets = Buckets, maxDeltas = 3)
    t.create(new StructType().add("ID", StringType, nullable = false)
      .add("V", StringType), Seq("ID"), "ID")
    val keys = (0 until 16).map(i => s"k$i")
    var lsn = 0L
    var tag = 0
    val lastSeq = mutable.Map.empty[String, Long]
    def merge(ups: Seq[(String, String)], dels: Seq[String]): Unit = {
      val revType = t.snapshot().schema.find(_.name == "REV").map(_.dataType)
      val rows = ups.map { case (k, r) =>
        lsn += 1; lastSeq(k) = lsn; (k, r, s"v$lsn", lsn) }
      val up = rows.toDF("ID", "REV", "V", "lsn")
        .withColumn("REV", col("REV").cast(revType.getOrElse(StringType)))
      // a tombstone below, at or above the key's last upsert seq
      val del = dels.map(k => (k, lastSeq.getOrElse(k, lsn) + rnd.nextInt(3) - 1))
        .toDF("ID", "lsn")
      tag += 1
      t.merge(up, Seq("ID"), "ID", s"m$tag",
        deleteRootKeys = Option.when(dels.nonEmpty)(del),
        rowSeqCol = Option.when(lsnDomain)("lsn"))
      if (rnd.nextInt(4) == 0) t.compactAll(s"c$tag")
    }
    def pick(n: Int) = rnd.shuffle(keys).take(n)
    // rows of a schema version without REV
    merge(pick(6).map(_ -> null), Nil)
    t.evolve(t.snapshot().schema.add("REV", IntegerType), Seq("ID"), "ID")
    (1 to 4).foreach { round =>
      val ups = pick(6).map(k => k -> (round * 10 + rnd.nextInt(3)).toString)
      // deletes: some of this merge's own keys (the same seq in the commit
      // domain), some others
      merge(ups, ups.take(rnd.nextInt(3)).map(_._1) ++ pick(rnd.nextInt(3)))
    }
    if (seed % 3 != 0) {
      // REV widened from int to string
      t.evolve(StructType(t.snapshot().schema.fields.map(f =>
        if (f.name == "REV") f.copy(dataType = StringType) else f)),
        Seq("ID"), "ID")
      merge(pick(4).map(k => k -> s"r${rnd.nextInt(3)}"), pick(1))
    }

    // a batch: one doc per key (and some unknown keys) whose revision is
    // the live one, a stale one, the live one with a leading zero, a
    // random one or none
    val snap = t.snapshot()
    val liveRev = t.read().select(col("ID"), col("REV").cast(StringType))
      .as[(String, String)].collect().toMap
    val docs = (keys ++ Seq("zz0", "zz1")).zipWithIndex.map { case (k, i) =>
      val rev = rnd.nextInt(5) match {
        case 0 | 1 => liveRev.getOrElse(k, "10")
        case 2     => "1" + rnd.nextInt(3)
        case 3     => liveRev.get(k).map("0" + _).orNull
        case _     => null
      }
      (i, k, rev)
    }
    val old = docs.toDF("i", "_docid", "_docrev")
      .join(t.readBuckets((0 until Buckets).toSet, snap).select(
        col("ID").as("_docid"), col("REV").as("_docrev"),
        lit(true).as("_gskip")), Seq("_docid", "_docrev"), "left")
      .select(col("i"), coalesce(col("_gskip"), lit(false)))
      .as[(Int, Boolean)].collect().toMap

    val probe = t.revisionProbe(snap, "REV", (0 until Buckets).toSet)
    val bucketed = docs.map { case (i, k, r) => (i, k, r, t.bucketOfKey(k)) }
    val probed = spark.sparkContext.parallelize(bucketed, 3).mapPartitions { it =>
      val part = it.toIndexedSeq
      val rows = part.map { case (_, k, r, b) => InternalRow(
        UTF8String.fromString(k), Option(r).map(UTF8String.fromString).orNull, b) }
      part.iterator.map(_._1)
        .zip(probe.unchanged(rows, 0, 1, 2, _ => true).iterator)
    }.collect().toMap
    docs.map { case (i, _, _) => (old(i), probed(i)) }
  }

  test("bucket-local probe ≡ marker join on random root-table histories") {
    val all = (1 to 10).map { seed =>
      val got = history(seed)
      got.zipWithIndex.foreach { case ((o, p), i) =>
        assert(o == p, s"seed $seed doc $i: join skips $o, probe skips $p")
      }
      got
    }.flatten
    // both decisions occur
    assert(all.count(_._1) >= 10 && all.count(!_._1) >= 10, all)
  }

  test("a probe over buckets without segments reads nothing and skips nothing") {
    val t = new LakeTable(spark, SparkTestSession.tmpDir("graft-probe-e-"), "R",
      numBuckets = Buckets)
    t.create(new StructType().add("ID", StringType, nullable = false)
      .add("REV", StringType), Seq("ID"), "ID")
    val probe = t.revisionProbe(t.snapshot(), "REV", Set(0, 1))
    val row = InternalRow(UTF8String.fromString("k"), UTF8String.fromString("1"), 0)
    assert(probe.unchanged(IndexedSeq(row), 0, 1, 2, _ => true) == Seq(false))
  }
}
