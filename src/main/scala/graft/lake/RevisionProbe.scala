package graft.lake

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.types.{DataType, DecimalType, DoubleType, StringType}

/** The live revisions of a root table's keys, read inside a task, bucket
  * by bucket, through the table's own [[LakeScan]] reader (so schema-
  * version casts and commit-domain seq overrides apply as on any read).
  * Built on the driver by [[LakeTable.revisionProbe]] for the buckets a
  * batch touches.
  *
  * A key's live winner is its newest-seq row when that row is live and
  * newer than the key's newest tombstone: the root-table case of the
  * merge-on-read resolution (key = root key, so one window numbers the
  * key's live rows and tombstones together). Among live rows of equal
  * seq the first one read wins.
  *
  * Keys and revisions arrive as strings (the batch's JSON text) and are
  * compared as Spark compares `string = t` for a column of type t: the
  * string is cast to t, or both sides to double for a decimal. A string
  * that does not cast matches nothing. */
final class RevisionProbe private[lake] (reader: LakeScan.BucketReader,
    keyType: DataType, revType: DataType, timeZone: String)
    extends Serializable {

  private def common(t: DataType): DataType = t match {
    case _: DecimalType => DoubleType
    case other          => other
  }

  // a one-field row holding field `ord` of type `from` cast to `to`
  private def as(ord: Int, from: DataType, to: DataType): UnsafeProjection = {
    val ref = BoundReference(ord, from, nullable = true)
    UnsafeProjection.create(Seq(
      if (from == to) ref else Cast(ref, to, Some(timeZone), EvalMode.TRY)))
  }

  /** Which of `rows` are unchanged documents: rows `isDoc` selects whose
    * string key (at `keyOrd`) has a live winner whose revision equals
    * the row's string revision (at `revOrd`). Reads the buckets (at
    * `bucketOrd`) of those rows only, and keeps only their keys' rows. */
  def unchanged(rows: IndexedSeq[InternalRow], keyOrd: Int, revOrd: Int,
      bucketOrd: Int, isDoc: InternalRow => Boolean): IndexedSeq[Boolean] = {
    val keyOf = as(keyOrd, StringType, common(keyType))
    val keys = rows.map { r =>
      if (!isDoc(r)) null
      else Some(keyOf(r)).filter(!_.isNullAt(0)).map(_.copy()).orNull
    }
    val probed = rows.indices.filter(keys(_) != null)
    val winners = live(probed.map(rows(_).getInt(bucketOrd)).distinct,
      probed.map(keys).toSet)
    val revOf = as(revOrd, StringType, common(revType))
    rows.indices.map { i =>
      keys(i) != null && winners.get(keys(i)).exists { w =>
        val mine = revOf(rows(i))
        !mine.isNullAt(0) && mine == w
      }
    }
  }

  // the live winner's revision of each of `keys` found in `buckets`: only
  // those buckets' files are read, and only rows of those keys are kept;
  // keys without a live winner, or whose winner has a null revision, are
  // absent
  private def live(buckets: Iterable[Int],
      keys: scala.collection.Set[UnsafeRow]): Map[UnsafeRow, UnsafeRow] = {
    // the reader's columns: key, revision, seq, tombstone marker, bucket
    val key = as(0, keyType, common(keyType))
    val rev = as(1, revType, common(revType))
    val newest = mutable.HashMap.empty[UnsafeRow, (Long, UnsafeRow)]
    val dead = mutable.HashMap.empty[UnsafeRow, Long]
    buckets.foreach(b => reader.foreach(b) { row =>
      val k = key(row)
      if (keys.contains(k)) {
        val seq = if (row.isNullAt(2)) Long.MinValue else row.getLong(2)
        if (!row.isNullAt(3) && row.getBoolean(3)) {
          if (dead.get(k).forall(_ < seq)) dead(k.copy()) = seq
        } else if (newest.get(k).forall(_._1 < seq))
          newest(k.copy()) = (seq, rev(row).copy())
      }
    })
    newest.iterator.collect {
      case (k, (seq, r)) if !r.isNullAt(0) && dead.get(k).forall(_ < seq) =>
        k -> r
    }.toMap
  }
}
