package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.Catalog
import graft.cdc.{ChangeEvent, EventGen}
import graft.engine.Engine
import graft.lake.LakeTable

/** One lake under test: the engine over `root` plus read-side helpers the
  * checks and the per-layer counters use. Everything runs on the engine's
  * defaults. */
final class Lake(val spark: SparkSession, val root: String, buckets: Int) {
  val entity = "repos"
  val engine = new Engine(spark, root, buckets)

  def tables: Seq[LakeTable] = engine.loadRegistry(entity).toSeq
    .flatMap(t => Catalog.fromTree(t)).map(engine.table).filter(_.exists())

  /** The root table's handle, as a reader would hold it (resolve after the
    * first apply created the registry). */
  lazy val rootTable: LakeTable = engine.table(
    Catalog.fromTree(engine.loadRegistry(entity).get).find(_.isRoot).get)

  /** ID → REV of every live root row. */
  def rootState(): Map[String, String] =
    rootTable.read().select(col("ID"), col("REV")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  /** Every file of the lake with its size. */
  def files(): Map[String, Long] = {
    val out = mutable.Map.empty[String, Long]
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else out(f.getPath) = f.length()
    walk(new File(root))
    out.toMap
  }

  /** Table data (parquet parts and their checksums) vs everything else:
    * snapshot manifests, commit markers, registry and metrics-log files. */
  def isData(path: String): Boolean = {
    val n = new File(path).getName
    n.startsWith("part-") || n.startsWith(".part-")
  }

  def registryVersions(): Int =
    Option(new File(root, s"_registry_$entity").listFiles()).toSeq.flatten
      .count(f => f.getName.startsWith("v") && f.getName.endsWith(".json"))

  /** Lake-shape counters, keyed as in [[Metrics.PerLayer]]. */
  def shape(): Map[String, Double] = {
    val fs = files()
    val (data, control) = fs.partition(kv => isData(kv._1))
    val ts = tables
    Map(
      "lake.data_files" -> data.keys.count(_.endsWith(".parquet")).toDouble,
      "lake.data_bytes" -> data.values.sum.toDouble,
      "lake.control.files" -> control.size.toDouble,
      "lake.control.bytes" -> control.values.sum.toDouble,
      "lake.snapshots" -> ts.map(_.snapshotVersions().size).sum.toDouble,
      "lake.segments" -> ts.map(_.snapshot().segments.size).sum.toDouble,
      "flatten.tables" -> ts.size.toDouble,
      "schema.registry.versions" -> registryVersions().toDouble)
  }

  def bytes(): Long = files().values.sum
}

object Lake {
  /** Consume a frame completely without collecting it (Spark's noop sink). */
  def consume(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

/** Driver-side last-write-wins over EventGen events (`eventAt` is pure). */
final class Expect {
  private val winners = mutable.HashMap.empty[String, ChangeEvent]
  var docBytes = 0L

  def add(e: ChangeEvent): Unit = {
    docBytes += e.doc.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
    val id = Expect.idOf(e.doc)
    if (winners.get(id).forall(_.lsn <= e.lsn)) winners(id) = e
  }

  def addRange(p: EventGen.Params, from: Long, until: Long): Unit = {
    var i = from
    while (i < until) { add(EventGen.eventAt(i, p)); i += 1 }
  }

  /** Expected REV of a key: None when absent or deleted. */
  def rev(id: String): Option[String] =
    winners.get(id).filter(_.op != "delete").map(e => Expect.revOf(e.doc))

  def live: Map[String, String] =
    winners.iterator.filter(_._2.op != "delete")
      .map { case (k, e) => k -> Expect.revOf(e.doc) }.toMap
}

object Expect {
  private def field(doc: String, name: String): String = {
    val tag = "\"" + name + "\":\""
    val s = doc.indexOf(tag) + tag.length
    doc.substring(s, doc.indexOf('"', s))
  }
  def idOf(doc: String): String = field(doc, "id")
  def revOf(doc: String): String = field(doc, "rev")
}
