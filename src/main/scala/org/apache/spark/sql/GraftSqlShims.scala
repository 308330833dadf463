package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{CollectMetricsExec, LogicalRDD, QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** The `private[sql]` doorways the engine needs, in Spark's package:
  *  - a v1 `Source.getBatch` must return a DataFrame whose logical plan is
  *    marked `isStreaming = true` (MicroBatchExecution asserts it);
  *  - an apply's dedup aggregate is planned with its one exchange on the
  *    root-key bucket, and every later step of the batch runs in that
  *    exchange's reduce stage over DataFrames that keep reporting its
  *    partitioning (`LogicalRDD`, as `Dataset.checkpoint` builds them).
  * Nothing else reaches in. */
object GraftSqlShims {
  def streamingDataFrame(
      spark: classic.SparkSession,
      rdd: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.internalCreateDataFrame(rdd, schema, isStreaming = true)

  /** An aggregate whose exchange was run by [[aggregateOn]]: `rows` are
    * the final aggregate's, hash-partitioned on the key; `observed` holds
    * what each observation below the exchange collected in its map
    * stage, by name. */
  final case class Exchanged(rows: DataFrame, observed: Map[String, Row])

  /** `agg`, an aggregate whose grouping keys include `key`, planned
    * without adaptive execution and with its exchange hash-partitioned on
    * `key` alone into exactly `n` partitions. The partial aggregate stays
    * below the exchange (map-side combine), and a shuffle of fixed
    * partition count is never coalesced. The exchange's map stage runs
    * here, as one job; the returned rows are computed by whatever job reads
    * them, in the reduce stage, and report the hash partitioning, so a
    * later operator that needs it (a repartition on `key`, a window whose
    * keys start with it) plans no exchange of its own. */
  def aggregateOn(agg: DataFrame, key: String, n: Int): Exchanged = {
    val ds = agg.asInstanceOf[classic.Dataset[_]]
    val session = ds.sparkSession
    // the topmost aggregate that needs its input clustered is the final
    // one; a hash partitioning on key alone satisfies its clustering on
    // (key, ...), so EnsureRequirements keeps this exchange and adds none
    var part: HashPartitioning = null
    val planned = ds.queryExecution.sparkPlan.transformDown {
      case a: BaseAggregateExec if part == null &&
          a.requiredChildDistributionExpressions.exists(_.nonEmpty) =>
        val k = a.child.output.find(_.name == key).getOrElse(
          throw new IllegalArgumentException(s"aggregate has no column $key"))
        part = HashPartitioning(Seq(k), n)
        a.withNewChildren(Seq(
          ShuffleExchangeExec(part, a.child, REPARTITION_BY_NUM)))
    }
    require(part != null, "aggregateOn needs a grouping aggregate")
    val plan = QueryExecution.prepareExecutedPlan(session, planned)
    val exchange = plan.collectFirst {
      case s: ShuffleExchangeExec if s.outputPartitioning == part => s
    }.get
    // submitted from the caller's thread, so the job carries its call site
    val dep = exchange.shuffleDependency
    if (dep.rdd.getNumPartitions > 0)
      session.sparkContext.submitMapStage(dep).get()
    val observed = plan.collect { case c: CollectMetricsExec =>
      c.name -> c.collectedMetrics }.toMap
    val rows = LogicalRDD(plan.output, plan.execute(),
      plan.outputPartitioning)(session)
    Exchanged(classic.Dataset.ofRows(session, rows), observed)
  }

  /** `df`'s rows with each partition passed through `f`, same schema and
    * the same partitioning: `f` keeps rows in their partition and must
    * keep the partitioning columns as they are. `df` is planned as a SQL
    * execution of its own (named `graft.rows`): the exchanges that
    * adaptive execution runs while planning it are reported to
    * QueryExecutionListeners and the SQL UI like any action's. The jobs
    * that later read the returned frame belong to the queries that read
    * it. */
  def mapPartitionsInternal(df: DataFrame,
      f: Iterator[InternalRow] => Iterator[InternalRow]): DataFrame =
    over(df, rowsOf(df).mapPartitions(f))

  /** `df`'s rows computed once, by one job run here, and kept in executor
    * memory (spilling to disk) until `release` is called; the returned
    * frame reads them and reports `df`'s partitioning. */
  final case class Persisted(frame: DataFrame, release: () => Unit)

  def persist(df: DataFrame): Persisted = {
    val rows = rowsOf(df).mapPartitions(_.map(_.copy()))
      .persist(StorageLevel.MEMORY_AND_DISK)
    rows.count()
    Persisted(over(df, rows), () => { rows.unpersist(blocking = false); () })
  }

  private def rowsOf(df: DataFrame): RDD[InternalRow] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("graft.rows"))(qe.toRdd)
  }

  private def over(df: DataFrame, rows: RDD[InternalRow]): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    classic.Dataset.ofRows(ds.sparkSession,
      LogicalRDD.fromDataset(rows, ds, isStreaming = false))
  }
}
