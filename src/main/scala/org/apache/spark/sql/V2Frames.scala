package org.apache.spark.sql

import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Builds a DataFrame straight from a DSv2 [[Table]] instance. The public
  * API reaches V2 tables only through a catalog or a `format(...)` lookup,
  * both of which construct the table themselves; `Dataset.ofRows` is
  * package-private, hence this one-line seam in Spark's package. */
object V2Frames {
  def ofTable(spark: SparkSession, table: Table): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      DataSourceV2Relation.create(table, None, None,
        CaseInsensitiveStringMap.empty()))
}
