package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.StructType

/** Bridge to Spark's package-private DataFrame constructors over a catalyst
  * plan or an RDD of encoded rows (`classic.Dataset.ofRows`,
  * `classic.SparkSession.internalCreateDataFrame`), the same reason
  * [[ColumnBridge]] exists: supported classic-session calls that are
  * `private[sql]`.
  */
object TableBridge {
  private def classicOf(spark: SparkSession): classic.SparkSession =
    spark.asInstanceOf[classic.SparkSession]

  /** `table` as a DataFrame, read through DataSource V2 (filter push-down,
    * `LocalScan`) without a catalog entry.
    */
  def frame(spark: SparkSession, table: Table): DataFrame =
    classic.Dataset.ofRows(classicOf(spark), DataSourceV2Relation.create(table, None, None))

  /** True when the temp view `name` is registered over `table` itself. */
  def servesView(spark: SparkSession, name: String, table: Table): Boolean =
    classicOf(spark).sessionState.catalog.getRawTempView(name).flatMap(_.plan).exists(_.exists {
      case r: DataSourceV2Relation => r.table eq table
      case _ => false
    })

  /** Rows already encoded with `schema` as a DataFrame, with no re-encoding. */
  def frame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    classicOf(spark).internalCreateDataFrame(rows, schema, isStreaming = false)
}
