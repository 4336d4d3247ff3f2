package graft.streaming

import scala.collection.immutable.TreeMap

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder, SupportsPushDownFilters}
import org.apache.spark.sql.sources.{EqualTo, Filter, IsNotNull}
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The served view as a keyed, driver-local DataSource V2 table: the keyed
  * read of the reference's state store (kafka_streams.clj:83-89). Every query
  * reads `view()` when it is planned, so the table is registered once and
  * still shows the latest map.
  *
  *  - `client = 'x'` is pushed down and answered by `view().get("x")`: 0 or
  *    1 row, O(log n), planned as a bare `LocalTableScan` that starts no job.
  *  - `client IS NOT NULL`, which the optimizer infers from `client = 'x'`,
  *    is absorbed: the map has no null key. Left as a post-scan filter, it
  *    would put a `Filter` over every lookup and start a job.
  *  - Every other predicate is handed back to Spark as a post-scan filter, so
  *    no query changes meaning. With no key, the scan returns every row in
  *    client order.
  */
private[streaming] final class ServedTable(tableName: String, view: () => TreeMap[String, Seq[String]])
    extends Table with SupportsRead {

  override def name(): String = tableName
  override def schema(): StructType = ServedTable.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownFilters {
      private var key: Option[String] = None
      private var pushed = Array.empty[Filter]

      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        val post = filters.filter {
          case IsNotNull("client") => false
          case EqualTo("client", s: String) if key.isEmpty => key = Some(s); false
          case _ => true
        }
        pushed = filters.diff(post)
        post
      }

      override def pushedFilters(): Array[Filter] = pushed

      override def build(): Scan = new LocalScan {
        override def readSchema(): StructType = ServedTable.schema
        override def rows(): Array[InternalRow] = {
          val m = view()
          key.fold(m.iterator)(k => m.get(k).iterator.map(k -> _)).map(ServedTable.row).toArray
        }
      }
    }
}

private[streaming] object ServedTable {
  /** The columns, types and nullability of the view as a local relation. */
  val schema: StructType = StructType(Seq(
    StructField("client", StringType),
    StructField("nasdaq_position_ids", ArrayType(StringType))))

  private def row(entry: (String, Seq[String])): InternalRow =
    InternalRow(UTF8String.fromString(entry._1),
      new GenericArrayData(entry._2.map(UTF8String.fromString).toArray[Any]))
}
