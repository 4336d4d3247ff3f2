package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.execution.{FilterExec, LocalTableScanExec}
import org.apache.spark.sql.functions.{array_contains, col}

import graft.SparkSpec
import KTableStream.ClientView

/** `ParquetServing`'s keyed view table, fed through `upsertBatch` directly:
  * its plans, its answers against the served map, and who owns `viewName`.
  */
class ServingSpec extends SparkSpec {
  import spark.implicits._

  private def batch(views: ClientView*): Dataset[ClientView] = spark.createDataset(views)

  private def rows(df: DataFrame): Seq[(String, Seq[String])] =
    df.collect().toSeq.map((r: Row) => r.getString(0) -> r.getSeq[String](1))

  private def lookup(view: String, client: String) =
    spark.table(view).filter(col("client") === client)

  // 5,000 clients with one to three NASDAQ positions each
  private lazy val large: ParquetServing = {
    val serving = new ParquetServing(tempDir("serving-keyed"), viewName = "served_keyed")
    serving.upsertBatch(spark.createDataset((0 until 5000).map { i =>
      val c = f"c$i%05d"
      ClientView(c, (0 to i % 3).map(t => s"$c:::T$t"), deleted = false)
    }), 0)
    serving
  }

  test("a one-client lookup plans to a bare LocalTableScan and starts no job") {
    val query = lookup(large.viewName, "c00042")
    val plan = query.queryExecution.executedPlan
    assert(plan.isInstanceOf[LocalTableScanExec], s"not a bare local scan:\n$plan")
    assert(plan.collect { case f: FilterExec => f }.isEmpty, s"post-scan filter left:\n$plan")
    val (found, jobs) = SparkSpec.jobsStartedBy(spark)(rows(query))
    assert(found == Seq("c00042" -> Seq("c00042:::T0")))
    assert(jobs == 0, s"a one-client lookup started $jobs jobs")
  }

  test("a missing client returns no rows, with no job") {
    val (found, jobs) = SparkSpec.jobsStartedBy(spark)(rows(lookup(large.viewName, "nobody")))
    assert(found.isEmpty && jobs == 0)
  }

  test("the view keeps the local relation's columns, types and nullability") {
    val local = Seq.empty[(String, Seq[String])].toDF("client", "nasdaq_position_ids")
    assert(spark.table(large.viewName).schema == local.schema)
  }

  test("predicates that are not pushed down give the same rows as the map") {
    val view = large.asMap.toSeq
    val table = spark.table(large.viewName)
    assert(rows(table) == view, "a full scan returns every row in client order")
    assert(rows(table.filter(col("client") > "c04990")) == view.filter(_._1 > "c04990"))
    assert(rows(table.filter(array_contains(col("nasdaq_position_ids"), "c00041:::T2"))) ==
      view.filter(_._2.contains("c00041:::T2")))
    assert(rows(table.filter(col("client") === "c00001" || col("client") === "c00002")) ==
      view.filter(e => e._1 == "c00001" || e._1 == "c00002"))
    assert(rows(table.filter(col("client") === "c00001" && col("client") === "c00002")).isEmpty)
    assert(rows(spark.sql(s"SELECT * FROM ${large.viewName} WHERE client = 'c00007' AND size(nasdaq_position_ids) > 1")) ==
      Seq("c00007" -> Seq("c00007:::T0", "c00007:::T1")))
  }

  test("the view shows batch N+1 without being registered again") {
    val serving = new ParquetServing(tempDir("serving-next"), viewName = "served_next")
    serving.upsertBatch(batch(ClientView("a", Seq("a:::T1"), deleted = false),
      ClientView("b", Seq("b:::T2"), deleted = false)), 0)
    val catalog = spark.sessionState.catalog
    val registered = catalog.getRawTempView(serving.viewName).get
    serving.upsertBatch(batch(ClientView("a", Seq("a:::T1", "a:::T3"), deleted = false),
      ClientView("b", Seq.empty, deleted = true)), 1)
    assert(catalog.getRawTempView(serving.viewName).get eq registered)
    assert(rows(lookup(serving.viewName, "a")) == Seq("a" -> Seq("a:::T1", "a:::T3")))
    assert(rows(lookup(serving.viewName, "b")).isEmpty)
    assert(rows(spark.table(serving.viewName)) == Seq("a" -> Seq("a:::T1", "a:::T3")))
  }

  test("the instance that applied the latest batch owns the view name") {
    val first = new ParquetServing(tempDir("serving-first"), viewName = "served_owned")
    val second = new ParquetServing(tempDir("serving-second"), viewName = "served_owned")
    first.upsertBatch(batch(ClientView("x", Seq("x:::A"), deleted = false)), 0)
    assert(rows(spark.table("served_owned")) == Seq("x" -> Seq("x:::A")))
    second.upsertBatch(batch(ClientView("y", Seq("y:::B"), deleted = false)), 0)
    assert(rows(spark.table("served_owned")) == Seq("y" -> Seq("y:::B")))
    assert(rows(lookup("served_owned", "x")).isEmpty)
    first.upsertBatch(batch(ClientView("x", Seq("x:::A", "x:::C"), deleted = false)), 1)
    assert(rows(spark.table("served_owned")) == Seq("x" -> Seq("x:::A", "x:::C")))
    assert(first.asMap == Map("x" -> Seq("x:::A", "x:::C")) && second.asMap == Map("y" -> Seq("y:::B")))
  }
}
