package graft.streaming

import scala.collection.immutable.TreeMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftbridge.TableBridge

import graft.operators.LatestPerKey
import KTableStream.ClientView

/** Serving layer ≈ the reference's queryable state store + interactive query
  * (kafka_streams.clj:80,83-89): `foreachBatch` upserts the change stream into
  * a queryable store, read via [[asMap]] / a temp view.
  *
  * Deliberate upgrade over the reference (SURVEY.md §3.2): the served view is
  * COMPLETE — the reference's `GET /local-state` returns only the partitions
  * local to one of the 3 instances.
  *
  * The durable store is an append-only keyed changelog in parquet — exactly
  * the reference's store + changelog-topic pairing (kafka_streams.clj:80),
  * with the parquet files as the changelog and latest-per-key over them
  * ([[snapshot]]) as the store. Reads are served from a driver-side copy of
  * that fold, advanced by each batch's changes, the way Structured Streaming
  * serves versioned state instead of recomputing it from the log.
  *
  *  - Write path: each micro-batch runs once and carries ONLY its changed
  *    keys (update-mode emission: at most one whole-set row per changed
  *    client). They are appended to the changelog executor-side, partitioned
  *    by batch id with dynamic partition overwrite, so a replayed batch after
  *    restart overwrites its own partition: idempotent exactly-once output.
  *  - Read path: the same rows reach the driver with the write and are
  *    folded into an immutable client -> ids map, which [[asMap]] returns.
  *    `viewName` is registered once as a keyed DataSource V2 table over
  *    that map ([[ServedTable]]), read whenever a query is planned: a
  *    one-client lookup is a map get, O(log live clients), planned as a bare
  *    `LocalTableScan`; neither it nor `GET /local-state` starts a Spark job
  *    or grows with the batches ever written. The instance that applied the
  *    latest batch owns `viewName`. The map is bootstrapped once per instance
  *    from the store's latest-per-key, so a new instance over an existing
  *    store (restart) converges, and a replayed batch folds to the same map
  *    because every change row carries the client's whole set. The driver
  *    already held the whole view on every `GET /local-state`, so the copy
  *    adds no new driver-memory bound.
  *
  * In a deployment with a transactional table format (Delta/Iceberg) the
  * upsert becomes a MERGE; plain parquet keeps this self-contained.
  */
class ParquetServing(storeDir: String, val viewName: String = "us_share_holders") {

  // the served view, sorted by client; null until bootstrapped from the store
  @volatile private var view: TreeMap[String, Seq[String]] = null

  // `viewName`'s table: a keyed read of `view`, set before it is registered
  private val table = new ServedTable(viewName, () => view)

  /** Apply one micro-batch of view changes (idempotent per (key, batch)). */
  def upsertBatch(batch: Dataset[ClientView], batchId: Long): Unit = {
    // the session whose catalog serves interactive queries: the default one,
    // since foreachBatch runs with a CLONED session whose views would be
    // invisible to it; the batch's own only when no default is set
    val session = SparkSession.getDefaultSession.getOrElse(batch.sparkSession)
    // bootstrapped from the batches BELOW this one, so a replayed batch's
    // stale partition never reaches the map (and a fresh store reads nothing)
    val before = served(session, below = Some(batchId))
    // the write is the one run of the stateful plan, and it also hands the
    // rows to the driver: a result task's accumulator updates are merged once
    // per partition (never from a failed or duplicate attempt), so `written`
    // holds exactly the rows written. A separate collect would cost a second
    // job per batch (and a persist to keep the plan from running twice).
    // The rows travel as the plan's own encoded rows (copies, since the
    // iterator reuses its row), not as deserialized ClientView objects; the
    // select fixes the field order the fold below decodes.
    val changeRows = batch.toDF().select("client", "nasdaq_position_ids", "deleted")
    val written = batch.sparkSession.sparkContext.collectionAccumulator[InternalRow]
    val rows = changeRows.queryExecution.toRdd.mapPartitions(_.map { r => written.add(r.copy()); r })
    TableBridge.frame(batch.sparkSession, rows, changeRows.schema)
      .withColumn("batch_id", lit(batchId))
      .write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(storeDir)
    val after = written.value.asScala.foldLeft(before) { (m, r) =>
      val client = r.getUTF8String(0).toString
      if (r.getBoolean(2)) m - client
      else {
        val ids = r.getArray(1)
        m.updated(client, Vector.tabulate(ids.numElements())(ids.getUTF8String(_).toString))
      }
    }
    view = after
    // registered once: the table reads `view` whenever a query is planned.
    // The instance that applied the latest batch owns the name, so another
    // instance's registration is taken over here.
    if (!TableBridge.servesView(session, viewName, table))
      TableBridge.frame(session, table).createOrReplaceTempView(viewName)
  }

  /** The served map, bootstrapped once from the store's batches `below`. */
  private def served(spark: => SparkSession, below: Option[Long]): TreeMap[String, Seq[String]] = {
    val current = view
    if (current != null) current
    else synchronized {
      if (view == null) view = TreeMap.from(
        latest(spark, below).collect().iterator.map(r => r.getString(0) -> r.getSeq[String](1)))
      view
    }
  }

  /** The complete materialized view as the durable changelog holds it: a
    * distributed latest-per-key over every batch partition, O(history). It
    * bootstraps the served map and checks it; interactive reads go through
    * [[asMap]] / `viewName`.
    */
  def snapshot(spark: SparkSession): DataFrame = latest(spark, below = None)

  private def latest(spark: SparkSession, below: Option[Long]): DataFrame = {
    import spark.implicits._
    def emptyChanges = Seq.empty[(String, Seq[String], Boolean, Long)]
      .toDF("client", "nasdaq_position_ids", "deleted", "batch_id")
    val path = new org.apache.hadoop.fs.Path(storeDir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    // "empty store" is decided by LISTING, not by catching AnalysisException:
    // a blanket catch would serve a genuinely corrupt or schema-incompatible
    // store as "no data". Only a missing dir or a dir with zero data files
    // (pre-created store dir; an all-empty first batch that wrote only
    // _SUCCESS) is empty — anything the read then throws propagates.
    def hasDataFile: Boolean = {
      val it = fs.listFiles(path, true)
      var found = false
      while (!found && it.hasNext) {
        val name = it.next().getPath.getName
        found = !name.startsWith("_") && !name.startsWith(".")
      }
      found
    }
    val changes =
      if (!fs.exists(path) || !hasDataFile) emptyChanges
      else below.foldLeft(spark.read.parquet(storeDir))((all, b) => all.filter(col("batch_id") < b))
    LatestPerKey(changes, keys = Seq("client"), ordering = Seq("batch_id"))
      .filter(!col("deleted"))
      .select("client", "nasdaq_position_ids")
      .orderBy("client")
  }

  /** The full view (interactive query, kafka_streams.clj:83-89) as of the
    * last applied batch; starts no Spark job once bootstrapped.
    */
  def asMap: Map[String, Seq[String]] =
    served(SparkSession.getDefaultSession.get, below = None)
}
