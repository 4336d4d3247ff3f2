package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.LatestPerKey
import KTableStream.ClientView

/** Serving layer ≈ the reference's queryable state store + interactive query
  * (kafka_streams.clj:80,83-89): `foreachBatch` upserts the change stream into
  * a queryable store, read via [[snapshot]] / a temp view.
  *
  * Deliberate upgrade over the reference (SURVEY.md §3.2): the served view is
  * COMPLETE — the reference's `GET /local-state` returns only the partitions
  * local to one of the 3 instances.
  *
  * The view is maintained as an append-only keyed changelog in parquet —
  * exactly the reference's store + changelog-topic pairing
  * (kafka_streams.clj:80), with the parquet files as the changelog and
  * read-side latest-per-key compaction as the store.
  *
  *  - Write path: each micro-batch appends ONLY its changed keys (update-mode
  *    emission), written executor-side — no driver materialization, no
  *    collect. Partitioned by batch id with dynamic partition overwrite, so a
  *    replayed batch after restart overwrites its own partition: idempotent
  *    exactly-once output.
  *  - Read path: latest-per-key over the changelog (partial-agg `max_by`, one
  *    shuffle), tombstoned rows dropped. At 100 TB-scale view sizes a
  *    periodic compaction job would fold old batch partitions; the read is
  *    partition-prunable either way.
  *
  * In a deployment with a transactional table format (Delta/Iceberg) the
  * upsert becomes a MERGE; plain parquet keeps this self-contained.
  */
class ParquetServing(storeDir: String, val viewName: String = "us_share_holders",
                     compactEvery: Int = 0,
                     checkpointDir: Option[String] = None) {

  // the session whose catalog serves interactive queries; foreachBatch runs
  // with a CLONED session, so views registered there would be invisible
  @volatile private var servingSession: Option[SparkSession] = None

  private def sessionFor(batch: Dataset[ClientView]): SparkSession =
    servingSession
      .orElse(SparkSession.getDefaultSession)
      .getOrElse(batch.sparkSession)

  def start(spark: SparkSession, views: Dataset[ClientView], streamCheckpoint: String): StreamingQuery = {
    servingSession = Some(spark)
    views.writeStream
      .outputMode("update")
      .option("checkpointLocation", streamCheckpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[ClientView], batchId: Long) => upsertBatch(batch, batchId) }
      .queryName(viewName)
      .start()
  }

  /** Apply one micro-batch of view changes (idempotent per (key, batch)). */
  def upsertBatch(batch: Dataset[ClientView], batchId: Long): Unit = {
    batch.toDF()
      .withColumn("batch_id", lit(batchId))
      .write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(storeDir)
    val session = sessionFor(batch)
    // periodic fold: keeps the changelog partition count bounded under a
    // long-running stream. Replay-safe — a replayed batch re-runs its own
    // compact() too, which converges (see compact's invariants).
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0) compact(session)
    snapshot(session).createOrReplaceTempView(viewName)
  }

  /** The complete materialized view (interactive query surface,
    * kafka_streams.clj:83-89).
    */
  def snapshot(spark: SparkSession): DataFrame = {
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
      else spark.read.parquet(storeDir)
    LatestPerKey(changes, keys = Seq("client"), ordering = Seq("batch_id"))
      .filter(!col("deleted"))
      .select("client", "nasdaq_position_ids")
      .orderBy("client")
  }

  /** Driver-side convenience read of the full view — an interactive query,
    * bounded by the number of live clients, NOT part of the streaming hot
    * path.
    */
  def asMap: Map[String, Seq[String]] = {
    val spark = servingSession.orElse(SparkSession.getDefaultSession).get
    snapshot(spark).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
  }

  /** Periodic changelog compaction: fold old batch partitions into a single
    * base partition so the read-side latest-per-key scans O(base + recent)
    * instead of O(all batches ever). Read results are unchanged.
    *
    * Safety invariants:
    *  - Only batches STRICTLY BELOW the current max are folded. The max
    *    batch is the one batch a restart can replay (its `foreachBatch` ran
    *    but the stream checkpoint may not have committed); every batch below
    *    it must have committed for the max to have run at all. Leaving the
    *    max partition untouched keeps replay-overwrites-its-own-partition
    *    idempotency intact.
    *  - The base RETAINS tombstone rows (`deleted = true`): dropping them
    *    would let a replayed pre-compaction upsert resurrect a deleted key.
    *  - The base is stamped with the MAX FOLDED batch id, so at read time it
    *    supersedes every folded partition per key (`max_by` on batch_id) —
    *    a crash between the base write and the partition deletes just leaves
    *    redundant rows that the next compact() sweeps; re-running converges.
    */
  def compact(spark: SparkSession): Unit = {
    val path = new org.apache.hadoop.fs.Path(storeDir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(path)) return
    val batchIds = fs.listStatus(path).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("batch_id=") => n.stripPrefix("batch_id=").toLong }
      .sorted
    if (batchIds.size < 3) return // nothing worth folding below the max
    val maxBatch = batchIds.last
    val baseId = batchIds.init.last // max folded id = the base partition
    // materialize BEFORE writing: the write overwrites partitions the plan
    // reads from. localCheckpoint by default; the constructor's
    // checkpointDir switches to the executor-loss-safe parquet barrier
    // (graft.operators.Materialize) for long-running cluster streams — a
    // lost executor between here and the write would otherwise kill the
    // stream mid-compaction.
    val foldedPlan = LatestPerKey(
        spark.read.parquet(storeDir).filter(col("batch_id") < lit(maxBatch)),
        keys = Seq("client"), ordering = Seq("batch_id"))
      .withColumn("batch_id", lit(baseId))
    // capture the reliable path so it can be deleted below: the folded frame
    // is fully consumed by the write inside this method, and a long-running
    // stream compacts indefinitely — leaking one barrier dir per compaction
    // would grow checkpointDir without bound
    val (folded, barrierPath) = checkpointDir match {
      case Some(dir) =>
        val (f, p) = graft.operators.Materialize.reliable(foldedPlan, dir)
        (f, Some(p))
      case None => (foldedPlan.localCheckpoint(), None)
    }
    folded.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(storeDir)
    barrierPath.foreach(graft.operators.Materialize.delete(folded, _))
    batchIds.filter(_ < baseId).foreach { id =>
      fs.delete(new org.apache.hadoop.fs.Path(path, s"batch_id=$id"), true)
    }
  }
}
