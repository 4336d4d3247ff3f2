package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.Graft
import graft.sources.KafkaChangelog
import graft.streaming.{HttpFacade, KTableProcessor, KTableStream, ParquetServing}
import graft.streaming.KTableStream.{ClientView, ShareUpdate}

/** Collects every progress event; `numRecentProgressUpdates` would drop old ones. */
final class ProgressLog extends StreamingQueryListener {
  private val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = events.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  def of(query: UUID): Seq[StreamingQueryProgress] =
    events.asScala.filter(p => p.id == query && p.numInputRows > 0).toSeq.sortBy(_.batchId)

  /** Progress events reach listeners asynchronously: wait for `batchId`'s. */
  def await(query: UUID, batchId: Long): StreamingQueryProgress = {
    val deadline = System.nanoTime() + 60L * 1000000000L
    var found: Option[StreamingQueryProgress] = None
    while (found.isEmpty) {
      found = events.asScala.find(p => p.id == query && p.batchId == batchId)
      if (found.isEmpty) {
        require(System.nanoTime() < deadline, s"no progress event for batch $batchId")
        Thread.sleep(1)
      }
    }
    found.get
  }
}

/** The paper's path as `Demo` wires it: frames -> `KafkaChangelog.parse` ->
  * KTable engine -> `ParquetServing.upsertBatch` in `foreachBatch`, with a
  * checkpoint and a store under `dir`. The input stream survives restarts.
  */
final class Pipeline(
    spark: SparkSession,
    engine: (SparkSession, Dataset[ShareUpdate]) => Dataset[ClientView],
    val dir: File,
    tracer: Tracer,
    progress: ProgressLog) {
  implicit private val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
  import spark.implicits._

  val checkpoint = new File(dir, "checkpoint")
  val store = new File(dir, "store")
  val serving = new ParquetServing(store.getPath)
  private val input = MemoryStream[Frame]
  private var query: StreamingQuery = _
  var batches = 0L
  var events = 0L

  def start(): Unit = {
    val views = engine(spark, KafkaChangelog.parse(spark, input.toDF()))
    query = views.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint.getPath)
      .foreachBatch { (b: Dataset[ClientView], id: Long) =>
        tracer.span("parquet_serving.upsert", id) { serving.upsertBatch(b, id) }
      }
      .start()
  }

  def queryId: UUID = query.id

  /** Appends one batch and waits until it is visible; returns its
    * append-to-visible time in ms and its progress event.
    */
  def append(frames: Seq[Frame]): (Double, StreamingQueryProgress) = {
    val batchId = batches
    val ms = tracer.span("microbatch.append_to_visible", batchId) {
      val t = System.nanoTime()
      input.addData(frames)
      query.processAllAvailable()
      (System.nanoTime() - t) / 1e6
    }
    batches += 1
    events += frames.size
    (ms, progress.await(query.id, batchId))
  }

  def stop(): Unit = if (query != null) { query.stop(); query = null }
}

/** Closed-loop, count-bounded benchmark of the changelog-to-served-view path.
  *
  * One thread appends a batch, waits until it is visible, then does that
  * batch's reads; every batch and read is fixed by the seed. The last line
  * of stdout is the result JSON; a mismatch against [[Fold]] counts as a
  * failed operation and exits with code 1.
  */
object StreamBench {
  private final case class Args(workload: Spec, seed: Long, seconds: Int, trace: Boolean,
                                cores: Int, engine: String, work: File, traceFile: Option[File])

  private def parseArgs(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val wl = Spec.all.find(_.name == need("workload"))
      .getOrElse(throw new IllegalArgumentException(s"unknown workload ${need("workload")}"))
    Args(wl, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      kv.getOrElse("cores", "2").toInt, kv.getOrElse("engine", "processor"),
      new File(need("work")), kv.get("trace-file").map(new File(_)))
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    Fold.selfTest()
    val code = run(args)
    sys.exit(code)
  }

  private def deleteTree(f: File): Unit =
    if (f.exists()) {
      val paths = Files.walk(f.toPath).iterator().asScala.toSeq
      paths.reverse.foreach(p => Files.deleteIfExists(p))
    }

  private def bytesUnder(f: File): Long =
    if (!f.exists()) 0L
    else Files.walk(f.toPath).iterator().asScala.filter(p => Files.isRegularFile(p)).map(p => Files.size(p)).sum

  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(Double.NaN)

  private def run(a: Args): Int = {
    val spec = a.workload
    val wl = new Workload(spec, a.seed, a.seconds)
    val tracer = new Tracer(a.trace)
    val engine: (SparkSession, Dataset[ShareUpdate]) => Dataset[ClientView] = a.engine match {
      case "processor" => KTableProcessor.usShareHolders
      case "stream" => KTableStream.usShareHolders
      case other => throw new IllegalArgumentException(s"unknown engine $other")
    }
    val warmFrames = wl.warmup.map(_.map(_.frame))
    val timedFrames = wl.timed.map(_.map(_.frame))
    val resumeFrames = wl.resume.map(_.map(_.frame))

    var attempted = 0L
    var failed = 0L
    val mismatches = mutable.ArrayBuffer.empty[String]
    def check(what: String)(ok: Boolean): Unit = {
      attempted += 1
      if (!ok) { failed += 1; if (mismatches.size < 10) mismatches += what }
    }

    a.work.mkdirs()
    val setupStart = System.nanoTime()
    var phaseStart = setupStart
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      System.err.println(f"perfbench: phase $name%s took ${(now - phaseStart) / 1e9}%.2f s")
      phaseStart = now
    }
    val spark = Graft.session("graft-perfbench", a.cores.toString)
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    var pipe: Pipeline = null
    val facade = new HttpFacade(
      produce = (_, _, _, _) => throw new UnsupportedOperationException("the benchmark appends through its own source"),
      state = () => tracer.span("parquet_serving.as_map") { pipe.serving.asMap })
    val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    val json = new ObjectMapper()
    try {
      facade.start()
      val localStateReq = HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${facade.boundPort}/local-state")).GET().build()

      def localState(): (Double, Map[String, Seq[String]], Int) = {
        val (ms, resp) = tracer.span("http_facade.local_state") {
          val t = System.nanoTime()
          val r = http.send(localStateReq, HttpResponse.BodyHandlers.ofString())
          ((System.nanoTime() - t) / 1e6, r)
        }
        require(resp.statusCode() == 200, s"GET /local-state returned ${resp.statusCode()}: ${resp.body()}")
        val view = json.readTree(resp.body()).elements().asScala.map { n =>
          n.get("key").asText() -> n.get("value").elements().asScala.map(_.asText()).toVector
        }.toMap
        (ms, view, resp.body().getBytes(UTF_8).length)
      }

      def snapshotView(): Map[String, Seq[String]] = tracer.span("parquet_serving.snapshot") {
        pipe.serving.snapshot(spark).collect().map(r => r.getString(0) -> r.getSeq[String](1).toVector).toMap
      }

      val fold = new Fold
      def checkFullView(label: String): Unit = {
        val expected = fold.view
        check(s"GET /local-state $label")(localState()._2 == expected)
        check(s"snapshot $label")(snapshotView() == expected)
      }

      // ---- set-up: fresh store, query start and warm-up batches, several times
      val setupS = (1 to spec.setups).map { i =>
        val t = if (i == 1) setupStart else System.nanoTime()
        pipe = new Pipeline(spark, engine, new File(a.work, s"setup-$i"), tracer, progress)
        pipe.start()
        warmFrames.foreach(pipe.append)
        val s = (System.nanoTime() - t) / 1e9
        if (i < spec.setups) { pipe.stop(); deleteTree(pipe.dir) }
        s
      }
      attempted += spec.setups.toLong * spec.warmupBatches
      phase(s"set-up (${setupS.map(x => f"$x%.2f").mkString(", ")} s)")
      wl.warmup.foreach(fold(_))

      // ---- timed phase
      val gcBefore = gcMillis
      ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
      val freshMs = mutable.ArrayBuffer.empty[Double]
      val timedProgress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
      val lookupMs = mutable.ArrayBuffer.empty[Double]
      val localMs = mutable.ArrayBuffer.empty[Double]
      val responseBytes = mutable.ArrayBuffer.empty[Double]
      wl.timed.indices.foreach { b =>
        val (ms, p) = pipe.append(timedFrames(b))
        attempted += 1
        freshMs += ms
        timedProgress += p
        fold(wl.timed(b))
        wl.lookups(b).foreach { client =>
          val (lms, rows) = tracer.span("lookup", p.batchId) {
            val t = System.nanoTime()
            val rows = spark.table(pipe.serving.viewName).filter(col("client") === client)
              .collect().map(_.getSeq[String](1).toVector).toSeq
            ((System.nanoTime() - t) / 1e6, rows)
          }
          lookupMs += lms
          val ids = fold.ids(client)
          check(s"lookup $client after batch ${p.batchId}")(rows == (if (ids.isEmpty) Seq.empty else Seq(ids)))
        }
        val expected = fold.view
        (1 to spec.localStatesPerBatch).foreach { _ =>
          val (sms, view, bytes) = localState()
          localMs += sms
          responseBytes += bytes
          check(s"GET /local-state after batch ${p.batchId}")(view == expected)
        }
      }
      val gcMs = gcMillis - gcBefore
      val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum / 1048576.0
      phase("timed")
      checkFullView("at the end of the timed phase")

      // ---- restarts on the same checkpoint and store
      val resumeS = mutable.ArrayBuffer.empty[Double]
      val resumeProgress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
      wl.resume.indices.foreach { r =>
        pipe.stop()
        val t = System.nanoTime()
        tracer.span("resume") {
          pipe.start()
          resumeProgress += pipe.append(resumeFrames(r))._2
        }
        resumeS += (System.nanoTime() - t) / 1e9
        attempted += 1
        fold(wl.resume(r))
        checkFullView(s"after restart ${r + 1}")
      }
      phase(s"restarts (${resumeS.map(x => f"$x%.2f").mkString(", ")} s)")
      val inputRows = progress.of(pipe.queryId).map(_.numInputRows).sum
      check(s"summed numInputRows $inputRows == ${pipe.events} appended events")(inputRows == pipe.events)

      val timedEvents = wl.timed.map(_.size).sum
      val endToEnd = Seq(
        ("setup_s", Stats.median(setupS), "s"),
        ("ingest_eps", timedEvents / (freshMs.sum / 1000.0), "1/s"),
        ("freshness_p50_ms", Stats.median(freshMs.toSeq), "ms"),
        ("lookup_p50_ms", Stats.median(lookupMs.toSeq), "ms"),
        ("lookup_p90_ms", Stats.quantile(lookupMs.toSeq, 0.9), "ms"),
        ("local_state_p50_ms", Stats.median(localMs.toSeq), "ms"),
        ("resume_s", Stats.median(resumeS.toSeq), "s"),
        ("peak_rss_mb", peakRssMb, "MiB"),
        ("disk_mb", (bytesUnder(pipe.checkpoint) + bytesUnder(pipe.store)) / 1048576.0, "MiB"))
      val samples = Seq(
        "setup_s" -> setupS.size, "ingest_eps" -> freshMs.size, "freshness_p50_ms" -> freshMs.size,
        "lookup_p50_ms" -> lookupMs.size, "lookup_p90_ms" -> lookupMs.size,
        "local_state_p50_ms" -> localMs.size, "resume_s" -> resumeS.size)

      // lookup_p90_ms and resume_s spread too widely between runs to be gated
      // (perfbench/README.md); they go to the trace file only
      val ungated = Set("lookup_p90_ms", "resume_s")
      val metrics =
        if (!a.trace) endToEnd.filterNot(m => ungated(m._1))
        else {
          val layers = perLayer(spark, pipe, wl, tracer, timedFrames.flatten, timedProgress.toSeq,
            resumeProgress.toSeq, fold, localMs.toSeq, responseBytes.toSeq, gcMs, heapPeakMb)
          a.traceFile.foreach(f => writeTrace(f, a, tracer, endToEnd, layers, timedProgress.lastOption))
          layers
        }
      pipe.stop()
      phase("end")

      mismatches.foreach(m => System.err.println(s"MISMATCH: $m"))
      println(Json.obj(Seq(
        "workload" -> Json.str(spec.name), "seed" -> Json.num(a.seed.toDouble),
        "engine" -> Json.str(a.engine), "cores" -> Json.num(a.cores),
        "timed_batches" -> Json.num(wl.timedBatches), "batch_events" -> Json.num(spec.batchEvents),
        "samples" -> Json.obj(samples.map { case (k, n) => k -> Json.num(n) }))))
      println(Json.obj(Seq(
        "correct" -> (failed == 0).toString,
        "attempted" -> Json.num(attempted.toDouble),
        "failed" -> Json.num(failed.toDouble),
        "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
          n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
        }))))
      if (failed == 0) 0 else 1
    } finally {
      if (pipe != null) pipe.stop()
      facade.stop()
      spark.streams.active.foreach(_.stop())
      spark.stop()
      deleteTree(a.work)
    }
  }

  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def customMetric(p: StreamingQueryProgress, name: String): Double =
    p.stateOperators.headOption.flatMap(op => Option(op.customMetrics.get(name))).map(_.toDouble).getOrElse(0.0)

  /** Per-layer metrics of a traced run; per-batch figures are medians over
    * the timed batches.
    */
  private def perLayer(
      spark: SparkSession, pipe: Pipeline, wl: Workload, tracer: Tracer,
      frames: Seq[Frame], timed: Seq[StreamingQueryProgress], resumed: Seq[StreamingQueryProgress],
      fold: Fold, localMs: Seq[Double], responseBytes: Seq[Double],
      gcMs: Long, heapPeakMb: Double): Seq[(String, Double, String)] = {
    import spark.implicits._
    def med(f: StreamingQueryProgress => Double): Double = Stats.median(timed.map(f))
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
    def op(p: StreamingQueryProgress) = p.stateOperators.head
    def spanMed(name: String): Double = Stats.median(tracer.named(name).map(_.ms))

    // KafkaChangelog.parse alone, as a batch job over the timed frames
    val frameDf = spark.createDataset(frames).toDF()
    val parseS = (1 to 3).map { _ =>
      val t = System.nanoTime()
      tracer.span("kafka_changelog.parse") { KafkaChangelog.parse(spark, frameDf).foreach(_ => ()) }
      (System.nanoTime() - t) / 1e9
    }

    val timedIds = timed.map(_.batchId).toSet
    val storeRows = spark.read.parquet(pipe.store.getPath).groupBy("batch_id").count()
      .collect().map(r => r.getAs[Number](0).longValue -> r.getLong(1)).toMap
    val partitions = Option(pipe.store.listFiles()).toSeq.flatten.count(_.getName.startsWith("batch_id="))
    val files = Files.walk(pipe.store.toPath).iterator().asScala
      .count(p => p.getFileName.toString.endsWith(".parquet"))
    val asMap = tracer.named("parquet_serving.as_map").map(_.ms)
    val timedAsMap = asMap.take(localMs.size)
    val last = timed.last
    Seq(
      ("kafka_changelog.parse_eps", frames.size / Stats.median(parseS), "1/s"),
      ("microbatch.trigger_ms", med(dur(_, "triggerExecution")), "ms"),
      ("microbatch.add_batch_ms", med(dur(_, "addBatch")), "ms"),
      ("microbatch.wal_commit_ms", med(dur(_, "walCommit")), "ms"),
      ("microbatch.commit_offsets_ms", med(dur(_, "commitOffsets")), "ms"),
      ("microbatch.planning_ms", med(dur(_, "queryPlanning")), "ms"),
      ("microbatch.batches", pipe.batches.toDouble, "count"),
      ("ktable_processor.update_ms", med(op(_).allUpdatesTimeMs.toDouble), "ms"),
      ("ktable_processor.commit_ms", med(op(_).commitTimeMs.toDouble), "ms"),
      ("ktable_processor.rocksdb_sync_ms", med(customMetric(_, "rocksdbCommitFileSyncLatencyMs")), "ms"),
      ("ktable_processor.rocksdb_zip_ms", med(customMetric(_, "rocksdbSaveZipFilesLatencyMs")), "ms"),
      ("ktable_processor.load_ms", Stats.median(resumed.map(customMetric(_, "rocksdbLoadLatencyMs"))), "ms"),
      ("ktable_processor.state_rows", op(last).numRowsTotal.toDouble, "count"),
      ("ktable_processor.state_mb", op(last).memoryUsedBytes / 1048576.0, "MiB"),
      ("ktable_processor.emit_ratio",
        timedIds.toSeq.map(id => storeRows.getOrElse(id, 0L)).sum.toDouble / frames.size, "ratio"),
      ("parquet_serving.upsert_ms",
        Stats.median(tracer.named("parquet_serving.upsert").filter(s => timedIds(s.batch)).map(_.ms)), "ms"),
      ("parquet_serving.snapshot_ms", spanMed("parquet_serving.snapshot"), "ms"),
      ("parquet_serving.as_map_ms", Stats.median(timedAsMap), "ms"),
      ("parquet_serving.store_partitions", partitions.toDouble, "count"),
      ("parquet_serving.store_files", files.toDouble, "count"),
      ("parquet_serving.live_row_ratio", fold.view.size.toDouble / storeRows.values.sum, "ratio"),
      ("http_facade.render_ms", Stats.median(localMs.zip(timedAsMap).map { case (rt, m) => rt - m }), "ms"),
      ("http_facade.response_kb", Stats.median(responseBytes) / 1024.0, "KiB"),
      ("jvm.gc_ms", gcMs.toDouble, "ms"),
      ("jvm.heap_peak_mb", heapPeakMb, "MiB"))
  }

  private def writeTrace(f: File, a: Args, tracer: Tracer, endToEnd: Seq[(String, Double, String)],
                         layers: Seq[(String, Double, String)], lastProgress: Option[StreamingQueryProgress]): Unit = {
    def metricsJson(ms: Seq[(String, Double, String)]) =
      Json.obj(ms.map { case (n, v, u) => n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
    val spans = tracer.all.map { s =>
      Json.obj(Seq("id" -> Json.num(s.id), "parent" -> Json.num(s.parent), "name" -> Json.str(s.name),
        "batch" -> Json.num(s.batch), "start_ns" -> Json.num(s.startNs), "end_ns" -> Json.num(s.endNs)))
    }
    f.getParentFile.mkdirs()
    Files.write(f.toPath, Json.obj(Seq(
      "workload" -> Json.str(a.workload.name), "seed" -> Json.num(a.seed.toDouble),
      "engine" -> Json.str(a.engine), "cores" -> Json.num(a.cores),
      "end_to_end" -> metricsJson(endToEnd),
      "per_layer" -> metricsJson(layers),
      "last_progress" -> lastProgress.map(_.json).getOrElse("null"),
      "spans" -> Json.arr(spans))).getBytes(UTF_8))
  }
}
