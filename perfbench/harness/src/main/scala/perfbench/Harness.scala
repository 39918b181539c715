package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.{GraftConfig, GraftSession, SparkEntry, Tables}
import graft.cdc.{AvroWire, DimensionCdc, EnvelopeOps}
import graft.streaming.{GraftApp, Pipelines, Sources}

/** Runs one workload in one JVM and writes its measurements as JSON.
  *
  * Usage: `Harness <workload> <dataDir> <workDir> <seconds> <trace 0|1> <outJson>`
  *
  * Every workload: `SetupRounds` set-ups (session creation plus input
  * staging; the reported `setup_s` is their median), an untimed warm-up,
  * then timed repetitions until `seconds` have passed (at least one).
  * End-to-end values are medians over the timed repetitions. A traced run also
  * records spans and per-layer metrics and calls each layer on its own.
  */
object Harness {
  /** Spark local cores; `PERFBENCH_CORES=1` gives the single-threaded
    * reference run. */
  val Cores: Int = sys.env.get("PERFBENCH_CORES").map(_.toInt).getOrElse(4)

  /** The batch query families measured as a layer in traced app_backlog
    * runs (`query.<name>_s`). The CDC/banking queries are the batch twins
    * of the streaming pipelines: envelope parse and serde, CDC dimensions
    * (JSON and Avro wire), enrichment, velocity, daily spend, dormancy,
    * reconcile, rolling spend, TWAB, funnel, as-of join and latest-by-key.
    * The analytic ones take one query per family and run every custom
    * expression, aggregator and planner strategy at least once: graph
    * (triangles), association (frequent pairs), z-order, sim (IVF assign
    * and dot, PQ encode), text (winnow, fnv64 fingerprint, bloom filter),
    * dedup, KMV sketch, multimodal; `q_approx_percentiles` runs the
    * quantile-sample aggregator and `q_asof_enrich` the bounded top-k
    * strategy. */
  val CdcQueries: Seq[String] = Seq(
    "q_envelope_parse", "q_envelope_json_serde", "q_envelope_avro_serde",
    "q_cdc_account_dim", "q_cdc_customer_dim_avro", "q_enrich_cdc_dim",
    "q_enrich_cdc_two_hop", "q_velocity_count", "q_daily_spend_sum",
    "q_dormancy_session", "q_balance_reconcile", "q_rolling_spend",
    "q_time_weighted_balance", "q_funnel_conversion", "q_approx_percentiles",
    "q_asof_enrich", "q_latest_by_key")
  val AnalyticQueries: Seq[String] = Seq(
    "q_triangles", "q_frequent_pairs", "q_zorder_curve", "q_sim_ivf_topk",
    "q_pq_encode", "q_doc_winnow", "q_doc_fingerprint",
    "q_decontaminate_bloom", "q_dedup_exact", "q_kmv_doc_sketch",
    "q_multimodal_meta")
  val BatchQueries: Seq[String] = CdcQueries ++ AnalyticQueries

  /** Stream sink -> the batch query whose DuckDB oracle checks it. */
  val StreamOracles: Seq[String] = Seq("q_enrich_cdc_dim", "q_velocity_count",
    "q_daily_spend_sum", "q_dormancy_session", "q_balance_reconcile")

  final class Run(val workload: String, val data: String, val work: String,
      val seconds: Double, val trace: Boolean) {
    val tracer = new Tracer(trace)
    val wall0Ms: Long = System.currentTimeMillis() - tracer.now / 1000000
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val layer = mutable.LinkedHashMap.empty[String, Double]
    val check = mutable.LinkedHashMap.empty[String, Any]
    var attempted = 0
    var failed = 0
    val ops = mutable.LinkedHashMap("replays" -> 0, "batches" -> 0, "queries" -> 0)
    var spark: SparkSession = _
    val progress = new ProgressLog
    val counters = new SparkCounters
    def src: String = s"$work/src"

    def op[T](kind: String)(body: => T): Option[T] = {
      attempted += 1
      ops(kind) += 1
      try Some(body)
      catch {
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"[perfbench] $kind failed: $e")
          e.printStackTrace()
          None
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, data, work, seconds, trace, out) = args
    val run = new Run(workload, data, work, seconds.toDouble, trace == "1")
    deleteTree(Paths.get(work))
    Files.createDirectories(Paths.get(work))
    val inputs = "manifest.tsv" +: (workload match {
      case "app_backlog" => Seq("events.parquet", "customer.parquet",
        "nation.parquet", "lineitem.parquet", "documents.parquet",
        "embeddings.parquet", "warmup")
      case "pipeline_trickle" => Seq("customer.parquet", "chunks")
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    })
    setup(run, inputs)
    run.check("batch_queries") = BatchQueries
    run.check("oracles") = StreamOracles.map(q => q -> SparkEntry.oracleSql(q)).toMap
    try {
      workload match {
        case "app_backlog" => appBacklog(run)
        case "pipeline_trickle" => pipelineTrickle(run)
      }
      if (run.trace) {
        layerCalls(run)
        if (workload == "app_backlog") batchLayers(run)
      }
    } finally {
      run.spark.streams.active.foreach(_.stop())
    }
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "attempted" -> run.attempted, "failed" -> run.failed,
      "ops" -> run.ops,
      "metrics" -> run.metrics,
      "layer" -> run.layer,
      "check" -> run.check)
    Files.writeString(Paths.get(out), Json.value(result))
    if (run.trace)
      Files.writeString(Paths.get(out + ".spans.json"), run.tracer.json)
    run.spark.stop()
  }

  // ---- set-up ------------------------------------------------------------

  /** Set-ups per run. One takes ~0.1 s warm, so a median of few of them
    * is mostly scheduling noise. */
  val SetupRounds = 11

  /** Session creation plus staging the workload's inputs into a fresh
    * directory, `SetupRounds` times; `setup_s` is the median. The first
    * one also loads Spark's classes. Between two set-ups the previous
    * session is stopped and its shutdown given 0.1 s outside the timer. */
  def setup(run: Run, inputs: Seq[String]): Unit = {
    val times = (0 until SetupRounds).map { _ =>
      if (run.spark != null) {
        run.spark.stop()
        Thread.sleep(100)
      }
      val t0 = System.nanoTime()
      run.spark = run.tracer("setup") {
        val s = GraftSession.create(master = s"local[${Cores}]",
          appName = s"perfbench-${run.workload}")
        deleteTree(Paths.get(run.src))
        inputs.foreach(n => copyTree(Paths.get(run.data, n), Paths.get(run.src, n)))
        s
      }
      (System.nanoTime() - t0) / 1e9
    }
    System.err.println(s"[perfbench] set-ups: ${times.map(t => f"$t%.4f").mkString(" ")}")
    run.metrics("setup_s") = Stats.median(times)
    run.spark.streams.addListener(run.progress)
    if (run.trace) run.spark.sparkContext.addSparkListener(run.counters)
  }

  // ---- region accounting ---------------------------------------------------

  /** JVM and Spark counters over one timed region. */
  final class Region(run: Run) {
    private val a0 = Alloc.snapshot()
    private val (gcT0, gcN0) = Gc.snapshot()
    private val c0 = run.counters.snapshot()
    var allocBytes = 0L
    var gcMs = 0L
    var gcCount = 0L
    var spark: Seq[Long] = Seq.fill(5)(0L)

    /** Call while the threads that did the work are still alive. */
    def close(): Unit = {
      allocBytes = Alloc.between(a0, Alloc.snapshot())
      val (t, n) = Gc.snapshot()
      gcMs = t - gcT0
      gcCount = n - gcN0
      if (run.trace) {
        org.apache.spark.PerfbenchBus.drain(run.spark.sparkContext)
        spark = run.counters.snapshot().zip(c0).map { case (b, a) => b - a }
      }
    }
  }

  /** Per-unit JVM and Spark layer metrics from regions of `units` units. */
  def jvmLayers(run: Run, regions: Seq[Region], units: Int): Unit = {
    def per(f: Region => Double) = Stats.median(regions.map(f)) / units
    run.layer("jvm.gc_s") = per(_.gcMs / 1e3)
    run.layer("jvm.gc_count") = per(_.gcCount.toDouble)
    run.layer("spark.jobs") = per(_.spark(0).toDouble)
    run.layer("spark.tasks") = per(_.spark(1).toDouble)
    run.layer("spark.shuffle_write_mb") = per(_.spark(2) / 1e6)
    run.layer("spark.spill_mb") = per(_.spark(3) / 1e6)
    run.layer("spark.executor_cpu_s") = per(_.spark(4) / 1e9)
  }

  // ---- app_backlog -----------------------------------------------------------

  def appBacklog(run: Run): Unit = {
    val rows = rowCount(run, "events.parquet")
    case class Rep(r: Int, total: Double, start: Double, region: Region,
        queries: Seq[StreamingQuery], out: String)
    def out(r: Int) = s"${run.work}/app/out$r"
    def replay(r: Int, src: String): Option[Rep] = run.op("replays") {
      run.tracer("replay") {
        val region = new Region(run)
        val t0 = System.nanoTime()
        val qs = run.tracer("app.start") { GraftApp.start(run.spark, src, out(r)) }
        val t1 = System.nanoTime()
        try run.tracer("app.drain") { qs.foreach(_.processAllAvailable()) }
        finally {
          region.close()
          stopAll(run, qs)
        }
        val t2 = System.nanoTime()
        batchSpans(run, run.progress.of(qs), labels(qs))
        System.err.println(f"[perfbench] replay $r: ${(t2 - t0) / 1e9}%.1f s (start ${(t1 - t0) / 1e9}%.1f s)")
        Rep(r, (t2 - t0) / 1e9, (t1 - t0) / 1e9, region, qs, out(r))
      }
    }
    // the warm-up replays a small corpus of the same tables: a cold replay
    // of the full backlog costs ~40 s, which the run budget cannot pay
    run.tracer("warmup") { replay(0, s"${run.src}/warmup") }
    deleteTree(Paths.get(out(0)))
    val t0 = System.nanoTime()
    val reps = mutable.ArrayBuffer.empty[Rep]
    var r = 1
    while (reps.isEmpty || (System.nanoTime() - t0) / 1e9 < run.seconds) {
      replay(r, run.src).foreach { rep =>
        reps.lastOption.foreach(prev => deleteTree(Paths.get(prev.out)))
        reps += rep
      }
      r += 1
      if (r > 50) throw new IllegalStateException("too many failed replays")
    }
    run.metrics("rows_per_s") = Stats.median(reps.map(rows / _.total))
    // the backlog is one data micro-batch per query: the p50 is over the
    // trigger-to-commit times of those batches, across the 12 queries
    val dataBatches = reps.flatMap(x => run.progress.of(x.queries))
      .filter(p => p.numInputRows > 0 && p.durationMs.containsKey("addBatch"))
    run.metrics("batch_p50_s") = Stats.median(dataBatches.map(ms(_, "triggerExecution") / 1e3))
    run.metrics("alloc_mb") = Stats.median(reps.map(_.region.allocBytes / 1e6))
    val last = reps.last
    val lastProgress = run.progress.of(last.queries)
    run.check("rows") = rows
    run.check("latencies") = dataBatches.map(ms(_, "triggerExecution") / 1e3).toSeq
    run.check("out") = last.out
    run.check("sinks") = sinkCheck(lastProgress, labels(last.queries))
    if (run.trace) {
      run.layer("app.start_s") = Stats.median(reps.map(_.start))
      run.layer("app.drain_s") = Stats.median(reps.map(x => x.total - x.start))
      val perRep = reps.map(x => run.progress.of(x.queries)).toSeq
      engineLayers(run, perRep, labels(last.queries), units = 1)
      sinkLayers(run, last.out, Set.empty, units = 1)
      jvmLayers(run, reps.map(_.region).toSeq, units = 1)
    }
  }

  // ---- pipeline_trickle ------------------------------------------------------

  /** Files landed after start-up and before the timed region. */
  val TrickleWarmupFiles = 2

  def pipelineTrickle(run: Run): Unit = {
    val chunkDir = Paths.get(run.src, "chunks")
    val chunks = Files.list(chunkDir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
    val chunkRows = chunks.map(c => rowCount(run, s"chunks/${c.getFileName}"))
    require(chunks.size > TrickleWarmupFiles + 1,
      s"need more than ${TrickleWarmupFiles + 1} chunks, found ${chunks.size}")
    val base = s"${run.work}/trickle"
    val in = Paths.get(base, "in")
    val stage = Paths.get(base, "stage")
    val out = s"$base/out"
    Files.createDirectories(in)
    Files.createDirectories(stage)
    // closed-loop lander: copy outside the monitored directory, then rename
    // in, so the file source never lists a partial file
    def land(k: Int): Unit = {
      val name = chunks(k).getFileName
      Files.copy(chunks(k), stage.resolve(name))
      Files.move(stage.resolve(name), in.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    }
    val s = run.spark
    run.op("replays") {
      run.tracer("replay") {
        land(0) // the file source infers its schema from the directory
        val cfg = GraftConfig.load(s)
        val parsed = Pipelines.parsedStreamFromPath(s, in.toString)
        val customer = Tables.customer(s, run.src)
        val qs = Seq(
          Sources.sink(Pipelines.highValueCdcEnriched(parsed, customer,
            cfg.highValueThreshold), "high_value_alerts", out),
          Sources.sink(Pipelines.velocityAlerts(parsed, cfg.velocityWindowSec,
            cfg.velocityMinTxns), "fraud_alerts", out),
          Sources.sink(Pipelines.reconcileAlerts(s, parsed).toDF(),
            "balance_updates", out),
          Sources.sink(Pipelines.dormancyAlerts(parsed, cfg.dormancyGap),
            "dormancy_alerts", out),
          Sources.sink(Pipelines.dailySpendAlerts(parsed, cfg.dailySpendAlert),
            "daily_spend", out))
        val label = labels(qs)
        // one micro-batch: land file k, wait until every pipeline committed it
        def batch(k: Int): Option[Double] = run.op("batches") {
          run.tracer("batch") {
            val t = System.nanoTime()
            land(k)
            qs.foreach(_.processAllAvailable())
            (System.nanoTime() - t) / 1e9
          }
        }
        val lat = mutable.ArrayBuffer.empty[Double]
        var k = 1
        var region: Region = null
        var wall = 0.0
        var regionMs = (0L, 0L)
        var sinkBefore = Set.empty[Path]
        try {
          run.tracer("warmup") {
            qs.foreach(_.processAllAvailable())
            while (k <= TrickleWarmupFiles) { batch(k); k += 1 }
          }
          sinkBefore = sinkFiles(out).toSet
          region = new Region(run)
          val regionStartMs = System.currentTimeMillis()
          val t0 = System.nanoTime()
          while (k < chunks.size && (lat.isEmpty || (System.nanoTime() - t0) / 1e9 < run.seconds)) {
            batch(k).foreach(lat += _)
            k += 1
          }
          wall = (System.nanoTime() - t0) / 1e9
          regionMs = (regionStartMs, System.currentTimeMillis())
          region.close()
        } finally stopAll(run, qs)
        val prog = run.progress.of(qs)
        batchSpans(run, prog, label)

        val timedRows = chunkRows.slice(TrickleWarmupFiles + 1, k).sum
        run.metrics("rows_per_s") = timedRows / wall
        run.metrics("batch_p50_s") = Stats.median(lat)
        run.metrics("alloc_mb") = region.allocBytes / 1e6 / lat.size
        run.check("landed") = k
        run.check("landed_rows") = chunkRows.take(k).sum
        run.check("out") = out
        run.check("latencies") = lat.toSeq
        run.check("sinks") = sinkCheck(prog, label)
        // properties of the method: every landed row is read exactly once and
        // each landed file is one data micro-batch
        run.check("batches") = label.values.map { q =>
          val mine = prog.filter(_.name == q)
          q -> Map(
            "input_rows" -> mine.map(_.numInputRows).sum,
            "data_batches" -> mine.count(_.numInputRows > 0),
            "dropped_by_watermark" -> mine.flatMap(_.stateOperators)
              .map(_.numRowsDroppedByWatermark).sum)
        }.toMap
        if (run.trace) {
          // per timed file: micro-batches triggered and sink files written
          // inside the timed region (no start-up or warm-up batches)
          val timed = prog.filter { p =>
            val t = java.time.Instant.parse(p.timestamp).toEpochMilli
            t >= regionMs._1 && t <= regionMs._2
          }
          engineLayers(run, Seq(timed), label, units = lat.size)
          sinkLayers(run, out, sinkBefore, units = lat.size)
          jvmLayers(run, Seq(region), units = lat.size)
        }
      }
    }.getOrElse(throw new IllegalStateException("trickle replay failed"))
  }

  // ---- batch query families ---------------------------------------------------

  /** The batch query families as a layer (traced app_backlog runs): each
    * query from an empty CacheManager, timed while it is written to parquet
    * for the DuckDB check. */
  def batchLayers(run: Run): Unit = {
    val s = run.spark
    var left = 0
    run.tracer("pass") {
      BatchQueries.foreach { q =>
        s.catalog.clearCache()
        run.op("queries") {
          run.tracer(q) {
            val t0 = System.nanoTime()
            SparkEntry.queries(q)(s, run.src)
              .write.mode("overwrite").parquet(s"${run.work}/batch/out/$q")
            run.layer(s"query.${q}_s") = (System.nanoTime() - t0) / 1e9
          }
          left += org.apache.spark.sql.PerfbenchCache.entries(s)
        }
      }
    }
    s.catalog.clearCache()
    run.layer("batch.cache_entries_left") = left
    run.check("batch_out") = s"${run.work}/batch/out"
    run.check("batch_oracles") = BatchQueries.map(q => q -> SparkEntry.oracleSql(q)).toMap
  }

  // ---- standalone layer calls (traced runs) ----------------------------------

  /** Each `cdc` and `ops` layer called on its own over the workload's
    * whole event table, written to `noop`; the second of two calls is
    * reported. */
  def layerCalls(run: Run): Unit = {
    val s = run.spark
    // the trickle's whole stream is its chunk files
    val events =
      if (run.workload == "app_backlog") Tables.events(s, run.data)
      else Tables.deriveEventTime(s.read.parquet(s"${run.data}/chunks"))
    val customer = Tables.customer(s, run.data)
    val frames = s"${run.work}/wire_frames"
    AvroWire.encodeAvroEnvelope(EnvelopeOps.synthesizeTxnEnvelope(events))
      .select(lit(null).cast("binary").as("key"), col("value"))
      .write.mode("overwrite").parquet(frames)
    val parsed = EnvelopeOps.upsertsOnly(EnvelopeOps.parsedTransactions(events))
      .withColumn("event_ts", timestamp_micros(col("event_time_us")))
    val cfg = GraftConfig.load(s)
    val calls: Seq[(String, () => DataFrame)] = Seq(
      "cdc.parse_s" -> (() => EnvelopeOps.parsedTransactions(events)),
      "cdc.wire_decode_s" -> (() => Sources.parsedFromWire(s.read.parquet(frames))),
      "cdc.accounts_dim_s" -> (() => DimensionCdc.accountsDim(customer)),
      "pipeline.high_value_alerts.batch_s" -> (() =>
        Pipelines.highValueCdcEnriched(parsed, customer, cfg.highValueThreshold)),
      "pipeline.fraud_alerts.batch_s" -> (() =>
        Pipelines.velocityAlerts(parsed, cfg.velocityWindowSec, cfg.velocityMinTxns)),
      "pipeline.balance_updates.batch_s" -> (() =>
        Pipelines.reconcileAlerts(s, parsed).toDF()),
      "pipeline.dormancy_alerts.batch_s" -> (() =>
        Pipelines.dormancyAlerts(parsed, cfg.dormancyGap)),
      "pipeline.daily_spend.batch_s" -> (() =>
        Pipelines.dailySpendAlerts(parsed, cfg.dailySpendAlert)))
    calls.foreach { case (name, df) =>
      val times = (0 until 2).map { _ =>
        run.tracer(name) {
          val t = System.nanoTime()
          df().write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t) / 1e9
        }
      }
      run.layer(name) = times.last
    }
  }

  // ---- streaming helpers -----------------------------------------------------

  /** Stop the queries, wait for them, and wait until their last progress
    * events have been delivered. */
  def stopAll(run: Run, qs: Seq[StreamingQuery]): Unit = {
    qs.foreach(_.stop())
    qs.foreach(_.awaitTermination(60000))
    val left = run.spark.streams.active
    require(left.isEmpty, s"queries still active: ${left.map(_.name).mkString(",")}")
    org.apache.spark.PerfbenchBus.drain(run.spark.sparkContext)
  }

  /** Query id -> label: the query name, or the checkpoint directory's name
    * for queries started without one. */
  def labels(qs: Seq[StreamingQuery]): Map[String, String] =
    qs.zipWithIndex.map { case (q, i) =>
      val fallback = scala.util.Try {
        val inner = q.getClass.getMethod("streamingQuery").invoke(q)
        val root = inner.getClass.getMethod("resolvedCheckpointRoot").invoke(inner)
        Paths.get(root.toString.stripPrefix("file:")).getFileName.toString
      }.getOrElse(s"query$i")
      q.id.toString -> Option(q.name).getOrElse(fallback)
    }.toMap

  private def ms(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** Micro-batch spans from progress events, under the current span. */
  def batchSpans(run: Run, ps: Seq[StreamingQueryProgress],
      label: Map[String, String]): Unit = if (run.trace) {
    ps.filter(_.durationMs.containsKey("addBatch")).foreach { p =>
      val start = (java.time.Instant.parse(p.timestamp).toEpochMilli - run.wall0Ms) * 1000000
      run.tracer.record(s"microbatch:${label.getOrElse(p.id.toString, p.id.toString)}",
        run.tracer.current, start, start + (ms(p, "triggerExecution") * 1e6).toLong)
    }
  }

  /** Watermark and rows of each sink, for the output check. */
  def sinkCheck(ps: Seq[StreamingQueryProgress],
      label: Map[String, String]): Map[String, Any] =
    label.map { case (id, name) =>
      val mine = ps.filter(_.id.toString == id)
      val wm = mine.flatMap(p => Option(p.eventTime.get("watermark")))
        .map(w => java.time.Instant.parse(w).toEpochMilli).lastOption
      name -> Map("watermark_ms" -> wm.getOrElse(-1L),
        "input_rows" -> mine.map(_.numInputRows).sum)
    }

  def engineLayers(run: Run, perRep: Seq[Seq[StreamingQueryProgress]],
      label: Map[String, String], units: Int): Unit = {
    def per(f: Seq[StreamingQueryProgress] => Double): Double =
      Stats.median(perRep.map(f)) / units
    val ran = (ps: Seq[StreamingQueryProgress]) =>
      ps.filter(_.durationMs.containsKey("addBatch"))
    label.values.toSeq.sorted.foreach { q =>
      val mine = (ps: Seq[StreamingQueryProgress]) => ran(ps).filter(p =>
        label.get(p.id.toString).contains(q))
      run.layer(s"$q.trigger_ms") = per(ps => mine(ps).map(ms(_, "triggerExecution")).sum)
      run.layer(s"$q.add_batch_ms") = per(ps => mine(ps).map(ms(_, "addBatch")).sum)
      run.layer(s"$q.planning_ms") = per(ps => mine(ps).map(ms(_, "queryPlanning")).sum)
    }
    run.layer("engine.latest_offset_ms") = per(ps => ran(ps).map(ms(_, "latestOffset")).sum)
    run.layer("engine.wal_commit_ms") = per(ps => ran(ps).map(ms(_, "walCommit")).sum)
    run.layer("engine.commit_offsets_ms") = per(ps => ran(ps).map(ms(_, "commitOffsets")).sum)
    run.layer("engine.batches") = per(ps => ran(ps).size.toDouble)
    val ops = (ps: Seq[StreamingQueryProgress]) => ran(ps).flatMap(_.stateOperators)
    // state size: the last progress of each query, summed over its operators
    val lastOps = (ps: Seq[StreamingQueryProgress]) =>
      ran(ps).groupBy(_.id).values.map(_.maxBy(_.batchId)).flatMap(_.stateOperators)
    run.layer("state.rows") = Stats.median(perRep.map(ps => lastOps(ps).map(_.numRowsTotal.toDouble).sum))
    run.layer("state.mem_mb") = Stats.median(perRep.map(ps => lastOps(ps).map(_.memoryUsedBytes / 1e6).sum))
    run.layer("state.commit_ms") = per(ps => ops(ps).map(_.commitTimeMs.toDouble).sum)
    run.layer("state.update_ms") = per(ps => ops(ps).map(_.allUpdatesTimeMs.toDouble).sum)
    run.layer("state.dropped_by_watermark") =
      per(ps => ops(ps).map(_.numRowsDroppedByWatermark.toDouble).sum) * units
  }

  /** Parquet files the sinks under `out` have written. */
  def sinkFiles(out: String): Seq[Path] =
    if (!Files.exists(Paths.get(out))) Seq.empty
    else Files.walk(Paths.get(out)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet") &&
        !p.toString.contains("/_checkpoints/")).toSeq

  /** Sink files and bytes per unit, not counting the files in `before`. */
  def sinkLayers(run: Run, out: String, before: Set[Path], units: Int): Unit = {
    val files = sinkFiles(out).filterNot(before)
    run.layer("sink.files") = files.size.toDouble / units
    run.layer("sink.write_mb") = files.map(Files.size(_)).sum / 1e6 / units
  }

  // ---- files -----------------------------------------------------------------

  /** Rows of an input file, from the generator's `manifest.tsv`. */
  def rowCount(run: Run, file: String): Long =
    Files.readAllLines(Paths.get(run.src, "manifest.tsv")).asScala
      .map(_.split("\t")).collectFirst { case Array(`file`, n) => n.toLong }
      .getOrElse(throw new IllegalStateException(s"$file not in manifest.tsv"))

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator().asScala.toSeq.reverse
    all.foreach(Files.delete)
  }

  def copyTree(from: Path, to: Path): Unit = {
    Files.walk(from).iterator().asScala.foreach { f =>
      val target = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(target)
      else {
        Files.createDirectories(target.getParent)
        Files.copy(f, target, StandardCopyOption.REPLACE_EXISTING)
      }
    }
  }
}
