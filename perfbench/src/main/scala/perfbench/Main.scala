package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Heap and GC while armed: the live heap after explicit full GCs at the
  * end, the largest post-GC occupancy of any major GC in between, and the
  * GC time. */
final class HeapWatch {
  @volatile private var maxAfter = 0L
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toVector
  private val listener = new javax.management.NotificationListener {
    def handleNotification(n: javax.management.Notification, hb: Any): Unit =
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        if (info.getGcAction.contains("major")) {
          val used = info.getGcInfo.getMemoryUsageAfterGc.values().asScala.map(_.getUsed).sum
          maxAfter = math.max(maxAfter, used)
        }
      }
  }
  private var gc0 = 0L

  def arm(): Unit = {
    maxAfter = 0L
    gc0 = gcMs
    beans.foreach(_.asInstanceOf[javax.management.NotificationEmitter].addNotificationListener(listener, null, null))
  }

  private def gcMs: Long = beans.map(_.getCollectionTime).sum

  /** (live MB at the end, largest post-GC occupancy MB, GC seconds) since
    * [[arm]]. */
  def disarm(): (Double, Double, Double) = {
    val gcS = (gcMs - gc0) / 1000.0
    // the second collection also frees what Spark's cleaner released
    // after the first
    System.gc()
    Thread.sleep(300)
    System.gc()
    val live = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    beans.foreach(b => scala.util.Try(b.asInstanceOf[javax.management.NotificationEmitter].removeNotificationListener(listener)))
    (live / 1048576.0, math.max(maxAfter, live) / 1048576.0, gcS)
  }
}

/** Entry point: `--workload <crawl_batch|read_mix> --seed <n> --seconds <s>
  * --trace <0|1>`, run from the repository root.
  * Prints one host line, then one result line:
  * `{"correct", "attempted", "failed", "metrics"}`. */
object Main {

  val Workloads = Seq("crawl_batch", "read_mix")

  /** Corpus pages per seed: enough for `crawl_batch`'s kernel to be a
    * material share of a job; `read_mix` commits a smaller table, since its
    * set-up pays a cold job. */
  val Pages: Map[String, Int] = Map("crawl_batch" -> 20000, "read_mix" -> 2000)

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_ms_p50" -> "ms", "pass_s" -> "s", "pass_cpu_s" -> "s", "table_bytes_per_page" -> "B/page",
    "heap_live_mb" -> "MB")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    require(Workloads.contains(workload), s"--workload must be one of ${Workloads.mkString(", ")}")
    val seed = opts.getOrElse("seed", "42").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"

    val work = Paths.get(".bench_cache").toAbsolutePath.resolve(s"work-${ProcessHandle.current().pid()}")
    Files.createDirectories(work)
    val steal0 = graft.core.Steal.stealTicks()
    val t0 = System.nanoTime()
    val spark = graft.pipeline.GraftSession.local(Runtime.getRuntime.availableProcessors())
    val sessionS = (System.nanoTime() - t0) / 1e9
    val result = try {
      // inputs first, outside any timing; crawl_batch checks every job
      // against the reference
      val ctx = new Ctx(spark, new Fixtures(spark, seed, Pages(workload), work.resolve("fixtures"), trace), work)
      if (workload == "crawl_batch") ctx.reference
      run(ctx, workload, seconds, trace, sessionS)
    } finally {
      spark.stop()
      Dirs.deleteTree(work)
    }
    val (correct, attempted, failed, metrics, problems, steal) = result
    problems.take(20).foreach(p => System.err.println(s"[perfbench] check failed: $p"))
    val units = (EndToEnd ++ LayerUnits).toMap
    println(graft.core.Json.write(Map("host" -> Map(
      "cpus" -> Runtime.getRuntime.availableProcessors(),
      "xmx_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
      "mem_total_kb" -> memTotalKb,
      "spark_driver_mem" -> sys.env.getOrElse("SPARK_DRIVER_MEM", ""),
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "steal_ticks_per_iteration" -> steal.map(_._2),
      "steal_clean_iterations" -> steal.count(graft.core.Steal.clean),
      "steal_ticks_run" -> (graft.core.Steal.stealTicks() - steal0),
    ))))
    println(graft.core.Json.write(Map(
      "correct" -> correct,
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.toSeq.sortBy(_._1).map { case (k, v) => k -> Map("value" -> v, "unit" -> units(k)) }.toMap,
    )))
  }

  private def memTotalKb: Long =
    scala.util.Try(scala.io.Source.fromFile("/proc/meminfo").getLines().find(_.startsWith("MemTotal:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)).getOrElse(0L)

  type Result = (Boolean, Long, Long, Map[String, Double], Seq[String], Seq[(Double, Long)])

  /** Untraced: set up, then the workload's loop. Traced: the same loop
    * untraced and then traced (for the overhead), then every other layer
    * probe, so each traced run reports every per-layer metric. */
  def run(ctx: Ctx, workload: String, seconds: Double, trace: Boolean, sessionS: Double): Result = {
    val heap = new HeapWatch
    var readState: Option[ReadMix.State] = None
    val setupProblems = scala.collection.mutable.ArrayBuffer.empty[String]
    val setupS = sessionS + (workload match {
      case "crawl_batch" => CrawlBatch.setup(ctx)
      case "read_mix" =>
        val (st, s, p) = ReadMix.setup(ctx)
        readState = Some(st)
        setupProblems ++= p
        s
    })
    ctx.steal.clear()

    def loop(): (Outcome, Any) = workload match {
      case "crawl_batch" => CrawlBatch.loop(ctx, seconds)
      case "read_mix" => ReadMix.loop(ctx, readState.get, seconds)
    }

    heap.arm()
    val (plain, _) = loop()
    val (heapMb, _, _) = heap.disarm()
    val steal = ctx.steal.toList
    if (!trace) {
      val problems = setupProblems.toList ++ plain.problems
      return (problems.isEmpty && plain.failed == 0, plain.attempted, plain.failed,
        plain.e2e ++ Map("setup_s" -> setupS, "heap_live_mb" -> heapMb), problems, steal)
    }

    val rec = new JobRecorder
    ctx.spark.sparkContext.addSparkListener(rec)
    ctx.jobs = Some(rec)
    heap.arm()
    val (traced, detail) = loop()
    val (_, peakMb, tracedGcS) = heap.disarm()
    val layer = scala.collection.mutable.Map.empty[String, Double]
    layer ++= traced.layer
    layer("trace.overhead_share") = traced.e2e("pass_s") / plain.e2e("pass_s") - 1.0
    layer("gc.s") = tracedGcS
    layer("gc.heap_peak_mb") = peakMb

    // the workload's own layers from its traced loop, the rest from
    // probes, whose outputs are checked like the workloads'
    val probes = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val job = detail match {
      case js: Seq[_] if workload == "crawl_batch" => js.last.asInstanceOf[CrawlBatch.Job]
      case _ =>
        val j = CrawlBatch.once(ctx, ctx.fx.pages)
        probes += CrawlBatch.check(ctx, j.root)
        j
    }
    layer ++= CrawlBatch.jobLayers(ctx, job, rec)
    if (workload != "crawl_batch") layer("job.pages_per_s") = ctx.fx.pages / job.wallS
    val stream = WarcStream.stream(ctx, ProbeSeconds)
    probes += stream.failedShards.map { case (n, why) => s"$n: $why" }
    layer ++= WarcStream.layers(ctx, stream)
    val (st, reads) = detail match {
      case r: ReadMix.Run => (readState.get, r)
      case _ =>
        val st = ReadMix.State(new graft.table.LineageTable(job.root), ReadMix.sample(ctx), ReadMix.dataDir())
        ReadMix.queryPass(ctx, st)
        val r = ReadMix.run(ctx, st, ProbeSeconds)
        probes += r.problems
        (st, r)
    }
    layer ++= ReadMix.layers(ctx, st, reads, rec)
    layer ++= Layers.stages(ctx)
    layer ++= Layers.ladder(ctx, rec)
    layer ++= Layers.warc(ctx, rec)
    val problems = setupProblems.toList ++ plain.problems ++ traced.problems ++ probes.flatten
    val attempted = plain.attempted + traced.attempted + probes.size
    val failed = plain.failed + traced.failed + probes.count(_.nonEmpty)
    (problems.isEmpty && failed == 0, attempted, failed, layer.toMap, problems, steal)
  }

  /** Seconds each out-of-workload layer probe runs in a traced run. */
  val ProbeSeconds = 3.0

  val LayerUnits: Seq[(String, String)] = Seq(
    "kernel.pages_per_s" -> "pages/s", "kernel.busy_s" -> "s", "kernel.gc_s" -> "s", "kernel.rows_failed" -> "count",
  ) ++ Layers.StageNames.map(n => s"${n}_us" -> "us") ++ Seq(
    "job.pages_per_s" -> "pages/s", "job.wall_s" -> "s", "job.stage_s" -> "s", "job.wave_s_max" -> "s",
    "job.results_write_s" -> "s", "job.lineage_s" -> "s", "job.driver_s" -> "s", "job.busy_share" -> "ratio",
    "job.task_s_max_over_p50" -> "ratio", "job.spark_jobs" -> "count", "job.files_written" -> "count",
    "job.bytes_written_per_page" -> "B/page", "job.shuffle_bytes_per_page" -> "B/page",
    "layer.scan_pages_per_s" -> "pages/s", "layer.encode_pages_per_s" -> "pages/s", "layer.write_pages_per_s" -> "pages/s",
    "table.lookup_plan_ms_p50" -> "ms", "table.lookup_exec_ms_p50" -> "ms", "table.lookup_ms_p50" -> "ms",
    "table.lookup_ms_tail" -> "ms", "table.lookup_tail_pct" -> "percentile",
    "table.rows_read_per_lookup" -> "count", "table.files_read_per_lookup" -> "count",
    "table.snapshot_files" -> "count", "table.snapshot_dirs" -> "count", "table.stats_ms_p50" -> "ms",
    "warc.read_pages_per_s" -> "pages/s", "warc.bytes_per_page" -> "B/page",
    "stream.batch_ms_p50" -> "ms", "stream.batch_ms_max" -> "ms", "stream.add_batch_ms_p50" -> "ms",
    "stream.trigger_overhead_ms_p50" -> "ms", "stream.shards_per_batch_p50" -> "count",
    "stream.files_written_per_batch" -> "count", "stream.snapshot_dirs_end" -> "count",
    "stream.backlog_shards_max" -> "count", "stream.generator_late_ms_max" -> "ms",
    "stream.latency_ms_p50" -> "ms", "stream.latency_ms_tail" -> "ms", "stream.latency_tail_pct" -> "percentile",
    "stream.latency_samples" -> "count", "table.lookup_samples" -> "count",
    "queries.relational_s" -> "s", "queries.training_data_s" -> "s", "queries.curation_s" -> "s",
"queries.graph_s" -> "s", "queries.quality_s" -> "s",
    "queries.total_s" -> "s", "queries.spark_jobs" -> "count",
    "trace.overhead_share" -> "ratio", "gc.s" -> "s", "gc.heap_peak_mb" -> "MB",
  )
}
