package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import graft.pipeline.{ExtractJob, ExtractKernel}
import graft.table.{LineageTable, Stats}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** What one run shares between its workloads. */
final class Ctx(val spark: SparkSession, val fx: Fixtures, val work: Path) {
  val cores: Int = spark.sparkContext.defaultParallelism

  /** The reference the committed tables are checked against. */
  lazy val reference: Map[String, String] = fx.reference
  private var n = 0
  def fresh(name: String): String = synchronized { n += 1; work.resolve(s"$name-$n").toString }

  /** Filled by the traced run only. */
  var jobs: Option[JobRecorder] = None
  val batches = new BatchRecorder
  spark.streams.addListener(batches)

  /** CPU seconds the JVM's Java threads (the client, Spark's driver and
    * task threads) used while `f` ran. JIT compiler and GC threads are not
    * Java threads, so their background work does not count; nor does a
    * thread that ended before `f` returned. */
  def cpuOf(f: => Unit): Double = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
    def snap(): Map[Long, Long] = mx.getAllThreadIds.map(id => id -> mx.getThreadCpuTime(id)).filter(_._2 >= 0).toMap
    val before = snap()
    f
    snap().map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum / 1e9
  }

  /** (seconds, host steal ticks) of every timed iteration. */
  val steal = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
  def timed(f: => Unit): (Double, Long) = {
    val m = graft.core.Steal.timeWithSteal(f)
    steal += m
    m
  }
}

/** Outcome of one measured loop. */
final case class Outcome(attempted: Long, failed: Long, problems: Seq[String],
    e2e: Map[String, Double], layer: Map[String, Double])

object Tables {

  /** (url, status, sha256(content)) of every visible row. */
  def rows(t: LineageTable, spark: SparkSession): Seq[(String, String, String)] =
    t.readVisible(spark).select(col("url"), col("status"), coalesce(sha2(col("content"), 256), lit("null")))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq

  def bytesPerPage(t: LineageTable, pages: Long): Double =
    Dirs.usage(t.currentDataDirs ++ t.currentLineageDirs)._2.toDouble / math.max(pages, 1L)

  /** The 64 pinned (url -> sha256) pairs of the x_extract_hashes oracle. */
  lazy val pinned: Map[String, String] = {
    val sql = graft.queries.ExtractionQueries.oracles("x_extract_hashes")
    """\('([^']+)', '[^']+', '([0-9a-f]{64})'\)""".r.findAllMatchIn(sql).map(m => m.group(1) -> m.group(2)).toMap
  }
}

/** crawl_batch: a closed loop of `ExtractJob.run` with the default
  * config over the seeded corpus, one fresh table root per job. */
object CrawlBatch {

  /** One job and its check take about this long on a 4-core host. */
  val NominalJobS = 8.0

  final case class Job(root: String, wallS: Double, waveS: Seq[Double], startMs: Long, endMs: Long, steal: Long, cpuS: Double)

  /** One job over the first `pages` pages of the corpus. */
  def once(ctx: Ctx, pages: Int): Job = {
    val root = ctx.fresh("crawl")
    val waves = scala.collection.mutable.ArrayBuffer.empty[Long]
    val corpus = ctx.fx.corpus
    val input = if (pages < ctx.fx.pages) corpus.limit(pages) else corpus
    val t0ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var timing = (0.0, 0L)
    val cpuS = ctx.cpuOf {
      timing = ctx.timed {
        ExtractJob.run(ctx.spark, input, ExtractJob.Config(root, "bench"), afterWave = _ => waves += System.nanoTime())
      }
    }
    val marks = t0 +: waves.toVector
    Job(root, timing._1, marks.zip(marks.tail).map { case (a, b) => (b - a) / 1e9 }, t0ms, System.currentTimeMillis(),
      timing._2, cpuS)
  }

  /** Problems with a job's committed table (and, at seed 42, the pinned
    * oracle hashes). */
  def check(ctx: Ctx, root: String): Seq[String] = {
    val rows = Tables.rows(new LineageTable(root), ctx.spark)
    val pinned =
      if (ctx.fx.seed != graft.gen.CorpusGen.DefaultSeed) Nil
      else {
        val got = rows.map(r => r._1 -> r._3).toMap
        val bad = Tables.pinned.count { case (u, h) => !got.get(u).contains(h) }
        if (Tables.pinned.size != 64) Seq(s"read ${Tables.pinned.size} pinned hashes, want 64")
        else if (bad > 0) Seq(s"$bad pinned url(s) differ from x_extract_hashes") else Nil
      }
    Check.table(ctx.reference, rows) ++ pinned
  }

  /** Pages of a set-up job: it warms the JIT and Spark for the measured
    * jobs at a fraction of the corpus's cost. */
  val WarmupPages = 2000

  def setup(ctx: Ctx): Double = {
    val reps = (0 until Setup.Reps).map { _ =>
      val j = once(ctx, WarmupPages)
      Dirs.deleteTree(java.nio.file.Paths.get(j.root))
      j.wallS
    }
    Setup.Reps * Pct.median(reps)
  }

  def loop(ctx: Ctx, seconds: Double): (Outcome, Seq[Job]) = {
    val jobs = scala.collection.mutable.ArrayBuffer.empty[Job]
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    var failed = 0L
    var bytesPerPage = 0.0
    (0 until Loop.iterations(seconds, NominalJobS)).foreach { _ =>
      val j = once(ctx, ctx.fx.pages)
      jobs += j
      val p = check(ctx, j.root)
      if (p.nonEmpty) { failed += 1; problems ++= p }
      bytesPerPage = Tables.bytesPerPage(new LineageTable(j.root), ctx.fx.pages)
      if (ctx.jobs.isEmpty) Dirs.deleteTree(java.nio.file.Paths.get(j.root))
    }
    // the fastest job, among the steal-clean ones when most are
    val jobS = Pct.preferClean(jobs.toSeq.map(j => (j.wallS, j.steal))).min
    (Outcome(jobs.size.toLong, failed, problems.toList, Map(
      "op_ms_p50" -> Pct.median(jobs.toSeq.flatMap(_.waveS)) * 1000.0,
      "pass_s" -> jobS,
      "pass_cpu_s" -> jobs.map(_.cpuS).min,
      "table_bytes_per_page" -> bytesPerPage,
    ), Map("job.pages_per_s" -> ctx.fx.pages / jobS)), jobs.toSeq)
  }

  /** job.* from the recorded Spark jobs of one traced job. Each Spark job
    * is a child span of the job; the job's self time is the driver time
    * outside any Spark job. A wave commits in a fixed order — results
    * write, lineage write, the lineage collect — so within each wave's
    * window the third SQL execution from the end is the results write
    * (it runs the kernel), the two after it are lineage, and the ones
    * before it (first wave only) stage the input. */
  def jobLayers(ctx: Ctx, j: Job, rec: JobRecorder): Map[String, Double] = {
    val sj = rec.jobsBetween(j.startMs, j.endMs).filter(_.end >= 0)
    val tr = new Tracer(s"crawl-${j.startMs}")
    val root = tr.add("job", j.startMs, j.endMs, None)
    val waveEnds = j.waveS.scanLeft(j.startMs.toDouble)((a, w) => a + w * 1000.0).tail.map(_.toLong)
    val windows = (j.startMs +: waveEnds).zip(waveEnds :+ j.endMs)
    val kinds = scala.collection.mutable.HashMap.empty[Int, String]
    windows.zipWithIndex.foreach { case ((lo, hi), w) =>
      val in = sj.filter(x => x.start >= lo && x.start < hi)
      val execs = in.groupBy(_.execId).toSeq.sortBy(_._2.map(_.start).min).map(_._1)
      val res = execs.size - 3
      in.foreach { x =>
        val k = execs.indexOf(x.execId)
        kinds(x.id) =
          if (w >= j.waveS.size || res < 0 || k > res) "lineage"
          else if (k == res) "results_write"
          else "stage"
      }
    }
    sj.foreach(x => tr.add(kinds.getOrElse(x.id, "lineage"), x.start, x.end, Some(root)))
    val spans = tr.spans
    def kind(n: String): Double = Spans.unionLength(spans.filter(_.name == n).map(s => (s.start, s.end))) / 1000.0
    val tasks = sj.filter(x => kinds.get(x.id).contains("results_write")).flatMap(_.taskMs).map(_.toDouble)
    val wallS = (j.endMs - j.startMs) / 1000.0
    val waveWrite = windows.map { case (lo, hi) =>
      sj.filter(x => x.start >= lo && x.start < hi && kinds.get(x.id).contains("results_write")).map(_.start)
        .reduceOption(_ min _).map(s => hi - s).getOrElse(0L)
    }
    val (files, _) = Dirs.usage(Seq(j.root))
    Map(
      "job.wall_s" -> wallS,
      "job.stage_s" -> kind("stage"),
      "job.results_write_s" -> kind("results_write"),
      "job.lineage_s" -> kind("lineage"),
      "job.driver_s" -> Spans.selfTime(spans.find(_.id == root).get, spans) / 1000.0,
      "job.wave_s_max" -> waveWrite.max / 1000.0,
      "job.busy_share" -> sj.map(_.runMs).sum / 1000.0 / (wallS * ctx.cores),
      "job.task_s_max_over_p50" -> (if (tasks.isEmpty) 0.0 else tasks.max / math.max(Pct.median(tasks), 1.0)),
      "job.spark_jobs" -> sj.size.toDouble,
      "job.files_written" -> files.toDouble,
      "job.bytes_written_per_page" -> sj.map(_.bytesWritten).sum.toDouble / ctx.fx.pages,
      "job.shuffle_bytes_per_page" -> sj.map(_.shuffleBytes).sum.toDouble / ctx.fx.pages,
    )
  }
}

/** The streaming layers' probe: an open loop. Shards of the seeded corpus
  * land by atomic rename in a watched directory at a fixed rate while one
  * continuous `StreamingExtract.runWarcToTable` query reads it. A shard's
  * latency runs from when it was due to land to the progress event of the
  * first micro-batch whose end offset covers its file name. Traced runs
  * drive it for a few seconds; it is no workload of its own. */
object WarcStream {

  /** Shards landed per second: about half of what a 4-core host sustains. */
  val Rate = 4.0

  final case class Run(latencyMs: Seq[Double], batches: Seq[BatchRec], lateMsMax: Double,
      backlogMax: Int, table: LineageTable, failedShards: Seq[(String, String)])

  def stream(ctx: Ctx, seconds: Double): Run = {
    val fx = ctx.fx
    val src = fx.shardDir
    val count = math.min(fx.shards.size, math.max(2, math.ceil(Rate * seconds).toInt))
    val watch = java.nio.file.Paths.get(ctx.fresh("watch"))
    Files.createDirectories(watch)
    val table = new LineageTable(ctx.fresh("stream-table"))
    val before = ctx.batches.batches.size
    def land(k: Int): Unit = {
      val name = Fixtures.shardName(k)
      val tmp = watch.resolve(s"_landing-$name")
      Files.copy(src.resolve(name), tmp)
      Files.move(tmp, watch.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    }
    val q = graft.streaming.StreamingExtract.runWarcToTable(ctx.spark, watch.toString, table,
      ctx.fresh("ckpt"), streamRunId = "bench-stream", availableNow = false)
    val landedAt = new Array[Long](count)
    val dueAt = new Array[Long](count)
    var lateMax = 0.0
    try {
      Thread.sleep(300)
      val t0 = System.nanoTime()
      (0 until count).foreach { k =>
        val due = t0 + (k / Rate * 1e9).toLong
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        land(k)
        landedAt(k) = System.nanoTime()
        dueAt(k) = due
        lateMax = math.max(lateMax, (landedAt(k) - due) / 1e6)
      }
      val last = Fixtures.shardName(count - 1)
      val deadline = System.nanoTime() + 60000000000L
      while (!ctx.batches.batches.drop(before).exists(b => nameOf(b.endLast) >= last) && System.nanoTime() < deadline)
        Thread.sleep(20)
    } finally {
      q.stop()
    }
    val bs = ctx.batches.batches.drop(before).filter(_.inputRows > 0)
    val latency = (0 until count).flatMap { k =>
      val nm = Fixtures.shardName(k)
      bs.find(b => nameOf(b.endLast) >= nm).map(b => (b.receivedNs - dueAt(k)) / 1e6)
    }
    val backlog = bs.map(b => landedAt.count(t => t > 0 && t <= b.receivedNs) - b.endN.toInt).maxOption.getOrElse(0)
    val visible = Tables.rows(table, ctx.spark).map(r => (r._1, r._3))
    val bad = Check.shards(fx.shards.take(count), visible, ctx.reference)
    // offsets only grow, so the shards no batch covered are the last ones
    val unseen = (latency.size until count).map(k => Fixtures.shardName(k) -> "no covering batch")
    Run(latency, bs, lateMax, backlog, table, bad ++ unseen.filterNot(u => bad.exists(_._1 == u._1)))
  }

  def nameOf(path: String): String = path.substring(path.lastIndexOf('/') + 1)

  def layers(ctx: Ctx, r: Run): Map[String, Double] = {
    val bs = r.batches
    def med(f: BatchRec => Double) = if (bs.isEmpty) 0.0 else Pct.median(bs.map(f))
    val (files, _) = Dirs.usage(r.table.currentDataDirs)
    val (pct, tail) = if (r.latencyMs.isEmpty) (0.0, 0.0) else Pct.tail(r.latencyMs)
    Map(
      "stream.batch_ms_p50" -> med(_.triggerMs.toDouble),
      "stream.batch_ms_max" -> bs.map(_.triggerMs.toDouble).maxOption.getOrElse(0.0),
      "stream.add_batch_ms_p50" -> med(_.addBatchMs.toDouble),
      "stream.trigger_overhead_ms_p50" -> med(b => (b.triggerMs - b.addBatchMs).toDouble),
      "stream.shards_per_batch_p50" -> med(b => (b.endN - b.startN).toDouble),
      "stream.files_written_per_batch" -> files.toDouble / math.max(bs.size, 1),
      "stream.snapshot_dirs_end" -> r.table.currentDataDirs.size.toDouble,
      "stream.backlog_shards_max" -> r.backlogMax.toDouble,
      "stream.generator_late_ms_max" -> r.lateMsMax,
      "stream.latency_ms_p50" -> (if (r.latencyMs.isEmpty) 0.0 else Pct.median(r.latencyMs)),
      "stream.latency_ms_tail" -> tail,
      "stream.latency_tail_pct" -> pct,
      "stream.latency_samples" -> r.latencyMs.size.toDouble,
    )
  }
}

/** read_mix: a single-client closed loop against a table `ExtractJob`
  * commits during set-up: seeded url and task-id lookups, the stats
  * endpoints, and a fixed pass over driver queries on the benchmark's
  * copy of the sf0.01 tables. */
object ReadMix {

  /** Per family, its median query by warm time ([[QueryCensus.pick]] over
    * a census on a 4-core host, recorded in README.md), with its row count
    * on the sf0.01 tables under `data/sf0.01`. The extraction family is
    * not represented: its queries read a corpus cached outside the
    * checkout, and `crawl_batch` times extraction itself. */
  val Queries: Seq[(String, String, Long)] = Seq(
    ("relational", "q_pivot", 7L),
    ("training_data", "q_topic_clusters", 14L),
    ("curation", "q_token_fertility", 5L),
    ("graph", "q_degree_stats", 10L),
    ("quality", "q_gopher_quality", 500L),
  )

  final case class State(table: LineageTable, urls: IndexedSeq[String], dataDir: String)

  final case class Lookup(kind: String, planMs: Double, execMs: Double, steal: Long, rows: Long, files: Long, ok: Boolean)

  def dataDir(): String = {
    val d = java.nio.file.Paths.get("perfbench", "data", "sf0.01")
    require(Files.isDirectory(d), s"missing query tables at $d")
    d.toAbsolutePath.toString
  }

  def sample(ctx: Ctx): IndexedSeq[String] = {
    val rnd = new scala.util.Random(ctx.fx.seed ^ 0x1007L)
    IndexedSeq.fill(4096)(graft.gen.CorpusGen.urlFor(rnd.nextInt(ctx.fx.pages).toLong))
  }

  /** Scan metrics (files, rows) of an executed DataFrame's file scans. */
  private def scanMetrics(df: org.apache.spark.sql.DataFrame): (Long, Long) = try {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = plan.collect { case s: FileSourceScanExec => s }
    (scans.map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum,
      scans.map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum)
  } catch { case scala.util.control.NonFatal(_) => (0L, 0L) }

  def lookup(ctx: Ctx, st: State, i: Int): Lookup = {
    val url = st.urls(i % st.urls.size)
    val byUrl = i % 2 == 0
    val want = ExtractKernel.taskIdFor(url)
    val s0 = graft.core.Steal.stealTicks()
    val t0 = System.nanoTime()
    val df = if (byUrl) Stats.lookupByUrl(st.table, ctx.spark, url) else Stats.taskLookup(st.table, ctx.spark, want)
    val t1 = System.nanoTime()
    val rows = df.collect()
    val t2 = System.nanoTime()
    val steal = graft.core.Steal.stealTicks() - s0
    ctx.steal += (((t2 - t0) / 1e9, steal))
    val (files, read) = scanMetrics(df)
    val ok = rows.length == 1 && rows(0).getAs[String]("task_id") == want && rows(0).getAs[String]("url") == url
    Lookup(if (byUrl) "url" else "task", (t1 - t0) / 1e6, (t2 - t1) / 1e6, steal, read, files, ok)
  }

  /** statsResponse + statusCounts; problems when totals disagree. */
  def stats(ctx: Ctx, st: State): (Double, Seq[String]) = {
    var p = Seq.empty[String]
    val (s, _) = ctx.timed {
      val total = Stats.statsResponse(st.table, ctx.spark).collect()(0).getAs[Long]("total_tasks")
      val counts = Stats.statusCounts(st.table, ctx.spark).collect().map(_.getAs[Long]("count")).sum
      if (total != ctx.fx.pages) p :+= s"statsResponse.total_tasks $total != ${ctx.fx.pages}"
      if (counts != ctx.fx.pages) p :+= s"statusCounts total $counts != ${ctx.fx.pages}"
    }
    (s, p)
  }

  /** One query of a pass: its family, name, seconds, rows and window. */
  final case class Q(family: String, name: String, seconds: Double, cpuS: Double, rows: Long, ok: Boolean,
      startMs: Long, endMs: Long)

  /** One pass over [[Queries]]. */
  def queryPass(ctx: Ctx, st: State): Seq[Q] = {
    val all = graft.SparkEntry.queries
    Queries.map { case (fam, name, want) =>
      var n = -1L
      var s = 0.0
      val t0 = System.currentTimeMillis()
      val cpuS = ctx.cpuOf {
        s = ctx.timed {
          n = try all(name)(ctx.spark, st.dataDir).count() catch { case scala.util.control.NonFatal(_) => -1L }
        }._1
      }
      Q(fam, name, s, cpuS, n, n == want, t0, System.currentTimeMillis())
    }
  }

  /** Commit, one warm round of the stats calls, then repeated warm rounds
    * of lookups and query passes; returns the state, the set-up seconds
    * and the problems found. The committed table is checked through the
    * lookups and the stats totals; `crawl_batch` checks the digest of the
    * same write path. */
  def setup(ctx: Ctx): (State, Double, Seq[String]) = {
    val j = CrawlBatch.once(ctx, ctx.fx.pages)
    val st = State(new LineageTable(j.root), sample(ctx), dataDir())
    val (statsS, statsProblems) = stats(ctx, st)
    val reps = (0 until Setup.Reps).map { k =>
      ctx.timed {
        (0 until 2).foreach(i => lookup(ctx, st, st.urls.size - 1 - 2 * k - i))
        (0 until 3).foreach(_ => queryPass(ctx, st))
      }._1
    }
    (st, j.wallS + statsS + Setup.Reps * Pct.median(reps), statsProblems)
  }

  final case class Run(lookups: Seq[Lookup], passes: Seq[Seq[Q]], statsS: Seq[Double], problems: Seq[String])

  def run(ctx: Ctx, st: State, seconds: Double): Run = {
    val lookups = scala.collection.mutable.ArrayBuffer.empty[Lookup]
    val passes = scala.collection.mutable.ArrayBuffer.empty[Seq[Q]]
    val statsS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    (0 until Loop.iterations(seconds, NominalIterS)).foreach { _ =>
      var k = 0
      while (k < LookupsPerIteration) {
        val l = lookup(ctx, st, i)
        if (!l.ok) problems += s"lookup #$i (${l.kind}) of ${st.urls(i % st.urls.size)} did not return its one row"
        lookups += l
        i += 1
        k += 1
      }
      (0 until PassesPerIteration).foreach { _ =>
        val pass = queryPass(ctx, st)
        passes += pass
        pass.filterNot(_.ok).foreach(q => problems += s"query ${q.name}: ${q.rows} row(s), want ${Queries.find(_._2 == q.name).get._3}")
      }
    }
    val (s, p) = stats(ctx, st)
    statsS += s
    problems ++= p
    Run(lookups.toSeq, passes.toSeq, statsS.toSeq, problems.toList)
  }

  /** Lookups per iteration, alternating by url and by task id. */
  val LookupsPerIteration = 12

  /** Query passes per iteration; `pass_s` and `pass_cpu_s` report the
    * fastest and the cheapest. */
  val PassesPerIteration = 8

  /** One iteration (lookups and the query passes) takes about this long
    * on a 4-core host; the stats calls run once after the iterations. */
  val NominalIterS = 14.0

  def loop(ctx: Ctx, st: State, seconds: Double): (Outcome, Run) = {
    val r = run(ctx, st, seconds)
    val attempted = r.lookups.size + r.passes.map(_.size).sum + 2 * r.statsS.size
    val failed = r.lookups.count(!_.ok) + r.passes.map(_.count(!_.ok)).sum + r.problems.count(_.startsWith("stats"))
    // each kind's median, the two kinds weighing the same: their times
    // differ, so a median over both would sit on the edge between them
    def kindMs(kind: String) =
      Pct.median(Pct.preferClean(r.lookups.filter(_.kind == kind).map(l => (l.planMs + l.execMs, l.steal)), _ / 1000.0))
    (Outcome(attempted.toLong, failed.toLong, r.problems, Map(
      "op_ms_p50" -> (kindMs("url") + kindMs("task")) / 2.0,
      "pass_s" -> r.passes.map(_.map(_.seconds).sum).min,
      "pass_cpu_s" -> r.passes.map(_.map(_.cpuS).sum).min,
      "table_bytes_per_page" -> Tables.bytesPerPage(st.table, ctx.fx.pages),
    ), Map.empty), r)
  }

  def layers(ctx: Ctx, st: State, r: Run, rec: JobRecorder): Map[String, Double] = {
    val ls = r.lookups
    val (pct, tail) = Pct.tail(ls.map(l => l.planMs + l.execMs))
    val (files, _) = Dirs.usage(st.table.currentDataDirs ++ st.table.currentLineageDirs)
    val fam = r.passes.flatten.groupBy(_.family).map { case (f, qs) => f -> qs.map(_.seconds).sum / r.passes.size }
    Map(
      "table.lookup_plan_ms_p50" -> Pct.median(ls.map(_.planMs)),
      "table.lookup_exec_ms_p50" -> Pct.median(ls.map(_.execMs)),
      "table.lookup_ms_p50" -> Pct.median(ls.map(l => l.planMs + l.execMs)),
      "table.lookup_ms_tail" -> tail,
      "table.lookup_tail_pct" -> pct,
      "table.lookup_samples" -> ls.size.toDouble,
      "table.rows_read_per_lookup" -> ls.map(_.rows).sum.toDouble / ls.size,
      "table.files_read_per_lookup" -> ls.map(_.files).sum.toDouble / ls.size,
      "table.snapshot_files" -> files.toDouble,
      "table.snapshot_dirs" -> st.table.currentDataDirs.size.toDouble,
      "table.stats_ms_p50" -> Pct.median(r.statsS) * 1000.0,
      "queries.relational_s" -> fam.getOrElse("relational", 0.0),
      "queries.training_data_s" -> fam.getOrElse("training_data", 0.0),
      "queries.curation_s" -> fam.getOrElse("curation", 0.0),
      "queries.graph_s" -> fam.getOrElse("graph", 0.0),
      "queries.quality_s" -> fam.getOrElse("quality", 0.0),
      "queries.total_s" -> fam.values.sum,
      "queries.spark_jobs" -> r.passes.flatten.map(q => rec.jobsBetween(q.startMs, q.endMs).size).sum.toDouble / r.passes.size,
    )
  }
}

/** Closed-loop pacing: a run measures whole iterations, as many as fit
  * its seconds at an iteration's nominal length on a 4-core host, so the
  * count never flips with the host's timing noise. */
object Loop {
  def iterations(seconds: Double, nominalS: Double): Int = math.max(1, math.round(seconds / nominalS).toInt)
}

object Setup {
  /** Set-up repetitions per run; set-up time reports their median. */
  val Reps = 2
}
