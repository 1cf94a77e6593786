package graft

import graft.gen.CorpusGen
import graft.pipeline.{ExtractJob, ExtractKernel}
import graft.table.{LineageTable, Stats}
import org.scalatest.funsuite.AnyFunSuite

/** Ops surface: task lookup (O4), stats (O5), tombstone delete (S6),
  * format_bytes (T14). */
class StatsSpec extends AnyFunSuite with TempRoots {

  private lazy val spark = SparkTestBase.spark

  private lazy val (table, distinctUrls): (LineageTable, Long) = {
    val s = spark
    import s.implicits._
    val root = suiteRoot("graft-stats-")
    val pages = spark.createDataset(CorpusGen.pages(80))(implicitly)
    ExtractJob.run(spark, pages, ExtractJob.Config(root, "r", numBuckets = 8, bucketsPerWave = 8))
    (new LineageTable(root, 8), pages.select("url").distinct().count())
  }

  /** Root of a 16-bucket table of four wave dirs (4 buckets each) over
    * `CorpusGen.pages(80)`. */
  private lazy val fourWaveRoot: String = {
    val s = spark
    import s.implicits._
    val root = suiteRoot("graft-stats-waves-")
    ExtractJob.run(spark, spark.createDataset(CorpusGen.pages(80))(implicitly),
      ExtractJob.Config(root, "j", numBuckets = 16, bucketsPerWave = 4))
    root
  }

  /** The file scans of `df`'s executed plan. */
  private def fileScans(df: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    (df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).collect { case f: FileSourceScanExec => f }
  }

  test("O4: task lookup by id and by url (bucket-pruned)") {
    val url = CorpusGen.urlFor(5)
    val taskId = ExtractKernel.taskIdFor(url)
    val row = Stats.taskLookup(table, spark, taskId).collect()
    assert(row.length == 1 && row(0).getAs[String]("url") == url)
    val byUrl = Stats.lookupByUrl(table, spark, url)
    assert(byUrl.count() == 1)
    val plan = byUrl.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(_bucket"), "bucket pruning missing")
  }

  /** `body`'s result and the Spark jobs it started. Those jobs carry the
    * thread's job group; a marker job of another group, run after `body`,
    * reaches the listener after all of them, so none is missed. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-of-${java.util.UUID.randomUUID}"
    val counted = new java.util.concurrent.atomic.AtomicInteger
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => counted.incrementAndGet()
          case g if g == s"$group-marker" => marker.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS), "the marker job never reached the listener")
      (out, counted.get)
    } finally sc.removeSparkListener(listener)
  }

  test("reads of a four-wave table plan without a Spark job; a lookup runs one") {
    val t = new LineageTable(fourWaveRoot, 16)
    assert(t.currentDataDirs.size == 4)
    val url = CorpusGen.urlFor(5)
    val taskId = ExtractKernel.taskIdFor(url)
    def lookupJobs(t: LineageTable, layout: String): Unit = {
      val ((byUrl, byTask), planned) = jobsOf((Stats.lookupByUrl(t, spark, url), Stats.taskLookup(t, spark, taskId)))
      assert(planned == 0, s"$planned Spark jobs ran while the lookups of the $layout table were built")
      val (urlRows, urlJobs) = jobsOf(byUrl.collect())
      assert(urlRows.map(_.getAs[String]("task_id")).toSeq == Seq(taskId))
      assert(urlJobs == 1, s"a url lookup of the $layout table ran $urlJobs Spark jobs")
      val (taskRows, taskJobs) = jobsOf(byTask.collect())
      assert(taskRows.map(_.getAs[String]("url")).toSeq == Seq(url))
      assert(taskJobs == 1, s"a task lookup of the $layout table ran $taskJobs Spark jobs")
    }
    val (_, planned) = jobsOf(t.readVisible(spark))
    assert(planned == 0, s"$planned Spark jobs ran while the read was built")
    lookupJobs(t, "four-wave")
    // a compacted 64-bucket dir has more _bucket= subdirs than Spark lists
    // without a job; a lookup lists only its own
    val before = t.currentSnapshotId.get
    val t64 = new LineageTable(fourWaveRoot, 64)
    t64.compact(spark)
    try {
      assert(TableFiles.bucketDirs(java.nio.file.Paths.get(t64.currentDataDirs.head)).size > 32)
      lookupJobs(t64, "compacted")
      // a lookup whose bucket no dir holds lists no whole dir either
      val (none, noneJobs) = jobsOf(Stats.taskLookup(t64, spark, "xyz"))
      assert(noneJobs == 0, s"$noneJobs Spark jobs ran while a lookup of no bucket was built")
      assert(none.collect().isEmpty)
    } finally t64.rollbackTo(before)
  }

  test("each lookup of a 16-bucket, four-wave table scans one file") {
    val t = new LineageTable(fourWaveRoot, 16)
    val url = CorpusGen.urlFor(9)
    for (df <- Seq(Stats.lookupByUrl(t, spark, url), Stats.taskLookup(t, spark, ExtractKernel.taskIdFor(url)))) {
      assert(df.collect().length == 1)
      val scans = fileScans(df)
      assert(scans.size == 1, df.queryExecution.executedPlan.toString)
      assert(scans.head.metrics("numFiles").value == 1, df.queryExecution.executedPlan.toString)
    }
  }

  test("a table opened with another bucket count finds every url and task id") {
    // written with 16 buckets, opened with the default 64: the count comes
    // from the manifest
    val t = new LineageTable(fourWaveRoot)
    CorpusGen.pages(80).map(_.url).distinct.take(24).foreach { url =>
      val taskId = ExtractKernel.taskIdFor(url)
      assert(Stats.lookupByUrl(t, spark, url).collect().map(_.getAs[String]("task_id")).toSeq == Seq(taskId), url)
      assert(Stats.taskLookup(t, spark, taskId).collect().map(_.getAs[String]("url")).toSeq == Seq(url), url)
    }
  }

  test("a task id that is no task id finds no row") {
    Seq("", "xyz", "not-a-uuid").foreach { id =>
      assert(Stats.taskLookup(table, spark, id).collect().isEmpty, s"'$id'")
    }
  }

  test("O5: stats response over lineage only") {
    val r = Stats.statsResponse(table, spark).collect()(0)
    assert(r.getAs[Long]("total_tasks") == distinctUrls)
    assert(r.getAs[Long]("completed_tasks") == distinctUrls)
    assert(r.getAs[Long]("failed_tasks") == 0)
    assert(r.getAs[Double]("avg_processing_time_ms") >= 0.0)
  }

  test("S6: tombstoned task disappears from reads, others unaffected") {
    val url = CorpusGen.urlFor(7)
    val taskId = ExtractKernel.taskIdFor(url)
    assert(Stats.taskLookup(table, spark, taskId).count() == 1)
    table.deleteTask(taskId)
    assert(table.tombstones.contains(taskId))
    assert(Stats.taskLookup(table, spark, taskId).count() == 0)
    assert(table.readVisible(spark).count() == distinctUrls - 1)
    table.deleteTask(taskId) // idempotent
    assert(table.readVisible(spark).count() == distinctUrls - 1)
  }

  test("bucketFor (lookup side) and bucketCol (write side) agree on every url") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(42)
    val urls = Seq("", "https://例え.jp/ページ?q=ü", "http://x/😀\u0000é") ++
      (0 until 200).map(i => CorpusGen.urlFor(i)) ++
      (0 until 200).map(_ => rnd.nextString(rnd.nextInt(40)))
    Seq(1, 8, 64, 1000).foreach { n =>
      // keyed by position: a lone surrogate from nextString does not
      // round-trip through UTF-8, so the url itself is no key
      val got = urls.zipWithIndex.toDF("url", "i")
        .select($"i", LineageTable.bucketCol($"url", n))
        .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
      urls.zipWithIndex.foreach { case (u, i) =>
        assert(got(i) == LineageTable.bucketFor(u, n), s"url #$i '$u' at $n buckets")
      }
    }
  }

  test("T14: format_bytes matches the reference ladder") {
    import graft.core.PyStr.formatBytes
    assert(formatBytes(512) == "512.0 B")
    assert(formatBytes(2048) == "2.0 KB")
    assert(formatBytes(5L * 1024 * 1024) == "5.0 MB")
    assert(formatBytes(3L * 1024 * 1024 * 1024) == "3.0 GB")
    assert(formatBytes(2L * 1024 * 1024 * 1024 * 1024) == "2.0 TB")
  }
}
