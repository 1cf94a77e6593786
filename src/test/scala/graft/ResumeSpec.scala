package graft

import graft.gen.CorpusGen
import graft.model.ConversionOptions
import graft.pipeline.ExtractJob
import graft.table.LineageTable
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** LineageTable + ExtractJob: checkpointed resume (killed job never
  * re-extracts committed buckets), snapshot isolation, lineage stats, GC
  * (SURVEY.md §5.2-5). */
class ResumeSpec extends AnyFunSuite with TempRoots {
  import TableFiles.{bucketDirs, children, parquetFiles, urlBuckets}

  private lazy val spark = SparkTestBase.spark
  private val N = 120

  private def pagesDs = {
    val s = spark
    import s.implicits._
    spark.createDataset(CorpusGen.pages(N))(implicitly)
  }

  test("empty crawl delta: multi-wave run completes and commits (no schema-inference crash)") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    val empty = spark.createDataset(Seq.empty[graft.model.Page])(implicitly)
    val cfg = ExtractJob.Config(root, runId = "empty1", numBuckets = 16, bucketsPerWave = 4)
    val report = ExtractJob.run(spark, empty, cfg) // staging path active (4 waves)
    assert(report.snapshotId == 1L && report.bucketsRun == 16)
    // a data-less snapshot is a hard error on read, not an obscure parquet one
    val ex = intercept[IllegalArgumentException](new LineageTable(root, 16).read(spark))
    assert(ex.getMessage.contains("no data files"))
  }

  test("full run commits a readable snapshot with complete lineage") {
    val root = freshRoot()
    val cfg = ExtractJob.Config(root, runId = "run1", numBuckets = 16, bucketsPerWave = 4)
    val report = ExtractJob.run(spark, pagesDs, cfg)
    assert(report.snapshotId == 1L)
    assert(report.bucketsRun == 16 && report.bucketsSkipped == 0)

    val table = new LineageTable(root, 16)
    val df = table.read(spark)
    val distinctUrls = pagesDs.select("url").distinct().count()
    assert(df.count() == distinctUrls) // latest-crawl dedup applied
    assert(df.where("status = 'completed'").count() == distinctUrls)

    val lineage = table.readLineage(spark)
    val sums = lineage.groupBy().sum("rows", "completed").collect()(0)
    assert(sums.getLong(0) == distinctUrls && sums.getLong(1) == distinctUrls)
    // every bucket with rows appears exactly once
    assert(lineage.groupBy("_bucket").count().where("count > 1").count() == 0)
    // multi-wave run staged the bucketed input; scratch removed post-snapshot
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "_stage", "run1")),
      "staging dir must be deleted after the snapshot commit")
  }

  test("killed after first wave -> resume skips committed buckets, no duplicate rows") {
    val root = freshRoot()
    val cfg = ExtractJob.Config(root, runId = "runX", numBuckets = 16, bucketsPerWave = 4)

    final class Kill extends RuntimeException("simulated kill")
    val died = intercept[Kill] {
      ExtractJob.run(spark, pagesDs, cfg, afterWave = w => if (w == 1) throw new Kill)
    }
    assert(died.getMessage == "simulated kill")

    val table = new LineageTable(root, 16)
    val committed = table.doneBuckets("runX")
    assert(committed.size == 8, s"expected 2 waves x 4 buckets committed, got $committed")
    assert(table.currentSnapshotId.isEmpty, "no snapshot may exist after a kill")
    // the staging survives the kill, one parquet file per bucket
    val staged = bucketDirs(java.nio.file.Paths.get(root, "_stage", "runX"))
    assert(staged.size == urlBuckets(N, 16), staged.toString)
    staged.foreach(d => assert(parquetFiles(d) == 1, s"$d holds ${parquetFiles(d)} parquet files"))

    // resume: same table + runId
    val report2 = ExtractJob.run(spark, pagesDs, cfg)
    assert(report2.bucketsSkipped == 8, "resume must skip the 8 committed buckets")
    assert(report2.bucketsRun == 8)

    val df = table.read(spark)
    val distinctUrls = pagesDs.select("url").distinct().count()
    assert(df.count() == distinctUrls, "resume must not duplicate rows")
    // lineage: each bucket committed exactly once across both attempts
    val lineage = table.readLineage(spark)
    assert(lineage.groupBy("_bucket").count().where("count > 1").count() == 0)
  }

  test("resume with a different config than the staging fails loudly, same config resumes") {
    val root = freshRoot()
    val cfg = ExtractJob.Config(root, runId = "runF", numBuckets = 16, bucketsPerWave = 4)
    final class Kill extends RuntimeException("simulated kill")
    intercept[Kill] {
      ExtractJob.run(spark, pagesDs, cfg, afterWave = w => if (w == 0) throw new Kill)
    }
    // a resume that silently extracted under a different bucket count
    // would produce a table whose done-markers and partition layout lie —
    // the CONFIG guard fails loud, staged or not
    val ex = intercept[IllegalArgumentException] {
      ExtractJob.run(spark, pagesDs, cfg.copy(numBuckets = 32))
    }
    assert(ex.getMessage.contains("different config"), ex.getMessage)
    // a run started under the retired PostDedup layout staged its input
    // with duplicates: its resume is refused too
    val recorded = graft.core.Json.parse(Files.readString(java.nio.file.Paths.get(root, "_checkpoint", "runF",
      "CONFIG.json"))).asInstanceOf[Map[String, Any]]
    new LineageTable(root, 16).beginRun("runPD", recorded + ("dedup" -> "PostDedup"))
    val exPD = intercept[IllegalArgumentException](ExtractJob.run(spark, pagesDs, cfg.copy(runId = "runPD")))
    assert(exPD.getMessage.contains("different config"), exPD.getMessage)
    // identical config resumes normally
    val report = ExtractJob.run(spark, pagesDs, cfg)
    assert(report.bucketsSkipped == 4 && report.bucketsRun == 12)
    assert(new LineageTable(root, 16).read(spark).count() == pagesDs.select("url").distinct().count())
  }

  test("multi-wave run over a table with a tombstone commits and resurrects a re-extracted url") {
    val root = freshRoot()
    ExtractJob.run(spark, pagesDs, ExtractJob.Config(root, runId = "runT1", numBuckets = 16, bucketsPerWave = 4))
    val table = new LineageTable(root, 16)
    val url = CorpusGen.urlFor(3)
    val taskId = graft.pipeline.ExtractKernel.taskIdFor(url)
    def visible(u: String): Long = table.readVisible(spark).where(s"url = '$u'").count()
    table.deleteTask(taskId)
    assert(visible(url) == 0)
    // the resurrection scan reads the run's four wave dirs, each its own
    // _bucket= partition root
    val report = ExtractJob.run(spark, pagesDs, ExtractJob.Config(root, runId = "runT2", numBuckets = 16, bucketsPerWave = 4))
    assert(report.snapshotId == 2L && report.bucketsRun == 16, report.toString)
    assert(table.currentDataDirs.size == 4)
    assert(!table.tombstones.contains(taskId), "the re-extracted url's tombstone survived")
    assert(visible(url) == 1)
    assert(table.readVisible(spark).count() == pagesDs.select("url").distinct().count())
  }

  test("bucket partition pruning reaches the scan") {
    val root = freshRoot()
    val cfg = ExtractJob.Config(root, runId = "runP", numBuckets = 8, bucketsPerWave = 8)
    ExtractJob.run(spark, pagesDs, cfg)
    val table = new LineageTable(root, 8)
    val plan = table.read(spark).where("_bucket = 3").queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(_bucket"), s"no partition pruning in:\n$plan")
  }

  test("two captures of a url with one warc_ts: the same one wins in either input order, staged or not") {
    val s = spark
    import s.implicits._
    val filler = CorpusGen.pages(40)
    val url = "https://tie.example/same-ts"
    val Seq(a, b) = Seq(filler(3), filler(7)).map(_.copy(url = url, warc_ts = filler(0).warc_ts))
    val contents = for ((nb, perWave) <- Seq((8, 8), (16, 4)); order <- Seq(Seq(a, b), Seq(b, a))) yield {
      val root = freshRoot()
      // one input partition, so the input order reaches the window as given
      val input = spark.createDataset(filler ++ order)(implicitly).coalesce(1)
      ExtractJob.run(spark, input, ExtractJob.Config(root, "tie", numBuckets = nb, bucketsPerWave = perWave))
      val rows = new LineageTable(root, nb).read(spark).where($"url" === url).select("content").as[String].collect()
      assert(rows.length == 1, s"$nb/$perWave: ${rows.length} rows of $url")
      rows.head
    }
    assert(contents.distinct.size == 1, "the capture kept depends on the input order or the layout")
  }

  test("per-row timeout guard produces failed rows, not job kills") {
    val root = freshRoot()
    val cfg = ExtractJob.Config(root, "t", numBuckets = 4, bucketsPerWave = 4, timeoutMs = -1)
    ExtractJob.run(spark, pagesDs, cfg)
    val df = new LineageTable(root, 4).read(spark)
    assert(df.where("status = 'failed'").count() == df.count(), "all rows must time out at timeoutMs=-1")
    val err = df.select("error").where("error is not null").head().getString(0)
    assert(err.contains("time limit"), err)
  }

  test("compaction: one consolidated dir, tombstones applied physically, old snapshot ages out") {
    val root = freshRoot()
    // two runs -> data_dirs accumulates wave dirs across snapshots
    ExtractJob.run(spark, pagesDs, ExtractJob.Config(root, "r1", numBuckets = 8, bucketsPerWave = 4))
    ExtractJob.run(spark, pagesDs, ExtractJob.Config(root, "r2", numBuckets = 8, bucketsPerWave = 4))
    val table = new LineageTable(root, 8)
    val before = table.readVisible(spark).count()
    assert(table.currentDataDirs.size > 1, "precondition: multiple wave dirs")

    // tombstone one task, then compact
    val victim = table.read(spark).select("task_id").head().getString(0)
    table.deleteTask(victim)
    val snapId = table.compact(spark)

    assert(table.currentSnapshotId.contains(snapId))
    assert(table.currentDataDirs.size == 1, "compaction must consolidate to one data dir")
    assert(table.tombstones.isEmpty, "tombstones baked in after compaction")
    val after = table.read(spark)
    assert(after.count() == before - 1, "tombstoned row physically gone")
    assert(after.where(s"task_id = '$victim'").count() == 0)
    // lineage consolidated and consistent
    val lineage = table.readLineage(spark)
    assert(lineage.groupBy("_bucket").count().where("count > 1").count() == 0)
    assert(lineage.groupBy().sum("rows").collect()(0).getLong(0) == before - 1)
    // bucket pruning still works on the compacted layout
    val plan = after.where("_bucket = 3").queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(_bucket"), s"pruning lost:\n$plan")
    // GC removes the superseded pre-compaction dirs; table stays readable
    val deleted = table.expireSnapshots(ttlMs = 0L, nowMs = System.currentTimeMillis() + 1000000L)
    assert(deleted > 0)
    assert(table.read(spark).count() == before - 1)
  }

  test("time travel: readAt serves past snapshots, rollback is an atomic pointer write") {
    val root = freshRoot()
    ExtractJob.run(spark, pagesDs, ExtractJob.Config(root, "tt1", numBuckets = 8, bucketsPerWave = 8))
    val table = new LineageTable(root, 8)
    val n1 = table.read(spark).count()
    // second run commits a superseding snapshot; tombstone under it too
    ExtractJob.run(spark, pagesDs, ExtractJob.Config(root, "tt2", numBuckets = 8, bucketsPerWave = 8))
    table.compact(spark)
    assert(table.snapshotIds == Seq(1L, 2L, 3L))

    // VERSION AS OF: snapshot 1 = run tt1's own dirs, regardless of CURRENT
    val at1 = table.readAt(spark, 1L)
    assert(at1.count() == n1)
    assert(at1.select("task_id").head().getString(0).nonEmpty)
    // rollback then roll forward — both just move the pointer
    table.rollbackTo(1L)
    assert(table.currentSnapshotId.contains(1L))
    assert(table.read(spark).count() == n1)
    table.rollbackTo(3L)
    assert(table.read(spark).count() == n1)

    // expiry deletes the unreferenced past; time travel then raises clearly
    table.expireSnapshots(ttlMs = 0L, nowMs = System.currentTimeMillis() + 1000000L)
    val ex = intercept[IllegalArgumentException](table.readAt(spark, 1L))
    assert(ex.getMessage.contains("expired"))
    val ex2 = intercept[IllegalArgumentException](table.rollbackTo(1L))
    assert(ex2.getMessage.contains("not retained"))
  }

  test("commit after rollback allocates past retained snapshots, never overwriting them") {
    val root = freshRoot()
    ExtractJob.run(spark, pagesDs, ExtractJob.Config(root, "ra", numBuckets = 8, bucketsPerWave = 8))
    ExtractJob.run(spark, pagesDs, ExtractJob.Config(root, "rb", numBuckets = 8, bucketsPerWave = 8))
    val table = new LineageTable(root, 8)
    val n2 = table.readAt(spark, 2L).count()
    table.rollbackTo(1L)
    // id must come from max(snapshotIds)+1, not CURRENT+1 — CURRENT+1
    // would overwrite snapshot-2.json and orphan rb's data dirs forever
    val report = ExtractJob.run(spark, pagesDs, ExtractJob.Config(root, "rc", numBuckets = 8, bucketsPerWave = 8))
    assert(report.snapshotId == 3L, s"got ${report.snapshotId}")
    assert(table.snapshotIds == Seq(1L, 2L, 3L))
    assert(table.readAt(spark, 2L).count() == n2, "snapshot 2 must be untouched")
    assert(table.snapshot(2L)("run_id") == "rb")
  }

  test("rollback-then-compact never reuses a retained compaction's data dir") {
    val root = freshRoot()
    ExtractJob.run(spark, pagesDs, ExtractJob.Config(root, "ca", numBuckets = 8, bucketsPerWave = 8))
    val table = new LineageTable(root, 8)
    assert(table.compact(spark) == 2L) // dir data/compact-2
    val n2 = table.readAt(spark, 2L).count()
    table.rollbackTo(1L)
    // make the second compaction's content distinguishable from compact-2's
    val victim = table.read(spark).select("task_id").head().getString(0)
    table.deleteTask(victim)
    // id must come from max(snapshotIds)+1: CURRENT+1 would name the dir
    // compact-2 again and SaveMode.Overwrite would destroy the data dir
    // snapshot 2 still references (readAt(2) would silently lose a row)
    val id = table.compact(spark)
    assert(id == 3L, s"got $id")
    assert(table.read(spark).count() == n2 - 1)
    assert(table.readAt(spark, 2L).count() == n2, "snapshot 2's dir must be untouched")
  }

  test("snapshot expiry GC deletes unreferenced dirs, keeps current") {
    val root = freshRoot()
    val cfgA = ExtractJob.Config(root, runId = "old", numBuckets = 8, bucketsPerWave = 8)
    ExtractJob.run(spark, pagesDs, cfgA)
    val cfgB = ExtractJob.Config(root, runId = "new", numBuckets = 8, bucketsPerWave = 8)
    ExtractJob.run(spark, pagesDs, cfgB)

    val table = new LineageTable(root, 8)
    assert(table.currentSnapshotId.contains(2L))
    val deleted = table.expireSnapshots(ttlMs = 0L, nowMs = System.currentTimeMillis() + 1000000L)
    assert(deleted > 0)
    // current snapshot still readable
    val df = table.read(spark)
    assert(df.count() == pagesDs.select("url").distinct().count())
    // old run's data dir gone
    assert(!Files.exists(java.nio.file.Paths.get(root, "data", "old", "wave-0")))
  }

  private def writeDir(root: String, run: String, rows: Seq[(String, String, Int, String, Long)]): String = {
    val s = spark
    import s.implicits._
    val d = s"$root/data/$run"
    rows.toDF("task_id", "url", "_bucket", "status", "processing_time_ms").write.parquet(d)
    d
  }

  test("snapshot ids stay monotonic across rollback + expiry (no id reuse)") {
    val root = freshRoot()
    val t = new LineageTable(root, 4)
    val d1 = writeDir(root, "r1", Seq(("t1", "u1", 0, "completed", 1L)))
    val s1 = t.commitSnapshot(Seq(d1), Nil, "r1")
    t.appendCommit(Seq(writeDir(root, "r2", Seq(("t2", "u2", 1, "completed", 1L)))), Nil, "r2")
    val s3 = t.appendCommit(Seq(writeDir(root, "r3", Seq(("t3", "u3", 2, "completed", 1L)))), Nil, "r3")
    assert(s3 == 3L)
    // a consumer checkpointed sinceId = 3; then rollback + GC drop s2, s3
    t.rollbackTo(s1)
    t.expireSnapshots(0L, nowMs = System.currentTimeMillis() + 1000000L)
    assert(t.snapshotIds == Seq(s1))
    // new commits must NOT reallocate the expired ids — the checkpointed
    // consumer gets the documented expired-id error, never a same-numbered
    // but unrelated snapshot
    val s4 = t.appendCommit(Seq(writeDir(root, "r4", Seq(("t4", "u4", 3, "completed", 1L)))), Nil, "r4")
    assert(s4 == 4L, s"id reused after expiry: got $s4")
    val ex = intercept[IllegalArgumentException](t.changesSince(spark, 3L))
    assert(ex.getMessage.contains("never committed, or expired"))
    intercept[IllegalArgumentException](t.readAt(spark, 3L))
  }

  test("changesSince applies tombstones and polls empty waves as empty") {
    val root = freshRoot()
    val t = new LineageTable(root, 4)
    val s1 = t.commitSnapshot(Seq(writeDir(root, "r1", Seq(("t1", "u1", 0, "completed", 1L)))), Nil, "r1")
    t.appendCommit(Seq(writeDir(root, "r2",
      Seq(("t2", "u2", 1, "completed", 1L), ("t3", "u3", 2, "completed", 1L)))), Nil, "r2")
    t.deleteTask("t2")
    // the deleted task never flows to an incremental consumer
    assert(t.changesSince(spark, s1).select("task_id").collect().map(_.getString(0)).toSet
      == Set("t3"))
    // empty delta returns an empty frame of the table's schema
    val none = t.changesSince(spark, s1, Some(s1))
    assert(none.count() == 0 && none.columns.contains("task_id"))
    // a table whose only commit is an empty wave polls as empty, not a throw
    val root2 = freshRoot()
    val t2 = new LineageTable(root2, 4)
    val emptyDir = s"$root2/data/e1"
    Files.createDirectories(java.nio.file.Paths.get(emptyDir))
    Files.createFile(java.nio.file.Paths.get(emptyDir, "_SUCCESS"))
    val e1 = t2.commitSnapshot(Seq(emptyDir), Nil, "e1")
    assert(t2.changesSince(spark, e1).count() == 0)
  }

  test("kill inside the marker loop: fixed waves re-run whole, no duplicate rows") {
    val root = freshRoot()
    val cfg = ExtractJob.Config(root, runId = "runM", numBuckets = 16, bucketsPerWave = 4)
    final class Kill extends RuntimeException("simulated kill")
    intercept[Kill] {
      ExtractJob.run(spark, pagesDs, cfg, afterWave = w => if (w == 1) throw new Kill)
    }
    // simulate a kill between wave 4's write and its marker: its data and
    // lineage are fully written but the wave is unmarked — regrouping the
    // pending buckets into new waves would duplicate rows (shifted waves
    // plus the old full wave dir)
    val table = new LineageTable(root, 16)
    Files.delete(java.nio.file.Paths.get(root, "_checkpoint", "runM", "wave-4.json"))
    val report = ExtractJob.run(spark, pagesDs, cfg)
    // the partial wave (4..7) re-runs WHOLE; waves 2-3 also run
    assert(report.bucketsRun == 12 && report.bucketsSkipped == 4, report.toString)
    val df = table.read(spark)
    assert(df.count() == pagesDs.select("url").distinct().count(), "duplicated rows")
    assert(df.groupBy("url").count().where("count > 1").count() == 0)
    assert(table.readLineage(spark).groupBy("_bucket").count().where("count > 1").count() == 0)
  }

  test("kill inside the marker loop, resume with a different bucketsPerWave: refused, not duplicated") {
    val root = freshRoot()
    val cfg = ExtractJob.Config(root, runId = "runW", numBuckets = 16, bucketsPerWave = 8)
    final class Kill extends RuntimeException("simulated kill")
    intercept[Kill] {
      ExtractJob.run(spark, pagesDs, cfg, afterWave = w => if (w == 0) throw new Kill)
    }
    // a kill between wave 0's write and its marker: buckets 0..7 are fully
    // written but unmarked; regrouped by 4, they would re-run into wave-0
    // and a new wave-4 dir while the old wave-0 dir also holds 4..7
    Files.delete(java.nio.file.Paths.get(root, "_checkpoint", "runW", "wave-0.json"))
    val ex = intercept[IllegalArgumentException] {
      ExtractJob.run(spark, pagesDs, cfg.copy(bucketsPerWave = 4))
    }
    assert(ex.getMessage.contains("different config"), ex.getMessage)
    // the recorded wave size resumes normally: the partial wave re-runs whole
    val report = ExtractJob.run(spark, pagesDs, cfg)
    assert(report.bucketsRun == 16 && report.bucketsSkipped == 0, report.toString)
    val df = new LineageTable(root, 16).read(spark)
    assert(df.count() == pagesDs.select("url").distinct().count(), "duplicated rows")
  }

  test("kill with the next wave in flight: one wave marked, nothing runs or writes after run throws") {
    val root = freshRoot()
    val cfg = ExtractJob.Config(root, runId = "runI", numBuckets = 16, bucketsPerWave = 4)
    val data = java.nio.file.Paths.get(root, "data", "runI")
    final class Kill extends RuntimeException("simulated kill")
    // jobs started and not yet ended, as the listener bus delivers them; a
    // marker job posted after run returns snapshots them in bus order
    val active = scala.collection.mutable.Set.empty[Int]
    @volatile var activeAtMarker: Option[Set[Int]] = None
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.job.description") == "after-run marker") activeAtMarker = Some(active.toSet)
        else active += e.jobId
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = active -= e.jobId
    }
    def files: Map[String, Long] = scala.util.Using.resource(Files.walk(data)) { w =>
      w.iterator().asScala.filter(Files.isRegularFile(_)).map(f => data.relativize(f).toString -> Files.size(f)).toMap
    }
    var atReturn = Map.empty[String, Long]
    spark.sparkContext.addSparkListener(listener)
    try {
      intercept[Kill] {
        ExtractJob.run(spark, pagesDs, cfg, afterWave = w => if (w == 0) {
          // wave 4 is written or in flight when wave 0's hook throws
          val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
          while (!Files.isDirectory(data.resolve("wave-4")) && System.nanoTime() < deadline) Thread.sleep(5)
          assert(Files.isDirectory(data.resolve("wave-4")), "wave 4 never started")
          throw new Kill
        })
      }
      atReturn = files
      spark.sparkContext.setJobDescription("after-run marker")
      try spark.sparkContext.parallelize(Seq(1), 1).count() finally spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (activeAtMarker.isEmpty && System.nanoTime() < deadline) Thread.sleep(5)
      assert(activeAtMarker.contains(Set.empty[Int]), s"Spark jobs of the run still active: $activeAtMarker")
    } finally spark.sparkContext.removeSparkListener(listener)

    assert(children(java.nio.file.Paths.get(root, "_checkpoint", "runI")).map(_.getFileName.toString) ==
      Seq("CONFIG.json", "wave-0.json"))
    Thread.sleep(1500)
    assert(files == atReturn, "a wave write touched the table after run threw")

    val report = ExtractJob.run(spark, pagesDs, cfg)
    assert(report.bucketsRun == 12 && report.bucketsSkipped == 4, report.toString)
    val table = new LineageTable(root, 16)
    val df = table.read(spark)
    assert(df.count() == pagesDs.select("url").distinct().count(), "duplicated rows")
    assert(df.groupBy("url").count().where("count > 1").count() == 0)
    assert(table.readLineage(spark).groupBy("_bucket").count().where("count > 1").count() == 0)
  }

  test("resume with a different input schema than the run record fails loudly") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    val cfg = ExtractJob.Config(root, runId = "runS", numBuckets = 16, bucketsPerWave = 4)
    final class Kill extends RuntimeException("simulated kill")
    intercept[Kill] {
      ExtractJob.run(spark, pagesDs, cfg, afterWave = w => if (w == 0) throw new Kill)
    }
    // an extra input column: the staged input no longer matches what the
    // committed wave was extracted from
    val wider = pagesDs.withColumn("crawl", org.apache.spark.sql.functions.lit("B")).as[graft.model.Page]
    val ex = intercept[IllegalArgumentException](ExtractJob.run(spark, wider, cfg))
    assert(ex.getMessage.contains("different config"), ex.getMessage)
    // the recorded schema resumes
    val report = ExtractJob.run(spark, pagesDs, cfg)
    assert(report.bucketsSkipped == 4 && report.bucketsRun == 12, report.toString)
  }

  test("a run record without format_version, written by older code, is refused on resume") {
    val root = freshRoot()
    val cfg = ExtractJob.Config(root, runId = "runV", numBuckets = 16, bucketsPerWave = 4)
    final class Kill extends RuntimeException("simulated kill")
    intercept[Kill] {
      ExtractJob.run(spark, pagesDs, cfg, afterWave = w => if (w == 0) throw new Kill)
    }
    val record = java.nio.file.Paths.get(root, "_checkpoint", "runV", "CONFIG.json")
    val recorded = graft.core.Json.parse(Files.readString(record)).asInstanceOf[Map[String, Any]]
    assert(recorded.contains("format_version"), recorded.toString)
    Files.writeString(record, graft.core.Json.write(recorded - "format_version"))
    val ex = intercept[IllegalArgumentException](ExtractJob.run(spark, pagesDs, cfg))
    assert(ex.getMessage.contains("different config"), ex.getMessage)
  }

  test("checkpoint layout: a run record and one marker per committed wave, dropped after the commit") {
    val root = freshRoot()
    val cfg = ExtractJob.Config(root, runId = "runK", numBuckets = 16, bucketsPerWave = 4)
    final class Kill extends RuntimeException("simulated kill")
    intercept[Kill] {
      ExtractJob.run(spark, pagesDs, cfg, afterWave = w => if (w == 1) throw new Kill)
    }
    val ckpt = java.nio.file.Paths.get(root, "_checkpoint", "runK")
    assert(children(ckpt).map(_.getFileName.toString) == Seq("CONFIG.json", "wave-0.json", "wave-4.json"))
    val stage = java.nio.file.Paths.get(root, "_stage", "runK")
    assert(Files.exists(stage.resolve("_SUCCESS")))
    assert(!Files.exists(stage.resolve("_FINGERPRINT.json")))
    ExtractJob.run(spark, pagesDs, cfg)
    assert(!Files.exists(ckpt), "a completed run leaves no checkpoint")
  }

  test("each committed bucket is one parquet file, staged or not") {
    for ((nb, perWave) <- Seq((16, 4), (8, 8))) {
      val root = freshRoot()
      ExtractJob.run(spark, pagesDs, ExtractJob.Config(root, "runL", numBuckets = nb, bucketsPerWave = perWave))
      val dirs = children(java.nio.file.Paths.get(root, "data", "runL")).flatMap(bucketDirs)
      assert(dirs.size == urlBuckets(N, nb), s"$nb/$perWave: $dirs")
      dirs.foreach(d => assert(parquetFiles(d) == 1, s"$nb/$perWave: $d holds ${parquetFiles(d)} parquet files"))
    }
  }

  test("completed run clears markers and staging; orphan sweep spares the nested layout") {
    val root = freshRoot()
    val cfg = ExtractJob.Config(root, runId = "runC", numBuckets = 8, bucketsPerWave = 2)
    ExtractJob.run(spark, pagesDs, cfg)
    val table = new LineageTable(root, 8)
    // markers + CONFIG + staging are gone once the snapshot is durable —
    // stale markers would let a rerun commit GC'd dirs and shield dirs
    // from removeOrphans forever
    assert(table.doneBuckets("runC").isEmpty, "markers must clear after the final commit")
    assert(!Files.isDirectory(java.nio.file.Paths.get(root, "_stage", "runC")))
    val n = table.read(spark).count()
    // ExtractJob's data/<runId>/wave-N layout: the snapshot references
    // wave-level dirs, removeOrphans lists data/<runId> — prefix coverage
    // must protect the whole run tree
    val removed = table.removeOrphans(0L, nowMs = System.currentTimeMillis() + 1000000L)
    assert(removed == 0, s"orphan sweep deleted referenced dirs (removed=$removed)")
    assert(table.read(spark).count() == n)
  }

  test("expiry deleted-count deduplicates dirs shared by appendCommit chains") {
    val root = freshRoot()
    val t = new LineageTable(root, 4)
    val dA = writeDir(root, "rA", Seq(("t1", "u1", 0, "completed", 1L)))
    t.commitSnapshot(Seq(dA), Nil, "rA")
    t.appendCommit(Seq(writeDir(root, "rB", Seq(("t2", "u2", 1, "completed", 1L)))), Nil, "rB")
    // replace-commit supersedes: only dC stays referenced
    val dC = writeDir(root, "rC", Seq(("t3", "u3", 2, "completed", 1L)))
    t.commitSnapshot(Seq(dC), Nil, "rC")
    // s1{A} and s2{A,B} drop; A is shared — deleted must count A,B once each
    val deleted = t.expireSnapshots(0L, nowMs = System.currentTimeMillis() + 1000000L)
    assert(deleted == 2, s"expected 2 distinct dirs deleted, got $deleted")
  }
}
