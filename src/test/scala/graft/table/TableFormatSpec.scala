package graft.table

import graft.{SparkTestBase, TempRoots}
import graft.core.Json
import graft.gen.CorpusGen
import graft.model.ConversionOptions
import graft.pipeline.{ExtractJob, ExtractKernel}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** The table format in the manifest: format 2 keys buckets by task id and
  * records the bucket count; a format-1 table (url-hash buckets, no
  * `format_version`) and a commit mixing bucket counts are refused where
  * they would give wrong answers, and compact() rewrites both. */
class TableFormatSpec extends AnyFunSuite with TempRoots {
  private lazy val spark = SparkTestBase.spark

  private def refused(f: => Any): Unit = {
    val ex = intercept[IllegalArgumentException](f)
    assert(ex.getMessage.contains("compact()"), ex.getMessage)
  }

  test("a format-1 table reads as before, refuses lookups and appends, and compact() upgrades it") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
    val root = freshRoot("graft-v1-")
    val t = new LineageTable(root, 8)
    val pages = CorpusGen.pages(40).distinctBy(_.url)
    def extracted(ps: Seq[graft.model.Page]) =
      ExtractKernel.extract(spark.createDataset(ps)(implicitly), ConversionOptions())(spark).toDF()
    def unit(ps: Seq[graft.model.Page], dir: String, bucket: org.apache.spark.sql.Column): (String, String) = {
      val (d, l, _) = t.writeUnit(extracted(ps).withColumn("_bucket", bucket).repartition($"_bucket"), dir, dir, 0L)
      (d, l)
    }
    // format 1: rows bucketed by url hash, manifests without the format keys
    val urlHash = pmod(xxhash64($"url"), lit(8)).cast("int")
    val (firstHalf, secondHalf) = pages.splitAt(pages.size / 2)
    val (d1, l1) = unit(firstHalf, "v1a", urlHash)
    val s1 = t.commitSnapshot(Seq(d1), Seq(l1), "v1a")
    val (d2, l2) = unit(secondHalf, "v1b", urlHash)
    val s2 = t.commitSnapshot(Seq(d1, d2), Seq(l1, l2), "v1b")
    Seq(s1, s2).foreach { id =>
      Files.writeString(Paths.get(root, "_manifests", s"snapshot-$id.json"),
        Json.write(t.snapshot(id) - "format_version" - "num_buckets"))
    }

    assert(t.read(spark).count() == pages.size)
    assert(Stats.statsResponse(t, spark).head().getAs[Long]("total_tasks") == pages.size)
    assert(t.changesSince(spark, s1).select("url").as[String].collect().toSet == secondHalf.map(_.url).toSet)
    val url = pages.head.url
    refused(Stats.lookupByUrl(t, spark, url))
    refused(Stats.taskLookup(t, spark, ExtractKernel.taskIdFor(url)))
    val (d3, l3) = unit(pages.take(3), "appended", LineageTable.bucketCol($"url", 8))
    refused(t.appendCommit(Seq(d3), Seq(l3), "appended"))
    refused(graft.streaming.StreamingExtract.commitStreamBatch(t, extracted(pages.take(3)), "s", 0L))

    t.compact(spark)
    pages.map(_.url).foreach { u =>
      val taskId = ExtractKernel.taskIdFor(u)
      assert(Stats.lookupByUrl(t, spark, u).collect().map(_.getAs[String]("task_id")).toSeq == Seq(taskId), u)
      assert(Stats.taskLookup(t, spark, taskId).collect().map(_.getAs[String]("url")).toSeq == Seq(u), u)
    }
  }

  test("an append with another bucket count is refused, and compaction repairs a table mixing counts") {
    val s = spark
    import s.implicits._
    val root = freshRoot("graft-mixed-")
    val pages = spark.createDataset(CorpusGen.pages(120))(implicitly)
    ExtractJob.run(spark, pages, ExtractJob.Config(root, "a", numBuckets = 64, bucketsPerWave = 64))
    refused(ExtractJob.run(spark, pages,
      ExtractJob.Config(root, "b", numBuckets = 16, bucketsPerWave = 16, appendSnapshot = true)))

    // the same table committed by hand: run b's marked wave kept beside
    // run a's, each url twice, in buckets of two counts
    val t = new LineageTable(root, 64)
    val (bData, bLineage, _) = t.committedUnits("b")
    t.commitSnapshot(t.currentDataDirs ++ bData, t.currentLineageDirs ++ bLineage, "mixed")
    val urls = pages.select("url").distinct().count()
    assert(t.read(spark).count() == 2 * urls)
    assert(t.readLatest(spark).count() == urls)
    t.compact(spark, resolveLatestBy = Some("created_at"))
    assert(t.read(spark).count() == urls)
  }
}
