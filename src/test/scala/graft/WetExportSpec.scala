package graft


import graft.gen.{CorpusGen, WarcGen}
import graft.model.{ConversionOptions, OutputFormat}
import graft.pipeline.{ExtractKernel, WetExport}
import org.scalatest.funsuite.AnyFunSuite

/** WARC → WET end to end: the job must publish exactly the kernel's text
  * export for every completed page, as conversion records the response
  * -only default read mode never mistakes for pages. */
class WetExportSpec extends AnyFunSuite with TempRoots {

  private lazy val spark = SparkTestBase.spark

  test("warc -> wet: conversion records carry the exact text export") {
    val s = spark
    import s.implicits._
    val pages = CorpusGen.pages(60)
    val warcDir = freshRoot("graft-wet-in-")
    WarcGen.writeFiles(warcDir, pages, perFile = 20, gzipped = true)
    val wetDir = freshRoot("graft-wet-out-")

    WetExport.run(spark, warcDir, wetDir)

    // conversion records are not pages: the default read mode sees none
    assert(spark.read.format("warc").load(wetDir).count() == 0)

    val wet = spark.read.format("warc").option("all_records", "true")
      .load(wetDir).collect()
    assert(wet.forall(_.getString(2) == "conversion"), "non-conversion record")
    assert(wet.forall(_.getString(3) == "text/plain"), "wrong content type")
    val got = wet.map(r => (r.getString(0), r.getTimestamp(1).getTime,
      new String(r.getAs[Array[Byte]](4), "UTF-8"))).sorted.toSeq

    // oracle: the kernel's text export on the same pages, completed only
    // (the output_format the job must force regardless of caller options)
    val direct = ExtractKernel.extract(spark.createDataset(pages),
        ConversionOptions(outputFormat = OutputFormat.Text))(spark)
      .collect()
      .filter(_.status == "completed")
      .map(r => (r.url, r.warc_ts.getTime, r.content)).sorted.toSeq
    assert(got.nonEmpty && got == direct)
  }

  test("wet from table: committed extractions re-publish without recompute") {
    val s = spark
    import s.implicits._
    val pages = CorpusGen.pages(40)
    val root = freshRoot("graft-wet-table-")
    val cfg = graft.pipeline.ExtractJob.Config(root, "wet-run", numBuckets = 8,
      options = ConversionOptions(outputFormat = OutputFormat.Text))
    graft.pipeline.ExtractJob.run(spark, spark.createDataset(pages), cfg)
    val table = new graft.table.LineageTable(root, 8)
    val wetDir = freshRoot("graft-wet-table-out-")

    WetExport.fromTable(spark, table, wetDir)

    val got = spark.read.format("warc").option("all_records", "true")
      .load(wetDir).collect()
      .map(r => (r.getString(0), new String(r.getAs[Array[Byte]](4), "UTF-8")))
      .sorted.toSeq
    val want = table.readLatest(spark, versionCol = "warc_ts")
      .where(org.apache.spark.sql.functions.col("status") === "completed")
      .select("url", "content").collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(got.nonEmpty && got == want)
  }

  test("sink job_uid: a replayed write replaces its own segments exactly") {
    val s = spark
    import s.implicits._
    val dir = freshRoot("graft-wet-uid-")
    val ts = new java.sql.Timestamp(1735689600000L)
    def df(n: Int) = (0 until n).map(i => (s"https://u$i.example/", ts,
      "conversion", "text/plain", s"body $i".getBytes("UTF-8")))
      .toDF("url", "warc_ts", "record_type", "content_type", "html")

    def count() = spark.read.format("warc").option("all_records", "true")
      .load(dir).count()

    df(10).repartition(2).write.format("warc").mode("append")
      .option("job_uid", "run1-b0").save(dir)
    assert(count() == 10)
    // the replay: same uid -> same final names -> replaced, not duplicated
    df(10).repartition(2).write.format("warc").mode("append")
      .option("job_uid", "run1-b0").save(dir)
    assert(count() == 10)
    // a DIFFERENT logical job appends alongside
    df(10).repartition(2).write.format("warc").mode("append")
      .option("job_uid", "run1-b1").save(dir)
    assert(count() == 20)
    // unsafe uid is rejected loudly before anything writes
    val ex = intercept[Exception](df(1).write.format("warc").mode("append")
      .option("job_uid", "a/b").save(dir))
    assert(ex.getMessage.contains("filename-safe") ||
      Option(ex.getCause).exists(_.getMessage.contains("filename-safe")), ex.getMessage)
  }

  test("sink job_uid: a replay with fewer partitions leaves no stale segments") {
    val s = spark
    import s.implicits._
    val dir = freshRoot("graft-wet-uid2-")
    val ts = new java.sql.Timestamp(1735689600000L)
    def df(n: Int) = (0 until n).map(i => (s"https://u$i.example/", ts,
      "conversion", "text/plain", s"body $i".getBytes("UTF-8")))
      .toDF("url", "warc_ts", "record_type", "content_type", "html")
    df(12).repartition(4).write.format("warc").mode("append")
      .option("job_uid", "runX-b0").save(dir)
    // the replay of the SAME logical job lands with less parallelism
    df(12).repartition(1).write.format("warc").mode("append")
      .option("job_uid", "runX-b0").save(dir)
    val files = new java.io.File(dir).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).filter(_.endsWith(".warc.gz"))
    assert(files.length == 1, files.mkString(","))
    assert(spark.read.format("warc").option("all_records", "true")
      .load(dir).count() == 12)
  }

  test("streaming wet: streamRunId reuse against published data fails loud") {
    val pages = CorpusGen.pages(20)
    val warcDir = freshRoot("graft-wet-reuse-in-")
    val wetDir = freshRoot("graft-wet-reuse-out-")
    WarcGen.writeFiles(warcDir, pages, perFile = 10, gzipped = true)
    graft.streaming.StreamingExtract.runWarcToWet(spark, warcDir, wetDir,
      freshRoot("graft-wet-reuse-cp1-"),
      streamRunId = "wet-r").awaitTermination(120000)
    val c1 = spark.read.format("warc").option("all_records", "true")
      .load(wetDir).count()
    assert(c1 > 0)
    // force batchIds to restart below the high-water mark: MORE input
    // through a FRESH checkpoint under the SAME streamRunId (its batch 0
    // would overwrite the published wet-r-b0 segments with different data)
    WarcGen.writeFiles(warcDir, CorpusGen.pages(40).drop(20), perFile = 10,
      gzipped = true, startIndex = 5)
    val ex = intercept[Exception] {
      graft.streaming.StreamingExtract.runWarcToWet(spark, warcDir, wetDir,
        freshRoot("graft-wet-reuse-cp2-"),
        streamRunId = "wet-r").awaitTermination(120000)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("reusing this streamRunId")), msgs(ex).mkString(" | "))
    // the published data is untouched
    assert(spark.read.format("warc").option("all_records", "true")
      .load(wetDir).count() == c1)
  }

  test("streaming warc -> wet: delta-only, exactly-once across restarts") {
    val s = spark
    import s.implicits._
    val pages = CorpusGen.pages(40)
    val (first, rest) = pages.splitAt(25)
    val warcDir = freshRoot("graft-wet-stream-in-")
    val wetDir = freshRoot("graft-wet-stream-out-")
    val cp = freshRoot("graft-wet-stream-cp-")
    WarcGen.writeFiles(warcDir, first, perFile = 10, gzipped = true)

    graft.streaming.StreamingExtract.runWarcToWet(spark, warcDir, wetDir, cp)
      .awaitTermination(120000)
    val c1 = spark.read.format("warc").option("all_records", "true")
      .load(wetDir).count()
    assert(c1 > 0)

    // restart with NO new input: nothing republishes
    graft.streaming.StreamingExtract.runWarcToWet(spark, warcDir, wetDir, cp)
      .awaitTermination(120000)
    assert(spark.read.format("warc").option("all_records", "true")
      .load(wetDir).count() == c1)

    // new crawl segments appear; restart converts ONLY the delta
    WarcGen.writeFiles(warcDir, rest, perFile = 10, gzipped = true, startIndex = 10)
    graft.streaming.StreamingExtract.runWarcToWet(spark, warcDir, wetDir, cp)
      .awaitTermination(120000)
    val got = spark.read.format("warc").option("all_records", "true")
      .load(wetDir).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime,
        new String(r.getAs[Array[Byte]](4), "UTF-8"))).sorted.toSeq

    // stream == batch parity: the full corpus through the batch job
    val direct = ExtractKernel.extract(spark.createDataset(pages),
        ConversionOptions(outputFormat = OutputFormat.Text))(spark)
      .collect()
      .filter(_.status == "completed")
      .map(r => (r.url, r.warc_ts.getTime, r.content)).sorted.toSeq
    assert(got == direct)
  }

  test("wet export appends: a re-export never clobbers prior segments") {
    val pages = CorpusGen.pages(30)
    val warcDir = freshRoot("graft-wet-in2-")
    WarcGen.writeFiles(warcDir, pages, perFile = 10, gzipped = true)
    val wetDir = freshRoot("graft-wet-out2-")

    WetExport.run(spark, warcDir, wetDir,
      // caller's markdown options must not leak into the WET payload
      ConversionOptions(outputFormat = OutputFormat.Markdown))
    val first = spark.read.format("warc").option("all_records", "true")
      .load(wetDir).count()
    WetExport.run(spark, warcDir, wetDir)
    val second = spark.read.format("warc").option("all_records", "true")
      .load(wetDir).count()
    assert(first > 0 && second == 2 * first, s"$first -> $second")
  }
}
