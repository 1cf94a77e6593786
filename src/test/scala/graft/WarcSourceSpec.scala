package graft

import graft.gen.{CorpusGen, WarcGen}
import graft.model.{ConversionOptions, Page}
import graft.pipeline.ExtractKernel
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The WARC DataSource V2: byte-exact roundtrip through real .warc.gz
  * files, warcinfo skipping, multi-member gzip, column pruning, and
  * end-to-end byte-identity of extraction over WARC-read pages vs the
  * in-memory originals. */
class WarcSourceSpec extends AnyFunSuite with TempRoots {

  private lazy val spark = SparkTestBase.spark

  private def tempDir(tag: String): String =
    freshRoot(s"graft-warc-$tag-")

  test("roundtrip: pages -> 3 gz files -> warc source, urls/ts/bytes exact") {
    val pages = CorpusGen.pages(120)
    val dir = tempDir("rt")
    val files = WarcGen.writeFiles(dir, pages, perFile = 40, gzipped = true)
    assert(files.length == 3)

    val df = spark.read.format("warc").load(dir)
    assert(df.schema.fieldNames.toSeq ==
      Seq("url", "warc_ts", "record_type", "content_type", "html"))
    val rows = df.collect()
    assert(rows.length == 120, "warcinfo leaders must be skipped by default")
    assert(rows.forall(_.getString(2) == "response"))

    // the corpus contains duplicate-crawl rows (same url, different ts),
    // so compare as multisets of (url, ts, payload-sha, content_type)
    def sha(b: Array[Byte]): String =
      java.security.MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString
    val got = rows.map(r => (r.getString(0), r.getTimestamp(1).getTime,
      sha(r.getAs[Array[Byte]](4)), r.getString(3))).sorted.toSeq
    val want = pages.map(p => (p.url, p.warc_ts.getTime, sha(p.html), "text/html")).sorted
    assert(got == want)
  }

  test("all_records option surfaces the warcinfo leaders") {
    val pages = CorpusGen.pages(10)
    val dir = tempDir("all")
    WarcGen.writeFiles(dir, pages, perFile = 5, gzipped = false)
    val all = spark.read.format("warc").option("all_records", "true").load(dir).collect()
    assert(all.count(_.getString(2) == "warcinfo") == 2)
    assert(all.count(_.getString(2) == "response") == 10)
  }

  test("multi-member gzip: records from both members are read") {
    val pages = CorpusGen.pages(30)
    val dir = tempDir("mm")
    val path = s"$dir/multi.warc.gz"
    WarcGen.writeMultiMemberGz(path, pages.take(18), pages.drop(18))
    val n = spark.read.format("warc").load(path).count()
    assert(n == 30, s"multi-member gz must yield all records, got $n")
  }

  test("column pruning reaches the reader (url-only scan plans a pruned schema)") {
    val pages = CorpusGen.pages(20)
    val dir = tempDir("prune")
    WarcGen.writeFiles(dir, pages, perFile = 20, gzipped = true)
    val df = spark.read.format("warc").load(dir).select("url")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema") || plan.contains("WarcScan"), plan)
    // the scan's actual read schema is the pruned one
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty)
    assert(scans.head.scan.readSchema().fieldNames.toSeq == Seq("url"))
    assert(df.collect().map(_.getString(0)).sorted.toSeq == pages.map(_.url).sorted)
  }

  test("corruption: permissive keeps the records before the fault, failfast throws") {
    val pages = CorpusGen.pages(12)
    val dir = tempDir("corrupt")
    // whole-file bytes, then cut inside the 9th record's payload
    val whole = WarcGen.warcBytes(pages, withWarcinfo = false)
    val offsets = pages.scanLeft(0)((acc, p) => acc + WarcGen.responseRecord(p).length)
    val cut = offsets(8) + WarcGen.responseRecord(pages(8)).length / 2
    val fos = new java.io.FileOutputStream(s"$dir/trunc.warc")
    try fos.write(whole, 0, cut) finally fos.close()

    val permissive = spark.read.format("warc").load(s"$dir/trunc.warc").collect()
    assert(permissive.length == 8, s"expected the 8 complete records, got ${permissive.length}")

    val ex = intercept[Exception] {
      spark.read.format("warc").option("mode", "FAILFAST").load(s"$dir/trunc.warc").count()
    }
    assert(ex.toString.contains("Exception"), ex.toString)
  }

  test("corruption: a garbage file yields zero rows in permissive mode") {
    val dir = tempDir("garbage")
    val fos = new java.io.FileOutputStream(s"$dir/junk.warc")
    try fos.write(Array.tabulate[Byte](4096)(i => ((i * 131 + 7) % 251).toByte))
    finally fos.close()
    assert(spark.read.format("warc").load(s"$dir/junk.warc").count() == 0)
  }

  test("framing is length-delimited: payload containing fake WARC headers roundtrips") {
    val dir = tempDir("fakehdr")
    val evil = ("<html><body><pre>WARC/1.0\r\nWARC-Type: response\r\n" +
      "Content-Length: 999999\r\n\r\n</pre></body></html>").getBytes("UTF-8")
    val p = Page("https://evil.example/x.html", new java.sql.Timestamp(1735689600000L), evil, "", "en")
    WarcGen.writeFiles(dir, Seq(p), perFile = 1, gzipped = true)
    val rows = spark.read.format("warc").load(dir).collect()
    assert(rows.length == 1)
    assert(java.util.Arrays.equals(rows.head.getAs[Array[Byte]](4), evil))
  }

  test("streaming: growing segment directory, incremental batches, restart replays nothing") {
    val pages = CorpusGen.pages(60)
    val dir = tempDir("stream")
    val cp = tempDir("stream-cp")
    val out = tempDir("stream-out")
    // segment 0 exists before the stream starts
    WarcGen.writeFiles(dir, pages.take(20), perFile = 20, gzipped = true, startIndex = 0)

    def runOnce(): Unit = {
      val q = spark.readStream.format("warc").load(dir)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }

    runOnce()
    assert(spark.read.parquet(out).count() == 20)

    // two more segments arrive with monotonically-later names
    WarcGen.writeFiles(dir, pages.slice(20, 45), perFile = 25, gzipped = true, startIndex = 1)
    WarcGen.writeFiles(dir, pages.drop(45), perFile = 15, gzipped = false, startIndex = 2)
    runOnce()
    val n2 = spark.read.parquet(out).count()
    assert(n2 == 60, s"delta batches must add exactly the new segments: $n2")

    // restart with nothing new: the checkpointed high-water mark replays nothing
    runOnce()
    assert(spark.read.parquet(out).count() == 60, "restart must not re-ingest committed segments")
    // every url arrived exactly once
    assert(spark.read.parquet(out).select("url").distinct().count() ==
      pages.map(_.url).distinct.size)
  }

  test("full crawl pipeline: streaming warc -> extraction -> exactly-once LineageTable") {
    val pages = CorpusGen.pages(40)
    val dir = tempDir("pipe")
    val cp = tempDir("pipe-cp")
    val root = tempDir("pipe-table")
    val table = new graft.table.LineageTable(root, numBuckets = 8)
    WarcGen.writeFiles(dir, pages.take(24), perFile = 12, gzipped = true, startIndex = 0)

    graft.streaming.StreamingExtract.runWarcToTable(spark, dir, table, cp)
      .awaitTermination(120000)
    val n1 = table.read(spark).count()
    assert(n1 == 24, s"first ingest must commit the 24 warc records, got $n1")
    assert(table.read(spark).where("status = 'completed'").count() == n1)
    val snaps1 = table.snapshotIds.size

    // a new segment arrives; restart from the same checkpoint
    WarcGen.writeFiles(dir, pages.drop(24), perFile = 16, gzipped = true, startIndex = 2)
    graft.streaming.StreamingExtract.runWarcToTable(spark, dir, table, cp)
      .awaitTermination(120000)
    assert(table.read(spark).count() == 40, "restart must extract only the new segment")
    assert(table.snapshotIds.size > snaps1)

    // third run with nothing new: no data, no duplicate extraction
    graft.streaming.StreamingExtract.runWarcToTable(spark, dir, table, cp)
      .awaitTermination(120000)
    assert(table.read(spark).count() == 40)
    // extraction content matches the batch kernel byte-for-byte per url+ts
    val fromTable = table.read(spark).select("url", "content").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    import spark.implicits._
    val direct = graft.pipeline.ExtractKernel
      .extract(spark.createDataset(pages), graft.model.ConversionOptions())(spark)
      .select("url", "content").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(fromTable == direct)
  }

  test("write side: WET-style conversion records roundtrip sink -> reader") {
    val s = spark
    import s.implicits._
    val dir = tempDir("wet")
    val ts = new java.sql.Timestamp(1735689600000L)
    val docs = (0 until 20).map(i => (s"https://site$i.example/p$i", ts,
      "conversion", "text/plain", s"extracted text body $i".getBytes("UTF-8")))
    docs.toDF("url", "warc_ts", "record_type", "content_type", "html")
      .repartition(3)
      .write.format("warc").mode("append").save(dir)

    // published segments are final names only (no _tmp leftovers; local-FS
    // .crc checksum dot-files are invisible to the reader's listing)
    val files = new java.io.File(dir).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).sorted
    assert(files.forall(f => f.startsWith("part-") && f.endsWith(".warc.gz")), files.mkString(","))

    // conversion records are not "response": default read mode sees none
    assert(spark.read.format("warc").load(dir).count() == 0)
    val back = spark.read.format("warc").option("all_records", "true").load(dir).collect()
    assert(back.length == 20)
    val got = back.map(r => (r.getString(0), new String(r.getAs[Array[Byte]](4), "UTF-8"),
      r.getString(2), r.getString(3), r.getTimestamp(1).getTime)).sorted.toSeq
    val want = docs.map(d => (d._1, new String(d._5, "UTF-8"), d._3, d._4, ts.getTime)).sorted
    assert(got == want)
  }

  test("write side: response records written by the sink read back as pages") {
    val s = spark
    import s.implicits._
    val pages = CorpusGen.pages(15)
    val dir = tempDir("wrt-resp")
    pages.map(p => (p.url, p.warc_ts, "response", "text/html", p.html))
      .toDF("url", "warc_ts", "record_type", "content_type", "html")
      .write.format("warc").mode("append").save(dir)
    val back = spark.read.format("warc").load(dir).collect()
    assert(back.length == 15)
    def sha(b: Array[Byte]): String =
      java.security.MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString
    val got = back.map(r => (r.getString(0), sha(r.getAs[Array[Byte]](4)))).sorted.toSeq
    val want = pages.map(p => (p.url, sha(p.html))).sorted
    assert(got == want)
  }

  test("write side: two appends to one directory keep BOTH jobs' segments (ADVICE r4)") {
    val s = spark
    import s.implicits._
    val dir = tempDir("app2")
    val ts = new java.sql.Timestamp(1735689600000L)
    def write(lo: Int, hi: Int): Unit =
      (lo until hi).map(i => (s"https://a$i.example/", ts, "conversion", "text/plain",
        s"body $i".getBytes("UTF-8")))
        .toDF("url", "warc_ts", "record_type", "content_type", "html")
        .repartition(2) // same partition ids both jobs — the old fixed names collided
        .write.format("warc").mode("append").save(dir)
    write(0, 10)
    write(10, 25)
    val back = spark.read.format("warc").option("all_records", "true").load(dir)
      .select("url").as[String].collect().sorted.toSeq
    assert(back == (0 until 25).map(i => s"https://a$i.example/").sorted,
      s"second append must not clobber the first (got ${back.length} rows)")
    // and the published names are job-unique part files
    val names = new java.io.File(dir).listFiles().map(_.getName)
      .filterNot(n => n.startsWith(".") || n.startsWith("_"))
    assert(names.length == 4, names.mkString(","))
    assert(names.forall(_.matches("part-\\d{5}-[0-9a-f]{8}\\.warc\\.gz")), names.mkString(","))
  }

  test("write side: sub-millisecond timestamps roundtrip exactly (ADVICE r4)") {
    val s = spark
    import s.implicits._
    val dir = tempDir("micros")
    // 123 µs past the millisecond — the old Timestamp path truncated this
    val micros = 1735689600000123L
    Seq(("https://m.example/", new java.sql.Timestamp(0), "conversion", "text/plain",
      "x".getBytes("UTF-8")))
      .toDF("url", "warc_ts", "record_type", "content_type", "html")
      .withColumn("warc_ts", timestamp_micros(lit(micros)))
      .write.format("warc").mode("append").save(dir)
    val back = spark.read.format("warc").option("all_records", "true").load(dir)
      .select(unix_micros(col("warc_ts"))).as[Long].head()
    assert(back == micros, s"micros must survive the sink: wrote $micros, read $back")
  }

  test("oversized record is skipped alone; the rest of the file survives (ADVICE r4)") {
    val pages = CorpusGen.pages(9)
    val dir = tempDir("big")
    WarcGen.writeFiles(dir, pages, perFile = 9, gzipped = true)
    // every generated page payload is well over 64 bytes, so ALL records
    // exceed the cap...
    val none = spark.read.format("warc").option("max_record_bytes", "64").load(dir).count()
    assert(none == 0)
    // ...while a cap above the largest record admits everything — and in
    // neither case does an oversized record tail-drop its successors
    val sizes = pages.map(p => WarcGen.httpPayload(p.html, "text/html").length)
    val cap = sizes.max
    val mixed = spark.read.format("warc").option("max_record_bytes", cap.toString)
      .load(dir).count()
    assert(mixed == 9L)
    val allButLargest = spark.read.format("warc")
      .option("max_record_bytes", (cap - 1).toString).load(dir).count()
    assert(allButLargest == (9 - sizes.count(_ == cap)).toLong,
      "records after an oversized one must still be read")
  }

  test("pruned read without payload columns skips payload bytes but keeps rows exact") {
    val pages = CorpusGen.pages(40)
    val dir = tempDir("prune")
    WarcGen.writeFiles(dir, pages, perFile = 10, gzipped = true)
    val got = spark.read.format("warc").load(dir)
      .select("url", "record_type").collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(got == pages.map(p => (p.url, "response")).sorted)
    // content_type for HTTP records lives IN the payload — asking for it
    // must still parse the payload head, not return the envelope type
    val ct = spark.read.format("warc").load(dir)
      .select("content_type").distinct().collect().map(_.getString(0)).toSeq
    assert(ct == Seq("text/html"))
  }

  test("driver Hadoop conf reaches executor readers via the snapshot roundtrip") {
    // the executor-visible conf must carry driver-set keys (object-store
    // credentials at scale); a vanilla executor Configuration would not
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("graft.test.fs.marker", "round5")
    try {
      val kvs = graft.sources.WarcSource.confSnapshot(hc)
      val back = graft.sources.WarcSource.confFrom(kvs)
      assert(back.get("graft.test.fs.marker") == "round5")
      assert(back.get("fs.defaultFS") == hc.get("fs.defaultFS"))
      // and a read through the source still works end-to-end with the
      // snapshot-built conf in the reader
      val pages = CorpusGen.pages(6)
      val dir = tempDir("conf")
      WarcGen.writeFiles(dir, pages, perFile = 3, gzipped = true)
      assert(spark.read.format("warc").load(dir).count() == 6)
    } finally hc.unset("graft.test.fs.marker")
  }

  test("extraction over WARC-read pages is byte-identical to in-memory extraction") {
    val s = spark
    import s.implicits._
    val pages = CorpusGen.pages(64)
    val dir = tempDir("e2e")
    WarcGen.writeFiles(dir, pages, perFile = 16, gzipped = true)

    val fromWarc = spark.read.format("warc").load(dir)
      .select(col("url"), col("warc_ts"), col("html"),
        lit("").as("text"), lit("en").as("lang"))
      .as[Page]
    val viaWarc = ExtractKernel.extract(fromWarc, ConversionOptions())(spark)
      .select("url", "status", "content").collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getString(2)))).toMap

    val direct = ExtractKernel.extract(spark.createDataset(pages), ConversionOptions())(spark)
      .select("url", "status", "content").collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getString(2)))).toMap

    assert(viaWarc.keySet == direct.keySet)
    viaWarc.foreach { case (url, (st, content)) =>
      assert((st, content) == direct(url), s"extraction drift via WARC for $url")
    }
  }
}
