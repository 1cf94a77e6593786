package graft

import graft.gen.CorpusGen
import graft.streaming.StreamingExtract
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming: incremental extraction with checkpointed
  * exactly-once appends; watermarked windowed aggregation. */
class StreamingSpec extends AnyFunSuite with TempRoots {

  private lazy val spark = SparkTestBase.spark

  test("file-stream extraction: incremental batches, no reprocessing across restarts") {
    val s = spark
    import s.implicits._
    val in = freshRoot("graft-stream-in-")
    val out = freshRoot("graft-stream-out-")
    val cp = freshRoot("graft-stream-cp-")

    // batch 1: rows 0..39
    spark.createDataset(CorpusGen.pages(40))(implicitly)
      .write.mode("append").parquet(in)
    val q1 = StreamingExtract.run(spark, in, out, cp)
    q1.awaitTermination(120000)
    val n1 = spark.read.parquet(out).count()
    val distinct1 = spark.read.parquet(out).select("url").distinct().count()
    assert(n1 == 40, s"expected all 40 rows extracted, got $n1") // stream keeps dups (no global dedup)
    assert(spark.read.parquet(out).where("status = 'completed'").count() == n1)

    // batch 2: 20 more rows — restart from the same checkpoint; only the
    // new file may be processed
    spark.createDataset((40 until 60).map(i => CorpusGen.pageFor(i.toLong)))(implicitly)
      .write.mode("append").parquet(in)
    val q2 = StreamingExtract.run(spark, in, out, cp)
    q2.awaitTermination(120000)
    val n2 = spark.read.parquet(out).count()
    assert(n2 == 60, s"restart must process only the delta (no re-extraction): got $n2")
    assert(distinct1 <= n2)
  }

  test("flatMapGroupsWithState sessionizer: gap splits sessions, state carries across batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    implicit val sp = spark
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingExtract.{Ev, sessionize}
    val mem = MemoryStream[Ev]
    val out = sessionize(mem.toDS(), gapMs = 60000L) // 1-minute gap
    val q = out.writeStream.format("memory").queryName("sessions").outputMode("append").start()
    val t0 = 1735689600000L
    // batch 1: user 1 -> two events 10s apart (one open session)
    mem.addData(Ev(1, new java.sql.Timestamp(t0), 1.0), Ev(1, new java.sql.Timestamp(t0 + 10000), 2.0))
    q.processAllAvailable()
    assert(spark.sql("select * from sessions").count() == 0) // still open
    // batch 2: user 1 event 2 minutes later -> closes the first session
    mem.addData(Ev(1, new java.sql.Timestamp(t0 + 130000), 5.0))
    q.processAllAvailable()
    val rows = spark.sql("select user_id, n_events, session_value, duration_ms from sessions").collect()
    q.stop()
    assert(rows.length == 1)
    assert(rows(0).getLong(1) == 2 && rows(0).getDouble(2) == 3.0 && rows(0).getLong(3) == 10000L)
  }

  test("sessionizer: cross-batch late event cannot drag the session backwards") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    implicit val sp = spark
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingExtract.{Ev, sessionize}
    val mem = MemoryStream[Ev]
    val q = sessionize(mem.toDS(), gapMs = 60000L)
      .writeStream.format("memory").queryName("late_sessions").outputMode("append").start()
    val t0 = 1735689600000L
    mem.addData(Ev(7, new java.sql.Timestamp(t0 + 100000), 1.0))
    q.processAllAvailable()
    // late event 50s BEFORE the session start arrives in a later batch
    // (NoTimeout admits it): it must extend the session downward, not
    // move `last` backwards
    mem.addData(Ev(7, new java.sql.Timestamp(t0 + 50000), 2.0))
    q.processAllAvailable()
    // an event exactly gapMs after the TRUE last event continues the session
    mem.addData(Ev(7, new java.sql.Timestamp(t0 + 100000 + 60000), 3.0))
    q.processAllAvailable()
    assert(spark.sql("select * from late_sessions").count() == 0, "session wrongly split")
    // an event far past the gap closes it: one session, all 3 events,
    // duration from the late minimum to the on-time maximum
    mem.addData(Ev(7, new java.sql.Timestamp(t0 + 400000), 0.0))
    q.processAllAvailable()
    val rows = spark.sql("select n_events, session_value, duration_ms from late_sessions").collect()
    q.stop()
    assert(rows.length == 1)
    assert(rows(0).getLong(0) == 3 && rows(0).getDouble(1) == 6.0)
    assert(rows(0).getLong(2) == 110000L, s"duration ${rows(0).getLong(2)} (must be last-start, never negative)")
  }

  test("streaming exact dedup: re-crawls dropped within and across batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[graft.model.Page]
    val q = StreamingExtract.dedupStream(mem.toDF())
      .select("url", "text_md5")
      .writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    val p0 = CorpusGen.pageFor(0L)
    val p1 = CorpusGen.pageFor(1L)
    def later(p: graft.model.Page, ms: Long) =
      p.copy(warc_ts = new java.sql.Timestamp(p.warc_ts.getTime + ms))
    mem.addData(p0, p1, later(p0, 1000)) // same-batch duplicate
    q.processAllAvailable()
    mem.addData(later(p0, 2000), CorpusGen.pageFor(2L)) // cross-batch duplicate
    q.processAllAvailable()
    val rows = spark.sql("select url from dedup_out").collect()
    q.stop()
    assert(rows.length == 3, s"expected p0 once + p1 + p2, got ${rows.mkString(",")}")
    assert(rows.map(_.getString(0)).distinct.length == 3)
  }

  test("streaming exact dedup: state is horizon-bounded — post-watermark re-crawl re-admitted") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[graft.model.Page]
    val q = StreamingExtract.dedupStream(mem.toDF(), watermark = "1 second")
      .select("url")
      .writeStream.format("memory").queryName("dedup_horizon").outputMode("append").start()
    val p0 = CorpusGen.pageFor(0L)
    // all event times anchored to p0's crawl ts (pageFor(i) timestamps
    // vary per page and could leave the watermark behind p0 otherwise)
    def at(p: graft.model.Page, url: String, ms: Long) =
      p.copy(url = url, warc_ts = new java.sql.Timestamp(p0.warc_ts.getTime + ms))
    mem.addData(p0)
    q.processAllAvailable()
    // unrelated far-future traffic advances the watermark past p0's digest
    mem.addData(at(CorpusGen.pageFor(1L), CorpusGen.pageFor(1L).url, 300000))
    q.processAllAvailable()
    // one more batch: eviction executes at commit with the advanced
    // watermark (state cleanup lags the watermark by a batch)
    mem.addData(at(CorpusGen.pageFor(2L), CorpusGen.pageFor(2L).url, 600000))
    q.processAllAvailable()
    // identical content re-crawled long after the horizon: state for its
    // digest was evicted (dropDuplicatesWithinWatermark), so it re-emits —
    // plain dropDuplicates would keep the digest forever (unbounded state)
    mem.addData(at(p0, "u://recrawl", 601000))
    q.processAllAvailable()
    val urls = spark.sql("select url from dedup_horizon").collect().map(_.getString(0))
    q.stop()
    assert(urls.count(_ == "u://recrawl") == 1, s"got ${urls.mkString(",")}")
    assert(urls.length == 4)
  }

  test("streaming curation pipeline: extract -> quality filter -> in-stream exact dedup") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    implicit val sp = spark
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[graft.model.Page]
    val q = StreamingExtract.curationStream(mem.toDS())
      .select("url", "n_words", "document_type")
      .writeStream.format("memory").queryName("curated").outputMode("append").start()
    val base = 1735689600000L
    val goodHtml =
      "<html><body><p>" + (1 to 60).map(i => s"alpha$i").mkString(" ") + "</p></body></html>"
    def page(url: String, html: String, ms: Long) =
      graft.model.Page(url, new java.sql.Timestamp(base + ms), html.getBytes("UTF-8"), "", "en")
    mem.addData(
      page("u://good", goodHtml, 0),
      page("u://junk", "<html><body><p>hi</p></body></html>", 1000), // 1 word -> word_count drop
    )
    q.processAllAvailable()
    // byte-identical re-crawl in a later batch -> deduped in-stream
    mem.addData(page("u://dup", goodHtml, 2000))
    q.processAllAvailable()
    val rows = spark.sql("select url, n_words, document_type from curated").collect()
    q.stop()
    assert(rows.map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSeq ==
      Seq(("u://good", 60, "html")), s"got ${rows.mkString(",")}")
  }

  test("streaming near-dup: simhash-close re-crawl flagged across batches, state bounded") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[graft.model.Page]
    val q = StreamingExtract.nearDedupStream(mem.toDF())(spark)
      .writeStream.format("memory").queryName("neardup_out").outputMode("append").start()
    val base = 1735689600000L
    def page(url: String, text: String, ms: Long) =
      graft.model.Page(url, new java.sql.Timestamp(base + ms), Array.emptyByteArray, text, "en")
    val t0 = "the quick brown fox jumps over the lazy dog " * 20
    mem.addData(
      page("u://a", t0, 0),
      page("u://b", "completely different content about spark physical plans and shuffles " * 15, 1000),
    )
    q.processAllAvailable()
    // near-identical re-crawl (one word changed) arrives in a later batch
    mem.addData(page("u://a2", t0.replaceFirst("lazy", "sleepy"), 2000))
    q.processAllAvailable()
    val hits = spark.sql("select distinct url, dup_of from neardup_out").collect()
      .map(r => (r.getString(0), r.getString(1)))
    q.stop()
    assert(hits.toSet == Set(("u://a2", "u://a")), s"got ${hits.mkString(",")}")
  }

  test("streaming near-dup: state beyond the horizon is evicted (old dup not flagged)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[graft.model.Page]
    // tiny horizon + watermark so eviction happens within the test
    val q = StreamingExtract.nearDedupStream(mem.toDF(), horizonMs = 1000L,
        watermarkDelay = "1 second")(spark)
      .writeStream.format("memory").queryName("neardup_evict").outputMode("append").start()
    val base = 1735689600000L
    def page(url: String, text: String, ms: Long) =
      graft.model.Page(url, new java.sql.Timestamp(base + ms), Array.emptyByteArray, text, "en")
    val t0 = "alpha beta gamma delta epsilon zeta eta theta " * 25
    mem.addData(page("u://old", t0, 0))
    q.processAllAvailable()
    // unrelated traffic far in the future advances the watermark past the horizon
    mem.addData(page("u://mid", "totally different words about join orders and buckets " * 20, 60000))
    q.processAllAvailable()
    // the near-identical re-crawl arrives after u://old's entries expired
    mem.addData(page("u://late", t0.replaceFirst("alpha", "omega"), 61000))
    q.processAllAvailable()
    val hits = spark.sql("select url, dup_of from neardup_evict").collect()
      .map(r => (r.getString(0), r.getString(1)))
    q.stop()
    assert(!hits.contains(("u://late", "u://old")),
      s"expired state must not produce hits, got ${hits.mkString(",")}")
  }

  test("streaming near-dup: late-but-above-watermark doc still matches entries a horizon-overshoot would have evicted") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[graft.model.Page]
    // horizon 10 s but watermark lags 30 s: eviction may only look at the
    // watermark, not at maxTs, or the late path below silently loses hits
    val q = StreamingExtract.nearDedupStream(mem.toDF(), horizonMs = 10000L,
        watermarkDelay = "30 seconds")(spark)
      .writeStream.format("memory").queryName("neardup_late").outputMode("append").start()
    val base = 1735689600000L
    def page(url: String, text: String, ms: Long) =
      graft.model.Page(url, new java.sql.Timestamp(base + ms), Array.emptyByteArray, text, "en")
    val t0 = "the quick brown fox jumps over the lazy dog " * 20
    mem.addData(page("u://x", t0, 0))
    q.processAllAvailable()
    // lands in x's buckets 11 s later — outside the horizon (no match), but
    // under maxTs-based eviction it would drop x's entry
    mem.addData(page("u://y", t0.replaceFirst("quick", "rapid"), 11000))
    q.processAllAvailable()
    // late doc at t=8 s (above watermark = 11 s − 30 s): within x's horizon
    mem.addData(page("u://z", t0.replaceFirst("lazy", "sleepy"), 8000))
    q.processAllAvailable()
    val hits = spark.sql("select url, dup_of from neardup_late").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    q.stop()
    assert(hits.contains(("u://z", "u://x")),
      s"late doc must still match the un-evictable entry, got ${hits.mkString(",")}")
    assert(!hits.contains(("u://y", "u://x")), "11 s gap is outside the 10 s horizon")
  }

  test("streaming minhash near-dup flags a near-identical re-crawl, estimate tracks Jaccard") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[graft.model.Page]
    val q = StreamingExtract.minhashDedupStream(mem.toDF())(spark)
      .writeStream.format("memory").queryName("minhash_out").outputMode("append").start()
    val base = 1735689600000L
    def page(url: String, text: String, ms: Long) =
      graft.model.Page(url, new java.sql.Timestamp(base + ms), Array.emptyByteArray, text, "en")
    val t0 = (1 to 120).map(i => s"word$i").mkString(" ")
    mem.addData(
      page("u://a", t0, 0),
      page("u://b", (200 to 320).map(i => s"token$i").mkString(" "), 1000),
    )
    q.processAllAvailable()
    // near-identical re-crawl (one word changed, J ≈ 0.96) in a later batch
    mem.addData(page("u://a2", t0.replaceFirst("word60", "changed"), 2000))
    q.processAllAvailable()
    val hits = spark.sql("select distinct url, dup_of, jaccard_est from minhash_out").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    q.stop()
    assert(hits.map(h => (h._1, h._2)).toSet == Set(("u://a2", "u://a")), s"got ${hits.mkString(",")}")
    // agreement fraction must estimate the true J ≈ 0.95 (±8/128 slack)
    assert(hits.forall(h => h._3 > 0.85 && h._3 <= 1.0), s"estimate off: ${hits.mkString(",")}")
  }

  test("streaming minhash near-dup: state beyond the horizon is evicted") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[graft.model.Page]
    val q = StreamingExtract.minhashDedupStream(mem.toDF(), horizonMs = 1000L,
        watermarkDelay = "1 second")(spark)
      .writeStream.format("memory").queryName("minhash_evict").outputMode("append").start()
    val base = 1735689600000L
    def page(url: String, text: String, ms: Long) =
      graft.model.Page(url, new java.sql.Timestamp(base + ms), Array.emptyByteArray, text, "en")
    val t0 = (1 to 120).map(i => s"word$i").mkString(" ")
    mem.addData(page("u://old", t0, 0))
    q.processAllAvailable()
    mem.addData(page("u://mid", (500 to 620).map(i => s"other$i").mkString(" "), 60000))
    q.processAllAvailable()
    mem.addData(page("u://late", t0.replaceFirst("word60", "omega"), 61000))
    q.processAllAvailable()
    val hits = spark.sql("select url, dup_of from minhash_evict").collect()
      .map(r => (r.getString(0), r.getString(1)))
    q.stop()
    assert(!hits.contains(("u://late", "u://old")),
      s"expired state must not produce hits, got ${hits.mkString(",")}")
  }

  test("watermarked windowed aggregation over a rate-like memory stream") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val agg = StreamingExtract.eventsWindowedCounts(df)
    val q = agg.writeStream.format("memory").queryName("winagg").outputMode("update").start()
    val base = 1735689600000L
    mem.addData(
      (new java.sql.Timestamp(base), "view", 1.0),
      (new java.sql.Timestamp(base + 60000), "view", 2.0),
      (new java.sql.Timestamp(base + 400000), "purchase", 5.0),
    )
    q.processAllAvailable()
    val rows = spark.sql("select event_type, n, value_sum from winagg order by event_type").collect()
    q.stop()
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq(("purchase", 1L, 5.0), ("view", 2L, 3.0)))
  }

  test("streaming link harvest: windowed per-host in-degree from real anchor extraction") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[graft.model.Page]
    val q = StreamingExtract.outlinkStream(mem.toDS())
      .select("dst_host", "inlinks")
      .writeStream.format("memory").queryName("outlinks").outputMode("update").start()
    val base = 1735689600000L
    def page(i: Int, html: String) = graft.model.Page(
      s"https://src$i.example/p$i.html", new java.sql.Timestamp(base + i * 1000),
      s"<html><body>$html</body></html>".getBytes("UTF-8"), "", "en")
    mem.addData(
      page(1, """<a href="https://hub.example/a">x</a><a href="/self">y</a>"""),
      page(2, """<a href="https://hub.example/b">z</a><a href="javascript:void(0)">no</a>"""),
      page(3, """no links at all"""),
    )
    q.processAllAvailable()
    val rows = spark.sql("select dst_host, inlinks from outlinks order by dst_host").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    q.stop()
    // hub.example gets 2 inbound; the relative link resolves to the page's own host
    assert(rows == Seq(("hub.example", 2L), ("src1.example", 1L)))
  }

  test("streaming classifier: batch-trained model scores extracted docs in-stream") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // train batch on a label-separable corpus (the CurationSpec fixture)
    val train = Seq(
      (0L, "apple banana apple banana", "srcA"),
      (1L, "banana apple banana apple", "srcA"),
      (2L, "carrot date carrot date", "srcB"),
      (3L, "date carrot date carrot", "srcB"),
    ).toDF("doc_id", "text", "source")
    val model = graft.queries.CurationQueries.nbModelCollect(train, vocabSize = 256)
    // serve stream: html pages whose EXTRACTED content carries the vocab
    val mem = MemoryStream[graft.model.Page]
    val q = StreamingExtract.classifierStream(mem.toDS(), model)(spark)
      .select("url", "predicted")
      .writeStream.format("memory").queryName("classified").outputMode("append").start()
    val base = 1735689600000L
    def page(url: String, body: String, ms: Long) = graft.model.Page(
      url, new java.sql.Timestamp(base + ms),
      s"<html><body><p>$body</p></body></html>".getBytes("UTF-8"), "", "en")
    mem.addData(
      page("u://fruit", "apple banana apple", 0),
      page("u://veg", "carrot date carrot", 1000),
    )
    q.processAllAvailable()
    mem.addData(page("u://none", "zebra yak xylophone", 2000)) // no vocab hit -> prior fallback
    q.processAllAvailable()
    val rows = spark.sql("select url, predicted from classified order by url").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    q.stop()
    // priors tie at 2/4 each -> fallback is the lexicographically-first label
    assert(rows == Seq(("u://fruit", "srcA"), ("u://none", "srcA"), ("u://veg", "srcB")))
  }

  test("streaming gopher gate: stream decisions equal the batch rule application") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val base = 1735689600000L
    def page(url: String, body: String, ms: Long) = graft.model.Page(
      url, new java.sql.Timestamp(base + ms),
      s"<html><body><p>$body</p></body></html>".getBytes("UTF-8"), "", "en")
    // long page passes every rule (>=50 words, stopwords, no symbols);
    // short page fails the word-count bound
    val longBody = ("the quick brown fox jumps over the lazy dog " * 6).trim
    val pages = Seq(
      page("u://long", longBody, 0),
      page("u://short", "too short to pass", 1000),
    )

    val mem = MemoryStream[graft.model.Page]
    val q = StreamingExtract.gopherGateStream(mem.toDS())(spark)
      .writeStream.format("memory").queryName("gated").outputMode("append").start()
    mem.addData(pages: _*)
    q.processAllAvailable()
    val streamRows = spark.sql(
      "select url, n_words, mean_wl_r, frac_alpha_r, n_stop, sym_r, pass from gated order by url")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getLong(4), r.getDouble(5), r.getBoolean(6))).toSeq
    q.stop()

    // batch twin: same extraction kernel, same shared rule columns
    import org.apache.spark.sql.functions._
    val batchRows = graft.queries.QualityQueries.gopherMetrics(
      graft.pipeline.ExtractKernel.extract(spark.createDataset(pages), graft.model.ConversionOptions())(spark)
        .where(col("status") === "completed" && length(col("content")) > 0)
        .select(col("url"), lower(col("content")).as("gtext")))
      .select(col("url"), col("n_words"), col("mean_wl_r"), col("frac_alpha_r"),
        col("n_stop"), col("sym_r"), col("pass"))
      .orderBy(col("url"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getLong(4), r.getDouble(5), r.getBoolean(6))).toSeq

    assert(streamRows == batchRows)
    val byUrl = streamRows.map(r => r._1 -> r._7).toMap
    assert(byUrl("u://long") && !byUrl("u://short"))
  }
}
