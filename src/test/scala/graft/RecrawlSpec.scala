package graft

import graft.gen.CorpusGen
import graft.model.Page
import graft.pipeline.{ExtractJob, ExtractKernel, Recrawl}
import graft.table.LineageTable
import org.scalatest.funsuite.AnyFunSuite

/** The recurring-crawl loop end-to-end: crawl A extracted in full, crawl B
  * diffed against A at content-digest granularity, ONLY the delta
  * re-extracted, results appended merge-on-read. Pins:
  *   1. the delta is exactly the added|changed set (kernel work counted
  *      via the appended snapshot's changesSince rows);
  *   2. readLatest(warc_ts) serves: unchanged urls from crawl A's rows,
  *      changed urls re-extracted with content byte-identical to a direct
  *      kernel run on crawl B's page, added urls present, gone urls
  *      retained (crawl absence is weak death evidence);
  *   3. the diff itself never moves payloads (digest-only join).
  */
class RecrawlSpec extends AnyFunSuite with TempRoots {

  private lazy val spark = SparkTestBase.spark

  private def ds(pages: Seq[Page]) = {
    val s = spark
    import s.implicits._
    spark.createDataset(pages)(implicitly)
  }

  private def laterTs(p: Page): java.sql.Timestamp =
    new java.sql.Timestamp(p.warc_ts.getTime + 86400000L)

  test("recrawl: delta-only extraction, merged latest-wins read") {
    val root = freshRoot("graft-recrawl-")
    // crawl A: 60 urls (CorpusGen repeats every 37th url as a re-crawl;
    // keep only the latest per url so the baseline is already deduped)
    val a = CorpusGen.pages(60).groupBy(_.url).values.map(_.maxBy(_.warc_ts.getTime)).toSeq
    val aUrls = a.map(_.url).toSet

    // crawl B: urls hashing to %10==7 are GONE; %10==3 are CHANGED (donor
    // html from a different page, newer warc_ts); 8 brand-new urls ADDED;
    // the rest identical (same html, same warc_ts)
    def slot(p: Page): Int = math.abs(p.url.hashCode) % 10
    val donors = CorpusGen.pages(200).drop(120)
    val changed = a.filter(slot(_) == 3).zipWithIndex.map { case (p, i) =>
      p.copy(html = donors(i).html, text = donors(i).text, warc_ts = laterTs(p))
    }
    val same = a.filter(p => slot(p) != 3 && slot(p) != 7)
    val added = CorpusGen.pages(300).drop(292) // 8 pages, urls disjoint from A
    assert(added.forall(p => !aUrls.contains(p.url)))
    val gone = a.filter(slot(_) == 7)
    assert(changed.nonEmpty && gone.nonEmpty && same.nonEmpty, "corpus must exercise all statuses")
    val b = same ++ changed ++ added

    // full extraction of crawl A
    val cfgA = ExtractJob.Config(root, runId = "crawlA", numBuckets = 8, bucketsPerWave = 8)
    val repA = ExtractJob.run(spark, ds(a), cfgA)
    val table = new LineageTable(root, 8)

    // the diff classifies exactly as constructed
    val statuses = Recrawl.diff(ds(a), ds(b)).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(statuses.values.count(_ == "changed") == changed.size)
    assert(statuses.values.count(_ == "added") == added.size)
    assert(statuses.values.count(_ == "gone") == gone.size)
    assert(statuses.values.count(_ == "same") == same.size)

    // recrawl: extract only the delta, append
    val cfgB = ExtractJob.Config(root, runId = "crawlB", numBuckets = 8, bucketsPerWave = 8)
    val repB = Recrawl.run(spark, ds(a), ds(b), cfgB)

    // kernel work = exactly the delta (the appended snapshot's new rows)
    val deltaRows = table.changesSince(spark, repA.snapshotId, Some(repB.snapshotId))
    assert(deltaRows.count() == (changed.size + added.size).toLong)
    val deltaUrls = deltaRows.select("url").collect().map(_.getString(0)).toSet
    assert(deltaUrls == (changed.map(_.url) ++ added.map(_.url)).toSet)

    // merged read: one row per url, gone urls retained
    val latest = table.readLatest(spark, versionCol = "warc_ts")
    val byUrl = latest.selectExpr("url", "content", "warc_ts").collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getTimestamp(2)))).toMap
    assert(byUrl.keySet == aUrls ++ added.map(_.url))

    // changed urls: content equals a direct kernel run over crawl B's page
    changed.foreach { p =>
      val direct = ExtractKernel.extract(ds(Seq(p)), graft.model.ConversionOptions())(spark)
        .collect().head
      assert(byUrl(p.url)._1 == direct.content, s"changed ${p.url} not re-extracted")
      assert(byUrl(p.url)._2 == p.warc_ts, s"changed ${p.url} must resolve to crawl B")
    }
    // unchanged urls: still crawl A's rows (timestamps untouched)
    same.foreach(p => assert(byUrl(p.url)._2 == p.warc_ts, s"same ${p.url} re-extracted"))

    // the diff plan: payloads reduce to digests under the join
    val plan = Recrawl.diff(ds(a), ds(b)).queryExecution.optimizedPlan.toString
    assert(plan.contains("Join FullOuter, (url"), plan)
    assert(!plan.linesIterator.takeWhile(!_.contains("Join")).mkString.contains("html#"),
      s"payload column above the join:\n$plan")

    // retention: tombstone gone urls — visible reads drop them with NO
    // data scan (task id = name-UUID of the url), history stays readable
    val retired = Recrawl.retireGone(table, ds(a), ds(b))
    assert(retired == gone.size.toLong)
    val visible = table.readLatest(spark, versionCol = "warc_ts")
      .select("url").collect().map(_.getString(0)).toSet
    assert(visible == (aUrls -- gone.map(_.url)) ++ added.map(_.url))
    // time travel to the pre-recrawl snapshot still serves crawl A intact
    assert(table.readAt(spark, repA.snapshotId).count() == a.size.toLong)

    // resurrection: a RETIRED url reappears in crawl C — its re-extraction
    // carries the same deterministic task id, so the append commit must
    // clear the tombstone or the fresh row stays invisible forever (and
    // compact() would physically drop it)
    val back = gone.head
    val c = b :+ back
    Recrawl.run(spark, ds(b), ds(c),
      ExtractJob.Config(root, runId = "crawlC", numBuckets = 8, bucketsPerWave = 8))
    val visAfterC = table.readLatest(spark, versionCol = "warc_ts")
      .select("url").collect().map(_.getString(0)).toSet
    assert(visAfterC.contains(back.url), "reappeared url still tombstoned")
    // the OTHER retired urls stay retired
    gone.tail.foreach(p => assert(!visAfterC.contains(p.url), s"${p.url} resurrected spuriously"))
    // and compaction keeps the resurrected row while dropping the retired
    table.compact(spark, resolveLatestBy = Some("warc_ts"))
    val visCompact = table.readVisible(spark).select("url")
      .collect().map(_.getString(0)).toSet
    assert(visCompact.contains(back.url))
    gone.tail.foreach(p => assert(!visCompact.contains(p.url)))
    // compaction with latest-per-url resolution collapses the
    // merge-on-read duplicates: one physical row per visible url
    assert(table.readVisible(spark).count() == visCompact.size.toLong)

    // zero-delta recrawl (steady state: crawl D == crawl C) with a LIVE
    // tombstone (compact cleared the earlier set, so retire once more —
    // without one the resurrection pass short-circuits on ts.isEmpty and
    // the schema-inference guard would go unexercised): must commit
    // cleanly (empty wave dirs carry only _SUCCESS — the resurrection
    // pass must not attempt schema inference) and change nothing beyond
    // the fresh retirement
    val retiredAgain = added.head
    table.deleteTask(graft.pipeline.ExtractKernel.taskIdFor(retiredAgain.url))
    assert(table.tombstones.nonEmpty)
    Recrawl.run(spark, ds(c), ds(c),
      ExtractJob.Config(root, runId = "crawlD", numBuckets = 8, bucketsPerWave = 8))
    val visAfterD = table.readLatest(spark, versionCol = "warc_ts")
      .select("url").collect().map(_.getString(0)).toSet
    assert(visAfterD == visCompact - retiredAgain.url)
    // the zero-delta run wrote no rows, so the live tombstone survives
    assert(table.tombstones.nonEmpty)
  }

  test("mass retirement refuses driver-side tombstones") {
    val root = freshRoot("graft-recrawl-mass-")
    val table = new LineageTable(root, 8)
    val a = CorpusGen.pages(40).groupBy(_.url).values.map(_.maxBy(_.warc_ts.getTime)).toSeq
    val ex = intercept[IllegalArgumentException](
      Recrawl.retireGone(table, ds(a), ds(Seq.empty[Page]), maxRetire = 10))
    assert(ex.getMessage.contains("compaction"))
  }
}
