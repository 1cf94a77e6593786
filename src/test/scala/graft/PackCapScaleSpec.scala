package graft

import graft.queries.CurationQueries
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The last two prose-only scale paths made code (the r3 semdedup / r4
  * ccnet pattern): sequence packing as a two-level parallel prefix scan
  * and domain capping behind a salted per-bucket pre-top-cap. Both are
  * EXACT — identical rows to their single-window shapes by construction
  * (monotone group ids compose prefix sums; a global top-cap winner is a
  * winner of its own salt bucket) — so the driver oracle checks the scale
  * path itself. This spec pins:
  *   1. flag-on == flag-off row sets on the real sf0.001 corpus;
  *   2. the same on skew-shaped synthetics (one dominant source; group
  *      edges straddled, groupSize far below the corpus span);
  *   3. the plan shapes: pack's per-row window partitions by (source, grp)
  *      and the offset rejoin exists; domain cap runs two rank windows,
  *      the first salted.
  */
class PackCapScaleSpec extends AnyFunSuite with TempRoots {

  private lazy val spark = SparkTestBase.spark
  private val sf = "/root/testdata/sf0.001"

  private def rowSet(df: DataFrame): Set[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet

  // ------------------------------------------------------------- packing

  test("pack: grouped two-level scan equals single window on sf0.001") {
    // groupSize 64 ≪ the corpus doc_id span, so offsets really compose
    val grouped = CurationQueries.qPackSequences(spark, sf, grouped = true, groupSize = 64L)
    val single = CurationQueries.qPackSequences(spark, sf, grouped = false)
    assert(rowSet(grouped) == rowSet(single))
  }

  test("pack: one dominant source, docs straddling group edges") {
    import spark.implicits._
    val tmp = freshRoot("packscale")
    // 400 docs in ONE source with ragged token counts; doc_ids dense so
    // groupSize=8 yields 50 groups; token counts prime-ish so bins land
    // off group boundaries (cut-straddle must cross group edges too)
    val docs = (0 until 400).map { i =>
      val words = Seq.fill(3 + (i * 7) % 23)("w").mkString(" ")
      (i.toLong, words, "en", "hot.example", words.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val grouped = CurationQueries.qPackSequences(spark, tmp, binTokens = 64,
      grouped = true, groupSize = 8L)
    val single = CurationQueries.qPackSequences(spark, tmp, binTokens = 64,
      grouped = false)
    assert(rowSet(grouped) == rowSet(single))
    // the corpus is built to exercise straddling — assert non-vacuous
    assert(grouped.where("spans_cut").count() > 0)
  }

  test("pack: grouped plan partitions the per-row window by (source, grp)") {
    val plan = CurationQueries.qPackSequences(spark, sf, grouped = true, groupSize = 64L)
      .queryExecution.executedPlan.toString
    // the row-level running sum must be keyed by grp (parallel within a
    // source), and the offsets must come back through a keyed join
    assert(plan.contains("grp"), s"no group key in plan:\n$plan")
    val windowSpecs = "windowspecdefinition\\(".r.findAllIn(plan).size
    assert(windowSpecs >= 2, s"expected local + offset windows:\n$plan")
  }

  // ------------------------------------------------------- crawl frontier

  test("frontier: grouped rank equals single window; wave cap holds") {
    val grouped = CurationQueries.qCrawlFrontier(spark, sf, grouped = true, groupSize = 64L)
    val single = CurationQueries.qCrawlFrontier(spark, sf, grouped = false)
    assert(rowSet(grouped) == rowSet(single))
    // politeness property: no (host, wave) exceeds perWave urls, and
    // in-wave slots are distinct 0..k-1
    val rows = grouped.collect().map(r =>
      (r.getString(1), r.getLong(3), r.getLong(4)))
    rows.groupBy(t => (t._1, t._2)).foreach { case ((h, w), g) =>
      assert(g.length <= 4, s"host $h wave $w over cap")
      assert(g.map(_._3).toSet.size == g.length, s"host $h wave $w slot collision")
      assert(g.forall(t => t._3 >= 0 && t._3 < 4))
    }
  }

  test("frontier: hot host splits across groups and still ranks exactly") {
    import spark.implicits._
    val tmp = freshRoot("frontierscale")
    // all 1000 urls land on ONE host (doc_id multiples of 50 -> host site0)
    val docs = (0 until 1000).map { i =>
      (i.toLong * 50, "t", "en", "src", 1L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val grouped = CurationQueries.qCrawlFrontier(spark, tmp, grouped = true, groupSize = 16L)
    val single = CurationQueries.qCrawlFrontier(spark, tmp, grouped = false)
    assert(rowSet(grouped) == rowSet(single))
    // ranks are the dense 1..1000 sequence in doc_id order
    val ranks = grouped.orderBy("doc_id").collect().map(_.getLong(2))
    assert(ranks.toSeq == (1L to 1000L))
  }

  // ---------------------------------------------------------- domain cap

  test("domain cap: salted prefilter equals plain window on sf0.001") {
    val pre = CurationQueries.qDomainCap(spark, sf, prefilter = true)
    val plain = CurationQueries.qDomainCap(spark, sf, prefilter = false)
    assert(rowSet(pre) == rowSet(plain))
  }

  test("domain cap: dominant domain with duplicate n_chars ties") {
    import spark.implicits._
    val tmp = freshRoot("capscale")
    // 2000 docs in one hot domain (many ties on n_chars so the doc_id
    // tiebreak is load-bearing), 10 in a cold one; cap 15 < hot size
    val docs = ((0 until 2000).map { i =>
      (i.toLong, "t", "en", "hot.example", (i % 17).toLong)
    } ++ (3000 until 3010).map { i =>
      (i.toLong, "t", "en", "cold.example", (i % 5).toLong)
    }).toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val pre = CurationQueries.qDomainCap(spark, tmp, prefilter = true)
    val plain = CurationQueries.qDomainCap(spark, tmp, prefilter = false)
    assert(rowSet(pre) == rowSet(plain))
    assert(pre.where("source = 'hot.example'").count() == 15)
    assert(pre.where("source = 'cold.example'").count() == 10)
  }

  test("domain cap: prefilter plan runs a salted rank before the final rank") {
    val plan = CurationQueries.qDomainCap(spark, sf, prefilter = true)
      .queryExecution.executedPlan.toString
    assert(plan.contains("salt"), s"no salted pre-rank in plan:\n$plan")
    val rowNums = "row_number\\(\\)".r.findAllIn(plan).size
    assert(rowNums >= 2, s"expected salted + final rank windows:\n$plan")
  }
}
