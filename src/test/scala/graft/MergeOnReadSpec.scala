package graft

import graft.table.LineageTable
import org.scalatest.funsuite.AnyFunSuite

/** appendCommit / readLatest / resolving compaction — the merge-on-read
  * path for re-crawled urls, and its interaction with incremental reads. */
class MergeOnReadSpec extends AnyFunSuite with TempRoots {
  private lazy val spark = SparkTestBase.spark

  private def frame(rows: Seq[(String, String, Int, String, Long, java.sql.Timestamp)]) = {
    import spark.implicits._
    rows.toDF("task_id", "url", "_bucket", "status", "processing_time_ms", "created_at")
      .withColumn("content", org.apache.spark.sql.functions.concat_ws(" ", $"task_id", $"url"))
  }

  private def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000)

  test("append commit + latest-wins read + resolving compaction; changesSince stays valid") {
    val root = freshRoot("mor")
    val t = new LineageTable(root, 4)

    val d1 = s"$root/data/run1"
    frame(Seq(
      ("t1", "u1", 0, "completed", 5L, ts(1)),
      ("t2", "u2", 1, "completed", 6L, ts(1)),
    )).write.parquet(d1)
    val s1 = t.commitSnapshot(Seq(d1), Nil, "run1")

    // re-crawl u2 (newer) and add u3
    val d2 = s"$root/data/run2"
    frame(Seq(
      ("t3", "u2", 1, "completed", 7L, ts(9)),
      ("t4", "u3", 2, "failed", 8L, ts(9)),
    )).write.parquet(d2)
    val s2 = t.appendCommit(Seq(d2), Nil, "run2")

    // physical read holds all 4 rows; resolved read collapses u2 to t3
    assert(t.read(spark).count() == 4)
    val latest = t.readLatest(spark).collect()
      .map(r => r.getAs[String]("url") -> r.getAs[String]("task_id")).toMap
    assert(latest == Map("u1" -> "t1", "u2" -> "t3", "u3" -> "t4"))

    // append-only at the dir level -> incremental read delivers exactly run2
    val added = t.changesSince(spark, s1, Some(s2)).collect().map(_.getAs[String]("task_id")).toSet
    assert(added == Set("t3", "t4"))

    // exact-version tie breaks deterministically by content desc
    val d3 = s"$root/data/run3"
    frame(Seq(("t9", "u1", 0, "completed", 4L, ts(1)))).write.parquet(d3)
    t.appendCommit(Seq(d3), Nil, "run3")
    val u1 = t.readLatest(spark).collect()
      .collectFirst { case r if r.getAs[String]("url") == "u1" => r.getAs[String]("task_id") }
    assert(u1.contains("t9")) // same created_at as t1; "t9 u1" > "t1 u1"

    // resolving compaction materializes the collapsed rows
    t.compact(spark, resolveLatestBy = Some("created_at"))
    assert(t.read(spark).count() == 3)
    assert(spark.read.parquet(t.currentDataDirs.head).count() == 3)
  }

  test("captures of a url that tie on warc_ts resolve alike whichever commit came first") {
    import spark.implicits._
    // both captures of a url carry its one task id; u1's tie on created_at
    // too (content decides), u2's do not (the later extraction wins)
    val a = Seq(("tu1", "u1", 0, "completed", 1L, ts(9), ts(5), "alpha"),
      ("tu2", "u2", 1, "completed", 1L, ts(8), ts(5), "zulu"))
    val b = Seq(("tu1", "u1", 0, "completed", 2L, ts(9), ts(5), "bravo"),
      ("tu2", "u2", 1, "completed", 2L, ts(9), ts(5), "yankee"))
    val want = Map("u1" -> "bravo", "u2" -> "yankee")
    for ((first, second) <- Seq((a, b), (b, a))) {
      val root = freshRoot("mor-tie")
      val t = new LineageTable(root, 4)
      for ((rows, i) <- Seq(first, second).zipWithIndex) {
        val d = s"$root/data/run$i"
        rows.toDF("task_id", "url", "_bucket", "status", "processing_time_ms", "created_at", "warc_ts", "content")
          .write.parquet(d)
        t.appendCommit(Seq(d), Nil, s"run$i")
      }
      def contents(df: org.apache.spark.sql.DataFrame) = df.select("url", "content").as[(String, String)].collect().toMap
      assert(contents(t.readLatest(spark, versionCol = "warc_ts")) == want, s"read, ${first.head._8} committed first")
      t.compact(spark, resolveLatestBy = Some("warc_ts"))
      assert(contents(t.read(spark)) == want, s"compaction, ${first.head._8} committed first")
      assert(t.read(spark).count() == 2)
    }
  }
}
