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

    // exact-version tie breaks deterministically by task_id desc
    val d3 = s"$root/data/run3"
    frame(Seq(("t9", "u1", 0, "completed", 4L, ts(1)))).write.parquet(d3)
    t.appendCommit(Seq(d3), Nil, "run3")
    val u1 = t.readLatest(spark).collect()
      .collectFirst { case r if r.getAs[String]("url") == "u1" => r.getAs[String]("task_id") }
    assert(u1.contains("t9")) // same created_at as t1; t9 > t1 lexicographically

    // resolving compaction materializes the collapsed rows
    t.compact(spark, resolveLatestBy = Some(("url", "created_at")))
    assert(t.read(spark).count() == 3)
    assert(spark.read.parquet(t.currentDataDirs.head).count() == 3)
  }
}
