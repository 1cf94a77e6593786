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
