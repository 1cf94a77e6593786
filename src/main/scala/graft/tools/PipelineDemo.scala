package graft.tools

import graft.gen.CorpusGen
import graft.pipeline.{ExtractJob, GraftSession}
import graft.queries.{CurationQueries, TrainingDataQueries}
import graft.table.LineageTable
import org.apache.spark.sql.functions._

/** End-to-end training-data pipeline: crawl table → resumable extraction
  * job → lineage-table read-back → a `documents`-shaped table → the
  * curation family (quality filter, exact + substring dedup, sequence
  * packing) — demonstrating that the extraction output feeds every
  * curation/dedup operator UNCHANGED (the same `documents.parquet`
  * contract the driver oracles run against).
  *
  * sbt "runMain graft.tools.PipelineDemo [nPages]"
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(2000)
    val spark = GraftSession.local(8)
    val root = java.nio.file.Files.createTempDirectory("graft-pipeline-").toString
    val demoDir = run(spark, n, root)
    println(s"pipeline root=$root documents=$demoDir")
    spark.stop()
  }

  /** Runs the full chain with its job table under `root`; returns the
    * documents dir. Shared with PipelineE2ESpec. */
  def run(spark: org.apache.spark.sql.SparkSession, n: Int, root: String): String = {
    import spark.implicits._

    // 1. resumable extraction over the crawl table (2+ waves → staging path)
    val pages = spark.createDataset(CorpusGen.pages(n))(implicitly)
    val cfg = ExtractJob.Config(root, runId = "pipe", numBuckets = 16, bucketsPerWave = 8)
    val report = ExtractJob.run(spark, pages, cfg)
    println(s"[1/4] extract: $report")

    // 2. read back through the snapshot; project to the documents contract
    //    (doc_id, text, lang, source, n_chars) — source = crawl site
    val table = new LineageTable(root, cfg.numBuckets)
    val completed = table.read(spark).where(col("status") === "completed")
    val docs = completed
      .select(col("url"), col("content").as("text"))
      .withColumn("lang", lit("en"))
      .withColumn("source", regexp_extract(col("url"), "https://([^./]+)\\.", 1))
      .withColumn("n_chars", length(col("text")))
      // hash ids, not row_number over a global window (which would force a
      // single-partition sort at scale); deterministic and order-free
      .withColumn("doc_id", xxhash64(col("url")))
      .select("doc_id", "text", "lang", "source", "n_chars")
    val demoDir = s"$root/curated"
    docs.write.mode("overwrite").parquet(s"$demoDir/documents.parquet")
    println(s"[2/4] documents table: ${docs.count()} rows")

    // 3. curation over the extracted corpus — the SAME operators the
    //    driver oracles run against testdata
    val kept = TrainingDataQueries.qCorpusFilter(spark, demoDir).where(col("keep"))
    val dupGroups = TrainingDataQueries.qDedupExact(spark, demoDir).where(col("n_docs") > 1)
    val dupWindows = CurationQueries.qDedupSubstring(spark, demoDir).where(col("n_dup_windows") > 0)
    println(s"[3/4] curation: kept=${kept.count()} exactDupGroups=${dupGroups.count()} " +
      s"docsWithDupWindows=${dupWindows.count()}")

    // 4. pack what survived into training bins
    val packed = CurationQueries.qPackSequences(spark, demoDir)
    val bins = packed.agg(max(col("bin_last"))).head().getLong(0) + 1
    println(s"[4/4] packing: ${packed.count()} docs into >=$bins bins/source-group")
    demoDir
  }
}
