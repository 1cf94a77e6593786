package graft

import graft.queries.{CurationQueries, TrainingDataQueries}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end composition: crawl → ExtractJob → lineage read-back →
  * documents contract → curation operators. Asserts the extraction
  * output feeds the curation family unchanged and every stage has
  * signal. */
class PipelineE2ESpec extends AnyFunSuite with TempRoots {

  private lazy val spark = SparkTestBase.spark

  test("extraction output drives quality filter, dedup and packing end-to-end") {
    val demoDir = graft.tools.PipelineDemo.run(spark, 400, freshRoot("graft-pipeline-"))

    val docs = spark.read.parquet(s"$demoDir/documents.parquet")
    val nDocs = docs.count()
    assert(nDocs > 300, s"expected most of 400 pages to yield documents, got $nDocs")
    // documents contract columns present and typed
    assert(docs.columns.sorted.toSeq == Seq("doc_id", "lang", "n_chars", "source", "text"))

    val filtered = TrainingDataQueries.qCorpusFilter(spark, demoDir)
    assert(filtered.count() == nDocs)
    val kept = filtered.where(col("keep")).count()
    assert(kept > 0 && kept <= nDocs)

    val packed = CurationQueries.qPackSequences(spark, demoDir)
    assert(packed.count() == nDocs)
    // duplicate-crawl urls collapsed inside the job: doc_id = url hash, so
    // the documents table must hold one row per url
    assert(docs.select("doc_id").distinct().count() == nDocs,
      "job dedup regressed: duplicate urls survived into the documents table")
  }
}
