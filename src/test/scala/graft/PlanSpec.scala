package graft

import graft.queries.RelationalQueries
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits: the properties that matter at 100 TB — predicate
  * pushdown into parquet, column pruning, broadcast of small dims,
  * whole-stage codegen spans. */
class PlanSpec extends AnyFunSuite with TempRoots {

  private lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.01"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filters reach the parquet scan (PushedFilters)") {
    val plan = planOf(RelationalQueries.qFilterProject(spark, dir))
    assert(plan.contains("PushedFilters: [IsNotNull(event_type), IsNotNull(value), EqualTo(event_type,purchase)") ||
      plan.contains("EqualTo(event_type,purchase)"), s"pushdown missing:\n$plan")
  }

  test("column pruning: sha query reads only (doc_id, text)") {
    val plan = planOf(RelationalQueries.qSha256(spark, dir))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text"), readSchema)
    assert(!readSchema.contains("lang") && !readSchema.contains("n_chars"),
      s"over-read: $readSchema")
  }

  test("metadata-only query over pages never reads the html column") {
    implicit val s = spark
    import s.implicits._
    val tmp = freshRoot("graft-prune-")
    spark.createDataset(graft.gen.CorpusGen.pages(50))(implicitly).write.mode("overwrite").parquet(tmp)
    val df = spark.read.parquet(tmp).select("url", "lang").where("lang = 'en'")
    val readSchema = planOf(df).linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("html"), s"html not pruned: $readSchema")
  }

  test("small dims broadcast in the join query") {
    val plan = planOf(RelationalQueries.qJoinStats(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("LSH dedup joins are hash equi-joins, never cartesian/BNLJ") {
    val plan = planOf(graft.queries.TrainingDataQueries.qDedupSimhash(spark, dir))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in LSH dedup:\n$plan")
  }

  test("emb-cosine dedup: band equi-join, candidate rejoin is equi too") {
    val plan = planOf(graft.queries.TrainingDataQueries.qDedupEmbCosine(spark, dir))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in emb-cosine dedup:\n$plan")
    // candidate rejoin is PINNED, not AQE-dependent: pairs and the
    // semi-filtered payload table are materialized at checkpoint time (the
    // broadcast-semi corpus filter runs there), so the final plan joins two
    // checkpointed candidate-bounded RDDs — the corpus never appears in it
    assert(plan.contains("Scan ExistingRDD") && plan.contains("BroadcastHashJoin"),
      s"candidate rejoin not over checkpointed candidate tables:\n$plan")
    assert(!plan.contains("FileScan"), s"corpus scan leaked into the rejoin plan:\n$plan")
  }

  test("multi-probe ANN LSH: 17-key probe side is broadcast (no corpus shuffle)") {
    val plan = planOf(graft.queries.TrainingDataQueries.qAnnLsh(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), s"probe keys not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"))
    // corpus side feeds the join from the scan — no Exchange between the
    // embeddings FileScan and the join
    val joinIdx = plan.indexOf("BroadcastHashJoin")
    assert(plan.substring(joinIdx).contains("FileScan parquet"),
      s"corpus scan should feed the broadcast join directly:\n$plan")
  }

  test("range join broadcasts the band dim (no shuffle of the fact side)") {
    val plan = planOf(RelationalQueries.qRangeJoin(spark, dir))
    assert(plan.contains("BroadcastNestedLoopJoin"), s"band dim not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"))
    // exactly one exchange expected: the post-aggregation sort/partial-final
    // plumbing — the fact scan itself must not shuffle before the join
    val joinIdx = plan.indexOf("BroadcastNestedLoopJoin")
    val preJoin = plan.substring(joinIdx)
    assert(preJoin.contains("FileScan parquet"), "fact scan should feed the join directly")
  }

  test("custdist left join preserves customers and aggregates twice") {
    val plan = planOf(RelationalQueries.qCustdist(spark, dir))
    assert(plan.contains("LeftOuter") || plan.contains("BroadcastHashJoin") ||
      plan.contains("SortMergeJoin"), s"no outer join found:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("decontamination: eval gram set broadcast, train side never shuffles text") {
    val plan = planOf(graft.queries.CurationQueries.qDecontaminate(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), s"eval grams not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
    // nothing after the scan carries the text column (only doc_id + gram hashes)
    val postScan = plan.linesIterator.filterNot(_.contains("Scan parquet")).mkString("\n")
    assert(!postScan.contains("Exchange hashpartitioning(text"), "text must not shuffle")
  }

  test("substring/incremental/segment dedup: digest-only equi-joins") {
    for (df <- Seq(graft.queries.CurationQueries.qDedupSubstring(spark, dir),
                   graft.queries.CurationQueries.qDedupIncremental(spark, dir),
                   graft.queries.CurationQueries.qDedupSegments(spark, dir))) {
      val plan = planOf(df)
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"non-equi join:\n$plan")
    }
  }

  test("sequence packing: window partitions by source (no single global window)") {
    val plan = planOf(graft.queries.CurationQueries.qPackSequences(spark, dir))
    assert(plan.contains("hashpartitioning(source"), s"window not partitioned by source:\n$plan")
  }

  test("semdedup: checkpointed assignment feeds equi-joins, corpus never rescanned") {
    val plan = planOf(graft.queries.TrainingDataQueries.qSemDedup(spark, dir))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in semdedup:\n$plan")
    // the medoid-assignment UDF pass is checkpointed once; every join in
    // the final plan reads the checkpointed RDD, never the embeddings file
    assert(plan.contains("Scan ExistingRDD"), s"assignment not checkpointed:\n$plan")
    assert(!plan.contains("FileScan"), s"corpus scan leaked past the checkpoint:\n$plan")
  }

  test("url normalize: one codegen'd projection reading ONLY doc_id (no UDF, no text)") {
    val plan = planOf(graft.queries.CurationQueries.qUrlNormalize(spark, dir))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && !readSchema.contains("text"),
      s"over-read for a doc_id-derived query: $readSchema")
    // map-only: the ONLY exchange is the final presentation sort — the
    // canonicalization itself is chained Projects straight over the scan
    assert(plan.linesIterator.count(_.trim.startsWith("+- Exchange")) <= 1,
      s"per-row string pipeline should not shuffle:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"UDF in the per-row hot path:\n$plan")
  }

  test("hits: score pulls are hash equi-joins; only the 1-row L1 total is nested-loop") {
    val plan = planOf(graft.queries.GraphQueries.qHits(spark, dir, iters = 1))
    assert(!plan.contains("CartesianProduct"), s"cartesian in hits:\n$plan")
    // the crossJoin(broadcast(tot)) 1-row dims are the ONLY BNLJs; every
    // per-node join must stay a hash equi-join (edge-sized shuffles)
    val bnlj = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    val hashJoins = plan.linesIterator.count(l =>
      l.contains("BroadcastHashJoin") || l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin"))
    assert(bnlj <= 2, s"more BNLJs than the two 1-row totals:\n$plan")
    assert(hashJoins >= 2, s"score joins are not equi-joins:\n$plan")
  }

  test("hybrid search: legs are distributed top-k; rank windows run post-limit") {
    val plan = planOf(graft.queries.TrainingDataQueries.qHybridSearch(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"), s"legs not distributed top-k:\n$plan")
    assert(!plan.contains("CartesianProduct"))
    // physical tree prints parents first: every Window must sit ABOVE a
    // TakeOrderedAndProject child — the corpus is never globally sorted
    val windowIdx = plan.indexOf("Window")
    assert(windowIdx >= 0, s"no Window in hybrid plan:\n$plan")
    assert(plan.substring(windowIdx).contains("TakeOrderedAndProject"),
      s"rank window not fed by a top-k leg:\n$plan")
  }

  test("nb classify: model joins broadcast; corpus text never shuffles") {
    val plan = planOf(graft.queries.CurationQueries.qNbClassify(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), s"model/vocab not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"))
    // the only BNLJ allowed is the bounded labels x vocab dense-model build
    // (20 x 256 rows); the corpus-sized frames join hash-equi on word/label
    val postScan = plan.linesIterator.filterNot(_.contains("Scan parquet")).mkString("\n")
    assert(!postScan.contains("Exchange hashpartitioning(text"), "text must not shuffle")
  }

  test("quality family: map-only queries read exactly (doc_id, text), no UDF") {
    // gopher + unicode-clean are pure per-row pipelines: pruned scan,
    // builtin kernels only (the native nfc_normalize expression is not a
    // ScalaUDF), and no exchange beyond the presentation sort
    for (df <- Seq(graft.queries.QualityQueries.qGopherQuality(spark, dir),
                   graft.queries.QualityQueries.qUnicodeClean(spark, dir))) {
      val plan = planOf(df)
      val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
      assert(readSchema.contains("doc_id") && readSchema.contains("text"), readSchema)
      assert(!readSchema.contains("lang") && !readSchema.contains("source") &&
        !readSchema.contains("n_chars"), s"over-read: $readSchema")
      assert(!plan.contains("ScalaUDF"), s"UDF in a builtin-only pipeline:\n$plan")
      assert(plan.linesIterator.count(_.trim.startsWith("+- Exchange")) <= 1,
        s"per-row pipeline should not shuffle beyond the final sort:\n$plan")
    }
  }

  test("pq ann: shortlist rejoin broadcasts, never a corpus-side shuffle join") {
    val plan = planOf(graft.queries.TrainingDataQueries.qAnnPq(spark, dir))
    assert(!plan.contains("CartesianProduct"), s"cartesian in pq:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"shortlist rejoin must broadcast the <=40-row side:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no corpus-shuffling join may appear in the pq plan:\n$plan")
  }

  test("char entropy: map-only (no exchange before the presentation sort), builtin-only") {
    val plan = planOf(graft.queries.QualityQueries.qCharEntropy(spark, dir))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text"), readSchema)
    assert(!readSchema.contains("lang") && !readSchema.contains("n_chars"),
      s"over-read: $readSchema")
    assert(!plan.contains("ScalaUDF"), s"UDF in a builtin-only pipeline:\n$plan")
    // the whole histogram+entropy computation happens inside the row: the
    // only exchange allowed is the final doc_id presentation sort — a
    // per-character explode/groupBy shape would add aggregation exchanges
    assert(plan.linesIterator.count(_.trim.startsWith("+- Exchange")) <= 1,
      s"per-row pipeline should not shuffle beyond the final sort:\n$plan")
    assert(!plan.contains("Generate explode"), s"no per-character explode allowed:\n$plan")
  }

  test("dsir: weight table broadcasts, selection is TakeOrdered (never a global sort)") {
    val plan = planOf(graft.queries.CurationQueries.qDsir(spark, dir))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrderedAndProject:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the 1024-row weight table must broadcast into the tf join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no corpus-shuffling join may appear in the dsir plan:\n$plan")
  }

  test("aggregation plans use whole-stage codegen") {
    val df = RelationalQueries.qAggStats(spark, dir)
    df.collect() // finalize THIS df's AQE plan (count() would re-plan)
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("*("), s"no codegen stars in final AQE plan:\n$finalPlan")
  }
}
