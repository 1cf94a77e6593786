package graft

import graft.queries.TrainingDataQueries
import org.scalatest.funsuite.AnyFunSuite

/** Connected-components machinery behind q_dedup_cluster. The path-graph
  * cases exercise transitivity the real corpus never does (its near-dup
  * components are cliques), so the iterative min-label/pointer-jumping
  * loop is proven on the shapes it exists for. */
class ClusterSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    TrainingDataQueries.connectedComponents(edges.toDF("u", "v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("path graph collapses to one component labeled by its min node") {
    // 20-hop chain: min-label needs transitive propagation, and the label
    // must travel the full diameter (worst case for the loop)
    val chain = (0L until 20L).map(i => (i, i + 1))
    val labels = cc(chain)
    assert(labels.keySet == (0L to 20L).toSet)
    assert(labels.values.toSet == Set(0L))
  }

  test("disjoint components keep separate min labels; ids need not be dense") {
    val edges = Seq((100L, 7L), (7L, 42L), (9000L, 8999L))
    val labels = cc(edges)
    assert(labels == Map(100L -> 7L, 7L -> 7L, 42L -> 7L, 9000L -> 8999L, 8999L -> 8999L))
  }

  test("duplicate and reversed edges are harmless; empty input yields empty output") {
    val labels = cc(Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L)))
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    assert(cc(Seq.empty).isEmpty)
  }

  test("CC loop truncates lineage per round (plan must not grow with iterations)") {
    import spark.implicits._
    // a 20-hop chain needs several propagation rounds; without the per-round
    // localCheckpoint the final plan would nest one join-tree per round
    val chain = (0L until 20L).map(i => (i, i + 1))
    val labels = TrainingDataQueries.connectedComponents(chain.toDF("u", "v"))
    val planLines = labels.queryExecution.logical.treeString.linesIterator.size
    assert(planLines <= 3,
      s"expected a checkpointed-RDD scan, got a $planLines-line plan:\n${labels.queryExecution.logical.treeString}")
  }

  test("reliable checkpoint dir, when configured, yields identical labels") {
    // On a cluster, localCheckpoint blocks are executor-local and
    // non-replicated: lose one executor mid-loop and the job dies with no
    // recompute path. connectedComponents switches to reliable
    // checkpoint() whenever a checkpoint dir is configured — same labels,
    // durable blocks.
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty, "precondition: local-mode default")
    val chain = (0L until 20L).map(i => (i, i + 1))
    val without = cc(chain)
    // the shared session keeps this checkpoint dir after the suite (see
    // below), so it lives under Spark's driver temp dir, which Spark
    // deletes at shutdown
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(org.apache.spark.SparkFiles.getRootDirectory()), "cc-ckpt").toString
    sc.setCheckpointDir(dir)
    val withDir = cc(chain)
    assert(withDir == without)
    // the reliable path actually wrote checkpoint data
    val wrote = scala.util.Using.resource(java.nio.file.Files.walk(java.nio.file.Paths.get(dir))) {
      s => s.anyMatch(p => java.nio.file.Files.isRegularFile(p))
    }
    assert(wrote, "reliable checkpoint dir unused")
    // SparkContext has no public unset; later CC runs in this shared
    // session simply keep reliable-checkpoint semantics (tiny at test
    // scale, and exactly what a cluster session would do)
  }

  test("unconverged loop fails loudly instead of returning wrong labels") {
    // no real input exceeds the default 2^48-diameter budget, so force the
    // condition with maxRounds=1 on a chain that needs several rounds: the
    // labels would disagree with the transitive-closure oracle, and that
    // must surface as an exception, never a silent wrong answer
    import spark.implicits._
    val chain = (0L until 20L).map(i => (i, i + 1))
    val ex = intercept[IllegalStateException] {
      TrainingDataQueries.connectedComponents(chain.toDF("u", "v"), maxRounds = 1)
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("q_dedup_cluster groups the sf0.001 near-dup pairs consistently") {
    val rows = TrainingDataQueries.qDedupCluster(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty, "corpus has near-dup pairs, so clusters must exist")
    // every cluster_id is a member of its own cluster, is its min doc_id,
    // and cluster_size matches the actual member count
    val byCluster = rows.groupBy(_.getLong(1))
    byCluster.foreach { case (cid, members) =>
      val ids = members.map(_.getLong(0)).toSet
      assert(ids.contains(cid) && ids.min == cid)
      assert(members.forall(_.getLong(2) == members.length.toLong))
      assert(members.length >= 2, "singletons are excluded")
    }
    // consistency with the pair query: every verified pair lands in one cluster
    val pairs = TrainingDataQueries.qDedupMinhashLsh(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val label = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.foreach { case (a, b) => assert(label(a) == label(b)) }
  }
}
