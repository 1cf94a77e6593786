package graft.queries

import graft.core.DuckHash
import graft.queries.QueryShapes.{docs, eagerCheckpoint, withTotals}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Link-graph analytics over the corpus — the web-scale operators a
  * Common-Crawl pipeline runs on the hyperlink structure next to the text:
  * edge-list construction and PageRank (Page et al. 1999, "The PageRank
  * Citation Ranking") as iterative keyed DataFrame joins, the same
  * scale discipline as [[TrainingDataQueries.connectedComponents]] (16-byte
  * rank rows shuffle, payloads never do; one eager checkpoint per round
  * keeps the plan flat; reliable checkpoint on a cluster).
  *
  * The `documents` table carries no hyperlinks, so the graph is a
  * DETERMINISTIC md5-derived stand-in (same augmentation discipline as
  * [[CurationQueries.qPiiRedact]]'s synthetic contact lines): each doc u
  * gets 1 + md5_number_lower(u || '_deg') % 3 out-edges targeting
  * md5_number_lower(u || '_t' || i) % n, self-loops dropped, duplicate
  * targets collapsed. Both engines rebuild the identical edge set from the
  * table alone, so PageRank is a FULL-PIPELINE hard check (graph
  * derivation + iteration + convergence state all hash-compared). Real
  * href extraction from the HTML corpus is hard-checked separately
  * (x_links64 over the pinned 64-url set).
  *
  * Cross-engine integer fixed point: ranks live in units of 1e-12
  * (Scale = 10^12 as BIGINT), damping 0.85 is the exact rational 85/100,
  * and every step is integer multiply + truncating divide — positive
  * operands, so Spark's `div` and DuckDB's `//` agree bit-for-bit and the
  * oracle needs no float tolerance. Precision: one truncation loses
  * < 1e-12 of mass per node per step — invisible at round(,4) scale and
  * irrelevant for ranking.
  *
  * 100 TB shape: edges/(node,rank) rows are 16 bytes; each iteration is
  * one keyed shuffle (groupBy dst) sized by the EDGE count, not the
  * corpus bytes; contributions pre-aggregate map-side (sum is
  * associative). Dangling mass (outdeg 0 after self-loop removal —
  * possible only when every sampled target is u itself) is dropped, not
  * redistributed: a deterministic, engine-identical choice documented
  * here rather than the textbook uniform re-spread, which would add a
  * driver-scalar broadcast per round for no test value.
  */
object GraphQueries {

  /** Rank scale: 1.0 of PageRank mass = 10^12 integer units. */
  val Scale = 1000000000000L
  val Iters = 8

  /** The md5-derived edge list (src, dst), distinct, self-loops removed.
    * `n` (corpus size) is a driver scalar from a metadata-cheap count —
    * the same pattern as the IVF medoid modulus. */
  private def edgeList(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id").as("src"))
    val n = d.count()
    val degUdf = udf((u: Long) =>
      1L + java.lang.Long.remainderUnsigned(DuckHash.md5NumberLower(u.toString + "_deg"), 3L))
    val tgtUdf = udf((u: Long, i: Long) =>
      java.lang.Long.remainderUnsigned(DuckHash.md5NumberLower(u.toString + "_t" + i), n))
    d.withColumn("i", explode(sequence(lit(1L), degUdf(col("src")))))
      .select(col("src"), tgtUdf(col("src"), col("i")).as("dst"))
      .where(col("dst") =!= col("src"))
      .distinct()
  }

  /** The derived link graph itself, exposed so the oracle hard-checks the
    * graph construction independently of the PageRank iteration. */
  def qLinkGraph(spark: SparkSession, dir: String): DataFrame =
    edgeList(spark, dir).orderBy(col("src"), col("dst"))

  /** Integer fixed-point PageRank, `iters` synchronous rounds:
    * r0 = Scale/n; r_{k+1}(v) = Scale·0.15/n + 0.85·Σ_{(u,v)∈E} r_k(u)/outdeg(u)
    * with every divide truncating integer division. Output: per-node final
    * rank in 1e-12 units plus outdeg. */
  def qPageRank(spark: SparkSession, dir: String, iters: Int = Iters): DataFrame =
    pageRank(docs(spark, dir).select(col("doc_id").as("node")),
      edgeList(spark, dir), iters)
      .withColumnRenamed("node", "doc_id")
      .orderBy(col("doc_id"))

  /** The iteration core over an arbitrary `(node)` / `(src, dst)` pair —
    * unit-testable against hand-computed fixed points (GraphSpec). */
  def pageRank(nodes: DataFrame, edgesIn: DataFrame, iters: Int): DataFrame = {
    val n = nodes.count()
    // edges + outdeg are reused every round: checkpoint once (reliable on a
    // cluster, local in tests) so no round re-derives them.
    val e = eagerCheckpoint(
      edgesIn.join(edgesIn.groupBy(col("src")).agg(count(lit(1)).as("outdeg")), "src"))
    val tele = Scale * 15L / 100L / n
    // one synchronous iteration as a plan fragment
    def step(cur: DataFrame): DataFrame = {
      val sums = e
        .join(cur.withColumnRenamed("node", "src"), "src")
        .select(col("dst"), expr("pr div outdeg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      nodes
        .join(sums.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .select(col("node"), expr(s"$tele + (85 * coalesce(s, 0)) div 100").as("pr"))
    }
    var r = nodes.withColumn("pr", lit(Scale / n))
    var k = 0
    // FOUR iterations per checkpoint round (VERDICT r3 #5; was 2): quarters
    // the checkpoint jobs and per-round codegen events. The remaining warm
    // floor is per-SHUFFLE-STAGE scheduling overhead (fusion doesn't change
    // the stage count, only the checkpoint/job count), which amortizes away
    // at real scale where stages are data-bound; plan depth stays bounded
    // (4 step fragments per lineage cut).
    while (k + 4 <= iters) {
      r = eagerCheckpoint(step(step(step(step(r)))))
      k += 4
    }
    while (k + 2 <= iters) {
      r = eagerCheckpoint(step(step(r)))
      k += 2
    }
    if (k < iters) r = eagerCheckpoint(step(r))
    r.join(e.select(col("src").as("node"), col("outdeg")).distinct(), Seq("node"), "left")
      .select(col("node"), coalesce(col("outdeg"), lit(0L)).as("outdeg"), col("pr"))
  }

  /** HITS hubs & authorities (Kleinberg 1999, "Authoritative sources in a
    * hyperlinked environment") over the same derived link graph — the
    * companion centrality to [[qPageRank]] a web pipeline uses for seed
    * selection and spam triage. Integer fixed point, cross-engine exact:
    * scores live in 1e-6 units ([[HScale]]); each half-step is
    * raw(u) = Σ neighbor scores followed by L1 renormalization
    * raw·HScale div max(Σ raw, 1) — integer multiply + truncating divide
    * on non-negative operands, so Spark `div` and DuckDB `//` agree
    * bit-for-bit and the oracle unrolls the rounds like q_pagerank's.
    *
    * 100 TB shape: scores are 16-byte (node, sc) rows; each half-step is
    * one edge-sized keyed shuffle + an 8-byte global-sum broadcast (a
    * driver-bounded scalar, the classic two-phase normalize); raw scores
    * are checkpointed per half so the L1 total and the next half never
    * recompute the join, and lineage stays flat across rounds.
    *
    * Integer-range bound: raw(u) ≤ outdeg(u)·HScale in the FIRST half-step
    * (scores start at HScale each; after any normalize Σ scores ≤ HScale,
    * so later rounds are far smaller), and the normalize multiplies by
    * HScale before dividing — so raw·HScale needs outdeg(u) < 2^63/HScale²
    * ≈ 9.2×10⁶. A host-level hub beyond ~9M distinct outlinks would need a
    * smaller HScale or a pre-normalized init; at document granularity
    * outdeg never approaches it. */
  def qHits(spark: SparkSession, dir: String, iters: Int = HitsIters): DataFrame =
    hits(docs(spark, dir).select(col("doc_id").as("node")), edgeList(spark, dir), iters)
      .withColumnRenamed("node", "doc_id")
      .orderBy(col("doc_id"))

  val HitsIters = 4
  private val HScale = 1000000L

  def hits(nodes: DataFrame, edgesIn: DataFrame, iters: Int): DataFrame = {
    val e = eagerCheckpoint(edgesIn.toDF("src", "dst"))
    // one half-step: pull neighbor scores across the edges onto `to`,
    // keep every node (0 when no edge), L1-renormalize to HScale total
    def half(scores: DataFrame, from: String, to: String): DataFrame = {
      val pulled = e
        .join(scores.withColumnRenamed("node", from), from)
        .groupBy(col(to).as("node")).agg(sum(col("sc")).as("v"))
      val raw = eagerCheckpoint(
        nodes.join(pulled, Seq("node"), "left")
          .select(col("node"), coalesce(col("v"), lit(0L)).as("v")))
      // projection over the checkpointed raw — cheap to re-evaluate for
      // both its consumers (next half + final join), so not checkpointed
      withTotals(raw)(greatest(sum(col("v")), lit(1L)).as("tot"))
        .select(col("node"), expr(s"(v * $HScale) div tot").as("sc"))
    }
    var h = nodes.withColumn("sc", lit(HScale))
    var a = nodes.withColumn("sc", lit(HScale))
    var k = 0
    while (k < iters) {
      h = half(a, "dst", "src") // hubs score by the authorities they point at
      a = half(h, "src", "dst") // authorities score by the fresh hubs pointing in
      k += 1
    }
    nodes
      .join(h.withColumnRenamed("sc", "hub_q"), Seq("node"), "left")
      .join(a.withColumnRenamed("sc", "auth_q"), Seq("node"), "left")
      .select(col("node"),
        coalesce(col("hub_q"), lit(0L)).as("hub_q"),
        coalesce(col("auth_q"), lit(0L)).as("auth_q"))
  }

  /** Degree distribution of the link graph (the first profile any
    * web-graph job computes before choosing partitioning/skew handling):
    * per side (in/out), how many nodes have each degree. Two edge-sized
    * aggregations and a tiny histogram — scale-free. */
  def qDegreeStats(spark: SparkSession, dir: String): DataFrame = {
    val e = edgeList(spark, dir)
    val out = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(lit("out").as("side"), col("deg"))
    val in = e.groupBy(col("dst")).agg(count(lit(1)).as("deg"))
      .select(lit("in").as("side"), col("deg"))
    out.union(in)
      .groupBy(col("side"), col("deg"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("side"), col("deg"))
  }

  // ----------------------------------------------------------- oracle SQL

  /** Shared edge-derivation CTEs (nodes / nn / raw / edges / deg). */
  private val EdgesCte: String =
    """nodes AS (SELECT doc_id AS u FROM documents),
      |nn AS (SELECT count(*) AS n FROM nodes),
      |raw AS (
      |  SELECT u, unnest(generate_series(1, (1 + md5_number_lower(u::VARCHAR || '_deg') % 3)::BIGINT)) AS i
      |  FROM nodes
      |),
      |edges AS (
      |  SELECT DISTINCT u AS src,
      |         (md5_number_lower(u::VARCHAR || '_t' || i::VARCHAR) % (SELECT n FROM nn))::BIGINT AS dst
      |  FROM raw
      |  WHERE (md5_number_lower(u::VARCHAR || '_t' || i::VARCHAR) % (SELECT n FROM nn))::BIGINT <> u
      |),
      |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1)""".stripMargin

  /** The PageRank iteration unrolled to `iters` chained CTEs — no
    * recursive aggregation needed, every step plain integer SQL. */
  private def pagerankOracle(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""r$k AS (
         |  SELECT nodes.u AS node,
         |         ((150000000000 // n) + (85 * coalesce(c.s, 0)) // 100)::BIGINT AS pr
         |  FROM nodes CROSS JOIN nn LEFT JOIN (
         |    SELECT e.dst, sum(r.pr // d.outdeg) AS s
         |    FROM edges e JOIN deg d ON d.src = e.src JOIN r${k - 1} r ON r.node = e.src
         |    GROUP BY e.dst) c ON c.dst = nodes.u
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH $EdgesCte,
       |r0 AS (SELECT u AS node, (1000000000000 // n)::BIGINT AS pr FROM nodes CROSS JOIN nn),
       |$steps
       |SELECT r.node AS doc_id, coalesce(d.outdeg, 0) AS outdeg, r.pr
       |FROM r$iters r LEFT JOIN deg d ON d.src = r.node
       |ORDER BY doc_id""".stripMargin
  }

  /** The HITS rounds unrolled as chained CTEs (the q_pagerank recipe):
    * per round, pull + coalesce-to-all-nodes + L1 renormalize, twice. The
    * L1 total is `sum(v) OVER ()`, NOT a scalar subquery re-reading the
    * raw CTE: a second reference per round would double-evaluate the whole
    * chain below it (2^rounds blowup — measured minutes at sf0.01); with
    * the window total every CTE is referenced exactly once. */
  private def hitsOracle(iters: Int): String = {
    def halfCte(outName: String, prevName: String, joinFrom: String, joinTo: String): String =
      s"""$outName AS (
         |  SELECT node, ((v * $HScale) // greatest(sum(v) OVER (), 1))::BIGINT AS sc
         |  FROM (
         |    SELECT nodes.u AS node, coalesce(c.v, 0) AS v
         |    FROM nodes LEFT JOIN (
         |      SELECT e.$joinTo AS t, sum(p.sc) AS v
         |      FROM edges e JOIN $prevName p ON p.node = e.$joinFrom
         |      GROUP BY e.$joinTo) c ON c.t = nodes.u)
         |)""".stripMargin
    val steps = (1 to iters).map { k =>
      halfCte(s"h$k", s"a${k - 1}", "dst", "src") + ",\n" +
        halfCte(s"a$k", s"h$k", "src", "dst")
    }.mkString(",\n")
    s"""WITH $EdgesCte,
       |a0 AS (SELECT u AS node, ${HScale}::BIGINT AS sc FROM nodes),
       |$steps
       |SELECT h.node AS doc_id, h.sc AS hub_q, a.sc AS auth_q
       |FROM h$iters h JOIN a$iters a USING (node)
       |ORDER BY doc_id""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q_link_graph" -> s"WITH $EdgesCte\nSELECT src, dst FROM edges ORDER BY src, dst",
    "q_pagerank" -> pagerankOracle(Iters),
    "q_hits" -> hitsOracle(HitsIters),
    "q_degree_stats" ->
      s"""WITH $EdgesCte,
         |d AS (
         |  SELECT 'out' AS side, count(*) AS deg FROM edges GROUP BY src
         |  UNION ALL
         |  SELECT 'in' AS side, count(*) AS deg FROM edges GROUP BY dst
         |)
         |SELECT side, deg, count(*) AS n_nodes FROM d
         |GROUP BY 1, 2 ORDER BY side, deg""".stripMargin,
  )

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_link_graph" -> (qLinkGraph _),
    "q_pagerank" -> ((s: SparkSession, d: String) => qPageRank(s, d)),
    "q_hits" -> ((s: SparkSession, d: String) => qHits(s, d)),
    "q_degree_stats" -> (qDegreeStats _),
  )
}
