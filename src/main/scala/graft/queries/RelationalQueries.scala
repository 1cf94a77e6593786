package graft.queries

import graft.queries.QueryShapes.withTotals
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The relational surface implied by the reference's behavior (SURVEY.md
  * §2.4): every operator class it needs — filter/project, agg, dedup,
  * top-k, joins (broadcast/semi/anti), window, set ops, string/date fns,
  * hashing, rollup — expressed Catalyst-first over the driver test tables,
  * each with a DuckDB oracle in [[Oracles]].
  *
  * Conventions (driver compare contract):
  *  - every output column aliased identically in Spark and SQL;
  *  - deterministic ORDER BY with a unique tiebreaker on every query;
  *  - doubles rounded to 2dp so both engines stringify identically;
  *  - timestamps emitted as formatted strings, never raw.
  */
object RelationalQueries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Filter + projection, pushed to the parquet scan (task-lookup analog,
    * main.py:541). */
  def qFilterProject(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .where(col("event_type") === "purchase" && col("value") > 100.0)
      .select(col("event_id"), col("user_id"), round(col("value"), 2).as("value_r"))
      .orderBy(col("event_id"))

  /** Stats aggregation (O5, main.py:250-286 analog). */
  def qAggStats(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(col("o_orderstatus").as("status"))
      .agg(
        count(lit(1)).as("n"),
        round(avg(col("o_totalprice")), 2).as("avg_price"),
        round(sum(col("o_totalprice")), 2).as("sum_price"),
      )
      .orderBy(col("status"))

  /** Classic lineitem rollup aggregation (partial/final hash agg). */
  def q1LineitemAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .where(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-02 00:00:00")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("count_order"),
      )
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Top-k most recent (recent-results iteration analog, main.py:530-533). */
  def qTopkRecent(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .orderBy(col("ts").desc, col("event_id").desc)
      .limit(50)
      .select(
        col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
        col("event_type"))
      .orderBy(col("event_id"))

  /** Latest-row-per-key dedup (latest-crawl-per-url analog). */
  def qDedupLatest(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
    t(spark, dir, "events")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("event_type"))
      .orderBy(col("user_id"))
  }

  /** Multi-way join with broadcast dims (results ⋈ pages analog): customer
    * per region order volume. Catalyst broadcasts nation/region. */
  def qJoinStats(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val customer = t(spark, dir, "customer")
    val nation = t(spark, dir, "nation")
    val region = t(spark, dir, "region")
    orders
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("revenue"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** Anti join (resume = all EXCEPT completed analog). */
  def qAntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val customer = t(spark, dir, "customer")
    // "no big order" rather than "no order at all" — every sf0.01 customer
    // has orders, and a 0-row result is a vacuous 0=0 oracle match
    val bigOrders = t(spark, dir, "orders").where(col("o_totalprice") > 400000.0)
    customer
      .join(bigOrders, customer("c_custkey") === bigOrders("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** Semi join (EXISTS). */
  def qSemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val customer = t(spark, dir, "customer")
    val orders = t(spark, dir, "orders")
    customer
      .where(col("c_mktsegment") === "BUILDING")
      .join(orders.where(col("o_totalprice") > 200000.0),
        customer("c_custkey") === orders("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_acctbal"))
      .orderBy(col("c_custkey"))
  }

  /** Window functions: running revenue + rank per user. */
  def qWindowRunning(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(spark, dir, "events")
      .where(col("user_id") < 200)
      .select(
        col("user_id"),
        col("event_id"),
        round(sum(col("value")).over(w.rowsBetween(Window.unboundedPreceding, 0)), 2).as("running_value"),
        row_number().over(w).as("rn"),
      )
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Set operations: high-value event users vs purchase users. */
  def qSetOps(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val a = ev.where(col("value") > 300.0).select(col("user_id")).distinct()
    val b = ev.where(col("event_type") === "purchase").select(col("user_id")).distinct()
    a.intersect(b).orderBy(col("user_id"))
  }

  /** Except (distinct set difference). */
  def qExcept(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val a = ev.where(col("event_type") === "view").select(col("user_id")).distinct()
    // big-ticket purchasers only, so both inputs AND the difference are
    // non-empty at sf0.01 (the unfiltered version matched 0=0 — vacuous)
    val b = ev.where(col("event_type") === "purchase" && col("value") > 300.0)
      .select(col("user_id")).distinct()
    a.except(b).orderBy(col("user_id"))
  }

  /** String + date functions (sanitize T13 / ISO timestamps analog). */
  def qStringDate(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .select(
        col("c_custkey"),
        regexp_replace(lower(col("c_name")), "[^a-z0-9]+", "_").as("sanitized"),
        substring(col("c_name"), 1, 8).as("prefix8"),
        length(col("c_name")).as("name_len"),
      )
      .orderBy(col("c_custkey"))

  /** SHA-256 content hash (T12, utils.py:67-73) over document text. */
  def qSha256(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), sha2(col("text"), 256).as("sha"))
      .orderBy(col("doc_id"))

  /** Rollup (stats cube over segment x nation). */
  def qRollup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .rollup(col("c_mktsegment"), col("c_nationkey"))
      .agg(count(lit(1)).as("n"), round(sum(col("c_acctbal")), 2).as("bal"))
      .orderBy(col("c_mktsegment").asc_nulls_first, col("c_nationkey").asc_nulls_first)

  /** Exact + approximate distinct (approx for the 10^12-scale metrics path;
    * only the exact column is oracle-compared). */
  def qDistinctUsers(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
      .orderBy(col("event_type"))

  /** JSON functions: parse the events props column and extract a field
    * (result JSON encode/decode analog, main.py:537-539). */
  def qJsonExtract(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .select(col("event_id"), get_json_object(col("props"), "$.k").cast("long").as("k"))
      .where(col("k") > 90)
      .orderBy(col("event_id"))

  /** Sessionization (gaps-and-islands): events split into sessions on
    * >30-minute gaps per user — the classic stateful-stream op expressed
    * relationally (lag → gap flag → cumulative sum → session agg). */
  def qSessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val withGap = t(spark, dir, "events")
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, 0)))
    withGap
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("session_value"))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_sessions"),
        max(col("n_events")).as("max_session_events"),
        round(sum(col("session_value")), 2).as("total_value"),
      )
      .orderBy(col("user_id"))
  }

  /** Cube over two dims (grouping-sets family beside q_rollup). */
  def qCube(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .cube(col("event_type"), (col("user_id") % 10).as("user_mod"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_type").asc_nulls_first, col("user_mod").asc_nulls_first)

  /** Exact interpolated percentiles (percentile/quantile_cont agree). */
  /** 2dp rounding that replicates DuckDB's `round(DOUBLE, 2)` exactly:
    * DuckDB computes `std::round(x·100)/100` in double math, while Spark's
    * `round` takes BigDecimal-HALF_UP over the exact binary value — the
    * two disagree whenever x·100 FP-rounds across the .5 boundary (e.g.
    * 52724.244999999995·100 = 5272424.5 exactly ⇒ DuckDB .25, BigDecimal
    * .24). Interpolated percentiles land on such boundaries (first hit:
    * q_percentiles p50/R at sf0.001 — an inherited r5 latent mismatch,
    * found by this round's full small-sf oracle sweep); doing the same
    * multiply-round-divide here makes the two engines agree at EVERY sf
    * (Spark's round at scale 0 is also round-half-away-from-zero on the
    * post-multiply double, so the algorithms are identical step by step).
    * Sums/avgs elsewhere stay on plain round(,2): their inputs are exact
    * decimal quantities where both conventions agree. */
  private def roundDuck2(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    round(c * 100, 0) / 100

  def qPercentiles(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        roundDuck2(expr("percentile(l_extendedprice, 0.5)")).as("p50"),
        roundDuck2(expr("percentile(l_extendedprice, 0.95)")).as("p95"),
        roundDuck2(expr("percentile(l_quantity, 0.25)")).as("q25"),
      )
      .orderBy(col("l_returnflag"))

  /** As-of join — for each event, the latest order of the same customer at
    * or before the event time (the operator Spark lacks natively; composed
    * per the preference order from built-ins as the union-merge pattern:
    * tag both sides, union, one window per key ordered by time, carry the
    * last-seen order key forward).
    *
    * Why not equi-join + time filter + max-pick: that materializes every
    * (event, earlier-order) PAIR before aggregating — per-key quadratic,
    * and a single hot customer at 10^12 rows produces an unboundedly wide
    * intermediate. The union-window form is one shuffle + one sort of
    * events+orders, linear per key, and AQE still splits skewed keys.
    * Ordering (ts, is_event, o_orderkey) reproduces the inclusive `<=` and
    * the (o_orderdate, o_orderkey) lexicographic-max tie-break exactly:
    * orders sort before events at equal ts, later/higher orders last. */
  def qAsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events").where(col("user_id") <= 300)
      .select(
        col("user_id"), col("ts"), lit(1).as("is_event"),
        col("event_id"), lit(null).cast("long").as("o_orderkey"))
    val o = t(spark, dir, "orders")
      .where(col("o_custkey") <= 300) // mirror the probe-side key filter
      .select(
        col("o_custkey").as("user_id"), col("o_orderdate").as("ts"), lit(0).as("is_event"),
        lit(null).cast("long").as("event_id"), col("o_orderkey"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("is_event"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.unionByName(o)
      .withColumn("asof_orderkey", last(col("o_orderkey"), ignoreNulls = true).over(w))
      .where(col("is_event") === 1 && col("asof_orderkey").isNotNull)
      .select(col("event_id"), col("asof_orderkey"))
      .orderBy(col("event_id"))
  }

  /** Pivot: event_type values to columns (per-status counters analog,
    * main.py:258-277 turned sideways). Explicit value list so the plan is a
    * single pass (no distinct-values pre-query). */
  def qPivot(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy((col("user_id") % 7).as("user_mod"))
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(round(sum(col("value")), 2))
      .orderBy(col("user_mod"))

  /** Explicit GROUPING SETS (brand-only and type-only subtotals plus grand
    * total in one pass — the generalization of q_rollup/q_cube). */
  def qGroupingSets(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "part")
      .groupingSets(
        Seq(Seq(col("p_brand")), Seq(col("p_type")), Seq.empty[org.apache.spark.sql.Column]),
        col("p_brand"), col("p_type"))
      .agg(count(lit(1)).as("n"), round(avg(col("p_retailprice")), 2).as("avg_price"))
      .orderBy(col("p_brand").asc_nulls_first, col("p_type").asc_nulls_first)

  /** Explode / flatten with an oracle (chunks/tables-array analog §2.4):
    * word frequencies via explode(split(...)) — generator-free lateral view. */
  def qExplodeWords(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .where(length(col("word")) >= 4)
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n").desc, col("word"))
      .limit(100)

  /** Window navigation: lag/lead + rank/dense_rank (rank keys deliberately
    * tie on event_type so rank vs dense_rank diverge deterministically). */
  def qWindowLagRank(spark: SparkSession, dir: String): DataFrame = {
    val seq = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val byType = Window.partitionBy(col("user_id")).orderBy(col("event_type"))
    t(spark, dir, "events")
      .where(col("user_id") < 100)
      .select(
        col("user_id"),
        col("event_id"),
        round(lag(col("value"), 1).over(seq), 2).as("prev_value"),
        round(lead(col("value"), 1).over(seq), 2).as("next_value"),
        rank().over(byType).as("type_rank"),
        dense_rank().over(byType).as("type_dense_rank"),
      )
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Scalar subquery: rows above the global average (broadcast 1-row agg —
    * the Catalyst shape DuckDB writes as a scalar subquery). */
  def qScalarSubquery(spark: SparkSession, dir: String): DataFrame = {
    withTotals(t(spark, dir, "customer"))(avg(col("c_acctbal")).as("global_avg"))
      .where(col("c_acctbal") > col("global_avg"))
      .select(col("c_custkey"), round(col("c_acctbal") - col("global_avg"), 2).as("above_by"))
      .orderBy(col("c_custkey"))
  }

  /** Star join over the fact table with three broadcast dims (part,
    * supplier, nation — TPC-H Q9 shape) + HAVING: revenue by brand and
    * supplier nation. At 100 TB the dims stay broadcast-able (MB-scale)
    * while the fact side never shuffles pre-aggregation. */
  def qStarJoin(spark: SparkSession, dir: String): DataFrame = {
    val l = t(spark, dir, "lineitem")
    val p = t(spark, dir, "part")
    val s = t(spark, dir, "supplier")
    val n = t(spark, dir, "nation")
    l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
      .join(broadcast(s), l("l_suppkey") === s("s_suppkey"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .groupBy(col("p_brand"), col("n_name"))
      .agg(
        count(lit(1)).as("n_lines"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
      )
      .where(col("n_lines") >= 5)
      .orderBy(col("p_brand"), col("n_name"))
  }

  /** Range join (non-equi): events classified into value bands. The dim is
    * tiny, so the 100 TB plan is a broadcast join with the range predicate
    * (BroadcastNestedLoopJoin over 5 rows ≈ a codegen'd CASE, no shuffle);
    * a large-large range join would instead bin both sides to equi keys
    * first. Complements q_asof_join on the non-equi-join checklist. */
  def qRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bands = Seq(
      ("p1_nano", 0.0, 25.0), ("p2_small", 25.0, 100.0), ("p3_mid", 100.0, 250.0),
      ("p4_large", 250.0, 400.0), ("p5_huge", 400.0, 1.0e9),
    ).toDF("band", "lo", "hi")
    t(spark, dir, "events")
      .join(broadcast(bands), col("value") >= col("lo") && col("value") < col("hi"), "inner")
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n"), round(avg(col("value")), 2).as("avg_value"))
      .orderBy(col("band"))
  }

  /** Left outer join + distribution (TPC-H Q13 shape): customers by order
    * count, zero-order customers preserved by the outer side and
    * count(o_orderkey)'s null-skipping. Two-level aggregation re-shuffles
    * only (c_custkey, c_count) pairs — tiny vs the join output. */
  def qCustdist(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer").select(col("c_custkey"))
    val o = t(spark, dir, "orders").select(col("o_custkey"), col("o_orderkey"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** Tumbling time buckets: hourly event rollup via date_trunc — the batch
    * analog of the streaming windowed aggregation (StreamingExtract), and
    * the time-partitioning shape a crawl table would use at scale. */
  def qTimeBuckets(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(
        date_format(col("hour_ts"), "yyyy-MM-dd HH:mm:ss").as("hour_s"),
        col("n"), col("sum_value"))
      .orderBy(col("hour_s"))

  /** Approximate distinct (HLL++) — the 10^12-scale metrics path. Sketch
    * implementations differ across engines, so the ORACLED quantity is the
    * property, not the estimate: exact count + a boolean asserting the
    * HLL++ estimate landed within its error envelope (default rsd 5% →
    * asserted at a 3-sigma-ish 15%; Spark's HLL is deterministic, so this
    * is a hard reproducible check, and the oracle predicts `true`). */
  def qApproxDistinct(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id")).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"),
      )
      .select(
        col("event_type"),
        col("exact_users"),
        (abs(col("approx_users") - col("exact_users")) <=
          col("exact_users") * 0.15).as("approx_ok"),
      )
      .orderBy(col("event_type"))

  val oracles: Map[String, String] = Map(
    "q_range_join" ->
      """WITH bands(band, lo, hi) AS (VALUES
        |  ('p1_nano', 0.0, 25.0), ('p2_small', 25.0, 100.0), ('p3_mid', 100.0, 250.0),
        |  ('p4_large', 250.0, 400.0), ('p5_huge', 400.0, 1000000000.0))
        |SELECT band, count(*) AS n, round(avg(value), 2) AS avg_value
        |FROM events JOIN bands ON value >= lo AND value < hi
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_time_buckets" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_s,
        |       count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_custdist" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY 1)
        |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, event_id, ts, value,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), s AS (
        |  SELECT user_id, event_id, value,
        |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        |  FROM g
        |), per_session AS (
        |  SELECT user_id, session_seq, count(*) AS n_events, round(sum(value), 2) AS session_value
        |  FROM s GROUP BY 1, 2
        |)
        |SELECT user_id, count(*) AS n_sessions, max(n_events) AS max_session_events,
        |       round(sum(session_value), 2) AS total_value
        |FROM per_session GROUP BY 1 ORDER BY user_id""".stripMargin,
    "q_cube" ->
      """SELECT event_type, user_id % 10 AS user_mod, count(*) AS n
        |FROM events GROUP BY CUBE (event_type, user_id % 10)
        |ORDER BY event_type NULLS FIRST, user_mod NULLS FIRST""".stripMargin,
    "q_percentiles" ->
      """SELECT l_returnflag,
        |       round(quantile_cont(l_extendedprice, 0.5), 2) AS p50,
        |       round(quantile_cont(l_extendedprice, 0.95), 2) AS p95,
        |       round(quantile_cont(l_quantity, 0.25), 2) AS q25
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_asof_join" ->
      """SELECT event_id, asof_orderkey FROM (
        |  SELECT e.event_id, o.o_orderkey AS asof_orderkey,
        |         row_number() OVER (PARTITION BY e.event_id
        |             ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        |  FROM events e JOIN orders o
        |    ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
        |  WHERE e.user_id <= 300
        |) WHERE rn = 1 ORDER BY event_id""".stripMargin,
    "q_filter_project" ->
      """SELECT event_id, user_id, round(value, 2) AS value_r
        |FROM events WHERE event_type = 'purchase' AND value > 100.0
        |ORDER BY event_id""".stripMargin,
    "q_agg_stats" ->
      """SELECT o_orderstatus AS status, count(*) AS n,
        |       round(avg(o_totalprice), 2) AS avg_price,
        |       round(sum(o_totalprice), 2) AS sum_price
        |FROM orders GROUP BY 1 ORDER BY status""".stripMargin,
    "q1_lineitem_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice), 2) AS sum_base_price,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |       round(avg(l_discount), 6) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_topk_recent" ->
      """SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, event_type
        |FROM (SELECT * FROM events ORDER BY ts DESC, event_id DESC LIMIT 50)
        |ORDER BY event_id""".stripMargin,
    "q_dedup_latest" ->
      """SELECT user_id, event_id, event_type FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q_join_stats" ->
      """SELECT r_name, n_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        |ORDER BY c_custkey""".stripMargin,
    "q_semi_join" ->
      """SELECT c_custkey, c_acctbal FROM customer
        |WHERE c_mktsegment = 'BUILDING'
        |  AND EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 200000.0)
        |ORDER BY c_custkey""".stripMargin,
    "q_window_running" ->
      """SELECT user_id, event_id,
        |       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_value,
        |       row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |FROM events WHERE user_id < 200
        |ORDER BY user_id, event_id""".stripMargin,
    "q_set_ops" ->
      """SELECT DISTINCT user_id FROM events WHERE value > 300.0
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id""".stripMargin,
    "q_except" ->
      """SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
        |EXCEPT
        |SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 300.0
        |ORDER BY user_id""".stripMargin,
    "q_string_date" ->
      """SELECT c_custkey,
        |       regexp_replace(lower(c_name), '[^a-z0-9]+', '_', 'g') AS sanitized,
        |       substring(c_name, 1, 8) AS prefix8,
        |       length(c_name) AS name_len
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q_sha256" ->
      "SELECT doc_id, sha256(text) AS sha FROM documents ORDER BY doc_id",
    "q_rollup" ->
      """SELECT c_mktsegment, c_nationkey, count(*) AS n, round(sum(c_acctbal), 2) AS bal
        |FROM customer GROUP BY ROLLUP (c_mktsegment, c_nationkey)
        |ORDER BY c_mktsegment NULLS FIRST, c_nationkey NULLS FIRST""".stripMargin,
    "q_distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q_approx_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users, TRUE AS approx_ok
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 90
        |ORDER BY event_id""".stripMargin,
    "q_pivot" ->
      """SELECT user_id % 7 AS user_mod,
        |       round(sum(value) FILTER (event_type = 'click'), 2) AS click,
        |       round(sum(value) FILTER (event_type = 'view'), 2) AS view,
        |       round(sum(value) FILTER (event_type = 'purchase'), 2) AS purchase,
        |       round(sum(value) FILTER (event_type = 'signup'), 2) AS signup,
        |       round(sum(value) FILTER (event_type = 'error'), 2) AS error
        |FROM events GROUP BY 1 ORDER BY user_mod""".stripMargin,
    "q_grouping_sets" ->
      """SELECT p_brand, p_type, count(*) AS n, round(avg(p_retailprice), 2) AS avg_price
        |FROM part GROUP BY GROUPING SETS ((p_brand), (p_type), ())
        |ORDER BY p_brand NULLS FIRST, p_type NULLS FIRST""".stripMargin,
    "q_explode_words" ->
      """SELECT word, count(*) AS n, count(DISTINCT doc_id) AS n_docs FROM (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
        |) WHERE length(word) >= 4
        |GROUP BY word ORDER BY n DESC, word LIMIT 100""".stripMargin,
    "q_window_lag_rank" ->
      """SELECT user_id, event_id,
        |       round(lag(value, 1) OVER w, 2) AS prev_value,
        |       round(lead(value, 1) OVER w, 2) AS next_value,
        |       rank() OVER t AS type_rank,
        |       dense_rank() OVER t AS type_dense_rank
        |FROM events WHERE user_id < 100
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
        |       t AS (PARTITION BY user_id ORDER BY event_type)
        |ORDER BY user_id, event_id""".stripMargin,
    "q_scalar_subquery" ->
      """SELECT c_custkey,
        |       round(c_acctbal - (SELECT avg(c_acctbal) FROM customer), 2) AS above_by
        |FROM customer
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
        |ORDER BY c_custkey""".stripMargin,
    "q_star_join" ->
      """SELECT p_brand, n_name, count(*) AS n_lines,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY 1, 2 HAVING count(*) >= 5
        |ORDER BY 1, 2""".stripMargin,
  )

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_filter_project" -> (qFilterProject _),
    "q_agg_stats" -> (qAggStats _),
    "q1_lineitem_agg" -> (q1LineitemAgg _),
    "q_topk_recent" -> (qTopkRecent _),
    "q_dedup_latest" -> (qDedupLatest _),
    "q_join_stats" -> (qJoinStats _),
    "q_anti_join" -> (qAntiJoin _),
    "q_semi_join" -> (qSemiJoin _),
    "q_window_running" -> (qWindowRunning _),
    "q_set_ops" -> (qSetOps _),
    "q_except" -> (qExcept _),
    "q_string_date" -> (qStringDate _),
    "q_sha256" -> (qSha256 _),
    "q_rollup" -> (qRollup _),
    "q_distinct_users" -> (qDistinctUsers _),
    "q_json_extract" -> (qJsonExtract _),
    "q_sessionize" -> (qSessionize _),
    "q_cube" -> (qCube _),
    "q_percentiles" -> (qPercentiles _),
    "q_approx_distinct" -> (qApproxDistinct _),
    "q_asof_join" -> (qAsofJoin _),
    "q_pivot" -> (qPivot _),
    "q_grouping_sets" -> (qGroupingSets _),
    "q_explode_words" -> (qExplodeWords _),
    "q_window_lag_rank" -> (qWindowLagRank _),
    "q_scalar_subquery" -> (qScalarSubquery _),
    "q_star_join" -> (qStarJoin _),
    "q_range_join" -> (qRangeJoin _),
    "q_custdist" -> (qCustdist _),
    "q_time_buckets" -> (qTimeBuckets _),
  )
}
