package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.QueryDef
import graft.sources.Tables

/** Extended analytic surface: approximate aggregates (the 100 TB
  * substitutes for exact distinct/percentile), as-of join, skew
  * salting, bucketed co-located joins, pivot, outer joins, scalar
  * subqueries.
  */
object RelationalExt {

  /** HyperLogLog++ distinct counts — O(1) state per group vs. the
    * exact count-distinct's shuffle of every key. The scale path for
    * `q_distinct`; bounded-error assertion lives in ScalaTest.
    */
  val qApproxDistinct: QueryDef = QueryDef.rowsOnly("q_approx_distinct") { (s, d) =>
    Tables.lineitem(s, d).agg(
      approx_count_distinct(col("l_partkey"), 0.02).as("n_parts"),
      approx_count_distinct(col("l_suppkey"), 0.02).as("n_supps"),
      approx_count_distinct(col("l_orderkey"), 0.02).as("n_orders"))
  }

  /** Mergeable quantile sketch (percentile_approx) — single pass,
    * fixed memory, vs. an exact sort. Error bound asserted in
    * ScalaTest against the exact percentiles.
    */
  val qApproxPercentile: QueryDef = QueryDef.rowsOnly("q_approx_percentile") { (s, d) =>
    Tables.orders(s, d).agg(
      percentile_approx(col("o_totalprice"), lit(0.5), lit(10000)).as("p50"),
      percentile_approx(col("o_totalprice"), lit(0.95), lit(10000)).as("p95"),
      percentile_approx(col("o_totalprice"), lit(0.99), lit(10000)).as("p99"))
  }

  /** As-of join: each purchase event paired with the same user's
    * latest strictly-prior click. One shuffle on user_id, one
    * in-partition sort — never a range cross-join. (ids, not
    * timestamps, in the output: ns-vs-µs-proof for the oracle.)
    */
  val qAsofJoin: QueryDef = QueryDef.sql(
    "q_asof_join",
    """SELECT event_id AS purchase_id, user_id, click_id
      |FROM (
      |  SELECT event_id, user_id, event_type,
      |    last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS click_id
      |  FROM events WHERE event_type IN ('click', 'purchase'))
      |WHERE event_type = 'purchase'
      |ORDER BY purchase_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .withColumn("click_id",
        last(when(col("event_type") === "click", col("event_id")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("click_id"))
      .orderBy(col("purchase_id"))
  }

  /** Nearest-event join — the bidirectional as-of: each purchase
    * pairs with the temporally NEAREST click (before or after, ties
    * to the earlier side), the enrichment mode sensor/trace pipelines
    * need when causality can run either way. Same single user_id
    * shuffle as q_asof_join: one backward ignore-nulls window + one
    * forward one, nearest picked by exact integer-µs comparison —
    * never a range self-join.
    */
  val qAsofNearest: QueryDef = QueryDef.sql(
    "q_asof_nearest",
    """WITH ec AS (
      |  SELECT event_id, user_id, event_type, epoch_us(ts) AS us,
      |    last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_id,
      |    last_value(CASE WHEN event_type = 'click' THEN epoch_us(ts) END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_us,
      |    first_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_id,
      |    first_value(CASE WHEN event_type = 'click' THEN epoch_us(ts) END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_us
      |  FROM events WHERE event_type IN ('click', 'purchase'))
      |SELECT event_id AS purchase_id, user_id,
      |  CASE WHEN prev_id IS NULL THEN next_id
      |       WHEN next_id IS NULL THEN prev_id
      |       WHEN us - prev_us <= next_us - us THEN prev_id
      |       ELSE next_id END AS nearest_click_id
      |FROM ec WHERE event_type = 'purchase'
      |ORDER BY purchase_id""".stripMargin) { (s, d) =>
    val wb = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wf = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(1, Window.unboundedFollowing)
    val clickId = when(col("event_type") === "click", col("event_id"))
    val clickUs = when(col("event_type") === "click", unix_micros(col("ts")))
    Tables.events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("prev_id", last(clickId, ignoreNulls = true).over(wb))
      .withColumn("prev_us", last(clickUs, ignoreNulls = true).over(wb))
      .withColumn("next_id", first(clickId, ignoreNulls = true).over(wf))
      .withColumn("next_us", first(clickUs, ignoreNulls = true).over(wf))
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        when(col("prev_id").isNull, col("next_id"))
          .when(col("next_id").isNull, col("prev_id"))
          .when(col("us") - col("prev_us") <= col("next_us") - col("us"),
            col("prev_id"))
          .otherwise(col("next_id")).as("nearest_click_id"))
      .orderBy(col("purchase_id"))
  }

  val SkewSalts = 8

  /** Skew-salted join: the fact side salts deterministically, the
    * dimension side replicates to every salt — a hot join key spreads
    * over SkewSalts reducers instead of one. Result identical to the
    * unsalted join (the oracle proves it).
    */
  val qSkewSaltedJoin: QueryDef = QueryDef.sql(
    "q_skew_salted_join",
    """SELECT o_orderstatus,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      |  count(*) AS n
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d)
      .withColumn("salt", pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(SkewSalts)))
    val ord = Tables.orders(s, d)
      .withColumn("salt", explode(array((0 until SkewSalts).map(i => lit(i.toLong)): _*)))
    li.join(ord, li("l_orderkey") === ord("o_orderkey") && li("salt") === ord("salt"))
      .groupBy(col("o_orderstatus"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus"))
  }

  /** Bucketed co-located join: both fact tables written bucketed on
    * the join key — the sort-merge join then reads bucket-aligned
    * files with NO shuffle exchange (asserted in ScalaTest). At
    * 100 TB this is the difference between re-shuffling the fact
    * table per query and shuffling once at ingest.
    */
  // Bucketed "ingest" is per-corpus: both tables are Warehouse
  // bucketed artifacts, so a fresh session (each run is a new
  // JVM) re-registers the bucket files of ITS corpus instead of
  // rewriting them — ingest happens once per corpus, not per process.
  def bucketedTables(s: SparkSession, d: String): (String, String) = (
    graft.sources.Warehouse.bucketed(s, d, "li_b", Seq("lineitem.parquet"), 8,
      Seq("l_orderkey"))(
      Tables.lineitem(s, d).select("l_orderkey", "l_extendedprice", "l_discount")),
    graft.sources.Warehouse.bucketed(s, d, "ord_b", Seq("orders.parquet"), 8,
      Seq("o_orderkey"))(
      Tables.orders(s, d).select("o_orderkey", "o_orderstatus")))

  val qBucketedJoin: QueryDef = QueryDef.sql(
    "q_bucketed_join",
    """SELECT o_orderstatus,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
    val (liName, ordName) = bucketedTables(s, d)
    s.table(liName).hint("merge")
      .join(s.table(ordName), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("o_orderstatus"))
  }

  /** Pivot with explicit value list (deterministic output schema). */
  val qPivot: QueryDef = QueryDef.sql(
    "q_pivot",
    """SELECT l_returnflag,
      |  round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS F,
      |  round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS O,
      |  round(sum(CASE WHEN l_linestatus = 'P' THEN l_quantity END), 2) AS P
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O", "P"))
      .agg(round(sum(col("l_quantity")), 2))
      .orderBy(col("l_returnflag"))
  }

  /** Full outer join of two disjoint per-customer aggregates —
    * null-preserving on both sides.
    */
  val qFullOuter: QueryDef = QueryDef.sql(
    "q_full_outer",
    """WITH f AS (SELECT o_custkey, count(*) AS n_f FROM orders
      |           WHERE o_orderstatus = 'F' GROUP BY o_custkey),
      |o AS (SELECT o_custkey, count(*) AS n_o FROM orders
      |      WHERE o_orderstatus = 'O' GROUP BY o_custkey)
      |SELECT coalesce(f.o_custkey, o.o_custkey) AS custkey,
      |  coalesce(n_f, 0) AS n_f, coalesce(n_o, 0) AS n_o
      |FROM f FULL OUTER JOIN o ON f.o_custkey = o.o_custkey
      |ORDER BY custkey""".stripMargin) { (s, d) =>
    val ord = Tables.orders(s, d)
    val fs = ord.filter(col("o_orderstatus") === "F")
      .groupBy(col("o_custkey").as("fk")).agg(count(lit(1)).as("n_f"))
    val os = ord.filter(col("o_orderstatus") === "O")
      .groupBy(col("o_custkey").as("ok")).agg(count(lit(1)).as("n_o"))
    fs.join(os, col("fk") === col("ok"), "full_outer")
      .select(coalesce(col("fk"), col("ok")).as("custkey"),
        coalesce(col("n_f"), lit(0)).as("n_f"),
        coalesce(col("n_o"), lit(0)).as("n_o"))
      .orderBy(col("custkey"))
  }

  /** Top-1-per-key via max_by aggregation — same result as the
    * window row_number formulation (`q_window_rank`) with ONE
    * partial-aggregating shuffle and no in-partition sort. The scale
    * answer when only the top row per key is needed.
    */
  val qTopPerKeyAgg: QueryDef = QueryDef.sql(
    "q_top_per_key_agg",
    """SELECT o_custkey, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_orderdate DESC, o_orderkey) AS rn
      |  FROM orders) t
      |WHERE rn = 1 ORDER BY o_custkey""".stripMargin) { (s, d) =>
    // rank key: latest o_orderdate, ties broken by LOWEST o_orderkey
    // (matches q_window_rank's ORDER BY o_orderdate DESC, o_orderkey)
    val rank = struct(col("o_orderdate"), (-col("o_orderkey")).as("neg"))
    Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(
        max_by(col("o_orderkey"), rank).as("o_orderkey"),
        max_by(col("o_totalprice"), rank).as("o_totalprice"))
      .orderBy(col("o_custkey"))
  }

  /** Scalar subquery: orders above twice the global mean price. */
  val qScalarSubquery: QueryDef = QueryDef.sql(
    "q_scalar_subquery",
    """SELECT count(*) AS n_big
      |FROM orders
      |WHERE o_totalprice > (SELECT 2 * avg(o_totalprice) FROM orders)""".stripMargin) { (s, d) =>
    Tables.orders(s, d).createOrReplaceTempView("graft_orders_v")
    s.sql("""SELECT count(*) AS n_big FROM graft_orders_v
            |WHERE o_totalprice > (SELECT 2 * avg(o_totalprice) FROM graft_orders_v)""".stripMargin)
  }

  /** INTERSECT (distinct set semantics): customers with both a
    * finished and an open order.
    */
  val qIntersect: QueryDef = QueryDef.sql(
    "q_intersect",
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |INTERSECT
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |ORDER BY o_custkey""".stripMargin) { (s, d) =>
    val ord = Tables.orders(s, d)
    ord.filter(col("o_orderstatus") === "F").select("o_custkey")
      .intersect(ord.filter(col("o_orderstatus") === "O").select("o_custkey"))
      .orderBy(col("o_custkey"))
  }

  /** EXCEPT (distinct set semantics): open-order customers who never
    * finished one.
    */
  val qExcept: QueryDef = QueryDef.sql(
    "q_except",
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |EXCEPT
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |ORDER BY o_custkey""".stripMargin) { (s, d) =>
    val ord = Tables.orders(s, d)
    ord.filter(col("o_orderstatus") === "O").select("o_custkey")
      .except(ord.filter(col("o_orderstatus") === "F").select("o_custkey"))
      .orderBy(col("o_custkey"))
  }

  /** INTERSECT ALL (bag semantics): per-part line counts that exist
    * on BOTH sides keep their minimum multiplicity — the dup-aware
    * variant warehouses need when rows are legitimately repeated
    * (Spark plans it as a hash aggregate over counts, no join
    * explosion: min(count_L, count_R) copies per key).
    */
  val qIntersectAll: QueryDef = QueryDef.sql(
    "q_intersect_all",
    """SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
      |INTERSECT ALL
      |SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A'
      |ORDER BY l_partkey""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d)
    li.filter(col("l_returnflag") === "R").select("l_partkey")
      .intersectAll(li.filter(col("l_returnflag") === "A").select("l_partkey"))
      .orderBy(col("l_partkey"))
  }

  /** EXCEPT ALL (bag semantics): multiplicity-subtracting difference —
    * max(count_L − count_R, 0) copies per key.
    */
  val qExceptAll: QueryDef = QueryDef.sql(
    "q_except_all",
    """SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
      |EXCEPT ALL
      |SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A'
      |ORDER BY l_partkey""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d)
    li.filter(col("l_returnflag") === "R").select("l_partkey")
      .exceptAll(li.filter(col("l_returnflag") === "A").select("l_partkey"))
      .orderBy(col("l_partkey"))
  }

  /** NULL-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL
    * keys MATCH each other instead of silently dropping — the join
    * semantics dimension tables with "unknown" buckets need (a plain
    * equi-join loses every NULL row on both sides). Spark plans it
    * as an ordinary hash join on the null-safe key, same cost as
    * `=` at any scale.
    */
  val qNullsafeJoin: QueryDef = QueryDef.sql(
    "q_nullsafe_join",
    """WITH a AS (SELECT nullif(o_orderstatus, 'P') AS k, count(*) AS n_a
      |           FROM orders GROUP BY 1),
      |b AS (SELECT nullif(o_orderstatus, 'F') AS k, count(*) AS n_b
      |      FROM orders GROUP BY 1)
      |SELECT a.k AS k, n_a, n_b
      |FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
      |ORDER BY k""".stripMargin) { (s, d) =>
    val ord = Tables.orders(s, d)
    val a = ord.groupBy(nullif(col("o_orderstatus"), lit("P")).as("k"))
      .agg(count(lit(1)).as("n_a"))
    val b = ord.groupBy(nullif(col("o_orderstatus"), lit("F")).as("k2"))
      .agg(count(lit(1)).as("n_b"))
    a.join(b, col("k") <=> col("k2"))
      .select(col("k"), col("n_a"), col("n_b"))
      .orderBy(col("k"))
  }

  /** Exact DISCRETE percentile per group (PERCENTILE_DISC): the p90
    * is an ACTUAL data value — the element at position ⌈0.9·n⌉ of the
    * sorted multiset — not an interpolation (q_median's CONT
    * convention); spelled as identical window arithmetic in both
    * engines so no quantile-dialect ambiguity exists. One window
    * over the group shuffle; the value at the target position is
    * well-defined regardless of tie order.
    */
  val qPercentileDisc: QueryDef = QueryDef.sql(
    "q_percentile_disc",
    """WITH r AS (SELECT l_returnflag, l_quantity,
      |    row_number() OVER (PARTITION BY l_returnflag
      |                       ORDER BY l_quantity) AS rn,
      |    count(*) OVER (PARTITION BY l_returnflag) AS n
      |  FROM lineitem)
      |SELECT l_returnflag, l_quantity AS p90
      |FROM r WHERE rn = CAST(ceil(0.9 * n) AS BIGINT)
      |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    val byFlag = Window.partitionBy(col("l_returnflag"))
    val r = Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_quantity"))
      .withColumn("rn", row_number().over(byFlag.orderBy(col("l_quantity"))))
      .withColumn("n", count(lit(1)).over(byFlag))
    r.filter(col("rn") === ceil(lit(0.9) * col("n")).cast("long"))
      .select(col("l_returnflag"), col("l_quantity").as("p90"))
      .orderBy(col("l_returnflag"))
  }

  /** Banded numeric join (|a.value − b.value| ≤ ε within a type)
    * WITHOUT the range-join explosion: both sides bucket by
    * floor(value / 2ε), the left probes only buckets {b−1, b, b+1}
    * (bucket width 2ε guarantees any ε-close pair lands in adjacent
    * buckets with slack ε, so FP boundary noise can't lose a pair),
    * and the exact |diff| ≤ ε predicate filters candidates. Each
    * qualifying pair matches in EXACTLY one bucket equality, so no
    * distinct is needed. Work = Σ bucket²-per-type, never n².
    * Oracle = the quadratic θ-join on the same bounded range.
    */
  val BandEps = 0.01

  val qBandJoin: QueryDef = QueryDef.sql(
    "q_band_join",
    s"""SELECT a.event_id AS id1, b.event_id AS id2,
       |       round(abs(a.value - b.value), 4) AS diff
       |FROM events a JOIN events b
       |  ON a.event_type = b.event_type AND a.event_id < b.event_id
       | AND abs(a.value - b.value) <= $BandEps
       |WHERE a.event_id < 2000 AND b.event_id < 2000
       |ORDER BY id1, id2""".stripMargin) { (s, d) =>
    val width = 2 * BandEps
    val ev = Tables.events(s, d).filter(col("event_id") < 2000L)
      .select(col("event_id"), col("event_type"), col("value"),
        floor(col("value") / width).cast("long").as("b"))
    val probes = ev.select(col("event_id").as("id1"),
        col("event_type").as("t1"), col("value").as("v1"),
        explode(array(col("b") - 1, col("b"), col("b") + 1)).as("pb"))
    probes
      .join(ev.select(col("event_id").as("id2"), col("event_type").as("t2"),
          col("value").as("v2"), col("b").as("b2")),
        col("t1") === col("t2") && col("pb") === col("b2") &&
          col("id1") < col("id2"))
      .filter(abs(col("v1") - col("v2")) <= BandEps)
      .select(col("id1"), col("id2"),
        round(abs(col("v1") - col("v2")), 4).as("diff"))
      .orderBy(col("id1"), col("id2"))
  }

  /** CUBE grouping sets over two dimensions. */
  val qCube: QueryDef = QueryDef.sql(
    "q_cube",
    """SELECT coalesce(l_returnflag, 'ALL') AS rf,
      |  coalesce(l_linestatus, 'ALL') AS ls,
      |  count(*) AS n
      |FROM lineitem
      |GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY rf, ls""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("n"))
      .orderBy(col("rf"), col("ls"))
  }

  /** Exact interpolated percentiles (vs the sketch in
    * q_approx_percentile).
    */
  val qMedian: QueryDef = QueryDef.sql(
    "q_median",
    """SELECT o_orderstatus,
      |  round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
      |  round(quantile_cont(o_totalprice, 0.9), 2) AS p90
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 2).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 2).as("p90"))
      .orderBy(col("o_orderstatus"))
  }

  /** Join-key skew diagnosis: the per-key row-count distribution that
    * decides whether a join needs salting/AQE skew handling. One
    * partial-agg shuffle; the distribution summary is O(1) rows.
    */
  val qSkewStats: QueryDef = QueryDef.sql(
    "q_skew_stats",
    """SELECT count(*) AS n_keys,
      |  CAST(max(n) AS BIGINT) AS max_rows,
      |  round(avg(n), 4) AS avg_rows,
      |  CAST(quantile_cont(n, 0.99) AS DOUBLE) AS p99_rows
      |FROM (SELECT count(*) AS n FROM lineitem GROUP BY l_orderkey)""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_keys"),
        max(col("n")).as("max_rows"),
        round(avg(col("n")), 4).as("avg_rows"),
        expr("percentile(n, 0.99)").cast("double").as("p99_rows"))
  }

  /** Inter-order gap per customer via lead(): consecutive-event
    * deltas inside one windowed pass.
    */
  val qOrderGaps: QueryDef = QueryDef.sql(
    "q_order_gaps",
    """WITH g AS (
      |  SELECT o_custkey,
      |    date_diff('day', o_orderdate,
      |      lead(o_orderdate) OVER (PARTITION BY o_custkey
      |                              ORDER BY o_orderdate, o_orderkey)) AS gap_days
      |  FROM orders)
      |SELECT o_custkey, CAST(count(gap_days) AS BIGINT) AS n_gaps,
      |  round(avg(gap_days), 2) AS avg_gap_days
      |FROM g WHERE gap_days IS NOT NULL
      |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, d)
      .withColumn("gap_days",
        datediff(lead(col("o_orderdate"), 1).over(w), col("o_orderdate")))
      .filter(col("gap_days").isNotNull)
      .groupBy(col("o_custkey"))
      .agg(count(col("gap_days")).as("n_gaps"),
        round(avg(col("gap_days")), 2).as("avg_gap_days"))
      .orderBy(col("o_custkey"))
  }

  /** Correlated scalar subquery (Catalyst decorrelates it into a
    * join under the hood).
    */
  val qCorrelatedScalar: QueryDef = QueryDef.sql(
    "q_correlated_scalar",
    """SELECT c_custkey FROM customer
      |WHERE (SELECT count(*) FROM orders WHERE o_custkey = c_custkey) >= 15
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    Tables.customer(s, d).createOrReplaceTempView("graft_customer_v")
    Tables.orders(s, d).createOrReplaceTempView("graft_orders_corr_v")
    s.sql("""SELECT c_custkey FROM graft_customer_v
            |WHERE (SELECT count(*) FROM graft_orders_corr_v
            |       WHERE o_custkey = c_custkey) >= 15
            |ORDER BY c_custkey""".stripMargin)
  }

  /** Explicit GROUPING SETS (neither ROLLUP nor CUBE): status and
    * priority margins plus the grand total, one pass. grouping()
    * flags disambiguate aggregation nulls from data nulls.
    */
  val qGroupingSets: QueryDef = QueryDef.sql(
    "q_grouping_sets",
    """SELECT o_orderstatus, o_orderpriority,
      |  CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
      |  CAST(grouping(o_orderpriority) AS BIGINT) AS g_prio,
      |  count(*) AS n, round(sum(o_totalprice), 2) AS total
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      |ORDER BY g_status, g_prio, o_orderstatus, o_orderpriority""".stripMargin) { (s, d) =>
    Tables.orders(s, d).createOrReplaceTempView("graft_orders_gs_v")
    s.sql("""SELECT o_orderstatus, o_orderpriority,
            |  CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
            |  CAST(grouping(o_orderpriority) AS BIGINT) AS g_prio,
            |  count(*) AS n, round(sum(o_totalprice), 2) AS total
            |FROM graft_orders_gs_v
            |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
            |ORDER BY g_status, g_prio, o_orderstatus, o_orderpriority""".stripMargin)
  }

  /** Time-range window frame: per customer, revenue in the 30 days up
    * to each order (RANGE BETWEEN INTERVAL ... PRECEDING). Range
    * frames include all peers of the current order value, so the
    * result is deterministic even when a customer places several
    * orders the same day — no tie-break column needed.
    */
  val qRangeFrame: QueryDef = QueryDef.sql(
    "q_range_frame",
    """SELECT o_orderkey,
      |  round(sum(o_totalprice) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate
      |    RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW), 2) AS rev_30d
      |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .withColumn("rev_30d", round(expr(
        """sum(o_totalprice) OVER (
          |  PARTITION BY o_custkey ORDER BY o_orderdate
          |  RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)""".stripMargin), 2))
      .select(col("o_orderkey"), col("rev_30d"))
      .orderBy(col("o_orderkey"))
  }

  /** ntile bucketing: revenue quartile of each customer within their
    * nation (total ordering via the custkey tie-break so both engines
    * fill the uneven buckets identically).
    */
  val qNtile: QueryDef = QueryDef.sql(
    "q_ntile",
    """WITH r AS (SELECT c_nationkey, c_custkey,
      |             round(sum(o_totalprice), 2) AS rev
      |           FROM customer JOIN orders ON c_custkey = o_custkey
      |           GROUP BY c_nationkey, c_custkey)
      |SELECT c_custkey,
      |  CAST(ntile(4) OVER (PARTITION BY c_nationkey
      |                      ORDER BY rev DESC, c_custkey) AS BIGINT) AS quartile
      |FROM r ORDER BY c_custkey""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val r = Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_nationkey"), col("c_custkey"))
      .agg(round(sum(col("o_totalprice")), 2).as("rev"))
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("rev").desc, col("c_custkey"))
    r.select(col("c_custkey"), ntile(4).over(w).cast("long").as("quartile"))
      .orderBy(col("c_custkey"))
  }

  /** Bucketized interval join: purchases matched to the same user's
    * clicks within the preceding 30 minutes — as a BATCH range join.
    * A naive `p.ts BETWEEN c.ts AND c.ts + 30m` predicate without an
    * equality key degenerates to a nested-loop join; bucketing event
    * time into 30-minute epochs turns it into TWO probe rows per
    * purchase (its own bucket and the previous one) joined by
    * (user_id, bucket) EQUALITY, then the exact range verified — the
    * standard shuffle-join formulation of interval joins at scale.
    * Same oracle as the streaming variant (stream_join).
    */
  val qIntervalJoin: QueryDef = QueryDef.sql(
    "q_interval_join",
    """SELECT p.event_id AS purchase_id, c.event_id AS click_id,
      |  p.user_id AS user_id
      |FROM events p JOIN events c
      |  ON p.user_id = c.user_id
      | AND p.event_type = 'purchase' AND c.event_type = 'click'
      | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
      |ORDER BY purchase_id, click_id""".stripMargin) { (s, d) =>
    val BucketUs = 30L * 60 * 1000000
    val ev = Tables.events(s, d).withColumn("us", unix_micros(col("ts")))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("us").as("c_us"), floor(col("us") / BucketUs).as("bucket"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("us").as("p_us"))
      .withColumn("bucket",
        explode(array(floor(col("p_us") / BucketUs), floor(col("p_us") / BucketUs) - 1)))
    purchases.join(clicks,
        col("p_user") === col("c_user") && purchases("bucket") === clicks("bucket"))
      .filter(col("p_us") >= col("c_us") && col("p_us") - col("c_us") <= BucketUs)
      .select(col("purchase_id"), col("click_id"), col("p_user").as("user_id"))
      .orderBy(col("purchase_id"), col("click_id"))
  }

  /** MERGE/upsert (SCD-1): an updates batch (changed prices for every
    * 97th order + brand-new orders cloned above the key space) merged
    * into the target — matched keys take the update, unmatched keep
    * the target, update-only keys insert. One full-outer join on the
    * key with coalesce row selection: the shuffle-join formulation of
    * MERGE INTO that lakehouse table formats execute underneath. The
    * updates side is deterministic (derived from the table itself) so
    * DuckDB replays the merge exactly.
    */
  val qMergeUpsert: QueryDef = QueryDef.sql(
    "q_merge_upsert",
    """WITH upd AS (
      |  SELECT o_orderkey, round(o_totalprice + 1000, 2) AS o_totalprice
      |  FROM orders WHERE o_orderkey % 97 = 0
      |  UNION ALL
      |  SELECT o_orderkey + 100000000, round(o_totalprice, 2)
      |  FROM orders WHERE o_orderkey % 101 = 0),
      |m AS (
      |  SELECT coalesce(u.o_orderkey, t.o_orderkey) AS k,
      |         coalesce(u.o_totalprice, round(t.o_totalprice, 2)) AS price,
      |         (u.o_orderkey IS NOT NULL AND t.o_orderkey IS NOT NULL) AS updated,
      |         (t.o_orderkey IS NULL) AS inserted
      |  FROM orders t FULL OUTER JOIN upd u ON t.o_orderkey = u.o_orderkey)
      |SELECT count(*) AS n_rows,
      |  CAST(sum(CASE WHEN updated THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
      |  CAST(sum(CASE WHEN inserted THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted,
      |  round(sum(price), 2) AS total
      |FROM m""".stripMargin) { (s, d) =>
    val t = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice"))
    val upd = t.filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey"), round(col("o_totalprice") + 1000, 2).as("u_price"))
      .unionAll(t.filter(col("o_orderkey") % 101 === 0)
        .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
          round(col("o_totalprice"), 2).as("u_price")))
    val m = t.toDF("t_key", "t_price")
      .join(upd.toDF("u_key", "u_price"), col("t_key") === col("u_key"), "full_outer")
      .select(
        coalesce(col("u_key"), col("t_key")).as("k"),
        coalesce(col("u_price"), round(col("t_price"), 2)).as("price"),
        (col("u_key").isNotNull && col("t_key").isNotNull).as("updated"),
        col("t_key").isNull.as("inserted"))
    m.agg(count(lit(1)).as("n_rows"),
      sum(when(col("updated"), 1).otherwise(0)).as("n_updated"),
      sum(when(col("inserted"), 1).otherwise(0)).as("n_inserted"),
      round(sum(col("price")), 2).as("total"))
  }

  /** MERGE/upsert (SCD-2): the history-preserving sibling of
    * q_merge_upsert. The same deterministic updates batch (changed
    * prices for every 97th order, effective 1998-06-01) merged into a
    * versioned dimension: matched target rows CLOSE (valid_to = the
    * effective date, is_current = false), a new version row opens per
    * update, unmatched target rows ride through open. Three
    * one-shuffle branches over the same key — semi-join (close),
    * anti-join (keep), and the updates themselves (insert) — union'd;
    * this is the join plan lakehouse engines compile MERGE ... WHEN
    * MATCHED THEN UPDATE SET valid_to ... WHEN NOT MATCHED INSERT
    * into. Dates emitted as strings (engine-independent encoding).
    */
  val qScd2: QueryDef = QueryDef.sql(
    "q_scd2",
    """WITH tgt AS (
      |  SELECT o_orderkey, round(o_totalprice, 2) AS price,
      |    strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS valid_from
      |  FROM orders),
      |upd AS (
      |  SELECT o_orderkey, round(o_totalprice + 1000, 2) AS price
      |  FROM orders WHERE o_orderkey % 97 = 0),
      |closed AS (
      |  SELECT t.o_orderkey, t.price, t.valid_from,
      |    '1998-06-01' AS valid_to, FALSE AS is_current
      |  FROM tgt t WHERE EXISTS (SELECT 1 FROM upd u WHERE u.o_orderkey = t.o_orderkey)),
      |kept AS (
      |  SELECT t.o_orderkey, t.price, t.valid_from,
      |    '9999-12-31' AS valid_to, TRUE AS is_current
      |  FROM tgt t WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.o_orderkey = t.o_orderkey)),
      |opened AS (
      |  SELECT o_orderkey, price, '1998-06-01' AS valid_from,
      |    '9999-12-31' AS valid_to, TRUE AS is_current
      |  FROM upd)
      |SELECT * FROM (
      |  SELECT * FROM closed UNION ALL
      |  SELECT * FROM kept UNION ALL
      |  SELECT * FROM opened)
      |ORDER BY o_orderkey, valid_from""".stripMargin) { (s, d) =>
    scd2Dim(s, d).orderBy(col("o_orderkey"), col("valid_from"))
  }

  /** The SCD-2 dimension q_scd2 materializes (unordered) — shared
    * with the point-in-time reader q_pit_snapshot.
    */
  def scd2Dim(s: SparkSession, d: String): DataFrame = {
    val tgt = Tables.orders(s, d).select(
      col("o_orderkey"), round(col("o_totalprice"), 2).as("price"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("valid_from"))
    val upd = Tables.orders(s, d).filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey"), round(col("o_totalprice") + 1000, 2).as("price"))
    val updKeys = upd.select(col("o_orderkey").as("u_key"))
    val closed = tgt
      .join(updKeys, tgt("o_orderkey") === updKeys("u_key"), "left_semi")
      .withColumn("valid_to", lit("1998-06-01"))
      .withColumn("is_current", lit(false))
    val kept = tgt
      .join(updKeys, tgt("o_orderkey") === updKeys("u_key"), "left_anti")
      .withColumn("valid_to", lit("9999-12-31"))
      .withColumn("is_current", lit(true))
    val opened = upd
      .withColumn("valid_from", lit("1998-06-01"))
      .withColumn("valid_to", lit("9999-12-31"))
      .withColumn("is_current", lit(true))
      .select("o_orderkey", "price", "valid_from", "valid_to", "is_current")
    closed.unionAll(kept).unionAll(opened)
  }

  private val scd2DimSql =
    """WITH tgt AS (
      |  SELECT o_orderkey, round(o_totalprice, 2) AS price,
      |    strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS valid_from
      |  FROM orders),
      |upd AS (
      |  SELECT o_orderkey, round(o_totalprice + 1000, 2) AS price
      |  FROM orders WHERE o_orderkey % 97 = 0),
      |closed AS (
      |  SELECT t.o_orderkey, t.price, t.valid_from,
      |    '1998-06-01' AS valid_to
      |  FROM tgt t WHERE EXISTS (SELECT 1 FROM upd u WHERE u.o_orderkey = t.o_orderkey)),
      |kept AS (
      |  SELECT t.o_orderkey, t.price, t.valid_from,
      |    '9999-12-31' AS valid_to
      |  FROM tgt t WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.o_orderkey = t.o_orderkey)),
      |opened AS (
      |  SELECT o_orderkey, price, '1998-06-01' AS valid_from,
      |    '9999-12-31' AS valid_to
      |  FROM upd),
      |dim AS (
      |  SELECT * FROM closed UNION ALL
      |  SELECT * FROM kept UNION ALL
      |  SELECT * FROM opened)""".stripMargin

  /** Point-in-time snapshot reads over the SCD-2 dimension: the
    * "what did the table say AS OF date X" query every temporal
    * warehouse serves (time travel over validity intervals, the read
    * side of q_scd2's write side). Snapshot membership is a validity
    * filter — valid_from ≤ as_of < valid_to on ISO-8601 strings, so
    * plain lexicographic comparison is date comparison — against a
    * BROADCAST 3-row as-of relation: the dim scans ONCE for all
    * snapshots, no shuffle beyond the final O(dates) aggregate.
    */
  val qPitSnapshot: QueryDef = QueryDef.sql(
    "q_pit_snapshot",
    s"""$scd2DimSql
       |SELECT d.as_of, count(*) AS n_rows,
       |  round(sum(price), 2) AS total_price
       |FROM (SELECT unnest(['1996-01-01', '1998-12-31', '2002-01-01']) AS as_of) d
       |JOIN dim ON dim.valid_from <= d.as_of AND d.as_of < dim.valid_to
       |GROUP BY d.as_of ORDER BY d.as_of""".stripMargin) { (s, d) =>
    val dates = s.range(1).select(explode(array(
      lit("1996-01-01"), lit("1998-12-31"), lit("2002-01-01"))).as("as_of"))
    scd2Dim(s, d)
      .join(broadcast(dates),
        col("valid_from") <= col("as_of") && col("as_of") < col("valid_to"))
      .groupBy(col("as_of"))
      .agg(count(lit(1)).as("n_rows"), round(sum(col("price")), 2).as("total_price"))
      .orderBy(col("as_of"))
  }

  /** Temporal (as-of-event-time) dimension join — the row-wise
    * generalization of q_pit_snapshot's fixed snapshot dates: every
    * lineitem row joins the SCD-2 dimension version that was valid
    * AT ITS OWN ship date (valid_from ≤ l_shipdate < valid_to), the
    * enrichment shape every event pipeline runs against a versioned
    * dimension. The join key is the EQUALITY key (orderkey) — the
    * validity interval is only a residual predicate on the matched
    * pair — so Catalyst plans a plain hash join (shuffle or broadcast
    * by dim size), never a range-join explosion: at 100 TB this costs
    * exactly what the non-temporal join costs. Each fact row matches
    * exactly one version (validity intervals partition the timeline
    * per key), pinned in ScalaTest.
    */
  val qTemporalJoin: QueryDef = QueryDef.sql(
    "q_temporal_join",
    s"""$scd2DimSql
       |SELECT (dim.valid_to = '9999-12-31') AS is_current,
       |  count(*) AS n_rows,
       |  round(sum(dim.price), 2) AS total_dim_price,
       |  round(sum(l.l_extendedprice), 2) AS total_fact_price
       |FROM lineitem l
       |JOIN dim ON l.l_orderkey = dim.o_orderkey
       |  AND dim.valid_from <= strftime(CAST(l.l_shipdate AS DATE), '%Y-%m-%d')
       |  AND strftime(CAST(l.l_shipdate AS DATE), '%Y-%m-%d') < dim.valid_to
       |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val fact = Tables.lineitem(s, d)
      .select(col("l_orderkey"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship"),
        col("l_extendedprice"))
    fact.join(scd2Dim(s, d),
        col("l_orderkey") === col("o_orderkey") &&
          col("valid_from") <= col("ship") && col("ship") < col("valid_to"))
      .groupBy((col("valid_to") === "9999-12-31").as("is_current"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("price")), 2).as("total_dim_price"),
        round(sum(col("l_extendedprice")), 2).as("total_fact_price"))
      .orderBy(col("is_current"))
  }

  /** Changelog compaction — the read-side materialization of a CDC
    * upsert stream (the Kafka-compacted-topic / Delta MERGE input
    * shape): a deterministic 3-version-per-key changelog (every 10th
    * order; version 3 is a DELETE for every 50th) compacts to the
    * LATEST version per key via max_by(…, seq) — one key-shuffle
    * aggregate, no window sort, O(keys) state regardless of
    * changelog length (the streaming analogue keeps exactly this
    * per-key state) — then drops tombstones. The readout audits
    * live/deleted counts and the surviving total.
    */
  val qCdcCompact: QueryDef = QueryDef.sql(
    "q_cdc_compact",
    """WITH base AS (
      |  SELECT o_orderkey AS k, round(o_totalprice, 2) AS p
      |  FROM orders WHERE o_orderkey % 10 = 0),
      |log AS (
      |  SELECT k, v AS seq, round(p + 100 * v, 2) AS price,
      |    CASE WHEN v = 3 AND k % 50 = 0 THEN 'D' ELSE 'U' END AS op
      |  FROM base, UNNEST(generate_series(1, 3)) AS t(v)),
      |latest AS (
      |  SELECT k, max_by(op, seq) AS op, max_by(price, seq) AS price
      |  FROM log GROUP BY k)
      |SELECT count(*) FILTER (op = 'U') AS n_live,
      |  count(*) FILTER (op = 'D') AS n_deleted,
      |  round(sum(price) FILTER (op = 'U'), 2) AS total_live
      |FROM latest""".stripMargin) { (s, d) =>
    val base = Tables.orders(s, d).filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey").as("k"), round(col("o_totalprice"), 2).as("p"))
    val log = base
      .withColumn("seq", explode(sequence(lit(1), lit(3))))
      .select(col("k"), col("seq"),
        round(col("p") + lit(100) * col("seq"), 2).as("price"),
        when(col("seq") === 3 && col("k") % 50 === 0, "D").otherwise("U").as("op"))
    log.groupBy(col("k"))
      .agg(expr("max_by(op, seq)").as("op"), expr("max_by(price, seq)").as("price"))
      .agg(
        count(when(col("op") === "U", 1)).as("n_live"),
        count(when(col("op") === "D", 1)).as("n_deleted"),
        round(sum(when(col("op") === "U", col("price"))), 2).as("total_live"))
  }

  val BloomFpp = 0.01

  /** Distributed Bloom-filter build over the (filtered) dim keys:
    * map-side partial sketches merge through one tiny exchange —
    * O(bits) driver traffic, never O(rows).
    */
  def bloomOf(df: DataFrame, key: Column, expectedItems: Long): Array[Byte] = {
    val bits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedItems, BloomFpp)
    df.select(org.apache.spark.sql.graft.BloomBridge
        .bloomAgg(key, expectedItems, bits))
      .head.getAs[Array[Byte]](0)
  }

  /** Bloom-filter-pruned join: the selective dim's key set is
    * sketched (one mergeable aggregate), and the sketch — a few KB
    * regardless of fact size — prunes the fact scan map-side with a
    * codegen'd might-contain BEFORE any join exchange. The exact join
    * then discards the sketch's false positives, so the result equals
    * the plain join (the oracle proves it). This is Spark's own
    * runtime-filter technique (InjectRuntimeFilter) made explicit and
    * deterministic: at 100 TB the win is fact rows that never enter
    * the shuffle; here ~96% of lineitem dies at the scan (plan-locked
    * in PlanAuditSpec: the might_contain filter sits under the join).
    */
  val qBloomJoin: QueryDef = QueryDef.sql(
    "q_bloom_join",
    """SELECT o_orderpriority, count(*) AS n,
      |  round(sum(l_extendedprice), 2) AS total
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 5 = 0
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    val dim = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_orderkey") % 5 === 0)
      .select(col("o_orderkey"), col("o_orderpriority"))
    val sketch = bloomOf(dim, col("o_orderkey"), expectedItems = 100000L)
    val fact = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_extendedprice"))
      .filter(org.apache.spark.sql.graft.BloomBridge
        .mightContain(sketch, col("l_orderkey")))
    fact.join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("total"))
      .orderBy(col("o_orderpriority"))
  }

  // per-process staging for the DPP fact table (same isolation
  // rationale as SourceOps.stagingRoot)
  private lazy val dppRoot: java.nio.file.Path =
    org.apache.spark.sql.graft.Scratch.dir("graft_dpp")

  /** Dynamic partition pruning: the fact side is PARTITIONED on the
    * join key, the dim side is a data-derived selective subset — at
    * runtime Spark turns the dim's key set into a partition filter on
    * the fact scan (`dynamicpruning` subquery in PartitionFilters),
    * so unmatched partitions are never listed or read. The runtime
    * sibling of static partition pruning (src_partitioned_scan):
    * static needs the literal in the query; DPP prunes from JOINed
    * data — at 100 TB this is what keeps star-schema joins from
    * scanning every date partition. Plan-locked in PlanAuditSpec.
    */
  val qDppJoin: QueryDef = QueryDef.sql(
    "q_dpp_join",
    """WITH dim AS (SELECT DISTINCT o_orderstatus
      |             FROM orders WHERE o_orderkey % 5000 = 0)
      |SELECT f.o_orderstatus, count(*) AS n,
      |  round(sum(f.o_totalprice), 2) AS total
      |FROM orders f JOIN dim USING (o_orderstatus)
      |GROUP BY f.o_orderstatus ORDER BY f.o_orderstatus""".stripMargin) { (s, d) =>
    val fact = dppFactTable(s, d)
    val dim = Tables.orders(s, d)
      .filter(col("o_orderkey") % 5000 === 0)
      .select(col("o_orderstatus").as("d_status")).distinct()
    fact.join(broadcast(dim), col("o_orderstatus") === col("d_status"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("o_orderstatus"))
  }

  /** The partitioned fact table the DPP join scans (written once per
    * process per source dir).
    */
  def dppFactTable(s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val path = dppRoot.resolve(
      d.replaceAll("[^a-zA-Z0-9]", "_")).toString
    if (!new java.io.File(s"$path/_SUCCESS").exists())
      Tables.orders(s, d)
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    s.read.parquet(path)
  }

  /** CDC snapshot diff: extract the change feed between two table
    * snapshots — the inverse of q_merge_upsert (which APPLIES a
    * batch; this RECOVERS one). Snapshot B is a deterministic
    * mutation of orders (every 89th key deleted, every 97th
    * survivor's price bumped, every 101st key cloned as an insert)
    * so DuckDB replays the diff exactly. One full-outer join on the
    * key classifies insert/delete/update/unchanged; at 100 TB both
    * sides shuffle once on the key (or co-located bucketed snapshots
    * make it shuffle-free — see q_bucketed_join).
    */
  val qSnapshotDiff: QueryDef = QueryDef.sql(
    "q_snapshot_diff",
    """WITH a AS (
      |  SELECT o_orderkey AS k, round(o_totalprice, 2) AS price FROM orders),
      |b AS (
      |  SELECT o_orderkey AS k,
      |    CASE WHEN o_orderkey % 97 = 0 THEN round(o_totalprice + 1000, 2)
      |         ELSE round(o_totalprice, 2) END AS price
      |  FROM orders WHERE o_orderkey % 89 <> 0
      |  UNION ALL
      |  SELECT o_orderkey + 100000000, round(o_totalprice, 2)
      |  FROM orders WHERE o_orderkey % 101 = 0),
      |m AS (
      |  SELECT
      |    CASE WHEN a.k IS NULL THEN 'insert'
      |         WHEN b.k IS NULL THEN 'delete'
      |         WHEN a.price <> b.price THEN 'update'
      |         ELSE 'unchanged' END AS change,
      |    coalesce(b.price, a.price) AS price
      |  FROM a FULL OUTER JOIN b ON a.k = b.k)
      |SELECT change, count(*) AS n, round(sum(price), 2) AS total
      |FROM m GROUP BY change ORDER BY change""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d)
    val a = o.select(col("o_orderkey").as("a_k"),
      round(col("o_totalprice"), 2).as("a_price"))
    val b = o.filter(col("o_orderkey") % 89 =!= 0)
      .select(col("o_orderkey").as("b_k"),
        when(col("o_orderkey") % 97 === 0, round(col("o_totalprice") + 1000, 2))
          .otherwise(round(col("o_totalprice"), 2)).as("b_price"))
      .unionAll(o.filter(col("o_orderkey") % 101 === 0)
        .select((col("o_orderkey") + 100000000L).as("b_k"),
          round(col("o_totalprice"), 2).as("b_price")))
    a.join(b, col("a_k") === col("b_k"), "full_outer")
      .select(
        when(col("a_k").isNull, "insert")
          .when(col("b_k").isNull, "delete")
          .when(col("a_price") =!= col("b_price"), "update")
          .otherwise("unchanged").as("change"),
        coalesce(col("b_price"), col("a_price")).as("price"))
      .groupBy(col("change"))
      .agg(count(lit(1)).as("n"), round(sum(col("price")), 2).as("total"))
      .orderBy(col("change"))
  }

  /** Shuffled hash join by hint: the middle ground the optimizer
    * won't pick by default — the build side is too big to broadcast
    * but small enough to hash per partition, so forcing SHJ skips
    * BOTH sides' sorts (sort-merge's cost at 100 TB is two
    * corpus-wide sorts; the hash build is O(build partition) memory
    * instead). Result equals the plain join, which is the oracle;
    * the plan lock asserts ShuffledHashJoin actually got picked.
    */
  val qShuffleHashJoin: QueryDef = QueryDef.sql(
    "q_shuffle_hash_join",
    """SELECT o_orderpriority, count(*) AS n,
      |  round(sum(l_extendedprice), 2) AS total
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d).hint("shuffle_hash"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("total"))
      .orderBy(col("o_orderpriority"))
  }

  val all: Seq[QueryDef] = Seq(
    qApproxDistinct, qApproxPercentile, qAsofJoin, qSkewSaltedJoin,
    qBucketedJoin, qPivot, qFullOuter, qTopPerKeyAgg, qScalarSubquery,
    qIntersect, qExcept, qIntersectAll, qExceptAll, qNullsafeJoin,
    qPercentileDisc, qBandJoin, qCube, qMedian,
    qSkewStats, qOrderGaps,
    qCorrelatedScalar, qGroupingSets, qRangeFrame, qNtile, qIntervalJoin,
    qMergeUpsert, qDppJoin, qScd2, qBloomJoin, qSnapshotDiff,
    qShuffleHashJoin, qPitSnapshot, qTemporalJoin, qCdcCompact,
    qAsofNearest)
}
