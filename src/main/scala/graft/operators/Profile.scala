package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.sources.Tables

/** Table profiling — the ANALYZE-shape statistics a cost-based
  * planner (or a data-quality gate) collects per column: row count,
  * non-null count, exact NDV, min/max/mean. One corpus scan total:
  * all measures run in a single aggregate (Catalyst plans the three
  * exact count-distincts as one Expand ×3 pass — the standard
  * multi-distinct plan; the sketch alternative for 100 TB is
  * q_approx_distinct's HLL, which collapses the expand).
  */
object Profile {

  private case class ColSpec(name: String)

  private val cols = Seq("l_quantity", "l_extendedprice", "l_discount")

  val profileStats: QueryDef = QueryDef.sql(
    "profile_stats",
    cols.map { c =>
      s"""SELECT '$c' AS col_name, count(*) AS n_rows, count($c) AS n_nonnull,
         |  count(DISTINCT $c) AS ndv, round(min($c), 6) AS min_v,
         |  round(max($c), 6) AS max_v, round(avg($c), 6) AS avg_v
         |FROM lineitem""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")) { (s, d) =>
    val li = Tables.lineitem(s, d)
    val aggs = count(lit(1)).as("n_rows") +: cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"${c}_nonnull"),
        countDistinct(col(c)).as(s"${c}_ndv"),
        round(min(col(c)), 6).as(s"${c}_min"),
        round(max(col(c)), 6).as(s"${c}_max"),
        round(avg(col(c)), 6).as(s"${c}_avg"))
    }
    val stackArgs = cols.map { c =>
      s"'$c', n_rows, ${c}_nonnull, ${c}_ndv, ${c}_min, ${c}_max, ${c}_avg"
    }.mkString(", ")
    li.agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${cols.size}, $stackArgs) AS " +
        "(col_name, n_rows, n_nonnull, ndv, min_v, max_v, avg_v)")
      .orderBy(col("col_name"))
  }

  /** Data-quality constraint suite (the Deequ/Great-Expectations
    * shape): each constraint reports its violation count and a
    * pass flag. Single-table constraints share ONE scan per table
    * (conditional aggregates in one agg); the two cross-table
    * constraints are an anti-join (referential integrity) and an
    * equality join (order-date consistency) — each one keyed
    * shuffle, the honest 100 TB plan for exact RI (the approximate
    * alternative is a bloom-filter probe, q_bloom_join).
    */
  val profileChecks: QueryDef = QueryDef.sql(
    "profile_checks",
    """WITH checks AS (
      |  SELECT 'lineitem.l_quantity complete' AS check_name,
      |         count(*) - count(l_quantity) AS violations FROM lineitem
      |  UNION ALL
      |  SELECT 'lineitem.l_discount in [0,0.1]',
      |         count(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 END) FROM lineitem
      |  UNION ALL
      |  SELECT 'orders.o_orderkey unique',
      |         count(*) - count(DISTINCT o_orderkey) FROM orders
      |  UNION ALL
      |  SELECT 'orders.o_orderstatus in {O,F,P}',
      |         count(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 END) FROM orders
      |  UNION ALL
      |  SELECT 'orders.o_custkey refs customer',
      |         (SELECT count(*) FROM orders o
      |          WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
      |  UNION ALL
      |  SELECT 'lineitem ships on/after order date',
      |         (SELECT count(*) FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      |          WHERE l.l_shipdate < o.o_orderdate))
      |SELECT check_name, violations, violations = 0 AS passed
      |FROM checks ORDER BY check_name""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d)
    val ord = Tables.orders(s, d)
    val cust = Tables.customer(s, d)
    // one scan for both lineitem constraints, one for both orders
    // constraints; cross-table checks are their own keyed joins
    val liChecks = li.agg(
        (count(lit(1)) - count(col("l_quantity"))).as("v_complete"),
        count(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1)).as("v_range"))
      .selectExpr("stack(2, 'lineitem.l_quantity complete', v_complete, " +
        "'lineitem.l_discount in [0,0.1]', v_range) AS (check_name, violations)")
    val ordChecks = ord.agg(
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("v_unique"),
        count(when(!col("o_orderstatus").isin("O", "F", "P"), 1)).as("v_accepted"))
      .selectExpr("stack(2, 'orders.o_orderkey unique', v_unique, " +
        "'orders.o_orderstatus in {O,F,P}', v_accepted) AS (check_name, violations)")
    val riCheck = ord.join(cust, col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("violations"))
      .select(lit("orders.o_custkey refs customer").as("check_name"), col("violations"))
    val dateCheck = li.select(col("l_orderkey"), col("l_shipdate"))
      .join(ord.select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") < col("o_orderdate"))
      .agg(count(lit(1)).as("violations"))
      .select(lit("lineitem ships on/after order date").as("check_name"), col("violations"))
    liChecks.union(ordChecks).union(riCheck).union(dateCheck)
      .select(col("check_name"), col("violations"),
        (col("violations") === 0).as("passed"))
      .orderBy(col("check_name"))
  }

  /** Equi-depth (quartile) histogram of l_extendedprice: exact
    * interpolated quartile boundaries (one scan), then a bucket
    * CASE + count/min/max pass (second scan) against the broadcast
    * single-row boundary relation. Boundary doubles are safe to
    * compare across engines: an interpolated quantile lies strictly
    * between adjacent data values, so a last-ulp difference cannot
    * move any row across a bucket. The 100 TB shape swaps the exact
    * quantile scan for the mergeable sketch (q_approx_percentile).
    */
  val profileEquidepth: QueryDef = QueryDef.sql(
    "profile_equidepth",
    """WITH q AS (
      |  SELECT quantile_cont(l_extendedprice, [0.25, 0.5, 0.75]) AS qs
      |  FROM lineitem),
      |bucketed AS (
      |  SELECT CASE WHEN l_extendedprice < qs[1] THEN 0
      |              WHEN l_extendedprice < qs[2] THEN 1
      |              WHEN l_extendedprice < qs[3] THEN 2
      |              ELSE 3 END AS bucket,
      |         l_extendedprice AS v
      |  FROM lineitem, q)
      |SELECT bucket, count(*) AS n,
      |       round(min(v), 2) AS lo, round(max(v), 2) AS hi
      |FROM bucketed GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d)
    val q = li.agg(expr(
      "percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D))").as("qs"))
    li.select(col("l_extendedprice").as("v"))
      .crossJoin(broadcast(q)) // single-row boundary relation
      .select(
        when(col("v") < col("qs").getItem(0), 0)
          .when(col("v") < col("qs").getItem(1), 1)
          .when(col("v") < col("qs").getItem(2), 2)
          .otherwise(3).as("bucket"),
        col("v"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        round(min(col("v")), 2).as("lo"), round(max(col("v")), 2).as("hi"))
      .orderBy(col("bucket"))
  }

  /** Pairwise Pearson correlation matrix (long form) for the three
    * numeric lineitem measures — all three pairs in ONE aggregate
    * over one scan; corr is algebraic, so partial aggregation keeps
    * the shuffle at one row per partition.
    */
  val profileCorr: QueryDef = QueryDef.sql(
    "profile_corr",
    """WITH c AS (
      |  SELECT
      |    corr(l_quantity, l_extendedprice) AS qty_price,
      |    corr(l_quantity, l_discount) AS qty_disc,
      |    corr(l_extendedprice, l_discount) AS price_disc
      |  FROM lineitem)
      |SELECT 'l_quantity~l_extendedprice' AS pair,
      |       floor(qty_price * 10000 + 0.5) / 10000 AS r FROM c
      |UNION ALL
      |SELECT 'l_quantity~l_discount', floor(qty_disc * 10000 + 0.5) / 10000 FROM c
      |UNION ALL
      |SELECT 'l_extendedprice~l_discount', floor(price_disc * 10000 + 0.5) / 10000 FROM c
      |ORDER BY pair""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .agg(corr(col("l_quantity"), col("l_extendedprice")).as("qty_price"),
        corr(col("l_quantity"), col("l_discount")).as("qty_disc"),
        corr(col("l_extendedprice"), col("l_discount")).as("price_disc"))
      .selectExpr("stack(3, " +
        "'l_quantity~l_extendedprice', floor(qty_price * 10000 + 0.5) / 10000, " +
        "'l_quantity~l_discount', floor(qty_disc * 10000 + 0.5) / 10000, " +
        "'l_extendedprice~l_discount', floor(price_disc * 10000 + 0.5) / 10000" +
        ") AS (pair, r)")
      .orderBy(col("pair"))
  }

  val KmvK = 1024

  /** Audience-overlap estimation via the native KMV theta sketch
    * (sql/graft/sketch.scala KmvAgg): ONE corpus pass builds a
    * bottom-1024 sketch of the user set per event type (map-side
    * partial merge, O(k) per partition on the wire), then every
    * pairwise intersection / Jaccard estimate is driver-side O(k)
    * arithmetic over the collected O(types · k) sketches. The exact
    * alternative (count(DISTINCT ...) per type-pair self-join)
    * shuffles the full user set once per pair — at 100 TB the sketch
    * table IS the product: estimates for all pairs from one scan,
    * mergeable across days/partitions (repartition-invariance
    * test-pinned; error bound vs exact pinned in ScalaTest).
    */
  val sketchKmvOverlap: QueryDef = QueryDef.rowsOnly("sketch_kmv_overlap") { (s, d) =>
    import org.apache.spark.sql.graft.Kmv
    val sketches = Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(graft.functions.SketchFunctions.kmv(col("user_id"), KmvK).as("sk"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1).toArray)
      .sortBy(_._1)
    val rows = for {
      (ta, ska) <- sketches.toSeq
      (tb, skb) <- sketches.toSeq if ta < tb
    } yield {
      val ea = Kmv.estimateDistinct(ska, KmvK)
      val eb = Kmv.estimateDistinct(skb, KmvK)
      val common = Kmv.estimateIntersection(ska, skb, KmvK)
      (ta, tb, math.round(ea), math.round(eb), math.round(common),
        math.round(common / (ea + eb - common) * 10000) / 10000.0)
    }
    import s.implicits._
    rows.toDF("type_a", "type_b", "est_users_a", "est_users_b",
      "est_common", "est_jaccard")
      .orderBy(col("type_a"), col("type_b"))
  }

  /** Builds (once) the per-(day, type) KMV sketch table over events
    * — the ingest-time artifact (kilobytes per cell) that answers
    * any distinct-user rollup, at any coarser grain, without
    * rescanning the fact table.
    */
  def kmvSketchTable(s: SparkSession, d: String): DataFrame =
    graft.sources.Warehouse.staged(s, d, "kmv", Seq("events.parquet"), s"k$KmvK") {
      Tables.events(s, d)
        .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
        .agg(graft.functions.SketchFunctions.kmv(col("user_id"), KmvK).as("sk"),
          count(lit(1)).as("n_events"))
    }

  /** Distinct users per event type answered from the STORED daily
    * sketch table alone via the second-level KmvMergeAgg — bottom-k
    * union-truncation is associative and idempotent on hash values,
    * so the rollup sketch is BIT-IDENTICAL to a one-shot sketch of
    * the raw corpus (pinned in ScalaTest — a property HLL register
    * merge shares but approximate-intersection support does not).
    * The estimate itself is computed IN-PLAN from the merged array
    * (exact below k, else (k−1)/θ), so nothing corpus-sized ever
    * reaches the driver.
    */
  val sketchKmvDaily: QueryDef = QueryDef.rowsOnly("sketch_kmv_daily") { (s, d) =>
    val merged = kmvSketchTable(s, d)
      .groupBy(col("event_type"))
      .agg(graft.functions.SketchFunctions.kmvMerge(col("sk"), KmvK).as("sk"),
        count(lit(1)).as("n_cells"),
        sum(col("n_events")).as("n_events"))
    // (k−1)/θ with θ = normalized k-th smallest hash, exact below k
    val theta = (element_at(col("sk"), size(col("sk"))).cast("double")
      - lit(Long.MinValue.toDouble)) / lit(math.pow(2.0, 64))
    merged.select(
        col("event_type"), col("n_cells"), col("n_events"),
        when(size(col("sk")) < KmvK, size(col("sk")).cast("double"))
          .otherwise(lit(KmvK - 1) / theta).as("est_users"))
      .select(col("event_type"), col("n_cells"), col("n_events"),
        round(col("est_users")).cast("long").as("est_users"))
      .orderBy(col("event_type"))
  }

  /** Distribution-drift monitor: per event type, total-variation
    * distance between the value distributions of the series' first
    * and second time halves (10 equal-width bins over the type's
    * global value range) — the production data-quality gate that
    * catches a metric silently changing shape. All float work is
    * EXACT-RATIONAL until one final division: the midpoint split is
    * integer µs arithmetic, TVD = Σ|n1ᵢ·N2 − n2ᵢ·N1| / (2·N1·N2)
    * keeps every sum in int64 (order-independent, so Spark's
    * arbitrary aggregation order and DuckDB's agree bit-for-bit).
    * One events scan + a per-type window pass + an O(types·bins)
    * aggregate — map-side at any corpus size.
    */
  val profileDrift: QueryDef = QueryDef.sql(
    "profile_drift",
    """WITH b AS (
      |  SELECT event_type, epoch_us(ts) AS tus, value,
      |    min(epoch_us(ts)) OVER (PARTITION BY event_type) AS t0,
      |    max(epoch_us(ts)) OVER (PARTITION BY event_type) AS t1,
      |    min(value) OVER (PARTITION BY event_type) AS v0,
      |    max(value) OVER (PARTITION BY event_type) AS v1
      |  FROM events),
      |g AS (
      |  SELECT event_type,
      |    CASE WHEN tus <= t0 + (t1 - t0) // 2 THEN 0 ELSE 1 END AS half,
      |    CASE WHEN v1 = v0 THEN NULL
      |         ELSE CAST(least(9, greatest(0,
      |           floor((value - v0) * 10 / (v1 - v0)))) AS INT) END AS bin
      |  FROM b),
      |h AS (
      |  SELECT event_type, bin,
      |    count(*) FILTER (half = 0) AS n1,
      |    count(*) FILTER (half = 1) AS n2
      |  FROM g GROUP BY 1, 2),
      |tot AS (SELECT event_type, sum(n1) AS ta, sum(n2) AS tb FROM h GROUP BY 1)
      |SELECT h.event_type,
      |  CAST(tot.ta AS BIGINT) AS n_first,
      |  CAST(tot.tb AS BIGINT) AS n_second,
      |  round(CAST(sum(abs(n1 * tot.tb - n2 * tot.ta)) AS DOUBLE)
      |        / (2.0 * tot.ta * tot.tb), 6) AS tvd
      |FROM h JOIN tot ON h.event_type = tot.event_type
      |GROUP BY h.event_type, tot.ta, tot.tb
      |ORDER BY h.event_type""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"))
    val b = Tables.events(s, d)
      .select(col("event_type"), unix_micros(col("ts")).as("tus"), col("value"))
      .withColumn("t0", min(col("tus")).over(w))
      .withColumn("t1", max(col("tus")).over(w))
      .withColumn("v0", min(col("value")).over(w))
      .withColumn("v1", max(col("value")).over(w))
    val g = b.select(col("event_type"),
      when(col("tus") <= col("t0") + expr("div(t1 - t0, 2)"), lit(0))
        .otherwise(lit(1)).as("half"),
      when(col("v1") === col("v0"), lit(null))
        .otherwise(least(lit(9), greatest(lit(0),
          floor((col("value") - col("v0")) * 10 / (col("v1") - col("v0")))))
          .cast("int")).as("bin"))
    val h = g.groupBy(col("event_type"), col("bin"))
      .agg(count(when(col("half") === 0, 1)).as("n1"),
        count(when(col("half") === 1, 1)).as("n2"))
    val tot = h.groupBy(col("event_type").as("et"))
      .agg(sum(col("n1")).as("ta"), sum(col("n2")).as("tb"))
    h.join(tot, col("event_type") === col("et"))
      .groupBy(col("event_type"), col("ta"), col("tb"))
      .agg(round(
        sum(abs(col("n1") * col("tb") - col("n2") * col("ta"))).cast("double")
          / (lit(2.0) * col("ta") * col("tb")), 6).as("tvd"))
      .select(col("event_type"), col("ta").as("n_first"),
        col("tb").as("n_second"), col("tvd"))
      .orderBy(col("event_type"))
  }

  /** Functional-dependency audit: for each candidate det→dep pair,
    * count determinant groups, groups whose dependent is not unique
    * (violations), and whether the FD holds. Each check is one
    * groupBy(det) + countDistinct(dep) — a single shuffle on the
    * determinant, output O(1) per candidate; candidates are a fixed
    * list so the union is a constant fan of independent aggregates
    * (at 100 TB they share nothing but the scans, which Spark reuses
    * via exchange reuse when the same table backs several checks).
    */
  val profileFd: QueryDef = {
    // (label, table, determinant, dependent)
    val candidates = Seq(
      ("orders.o_orderkey->o_custkey", "orders", "o_orderkey", "o_custkey"),
      ("orders.o_custkey->o_orderpriority", "orders", "o_custkey", "o_orderpriority"),
      ("nation.n_nationkey->n_regionkey", "nation", "n_nationkey", "n_regionkey"),
      ("events.event_id->user_id", "events", "event_id", "user_id"),
      ("events.user_id->event_type", "events", "user_id", "event_type"),
      ("lineitem.l_orderkey->l_returnflag", "lineitem", "l_orderkey", "l_returnflag"))
    val oracle = candidates.map { case (label, t, det, dep) =>
      s"""SELECT '$label' AS fd, count(*) AS n_groups,
         |  count(*) FILTER (WHERE nd > 1) AS n_violating,
         |  (count(*) FILTER (WHERE nd > 1)) = 0 AS holds
         |FROM (SELECT $det, count(DISTINCT $dep) AS nd FROM $t GROUP BY $det)""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY fd")
    QueryDef.sql("profile_fd", oracle) { (s, d) =>
      val frames = candidates.map { case (label, t, det, dep) =>
        Tables.load(s, d, t)
          .groupBy(col(det))
          .agg(countDistinct(col(dep)).as("nd"))
          .agg(count(lit(1)).as("n_groups"),
            count(when(col("nd") > 1, lit(1))).as("n_violating"))
          .select(lit(label).as("fd"), col("n_groups"), col("n_violating"),
            (col("n_violating") === 0).as("holds"))
      }
      frames.reduce(_ unionAll _).orderBy(col("fd"))
    }
  }

  /** Benford first-digit audit over l_extendedprice — the forensic
    * data-quality screen (fabricated or unit-mangled numeric columns
    * drift from the log distribution real multiplicative data
    * follows). Digit extraction is engine-exact integer/string work:
    * first char of the int64 cent value (floor(x·100 + 0.5) — no
    * log10-near-power-boundary hazard); one corpus scan into an
    * O(9) aggregate, shares folded from a window over it. Expected
    * Benford shares are Scala-formatted literals embedded in BOTH
    * plans, so the comparison column is bit-identical by
    * construction. Floor-rounding convention (see ts_interp).
    */
  val profileBenford: QueryDef = {
    val expected = (1 to 9)
      .map(dd => dd -> "%.6f".format(math.log10(1.0 + 1.0 / dd))).toMap
    val sqlCase = (1 to 9)
      .map(dd => s"WHEN $dd THEN ${expected(dd)}").mkString(" ")
    QueryDef.sql(
      "profile_benford",
      s"""WITH dg AS (
         |  SELECT CAST(substr(CAST(CAST(floor(l_extendedprice * 100 + 0.5)
         |    AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
         |  FROM lineitem),
         |a AS (SELECT digit, count(*) AS n FROM dg GROUP BY digit)
         |SELECT digit, n,
         |  floor(n * 10000.0 / sum(n) OVER () + 0.5) / 10000 AS obs_share,
         |  CASE digit $sqlCase END AS benford_share
         |FROM a ORDER BY digit""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val digit = substring(
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").cast("string"),
        1, 1).cast("int")
      val benford = (1 to 9).foldLeft(lit(null).cast("double")) { (acc, dd) =>
        when(col("digit") === dd, lit(expected(dd).toDouble)).otherwise(acc)
      }
      Tables.lineitem(s, d)
        .select(digit.as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
        .withColumn("obs_share",
          floor(col("n") * 10000.0 / sum(col("n")).over(Window.partitionBy()) + 0.5) / 10000)
        .withColumn("benford_share", benford)
        .orderBy(col("digit"))
    }
  }

  /** k-anonymity audit — the privacy gate a dataset release runs
    * before publishing quasi-identifiers: for each candidate QI set,
    * the equivalence-class profile (group count, smallest class
    * k_min, classes below k=5, and ROWS AT RISK inside them — the
    * re-identifiable population). Each QI set is one groupBy shuffle
    * producing an O(classes) relation the audit folds to one row;
    * class relations never leave the executor tier. Two QI sets show
    * the monotonicity every anonymization pipeline relies on:
    * coarsening the QI (dropping a column) can only grow classes.
    */
  val profileKanon: QueryDef = QueryDef.sql(
    "profile_kanon",
    """WITH g2 AS (
      |  SELECT c_nationkey, c_mktsegment, count(*) AS n
      |  FROM customer GROUP BY 1, 2),
      |g1 AS (SELECT c_nationkey, count(*) AS n FROM customer GROUP BY 1)
      |SELECT * FROM (
      |  SELECT 'nation+segment' AS qi, count(*) AS n_classes,
      |    min(n) AS k_min,
      |    count(*) FILTER (n < 5) AS classes_lt5,
      |    CAST(coalesce(sum(n) FILTER (n < 5), 0) AS BIGINT) AS rows_at_risk
      |  FROM g2
      |  UNION ALL
      |  SELECT 'nation', count(*), min(n),
      |    count(*) FILTER (n < 5),
      |    CAST(coalesce(sum(n) FILTER (n < 5), 0) AS BIGINT)
      |  FROM g1)
      |ORDER BY qi""".stripMargin) { (s, d) =>
    def audit(label: String, grouped: org.apache.spark.sql.DataFrame) =
      grouped.agg(
        count(lit(1)).as("n_classes"),
        min(col("n")).as("k_min"),
        count(when(col("n") < 5, 1)).as("classes_lt5"),
        coalesce(sum(when(col("n") < 5, col("n"))), lit(0L)).as("rows_at_risk"))
        .select(lit(label).as("qi"), col("n_classes"), col("k_min"),
          col("classes_lt5"), col("rows_at_risk"))
    val c = Tables.customer(s, d)
    audit("nation+segment",
        c.groupBy(col("c_nationkey"), col("c_mktsegment")).agg(count(lit(1)).as("n")))
      .unionAll(audit("nation",
        c.groupBy(col("c_nationkey")).agg(count(lit(1)).as("n"))))
      .orderBy(col("qi"))
  }

  /** l-diversity audit — k-anonymity's necessary complement: a class
    * can be large (k-safe) yet SENSITIVE-HOMOGENEOUS, so membership
    * alone discloses the sensitive value (Machanavajjhala et al.
    * 2007). Sensitive attribute = account-balance band; for each
    * candidate QI set: class count, l_min (fewest distinct sensitive
    * values in any class), homogeneous classes (l = 1) and the rows
    * inside them. Each QI set is one groupBy(QI, sensitive) shuffle
    * folded through a second O(classes) aggregate to one row —
    * class-level data never reaches the driver. The two QI sets pin
    * the merge monotonicity (coarsening the QI unions sensitive
    * sets, so l_min can only grow).
    */
  val profileLdiversity: QueryDef = QueryDef.sql(
    "profile_ldiversity",
    """WITH t AS (
      |  SELECT c_nationkey, c_mktsegment,
      |    CASE WHEN c_acctbal < 0 THEN 'debt'
      |         WHEN c_acctbal < 5000 THEN 'mid' ELSE 'high' END AS sens
      |  FROM customer),
      |g2 AS (
      |  SELECT c_nationkey, c_mktsegment,
      |    count(*) AS n, count(DISTINCT sens) AS l
      |  FROM t GROUP BY 1, 2),
      |g1 AS (
      |  SELECT c_nationkey, count(*) AS n, count(DISTINCT sens) AS l
      |  FROM t GROUP BY 1)
      |SELECT * FROM (
      |  SELECT 'nation+segment' AS qi, count(*) AS n_classes,
      |    min(l) AS l_min,
      |    count(*) FILTER (l = 1) AS homogeneous_classes,
      |    CAST(coalesce(sum(n) FILTER (l = 1), 0) AS BIGINT) AS rows_disclosed
      |  FROM g2
      |  UNION ALL
      |  SELECT 'nation', count(*), min(l),
      |    count(*) FILTER (l = 1),
      |    CAST(coalesce(sum(n) FILTER (l = 1), 0) AS BIGINT)
      |  FROM g1)
      |ORDER BY qi""".stripMargin) { (s, d) =>
    val t = Tables.customer(s, d).select(
      col("c_nationkey"), col("c_mktsegment"),
      when(col("c_acctbal") < 0, "debt")
        .when(col("c_acctbal") < 5000, "mid")
        .otherwise("high").as("sens"))
    def audit(label: String, grouped: org.apache.spark.sql.DataFrame) =
      grouped.agg(
        count(lit(1)).as("n_classes"),
        min(col("l")).as("l_min"),
        count(when(col("l") === 1, 1)).as("homogeneous_classes"),
        coalesce(sum(when(col("l") === 1, col("n"))), lit(0L)).as("rows_disclosed"))
        .select(lit(label).as("qi"), col("n_classes"), col("l_min"),
          col("homogeneous_classes"), col("rows_disclosed"))
    audit("nation+segment",
        t.groupBy(col("c_nationkey"), col("c_mktsegment"))
          .agg(count(lit(1)).as("n"), countDistinct(col("sens")).as("l")))
      .unionAll(audit("nation",
        t.groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n"), countDistinct(col("sens")).as("l"))))
      .orderBy(col("qi"))
  }

  /** ε-differentially-private count release (ε = 1, sensitivity 1):
    * per-(nation, segment) customer counts protected by the rounded
    * Laplace mechanism — the RELEASE-side privacy tool where
    * k-anonymity/l-diversity are audit-side. Noise is DERANDOMIZED
    * for replayability (the property every test/pipeline rerun
    * needs): u = xxhash64(group key, fixed seed) mapped to (0,1),
    * pushed through the inverse Laplace CDF, rounded to an integer —
    * per-group, map-side, codegen'd (hash + ln; no UDF, no RNG
    * state). One groupBy shuffle to O(groups), noise applied to the
    * aggregate rows only. True counts never appear in the output.
    * Rows-only by design (xxhash64 has no DuckDB counterpart);
    * determinism, exact noise replay, and the Laplace tail bound
    * (all |noise| ≤ (1/ε)·ln(groups/0.05) w.h.p.) pinned in
    * ScalaTest.
    */
  private val dpCountsOracle: String =
    """WITH g AS (SELECT c_nationkey, c_mktsegment, count(*) AS n
      |           FROM customer GROUP BY 1, 2),
      |r AS (SELECT c_nationkey, c_mktsegment, n,
      |  (CAST(concat('0x', substring(md5(concat_ws(',', c_nationkey, c_mktsegment, '42')), 1, 13)) AS BIGINT)
      |    + 0.5) / 4503599627370496.0 AS u
      |  FROM g)
      |SELECT c_nationkey, c_mktsegment,
      |  CAST(n + round(-sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5)) / 1.0) AS BIGINT)
      |    AS noisy_n,
      |  1.0 AS epsilon
      |FROM r ORDER BY c_nationkey, c_mktsegment""".stripMargin

  val profileDpCounts: QueryDef = QueryDef.sql(
    "profile_dp_counts", dpCountsOracle) { (s, d) =>
    val eps = 1.0
    val grouped = Tables.customer(s, d)
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"))
    dpRelease(grouped, Seq("c_nationkey", "c_mktsegment"), "n", eps)
      .orderBy(col("c_nationkey"), col("c_mktsegment"))
  }

  /** Rounded-Laplace DP release core: replaces `countCol` with
    * noisy_<countCol>. Factored out so the ScalaTest can replay the
    * noise exactly. The uniform draw is md5-derived (52 exact bits)
    * so the DuckDB oracle replays the identical noise.
    */
  def dpRelease(grouped: org.apache.spark.sql.DataFrame, keys: Seq[String],
      countCol: String, eps: Double): org.apache.spark.sql.DataFrame = {
    // u ∈ (0,1): 52 bits of the key md5; the +0.5/2^52 shift keeps u
    // strictly inside the interval so ln(1−2|u−½|) is finite
    val u = (conv(substring(
        md5(concat_ws(",", keys.map(col) :+ lit(42L): _*)), 1, 13), 16, 10)
      .cast("long").cast("double") + 0.5) / lit(4503599627370496.0) // 2^52
    val centered = u - 0.5
    val lap = -signum(centered) * log(lit(1.0) - lit(2.0) * abs(centered)) / eps
    grouped
      .withColumn(s"noisy_$countCol",
        (col(countCol) + round(lap)).cast("long"))
      .withColumn("epsilon", lit(eps))
      .drop(countCol)
  }

  /** Table-level PII exposure audit — the release gate's SUMMARY
    * view where text_redact is the row-level fix: per document
    * source, how many docs carry emails / phone numbers, total hits,
    * and the exposure rate. One corpus scan with map-side codegen'd
    * regexp counts (text_redact's exact patterns, so audit and
    * redaction can never disagree on what counts as PII) folded into
    * an O(sources) aggregate. The audit you run BEFORE shipping a
    * corpus; rate tells you whether redaction is worth a full pass.
    */
  val profilePii: QueryDef = {
    import graft.operators.TextAnalysis.{emailPattern, phonePattern}
    QueryDef.sql(
      "profile_pii",
      s"""SELECT source, count(*) AS n_docs,
        |  count(*) FILTER (length(regexp_extract_all(text, '$emailPattern')) > 0)
        |    AS docs_with_email,
        |  count(*) FILTER (length(regexp_extract_all(text, '$phonePattern')) > 0)
        |    AS docs_with_phone,
        |  CAST(sum(length(regexp_extract_all(text, '$emailPattern'))
        |    + length(regexp_extract_all(text, '$phonePattern'))) AS BIGINT)
        |    AS total_hits,
        |  floor(count(*) FILTER (
        |      length(regexp_extract_all(text, '$emailPattern')) > 0
        |      OR length(regexp_extract_all(text, '$phonePattern')) > 0)
        |    * 10000.0 / count(*) + 0.5) / 10000 AS pii_rate
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val em = regexp_count(col("text"), lit(emailPattern))
      val ph = regexp_count(col("text"), lit(phonePattern))
      Tables.documents(s, d)
        .select(col("source"), em.as("ne"), ph.as("np"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("ne") > 0, 1)).as("docs_with_email"),
          count(when(col("np") > 0, 1)).as("docs_with_phone"),
          sum(col("ne") + col("np")).cast("long").as("total_hits"),
          (floor(count(when(col("ne") > 0 || col("np") > 0, 1)) * 10000.0
            / count(lit(1)) + 0.5) / 10000).as("pii_rate"))
        .orderBy(col("source"))
    }
  }

  /** t-CLOSENESS audit — the third leg of the release-risk triad
    * (profile_kanon: class sizes; profile_ldiversity: value variety;
    * here: value DISTRIBUTION): a class can be k-anonymous and
    * l-diverse yet still leak because its sensitive-value mix is far
    * from the population's (90% 'debt' in one nation+segment cell is
    * a disclosure even with all three values present). Per class,
    * distance = ordered-EMD between the class's and the global
    * sensitive distribution — with the 3 ordered levels this is the
    * mean |cumulative difference| at the two interior cuts, the
    * Li/Li/Venkatasubramanian formulation. Cost: ONE corpus
    * aggregate to the (qi, sens) contingency (exact int counts);
    * everything after runs on O(classes) rows with the global
    * 3-vector broadcast as a literal cross join. Readout per QI
    * grain: class count, worst-class EMD, classes and rows past the
    * t = 0.2 policy line.
    */
  val profileTcloseness: QueryDef = QueryDef.sql(
    "profile_tcloseness",
    """WITH t AS (
      |  SELECT c_nationkey, c_mktsegment,
      |    CASE WHEN c_acctbal < 0 THEN 'debt'
      |         WHEN c_acctbal < 5000 THEN 'mid' ELSE 'high' END AS sens
      |  FROM customer),
      |g AS (
      |  SELECT CAST(count(*) FILTER (sens = 'debt') AS DOUBLE) / count(*) AS gd,
      |         CAST(count(*) FILTER (sens = 'mid') AS DOUBLE) / count(*) AS gm
      |  FROM t),
      |cls AS (
      |  SELECT c_nationkey, c_mktsegment, count(*) AS n,
      |    CAST(count(*) FILTER (sens = 'debt') AS DOUBLE) / count(*) AS pd,
      |    CAST(count(*) FILTER (sens = 'mid') AS DOUBLE) / count(*) AS pm
      |  FROM t GROUP BY 1, 2),
      |emd AS (
      |  SELECT c_nationkey, c_mktsegment, n,
      |    (abs(pd - gd) + abs((pd + pm) - (gd + gm))) / 2 AS d
      |  FROM cls, g)
      |SELECT 'nation+segment' AS qi, count(*) AS n_classes,
      |  round(max(d), 6) AS t_max,
      |  count(*) FILTER (d > 0.2) AS classes_over,
      |  CAST(coalesce(sum(n) FILTER (d > 0.2), 0) AS BIGINT) AS rows_over
      |FROM emd""".stripMargin) { (s, d) =>
    val t = Tables.customer(s, d).select(
      col("c_nationkey"), col("c_mktsegment"),
      when(col("c_acctbal") < 0, "debt")
        .when(col("c_acctbal") < 5000, "mid")
        .otherwise("high").as("sens"))
    def props(g: org.apache.spark.sql.RelationalGroupedDataset): DataFrame = g.agg(
      count(lit(1)).as("n"),
      (count(when(col("sens") === "debt", 1)).cast("double") /
        count(lit(1))).as("pd"),
      (count(when(col("sens") === "mid", 1)).cast("double") /
        count(lit(1))).as("pm"))
    val global = props(t.groupBy())
      .select(col("pd").as("gd"), col("pm").as("gm"))
    val cls = props(t.groupBy(col("c_nationkey"), col("c_mktsegment")))
    cls.crossJoin(broadcast(global))
      .withColumn("d",
        (abs(col("pd") - col("gd")) +
          abs((col("pd") + col("pm")) - (col("gd") + col("gm")))) / 2)
      .agg(count(lit(1)).as("n_classes"),
        round(max(col("d")), 6).as("t_max"),
        count(when(col("d") > 0.2, 1)).as("classes_over"),
        coalesce(sum(when(col("d") > 0.2, col("n"))), lit(0L)).as("rows_over"))
      .select(lit("nation+segment").as("qi"), col("n_classes"),
        col("t_max"), col("classes_over"), col("rows_over"))
  }

  /** MUTUAL INFORMATION between two categorical columns — the
    * dependence profiler for non-numeric pairs where profile_corr
    * (Pearson) is undefined: MI = Σ p_ij·ln(p_ij/(p_i·p_j)) over the
    * order-priority × order-status contingency, plus the marginal
    * entropies and the normalized coefficient
    * U = 2·MI/(H(X)+H(Y)) ∈ [0,1] analysts actually threshold on.
    * Cost: ONE corpus aggregate to the |X|×|Y| (≤15-cell) exact-int
    * contingency; marginals re-aggregate from the cells (no second
    * scan) and every float derives from exact counts through one
    * fixed expression tree. The log-sum reassociation across ≤15
    * cells is ~1e-16 against a round-to-6 readout.
    */
  val profileMi: QueryDef = QueryDef.sql(
    "profile_mi",
    """WITH cells AS (
      |  SELECT o_orderpriority AS x, o_orderstatus AS y, count(*) AS n
      |  FROM orders GROUP BY 1, 2),
      |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM cells),
      |mx AS (SELECT x, sum(n) AS nx FROM cells GROUP BY 1),
      |my AS (SELECT y, sum(n) AS ny FROM cells GROUP BY 1),
      |mi AS (
      |  SELECT sum((c.n / t.total) *
      |             ln(c.n * t.total / (CAST(mx.nx AS DOUBLE) * my.ny))) AS mi
      |  FROM cells c
      |  JOIN mx ON mx.x = c.x JOIN my ON my.y = c.y
      |  CROSS JOIN tot t),
      |hx AS (SELECT -sum((nx / t.total) * ln(nx / t.total)) AS h
      |       FROM mx, tot t),
      |hy AS (SELECT -sum((ny / t.total) * ln(ny / t.total)) AS h
      |       FROM my, tot t)
      |SELECT 'priority_x_status' AS pair,
      |  round(mi.mi, 6) AS mi,
      |  round(hx.h, 6) AS h_x, round(hy.h, 6) AS h_y,
      |  round(2 * mi.mi / (hx.h + hy.h), 6) AS uncertainty_coef
      |FROM mi, hx, hy""".stripMargin) { (s, d) =>
    val cells = Tables.orders(s, d)
      .groupBy(col("o_orderpriority").as("x"), col("o_orderstatus").as("y"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(eager = true) // tiny; marginals re-aggregate from it
    val tot = cells.agg(sum(col("n")).cast("double").as("total"))
    val mx = cells.groupBy(col("x")).agg(sum(col("n")).as("nx"))
    val my = cells.groupBy(col("y")).agg(sum(col("n")).as("ny"))
    val mi = cells.crossJoin(broadcast(tot))
      .join(broadcast(mx), "x").join(broadcast(my), "y")
      .agg(sum((col("n") / col("total")) *
        log(col("n") * col("total") /
          (col("nx").cast("double") * col("ny")))).as("mi"))
    val hx = mx.crossJoin(broadcast(tot))
      .agg((-sum((col("nx") / col("total")) *
        log(col("nx") / col("total")))).as("h"))
    val hy = my.crossJoin(broadcast(tot))
      .agg((-sum((col("ny") / col("total")) *
        log(col("ny") / col("total")))).as("h"))
    mi.crossJoin(broadcast(hx.select(col("h").as("h_x"))))
      .crossJoin(broadcast(hy.select(col("h").as("h_y"))))
      .select(lit("priority_x_status").as("pair"),
        round(col("mi"), 6).as("mi"),
        round(col("h_x"), 6).as("h_x"), round(col("h_y"), 6).as("h_y"),
        round(lit(2) * col("mi") / (col("h_x") + col("h_y")), 6)
          .as("uncertainty_coef"))
  }

  /** Cumulative Poisson(1) CDF thresholds for the bootstrap weight
    * ladder — Scala-formatted shortest-repr literals embedded in BOTH
    * plans (the profile_benford literal technique), so the inverse
    * CDF is bit-identical across engines.
    */
  private val PoissonCdf = Seq(
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238463, 0.9963401531726563, 0.9994058151824183,
    0.999916758850712, 0.9999897508033253)

  /** DISTRIBUTED BOOTSTRAP — error bars for an aggregate at corpus
    * scale without resampling: classical bootstrap resamples rows B
    * times (unrunnable at 100 TB); the Poisson bootstrap instead
    * gives every row an independent Poisson(1) weight per replicate,
    * so ONE scan with a map-side ×B weight explode computes all B
    * replicate means — partial aggregation collapses each partition
    * to B rows before the shuffle, so the wire carries
    * O(partitions·B), never B copies of the corpus. Everything is
    * derandomized and exact: u = multiplicative-congruential hash of
    * (orderkey, replicate) (q_weighted_sample's portable generator),
    * the weight is the Poisson inverse CDF as an 8-step threshold
    * ladder of shared literals, and each replicate mean is a ratio
    * of EXACT int64 sums (price in cents × integer weight) with one
    * final division — engine- and partition-identical. The 95% CI is
    * an explicit order-statistic selection (3rd/98th of B=100 sorted
    * replicate means), not an engine-specific quantile.
    */
  val profileBootstrap: QueryDef = QueryDef.sql(
    "profile_bootstrap", {
      val ladder = PoissonCdf
        .map(c => s"(CASE WHEN u >= $c THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH rep AS (SELECT unnest(range(0, 100)) AS b),
         |w AS (
         |  SELECT r.b,
         |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
         |    (((o_orderkey + r.b * 1000003) * 2654435761) % 1000000007)
         |      / 1000000007.0 AS u
         |  FROM orders CROSS JOIN rep r),
         |m AS (
         |  SELECT b, CAST(sum(wt * cents) AS DOUBLE) / sum(wt) / 100 AS mean
         |  FROM (SELECT b, cents, $ladder AS wt FROM w)
         |  GROUP BY b),
         |sorted AS (SELECT list_sort(list(mean)) AS l FROM m),
         |full_mean AS (
         |  SELECT CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE)
         |           / count(*) / 100 AS fm
         |  FROM orders)
         |SELECT 100 AS n_replicates, round(fm, 4) AS mean,
         |  round(l[3], 4) AS ci_lo, round(l[98], 4) AS ci_hi
         |FROM sorted, full_mean""".stripMargin
    }) { (s, d) =>
    val base = Tables.orders(s, d).select(
      col("o_orderkey"),
      round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val w = base
      .withColumn("b", explode(sequence(lit(0), lit(99))))
      .withColumn("u",
        (((col("o_orderkey") + col("b") * lit(1000003L)) * lit(2654435761L))
          % lit(1000000007L)) / lit(1000000007.0))
    val wt = PoissonCdf
      .map(c => when(col("u") >= lit(c), 1).otherwise(0))
      .reduce(_ + _)
    val means = w.withColumn("wt", wt)
      .groupBy(col("b"))
      .agg((sum(col("wt") * col("cents")).cast("double")
        / sum(col("wt")) / lit(100)).as("mean"))
    val sorted = means.agg(sort_array(collect_list(col("mean"))).as("l"))
    val fullMean = base.agg(
      (sum(col("cents")).cast("double") / count(lit(1)) / lit(100)).as("fm"))
    sorted.crossJoin(broadcast(fullMean))
      .select(lit(100).as("n_replicates"), round(col("fm"), 4).as("mean"),
        round(element_at(col("l"), 3), 4).as("ci_lo"),
        round(element_at(col("l"), 98), 4).as("ci_hi"))
  }

  /** Radius-bounded Local Outlier Factor (Breunig et al. 2000) over
    * the k-means point cloud — DENSITY-RELATIVE outliers that global
    * z-score / MAD methods (events_anomaly_mad, ts_esd) miss: a point
    * is anomalous when its local density is low RELATIVE to its
    * neighbors' densities, so cluster-edge points in sparse regions
    * don't false-positive.
    *
    * Scale design (the cluster_dbscan grid): min-max normalize
    * (single-row broadcast), bucket to cells of width h = √(c/n)
    * (density-adaptive → ~c points per cell at ANY corpus size),
    * candidate pairs from a map-side 9-cell probe explode joined on
    * cell equality, then the exact radius-h filter. Neighborhood =
    * all points within radius h, capped at the k=5 nearest (ties
    * broken by neighbor id) — the textbook MinPts ball, except
    * k-dist is bounded by h so candidate work is Σ|cell|·9c ≈ 9c·n,
    * never n². reach-dist/lrd/LOF are three id-key hash joins over
    * the O(k·n) pair relation. Isolated points (no neighbor within
    * h) have undefined local density and are excluded (they're
    * caught by the global methods). Rows-only: ScalaTest replays the
    * exact quadratic LOF at sf0.001 and pins equality; the ≥1
    * density-uniformity invariant (LOF ≈ 1 in uniform regions) is
    * pinned via the median.
    */
  /** profile_lof's oracle: replay the grid-bounded exact kNN and the
    * LOF algebra — md5-derived point ids, squared terms as plain
    * products (StrictMath.pow(x,2) is not bit-identical to x·x;
    * multiplication is, on both engines), and reach/lrd sums on
    * exact quantized longs so the k-neighbor aggregates are
    * partition-order invariant.
    */
  private def lofOracle(k: Int): String =
    s"""WITH raw AS (
       |  SELECT DISTINCT CAST(concat('0x', substring(md5(concat_ws(',',
       |      l_orderkey, l_linenumber,
       |      CAST(round(l_quantity * 100.0, 0) AS BIGINT),
       |      CAST(round(l_extendedprice * 100.0, 0) AS BIGINT))), 1, 13))
       |      AS BIGINT) AS id,
       |    l_quantity AS x, l_extendedprice AS y
       |  FROM lineitem),
       |hh AS (
       |  SELECT sqrt(4.0 / n) AS h, xmin, ymin,
       |    greatest(xmax - xmin, 1e-12) AS spx,
       |    greatest(ymax - ymin, 1e-12) AS spy
       |  FROM (SELECT min(x) AS xmin, max(x) AS xmax, min(y) AS ymin,
       |          max(y) AS ymax, CAST(count(*) AS DOUBLE) AS n FROM raw)),
       |cells AS MATERIALIZED (
       |  SELECT id, (x - s.xmin) / s.spx AS u, (y - s.ymin) / s.spy AS v,
       |    CAST(floor((x - s.xmin) / s.spx / s.h) AS BIGINT) AS cx,
       |    CAST(floor((y - s.ymin) / s.spy / s.h) AS BIGINT) AS cy
       |  FROM raw CROSS JOIN hh s),
       |knn AS MATERIALIZED (
       |  SELECT a, b, dist FROM (
       |    SELECT a, b, dist,
       |      row_number() OVER (PARTITION BY a ORDER BY dist, b) AS rn
       |    FROM (
       |      SELECT a.id AS a, b.id AS b,
       |        sqrt((a.u - b.u) * (a.u - b.u) + (a.v - b.v) * (a.v - b.v))
       |          AS dist
       |      FROM cells a JOIN cells b
       |        ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
       |       AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
       |       AND a.id <> b.id
       |      CROSS JOIN hh s
       |      WHERE sqrt((a.u - b.u) * (a.u - b.u) + (a.v - b.v) * (a.v - b.v))
       |        <= s.h))
       |  WHERE rn <= $k),
       |kdist AS (SELECT a, max(dist) AS kdist FROM knn GROUP BY a),
       |lrd AS MATERIALIZED (
       |  SELECT r.a,
       |    CAST(count(*) AS DOUBLE)
       |      / (CAST(greatest(
       |            sum(CAST(round(r.reach * 1000000000000.0, 0) AS BIGINT)),
       |            count(*) * 1000) AS DOUBLE) / 1000000000000.0) AS lrd
       |  FROM (SELECT knn.a, greatest(kb.kdist, knn.dist) AS reach
       |        FROM knn JOIN kdist kb ON kb.a = knn.b) r
       |  GROUP BY r.a)
       |SELECT id, n_neighbors, lof FROM (
       |  SELECT g.a AS id, CAST(g.nn AS INT) AS n_neighbors,
       |    floor(g.mean_lrd_nb / l.lrd * 10000 + 0.5) / 10000.0 AS lof
       |  FROM (
       |    SELECT knn.a,
       |      CAST(sum(CAST(round(lb.lrd * 1000000000.0, 0) AS BIGINT))
       |        AS DOUBLE) / 1000000000.0 / count(*) AS mean_lrd_nb,
       |      count(*) AS nn
       |    FROM knn JOIN lrd lb ON lb.a = knn.b
       |    GROUP BY knn.a) g
       |  JOIN lrd l ON l.a = g.a)
       |ORDER BY lof DESC, id LIMIT 20""".stripMargin

  val profileLof: QueryDef = QueryDef.sql("profile_lof", lofOracle(5)) { (s, d) =>
    val k = 5
    // md5-derived ids over exact-cent coordinates (doubles stringify
    // differently across engines; integers don't)
    val raw = KMeans.points(Tables.lineitem(s, d))
      .select(conv(substring(md5(concat_ws(",",
          col("l_orderkey"), col("l_linenumber"),
          round(col("x") * 100.0, 0).cast("long"),
          round(col("y") * 100.0, 0).cast("long"))), 1, 13), 16, 10)
        .cast("long").as("id"), col("x"), col("y"))
      .distinct()
      // one scan+md5+distinct serves the stats aggregate and every
      // consumer below. persist, NOT localCheckpoint: a checkpointed
      // RDD scan comes back with UnknownPartitioning, which forfeits
      // every exchange reuse downstream; the cached plan keeps its
      // partitioning. The stats collect materializes it eagerly.
      .persist()
    // normalization + grid constants (and the strategy pick below)
    // resolve driver-side from ONE O(1)-row aggregate and land in the
    // plan as LITERALS — no broadcast crossJoin
    val st = raw.agg(
      min(col("x")), max(col("x")), min(col("y")), max(col("y")),
      count(lit(1)).cast("double"),
      approx_count_distinct(struct(col("x"), col("y")))).collect()(0)
    val (xmin, xmax, ymin, ymax, n) = (st.getDouble(0), st.getDouble(1),
      st.getDouble(2), st.getDouble(3), st.getDouble(4))
    val dupRatio = n / math.max(1.0, st.getLong(5).toDouble)
    val h = math.sqrt(4.0 / n)
    val pts = raw.select(col("id"),
      ((col("x") - xmin) / math.max(xmax - xmin, 1e-12)).as("u"),
      ((col("y") - ymin) / math.max(ymax - ymin, 1e-12)).as("v"))
    // DENSITY-ADAPTIVE STRATEGY PICK (the sf1 fix). The h = √(4/n)
    // grid pitch assumes continuous coordinates; duplicated corpora
    // (x = l_quantity is ~50-valued, and replicated corpora repeat
    // whole points) saturate cells and the per-id pair stage goes
    // quadratic in cell population (OOMed at sf1 under 8 GiB). Both
    // strategies below compute the IDENTICAL result (the pooled path
    // is an exact algebraic factoring of the per-id path, ScalaTest-
    // pinned equal); the pick — an AQE-style plan-time decision off
    // the same one-row aggregate that already feeds h — trades the
    // per-id path's lean plumbing for duplicate collapse only when
    // duplication is actually present (>1.25× ids per coordinate;
    // approx_count_distinct's ~2% error is far from the decision
    // boundary on any corpus where the choice matters).
    // second plan-time pick off the SAME one-row aggregate: the cells
    // build side is ~48 B/row, so under ~2M ids it fits a broadcast
    // comfortably (sf0.1: 600k rows ≈ 30 MB) and the candidate join
    // runs map-side; above the bound the shuffle join is the fallback
    // (same result, both regimes plan-locked in Round9LofSpec).
    // r11: BOTH pooled picks are byte-sized against the heap (the anf
    // treatment), not row-counted. The r10 2e6-row lookup bound was
    // ~32 MB of data dressed as a memory guard — at sf1/sf3 the
    // 600k-coordinate corpus has 3.6M lookup rows (115 MB, constant
    // in SF because replication never adds coordinates), so the pick
    // fell back to the shuffled joins and re-exchanged the exploded
    // O(coords·k²) relation: 2.1-2.6 GB shuffle + ~0.5 GB spill, the
    // r10 scale table's red row. Byte math: kd/lrdB rows are 32 B
    // UnsafeRows (header+nulls+long+double), the coords cell build
    // side ~120 B/row (u, v, ids6[6], cx, cy); budget 1/16th of heap
    // capped at 512 MB — the broadcasts are built once per query (not
    // per round), and ~115 MB data is well inside guide §3.1's "few
    // hundred MB is fine". Above budget the shuffled fallbacks keep
    // the exact same results (Round9LofSpec pins all regimes).
    val bcBudget = math.min(Runtime.getRuntime.maxMemory / 16L, 512L << 20)
    val nCoords = st.getLong(5)
    if (dupRatio <= 1.25) lofPerId(pts, h, k, broadcastCells = n <= 2e6)
    else lofPooled(pts, h, k,
      broadcastLookups = nCoords * (k + 1) * 32L <= bcBudget,
      broadcastCells = nCoords * 120L <= bcBudget)
  }

  /** Per-id LOF path for ~distinct coordinates: candidate pairs from
    * a map-side 9-cell probe explode joined on cell equality, exact
    * radius-h filter, native TopKPerKey kNN cap, then the reach/lrd/
    * LOF algebra as three id-keyed hash joins over the O(k·n) kNN
    * relation. Candidate work is Σ|cell|·9c ≈ 9c·n — linear while the
    * grid's uniformity assumption holds (distinct coordinates), which
    * is exactly when this path is selected.
    */
  private[graft] def lofPerId(pts: DataFrame, h: Double, k: Int,
      broadcastCells: Boolean = true): DataFrame = {
    // materialize once: the probe and build sides of the cell join
    // would otherwise EACH re-run the scan + hash + distinct chain
    val cells = pts
      .withColumn("cx", floor(col("u") / h).cast("long"))
      .withColumn("cy", floor(col("v") / h).cast("long"))
      .persist()
    // probe side explodes to the 9-cell neighborhood (map-side O(9n))
    val probe = cells.select(col("id").as("a"), col("u").as("ua"),
        col("v").as("va"),
        explode(array((-1 to 1).flatMap(dx => (-1 to 1).map(dy =>
          struct((col("cx") + dx).as("jx"), (col("cy") + dy).as("jy")))): _*))
          .as("j"))
      .select(col("a"), col("ua"), col("va"),
        col("j.jx").as("cx"), col("j.jy").as("cy"))
    val build = cells.select(col("id").as("b"), col("u").as("ub"),
      col("v").as("vb"), col("cx"), col("cy"))
    // broadcastCells: the build side is the slim ~48 B/row (id,u,v,
    // cx,cy) relation. While it fits a broadcast, shipping the BUILD
    // side makes the candidate join map-side and the 9·n exploded
    // PROBE rows never cross an exchange (the r9 driver bench's probe
    // exchange carried 513 MB at sf0.1 — ~50× the suite median — and
    // made this entry the suite's noise amplifier); the first
    // corpus-wide exchange becomes TopKPerKey's O(k·n) survivor
    // shuffle. Above the caller's row bound the shuffled join is the
    // fallback, pruned first by the occupied-cell semi join:
    // quantized axes leave most of the 9-ring EMPTY (neighboring
    // value-columns sit many cells away), so the prune drops most
    // probe rows before the cell-join exchange. In the broadcast
    // regime that prune is redundant (probing an absent cell is a
    // hash miss already). Identical result either way.
    val joined =
      if (broadcastCells) probe.join(broadcast(build), Seq("cx", "cy"))
      else {
        val occupied = cells.select(col("cx"), col("cy")).distinct()
        probe.join(occupied, Seq("cx", "cy"), "left_semi")
          .join(build, Seq("cx", "cy"))
      }
    val pairs = joined
      .filter(col("a") =!= col("b"))
      // plain products, not pow(·, 2): StrictMath.pow is within 1 ulp
      // but not bit-identical to the multiply, and the oracle needs
      // bit-equal distances for the (dist, b) k-cut
      .withColumn("dist",
        sqrt((col("ua") - col("ub")) * (col("ua") - col("ub"))
          + (col("va") - col("vb")) * (col("va") - col("vb"))))
      .filter(col("dist") <= h)
      .select(col("a"), col("b"), col("dist"))
    // cap the ball at the k nearest (deterministic (dist, b) tie-break)
    // with the NATIVE TopKPerKey operator over the slim (a, b, dist)
    // relation: the window spelling sorts every per-point partition's
    // full pair list only to discard all but k rows — TopKPerKey keeps
    // a bounded k-row buffer per key on the map side, so the one
    // exchange carries O(k·n) survivors instead of the ~πc·n candidate
    // pairs, and NO sort runs anywhere. Cached (hash(a) partitioning
    // preserved) for its three consumers (kdist, reach, lof) so the
    // grid-pair stage never re-runs and the groupBy(a)s are
    // exchange-free.
    val knn = org.apache.spark.sql.graft.TopKOps.topKPerKey(
        pairs, Seq(col("a")), Seq(col("dist").asc, col("b").asc), k)
      .select(col("a"), col("b"), col("dist"))
      .persist()
    val kdist = knn.groupBy(col("a"))
      .agg(max(col("dist")).as("kdist"), count(lit(1)).as("ka"))
    // same size-adaptive regime for the reach/lof NEIGHBOR lookups:
    // kdist and lrd are O(n) two-column relations (~16 B/row), but
    // joining them on `b` the shuffled way re-exchanges the O(k·n)
    // knn relation TWICE (2 × ~72 MB at sf0.1). Broadcasting the
    // slim side keeps knn hash(a)-partitioned end-to-end, so the
    // TopKPerKey exchange is the ONLY corpus-wide shuffle this path
    // plans in the broadcast regime.
    def bc(df: DataFrame): DataFrame = if (broadcastCells) broadcast(df) else df
    val reach = knn.join(
        bc(kdist.select(col("a").as("b"), col("kdist").as("kdist_b"))), Seq("b"))
      .withColumn("reach", greatest(col("kdist_b"), col("dist")))
    // reach/lrd sums on exact quantized longs — the ≤k-value float
    // sums would otherwise be partition-order sensitive (Round-7 rule).
    // The 1000·count reach-sum floor handles DEGENERATE density (all
    // k neighbors at distance exactly 0 ⇒ division by zero; see
    // lofPooled, where duplicated corpora actually hit it). It never
    // binds here: nonzero quantized reaches are ≥ ~10⁵ at any corpus
    // this path is selected for, so oracle hashes are untouched.
    val lrd = reach.groupBy(col("a"))
      .agg((count(lit(1)).cast("double") /
        (greatest(
          sum(round(col("reach") * lit(1000000000000.0), 0).cast("long")),
          count(lit(1)) * lit(1000L))
          .cast("double") / lit(1000000000000.0))).as("lrd"))
      // two consumers (neighbor lookup + final ratio): computed once
      .persist()
    val lof = knn.join(
        bc(lrd.select(col("a").as("b"), col("lrd").as("lrd_b"))), Seq("b"))
      .groupBy(col("a"))
      .agg((sum(round(col("lrd_b") * lit(1000000000.0), 0).cast("long"))
        .cast("double") / lit(1000000000.0) / count(lit(1))).as("mean_lrd_nb"),
        count(lit(1)).as("n_neighbors"))
      .join(lrd, Seq("a"))
      .select(col("a").as("id"), col("n_neighbors").cast("int").as("n_neighbors"),
        // floor(x·10⁴+0.5)/10⁴, not round(x,4): identical IEEE ops in
        // both engines (Spark round is HALF_UP on BigDecimal, DuckDB
        // rounds the scaled double — they differ on exact halves)
        (floor(col("mean_lrd_nb") / col("lrd") * 10000 + 0.5) / 10000.0)
          .as("lof"))
    lof.orderBy(col("lof").desc, col("id")).limit(20)
  }

  /** Duplicate-collapsed LOF path for quantized/replicated corpora:
    * ALL candidate/kNN work runs at DISTINCT-COORDINATE granularity,
    * and per-id results are recovered exactly afterwards. Exactness
    * rests on two facts about the (dist ASC, id ASC) neighbor order:
    *   1. from any coordinate, only its k+1 SMALLEST ids can ever
    *      appear in someone's k-nearest list (co-located ids tie on
    *      dist, so the id tie-break admits smallest-first; +1 covers
    *      the id's own self-exclusion);
    *   2. two ids at the same coordinate see the SAME candidate
    *      ranking except for self-exclusion, so a (k+1)-entry pool
    *      per coordinate yields every id's exact kNN: pool minus
    *      itself, first k.
    * Only the 26 smallest ids per coordinate are ever materialized:
    * k+1 = 6 drive the pool/classes, and of the remaining (generic)
    * ids — which all share one LOF value — only the 20 smallest can
    * reach the global top-20 under the (lof DESC, id ASC) order.
    * Candidate work is Σ|cell|·9c over DISTINCT coordinates — the
    * duplication factor squares out of the pair stage entirely (the
    * per-id path OOMed at sf1; this path is ~linear in ids).
    */
  private[graft] def lofPooled(pts: DataFrame, h: Double, k: Int,
      broadcastLookups: Boolean = true,
      broadcastCells: Boolean = true): DataFrame = {
    val ids26 = org.apache.spark.sql.graft.TopKOps.topKPerKey(
      pts, Seq(col("u"), col("v")), Seq(col("id").asc), k + 21)
    val coords = ids26.groupBy(col("u"), col("v"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .withColumn("cx", floor(col("u") / h).cast("long"))
      .withColumn("cy", floor(col("v") / h).cast("long"))
      // materialized once: probe and build sides of the cell join;
      // cached (partitioning-preserving), hash(u, v) from the top-k
      // exchange
      .persist()
    // probe side explodes to the 9-cell neighborhood (map-side O(9·
    // distinct coords)); build side carries only the k+1 pool-eligible
    // ids so the join output stays slim.
    // broadcastCells (r11 — the lofPerId treatment on the POOLED
    // candidate join, the round-10 scale table's one red row: 2.3-2.9
    // GB shuffle + ~0.5 GB spill at sf1/sf3 through this join): the
    // build side is the slim ~120 B/row (ub, vb, ids6, cx, cy)
    // relation over DISTINCT coordinates; while it fits a broadcast
    // the candidate join is map-side, the 9× exploded probe rows
    // never cross an exchange, AND — because coords is hash(u, v)-
    // partitioned from the ids26 cut — the pool's TopKPerKey below
    // needs no new exchange either. The occupied-cell semi-join prune
    // is redundant in that regime (probing an absent cell is a hash
    // miss); above the bound the pruned shuffled join is the
    // fallback. Identical candidate set either way.
    val probeRaw = coords.select(col("u").as("ua"), col("v").as("va"),
        explode(array((-1 to 1).flatMap(dx => (-1 to 1).map(dy =>
          struct((col("cx") + dx).as("jx"), (col("cy") + dy).as("jy")))): _*))
          .as("j"))
      .select(col("ua"), col("va"),
        col("j.jx").as("cx"), col("j.jy").as("cy"))
    val probe =
      if (broadcastCells) probeRaw
      else probeRaw.join(coords.select(col("cx"), col("cy")).distinct(),
        Seq("cx", "cy"), "left_semi")
    val buildSide = coords.select(col("u").as("ub"), col("v").as("vb"),
      slice(col("ids"), 1, k + 1).as("ids6"), col("cx"), col("cy"))
    val cpairs = probe.join(
        if (broadcastCells) broadcast(buildSide) else buildSide,
        Seq("cx", "cy"))
      // plain products, not pow(·, 2) — see lofPerId. The self pair
      // (dist 0) stays: co-located ids are candidates of each other.
      .withColumn("dist",
        sqrt((col("ua") - col("ub")) * (col("ua") - col("ub"))
          + (col("va") - col("vb")) * (col("va") - col("vb"))))
      .filter(col("dist") <= h)
    val cand = cpairs.select(col("ua"), col("va"), col("dist"),
      explode(col("ids6")).as("b"))
    // per-coordinate candidate pool: the exact k+1 best (dist, id)
    // entries via the native TopKPerKey (bounded map-side buffers, no
    // sort, one exchange of O(coords·(k+1)))
    val pool = org.apache.spark.sql.graft.TopKOps.topKPerKey(
        cand, Seq(col("ua"), col("va")),
        Seq(col("dist").asc, col("b").asc), k + 1)
      .groupBy(col("ua"), col("va"))
      .agg(sort_array(collect_list(struct(col("dist"), col("b")))).as("pool"))
      .join(coords.select(col("u").as("ua"), col("v").as("va"), col("ids")),
        Seq("ua", "va"))
    // classes: each pool-eligible id gets its own kNN (pool minus
    // itself, first k); all remaining ids at the coordinate share the
    // generic class (pool first k) and are represented by their 20
    // smallest ids (myid = -1 marks generic; md5-derived ids are
    // nonnegative). Classes with an empty kNN (isolated coordinates)
    // are excluded — undefined local density, same as the per-id
    // path. Built as ONE projection (not a union) so the (ua, va)
    // hash partitioning from the pool exchange survives into the
    // tail: every groupBy below clusters on a superset of (ua, va)
    // and plans with ZERO additional exchanges.
    val classes = pool
      .select(col("ua"), col("va"), explode(concat(
        transform(slice(col("ids"), 1, k + 1), p =>
          struct(p.as("myid"),
            slice(filter(col("pool"), e => e("b") =!= p), 1, k).as("knn"))),
        // the generic struct rides in a length-0/1 slice (a typed
        // empty array literal has no DSL spelling)
        slice(array(struct(lit(-1L).as("myid"),
            slice(col("pool"), 1, k).as("knn"))),
          lit(1), when(size(col("ids")) > k + 1, 1).otherwise(0)))).as("c"))
      .select(col("ua"), col("va"), col("c.myid").as("myid"),
        col("c.knn").as("knn"))
      .filter(size(col("knn")) > 0)
      // one materialization for the three consumers below (kdist and
      // the two explode passes)
      .persist()
    // k-distance per pool-eligible id: pool order is (dist ASC, b
    // ASC), so the last kNN entry carries the max dist. Every id that
    // appears as someone's neighbor is pool-eligible at its own
    // coordinate (fact 1), so this relation covers all lookups.
    val kd = classes.filter(col("myid") =!= -1L)
      .select(col("myid").as("b"),
        element_at(col("knn"), size(col("knn")))("dist").as("kdist_b"))
    val ex = classes.select(col("ua"), col("va"), col("myid"),
        explode(col("knn")).as("e"))
      .select(col("ua"), col("va"), col("myid"),
        col("e.b").as("b"), col("e.dist").as("dist"))
    // reach/lrd sums on exact quantized longs (Round-7 rule). The
    // reach-sum floor of 1000·count handles DEGENERATE density (≥ k+1
    // ids on one coordinate ⇒ every reach is exactly 0 ⇒ lrd would
    // divide by zero, and ANSI mode throws): density caps at 10⁹,
    // duplicate clusters score LOF = 1.0 (typical, not anomalous),
    // and the 10⁹-quantized neighbor-mean below stays inside the long
    // domain. The floor never binds on non-degenerate points: any
    // nonzero quantized reach is ≥ ~10⁵ at these corpora (coordinate
    // spacing), so the sf0.01/sf0.1 oracle hashes are untouched.
    // size-adaptive (r10, the lofPerId cure applied here too): kd and
    // lrdB are slim O(coords·(k+1)) two-column lookups; joining them
    // shuffled re-exchanges the exploded `ex` relation on `b` TWICE
    // and then re-exchanges each groupBy back to (ua, va, myid).
    // Broadcasting them keeps ex hash(ua, va)-partitioned end-to-end
    // (a superset-keyed groupBy needs no new exchange), so the pool's
    // TopKPerKey exchange is the tail's only shuffle. Above the
    // caller's bound the shuffled joins are the fallback — identical
    // values, both regimes pinned in Round9LofSpec.
    def bc(df: DataFrame): DataFrame = if (broadcastLookups) broadcast(df) else df
    val lrd = ex.join(bc(kd), Seq("b"))
      .groupBy(col("ua"), col("va"), col("myid"))
      .agg((count(lit(1)).cast("double") /
        (greatest(
          sum(round(greatest(col("kdist_b"), col("dist"))
            * lit(1000000000000.0), 0).cast("long")),
          count(lit(1)) * lit(1000L))
          .cast("double") / lit(1000000000000.0))).as("lrd"))
      // two consumers (the neighbor lookup and the final ratio):
      // without this the ex⋈kd aggregation pipeline runs twice
      .persist()
    val lrdB = lrd.filter(col("myid") =!= -1L)
      .select(col("myid").as("b"), col("lrd").as("lrd_b"))
    val lof = ex.join(bc(lrdB), Seq("b"))
      .groupBy(col("ua"), col("va"), col("myid"))
      .agg((sum(round(col("lrd_b") * lit(1000000000.0), 0).cast("long"))
        .cast("double") / lit(1000000000.0) / count(lit(1))).as("mean_lrd_nb"),
        count(lit(1)).as("n_neighbors"))
      .join(lrd, Seq("ua", "va", "myid"))
      // generic representative ids come from the slim coords relation,
      // NOT from a rep array carried (and cached) on every class row
      .join(coords.select(col("u").as("ua"), col("v").as("va"),
          slice(col("ids"), k + 2, 20).as("rep")),
        Seq("ua", "va"))
      .select(
        explode(when(col("myid") === -1L, col("rep"))
          .otherwise(array(col("myid")))).as("id"),
        col("n_neighbors").cast("int").as("n_neighbors"),
        (floor(col("mean_lrd_nb") / col("lrd") * 10000 + 0.5) / 10000.0)
          .as("lof"))
    lof.orderBy(col("lof").desc, col("id")).limit(20)
  }

  /** Population Stability Index — THE industry drift score for a
    * numeric column between a reference and a current window
    * (banking/model-monitoring standard; profile_drift's JSD covers
    * categorical columns, this covers continuous ones): decile edges
    * come from the REFERENCE half (exact interpolated percentiles,
    * the q_median parity), both halves bin against those edges, and
    * PSI = Σ (p_cur − p_ref)·ln(p_cur/p_ref). The corpus splits at
    * the median timestamp (single-row broadcast); binning is one
    * CASE ladder against 9 broadcast literals + one (half, bin)
    * aggregate. <0.1 stable / 0.1–0.25 shifting / >0.25 drifted.
    */
  val profilePsi: QueryDef = QueryDef.sql(
    "profile_psi",
    """WITH mid AS (SELECT quantile_cont(epoch(ts), 0.5) AS m FROM events),
      |halves AS (
      |  SELECT CASE WHEN epoch(ts) <= (SELECT m FROM mid) THEN 0 ELSE 1 END
      |           AS half, value
      |  FROM events),
      |edges AS (
      |  SELECT unnest(quantile_cont(value,
      |           [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9])) AS e,
      |         unnest(range(1, 10)) AS pos
      |  FROM halves WHERE half = 0),
      |binned AS (
      |  SELECT h.half,
      |         coalesce((SELECT min(pos) FROM edges WHERE h.value <= e), 10)
      |           AS bin
      |  FROM halves h),
      |shares AS (
      |  SELECT half, bin,
      |         count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY half) AS p
      |  FROM binned GROUP BY half, bin),
      |paired AS (
      |  SELECT r.bin, r.p AS pr, c.p AS pc
      |  FROM shares r JOIN shares c ON r.bin = c.bin
      |  WHERE r.half = 0 AND c.half = 1)
      |SELECT bin, round(pr, 4) AS p_ref, round(pc, 4) AS p_cur,
      |  round((pc - pr) * ln(pc / pr), 6) AS psi_term
      |FROM paired ORDER BY bin""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d).select(col("ts"), col("value"))
    val mid = ev.agg(expr("percentile(unix_micros(ts), 0.5)").as("m"))
    val halves = ev.crossJoin(broadcast(mid))
      .select(when(expr("unix_micros(ts)") <= col("m"), 0).otherwise(1)
        .as("half"), col("value"))
    val edges = halves.filter(col("half") === 0)
      .agg(expr(
        "percentile(value, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))")
        .as("es"))
      .collect()(0).getSeq[Double](0)
    val bin = edges.zipWithIndex.foldRight(lit(10): Column) {
      case ((e, i), acc) => when(col("value") <= e, i + 1).otherwise(acc)
    }
    val shares = halves.select(col("half"), bin.as("bin"))
      .groupBy(col("half"), col("bin")).agg(count(lit(1)).as("n"))
      .withColumn("p", col("n") /
        sum(col("n")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("half"))))
    shares.filter(col("half") === 0)
      .select(col("bin"), col("p").as("pr"))
      .join(shares.filter(col("half") === 1)
        .select(col("bin"), col("p").as("pc")), Seq("bin"))
      .select(col("bin"), round(col("pr"), 4).as("p_ref"),
        round(col("pc"), 4).as("p_cur"),
        round((col("pc") - col("pr")) * log(col("pc") / col("pr")), 6)
          .as("psi_term"))
      .orderBy(col("bin"))
  }

  /** Inclusion-dependency discovery — the metadata profiling that
    * finds FOREIGN-KEY candidates (profile_fd finds functional
    * dependencies WITHIN a table; inclusion dependencies hold
    * BETWEEN tables and are what a query planner / data catalog
    * needs before it can trust a join): for each candidate
    * (child, parent) pair, count distinct child values and how many
    * are absent from the parent — a distinct aggregate + a left-anti
    * join each, the exact containment check. The candidate list
    * includes a deliberate negative (customers who never appear as
    * event users — only a tenth of customers do, at every SF) so the
    * operator demonstrably REJECTS non-dependencies.
    */
  val profileInclusion: QueryDef = QueryDef.sql(
    "profile_inclusion",
    """WITH cands(child, n_child, n_missing) AS (
      |  SELECT 'lineitem.l_orderkey<orders.o_orderkey',
      |    (SELECT count(DISTINCT l_orderkey) FROM lineitem),
      |    (SELECT count(*) FROM (SELECT DISTINCT l_orderkey FROM lineitem) c
      |     WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = c.l_orderkey))
      |  UNION ALL SELECT 'lineitem.l_partkey<part.p_partkey',
      |    (SELECT count(DISTINCT l_partkey) FROM lineitem),
      |    (SELECT count(*) FROM (SELECT DISTINCT l_partkey FROM lineitem) c
      |     WHERE NOT EXISTS (SELECT 1 FROM part WHERE p_partkey = c.l_partkey))
      |  UNION ALL SELECT 'lineitem.l_suppkey<supplier.s_suppkey',
      |    (SELECT count(DISTINCT l_suppkey) FROM lineitem),
      |    (SELECT count(*) FROM (SELECT DISTINCT l_suppkey FROM lineitem) c
      |     WHERE NOT EXISTS (SELECT 1 FROM supplier WHERE s_suppkey = c.l_suppkey))
      |  UNION ALL SELECT 'orders.o_custkey<customer.c_custkey',
      |    (SELECT count(DISTINCT o_custkey) FROM orders),
      |    (SELECT count(*) FROM (SELECT DISTINCT o_custkey FROM orders) c
      |     WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = c.o_custkey))
      |  UNION ALL SELECT 'events.user_id<customer.c_custkey',
      |    (SELECT count(DISTINCT user_id) FROM events),
      |    (SELECT count(*) FROM (SELECT DISTINCT user_id FROM events) c
      |     WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = c.user_id))
      |  UNION ALL SELECT 'customer.c_custkey<events.user_id',
      |    (SELECT count(DISTINCT c_custkey) FROM customer),
      |    (SELECT count(*) FROM (SELECT DISTINCT c_custkey FROM customer) c
      |     WHERE NOT EXISTS (SELECT 1 FROM events WHERE user_id = c.c_custkey)))
      |SELECT child AS candidate, CAST(n_child AS BIGINT) AS n_child,
      |  CAST(n_missing AS BIGINT) AS n_missing,
      |  n_missing = 0 AS included
      |FROM cands ORDER BY candidate""".stripMargin) { (s, d) =>
    import s.implicits._
    def check(name: String, child: DataFrame, childKey: String,
        parent: DataFrame, parentKey: String): (String, Long, Long) = {
      val c = child.select(col(childKey)).distinct()
      val nChild = c.count()
      val missing = c.join(parent.select(col(parentKey).as(childKey)),
        Seq(childKey), "left_anti").count()
      (name, nChild, missing)
    }
    val rows = Seq(
      check("lineitem.l_orderkey<orders.o_orderkey",
        Tables.lineitem(s, d), "l_orderkey", Tables.orders(s, d), "o_orderkey"),
      check("lineitem.l_partkey<part.p_partkey",
        Tables.lineitem(s, d), "l_partkey", Tables.part(s, d), "p_partkey"),
      check("lineitem.l_suppkey<supplier.s_suppkey",
        Tables.lineitem(s, d), "l_suppkey", Tables.supplier(s, d), "s_suppkey"),
      check("orders.o_custkey<customer.c_custkey",
        Tables.orders(s, d), "o_custkey", Tables.customer(s, d), "c_custkey"),
      check("events.user_id<customer.c_custkey",
        Tables.events(s, d), "user_id", Tables.customer(s, d), "c_custkey"),
      check("customer.c_custkey<events.user_id",
        Tables.customer(s, d), "c_custkey", Tables.events(s, d), "user_id"))
    rows.map { case (n, c, m) => (n, c, m, m == 0L) }
      .toDF("candidate", "n_child", "n_missing", "included")
      .orderBy(col("candidate"))
  }

  val all: Seq[QueryDef] = Seq(
    profileLof, profilePsi, profileInclusion,
    profileStats, profileChecks, profileEquidepth, profileCorr,
    sketchKmvOverlap, sketchKmvDaily, profileDrift, profileFd,
    profileBenford, profileKanon, profileLdiversity, profileDpCounts,
    profilePii, profileTcloseness, profileMi, profileBootstrap)
}
