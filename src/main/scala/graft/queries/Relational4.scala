package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.{AsOfJoin, RangeJoin}

/** Relational breadth beyond the reference, part 4: as-of join, binned
  * range join, CUBE. The first two are whole-operator capabilities Spark
  * has no native node for — implemented as scalable compositions
  * (ops.AsOfJoin, ops.RangeJoin) and oracled against DuckDB's native
  * ASOF JOIN / BETWEEN join.
  */
object Relational4 {

  /** Shared ANSI text (Spark + DuckDB verbatim): correlated scalar
    * subquery — decorrelated by Catalyst into agg + join.
    */
  val CorrelatedSql: String = """
      SELECT s_suppkey, s_name, s_acctbal
      FROM supplier s
      WHERE s_acctbal = (SELECT max(s2.s_acctbal) FROM supplier s2
                         WHERE s2.s_nationkey = s.s_nationkey)
      ORDER BY s_suppkey"""

  /** Shared ANSI text: EXISTS / NOT EXISTS → semi/anti joins. */
  val ExistsSql: String = """
      SELECT n_nationkey, n_name
      FROM nation n
      WHERE EXISTS (SELECT 1 FROM supplier s
                    WHERE s.s_nationkey = n.n_nationkey AND s.s_acctbal > 500)
        AND NOT EXISTS (SELECT 1 FROM supplier s
                        WHERE s.s_nationkey = n.n_nationkey AND s.s_acctbal < 0)
      ORDER BY n_nationkey"""

  val defs: Seq[QueryDef] = Seq(

    // As-of join: each purchase matched to the same user's most recent
    // click at-or-before it (union-and-window plan: one shuffle, no pair
    // explosion). Oracle uses DuckDB's native ASOF LEFT JOIN.
    QueryDef("q64_asof_join", Some("""
      WITH c AS (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events WHERE event_type = 'click'),
      p AS (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events WHERE event_type = 'purchase')
      SELECT p.user_id, p.event_id AS purchase_event, p.ms AS p_ms,
             c.event_id AS click_event, p.ms - c.ms AS gap_ms
      FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ms >= c.ms"""),
      (spark, dir) => {
        val e = T(spark, dir, "events").select(col("user_id"), col("event_id"),
          col("event_type"), unix_millis(col("ts")).as("ms"))
        val p = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("purchase_event"), col("ms"))
        val c = e.filter(col("event_type") === "click")
          .select(col("user_id"), col("ms").as("c_ms"),
            col("event_id").as("click_event"), col("ms").as("click_ms"))
        AsOfJoin.backward(p, c, Seq("user_id"), "ms", "c_ms",
            payload = Seq("click_event", "click_ms"))
          .select(col("user_id"), col("purchase_event"), col("ms").as("p_ms"),
            col("click_event"), (col("ms") - col("click_ms")).as("gap_ms"))
      }),

    // Range join: orders price-points against supplier [acctbal,
    // acctbal+1000] intervals via integer binning (shuffle join on the
    // bin key — no nested-loop cross product). Oracle is the plain
    // quadratic BETWEEN join.
    QueryDef("q65_range_join", Some("""
      WITH pts AS (SELECT o_orderkey, o_totalprice / 100.0 AS price_pt
                   FROM orders WHERE o_orderkey % 13 = 0),
      iv AS (SELECT s_suppkey, s_acctbal AS lo, s_acctbal + 1000.0 AS hi FROM supplier)
      SELECT s_suppkey, count(*) AS n_orders, round(avg(price_pt), 4) AS avg_price
      FROM iv JOIN pts ON price_pt BETWEEN lo AND hi
      GROUP BY s_suppkey"""),
      (spark, dir) => {
        val pts = T(spark, dir, "orders").filter(col("o_orderkey") % 13 === 0)
          .select(col("o_orderkey"), (col("o_totalprice") / 100.0).as("price_pt"))
        val iv = T(spark, dir, "supplier")
          .select(col("s_suppkey"), col("s_acctbal").as("lo"),
            (col("s_acctbal") + 1000.0).as("hi"))
        RangeJoin.pointInInterval(pts, "price_pt", iv, "lo", "hi", binWidth = 1000.0)
          .groupBy("s_suppkey")
          .agg(count(lit(1)).as("n_orders"), round(avg(col("price_pt")), 4).as("avg_price"))
      }),

    // Interval-OVERLAP join (RangeJoin.intervalOverlap — q65's
    // two-sided sibling): same-part shipment pairs whose delivery
    // windows ([shipdate, shipdate + quantity days] — the driver table
    // carries no receiptdate, so the window length is the in-data
    // deterministic l_quantity) were in flight together. Both sides
    // bin, pairs meet on (part, bin), and each pair is emitted only in
    // the bin holding its overlap's left edge — duplicate-free without
    // a distinct. The part key bounds the pair space; the oracle is
    // the plain quadratic overlap self-join.
    QueryDef("q219_overlap_join", Some("""
      WITH li AS (SELECT l_partkey AS p,
                         l_orderkey * 10 + l_linenumber AS id,
                         datediff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE)) AS lo,
                         datediff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE))
                           + CAST(l_quantity AS INTEGER) AS hi
                  FROM lineitem),
      pr AS (SELECT a.p, least(a.hi, b.hi) - greatest(a.lo, b.lo) + 1 AS od
             FROM li a JOIN li b
             ON a.p = b.p AND a.id < b.id AND a.lo <= b.hi AND b.lo <= a.hi)
      SELECT p AS part_key, CAST(count(*) AS BIGINT) AS n_overlaps,
             CAST(sum(od) AS BIGINT) AS overlap_days
      FROM pr GROUP BY 1"""),
      (spark, dir) => {
        val li = T(spark, dir, "lineitem").select(col("l_partkey").as("p"),
          (col("l_orderkey") * 10 + col("l_linenumber")).cast("long").as("id"),
          datediff(col("l_shipdate"), lit("1992-01-01")).as("lo"),
          (datediff(col("l_shipdate"), lit("1992-01-01"))
            + col("l_quantity").cast("int")).as("hi"))
        val a = li.select(col("p"), col("id").as("id_a"),
          col("lo").as("lo_a"), col("hi").as("hi_a"))
        val b = li.select(col("p"), col("id").as("id_b"),
          col("lo").as("lo_b"), col("hi").as("hi_b"))
        RangeJoin.intervalOverlap(a, "lo_a", "hi_a", b, "lo_b", "hi_b",
            Seq("p"), binWidth = 32.0)
          .filter(col("id_a") < col("id_b"))
          .groupBy(col("p"))
          .agg(count(lit(1)).as("n_overlaps"),
            sum(least(col("hi_a"), col("hi_b")) - greatest(col("lo_a"), col("lo_b")) + 1)
              .cast("long").as("overlap_days"))
          .select(col("p").as("part_key"), col("n_overlaps"), col("overlap_days"))
      }),

    // CUBE: all 4 grouping combinations over region × market segment in
    // one pass, grouping-id disambiguated (completes the ROLLUP/GROUPING
    // SETS family of q45/q57).
    QueryDef("q66_cube", Some("""
      SELECT coalesce(r_name, 'ALL') AS region, coalesce(c_mktsegment, 'ALL') AS segment,
             CAST(grouping(r_name) * 2 + grouping(c_mktsegment) AS INTEGER) AS gid,
             count(*) AS n, round(sum(c_acctbal), 2) AS total_bal
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY CUBE (r_name, c_mktsegment)"""),
      (spark, dir) =>
        T(spark, dir, "customer")
          .join(broadcast(T(spark, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(T(spark, dir, "region")), col("n_regionkey") === col("r_regionkey"))
          .cube(col("r_name"), col("c_mktsegment"))
          .agg(count(lit(1)).as("n"), round(sum(col("c_acctbal")), 2).as("total_bal"),
            (grouping(col("r_name")) * 2 + grouping(col("c_mktsegment"))).cast("int").as("gid"))
          .select(coalesce(col("r_name"), lit("ALL")).as("region"),
            coalesce(col("c_mktsegment"), lit("ALL")).as("segment"),
            col("gid"), col("n"), col("total_bal"))),

    // Statistical aggregates: correlation / covariance / variance of
    // order price vs item count per order priority.
    QueryDef("q68_stats_corr", Some("""
      WITH o AS (
        SELECT o_orderpriority, o_totalprice AS price,
               CAST(epoch_ms(o_orderdate) AS DOUBLE) / 86400000.0 AS dayno
        FROM orders)
      SELECT o_orderpriority,
             round(corr(price, dayno), 6) AS corr_pd,
             round(covar_samp(price, dayno), 4) AS cov_pd,
             round(var_samp(price), 4) AS var_p,
             round(stddev_samp(dayno), 6) AS sd_d,
             count(*) AS n
      FROM o GROUP BY o_orderpriority"""),
      (spark, dir) =>
        T(spark, dir, "orders")
          .select(col("o_orderpriority"), col("o_totalprice").as("price"),
            // o_orderdate is TIMESTAMP_NTZ; session TZ is UTC, so the
            // cast is the identity epoch DuckDB's epoch_ms computes.
            (unix_millis(col("o_orderdate").cast("timestamp")).cast("double")
              / 86400000.0).as("dayno"))
          .groupBy("o_orderpriority")
          .agg(round(corr(col("price"), col("dayno")), 6).as("corr_pd"),
            round(covar_samp(col("price"), col("dayno")), 4).as("cov_pd"),
            round(var_samp(col("price")), 4).as("var_p"),
            round(stddev_samp(col("dayno")), 6).as("sd_d"),
            count(lit(1)).as("n"))),

    // Linear-regression aggregates: slope/intercept/R² of acctbal vs
    // nationkey per market segment (the SQL-standard regr_* family).
    QueryDef("q69_regression", Some("""
      SELECT c_mktsegment,
             round(regr_slope(c_acctbal, c_nationkey), 6) AS slope,
             round(regr_intercept(c_acctbal, c_nationkey), 4) AS intercept,
             round(regr_r2(c_acctbal, c_nationkey), 6) AS r2,
             count(*) AS n
      FROM customer GROUP BY c_mktsegment"""),
      (spark, dir) =>
        T(spark, dir, "customer")
          .groupBy("c_mktsegment")
          .agg(round(regr_slope(col("c_acctbal"), col("c_nationkey")), 6).as("slope"),
            round(regr_intercept(col("c_acctbal"), col("c_nationkey")), 4).as("intercept"),
            round(regr_r2(col("c_acctbal"), col("c_nationkey")), 6).as("r2"),
            count(lit(1)).as("n"))),

    // Deterministic weighted sampling (Efraimidis-Spirakis with
    // hash-derived uniforms): 100 customers drawn w/o replacement with
    // probability ∝ acctbal+1001, reproducible across engines — the
    // oracle replays the identical selection keys.
    QueryDef("q73_weighted_sample", Some("""
      WITH w AS (
        SELECT c_custkey, c_name, c_acctbal + 1001.0 AS wt,
               (('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT
                % 1000003 + 1) / 1000004.0 AS u
        FROM customer)
      SELECT c_custkey, c_name, round(wt, 2) AS wt
      FROM w
      ORDER BY ln(u) / wt DESC, c_custkey
      LIMIT 100"""),
      (spark, dir) =>
        graft.ops.Sampling.weightedSample(
          T(spark, dir, "customer")
            .select(col("c_custkey"), col("c_name"),
              (col("c_acctbal") + 1001.0).as("wt")),
          "c_custkey", col("wt"), 100)
          .withColumn("wt", round(col("wt"), 2))),

    // Correlated scalar subquery (TPC-H Q2 shape): suppliers whose
    // account balance equals their nation's maximum. The same ANSI text
    // runs through spark.sql (exercising Catalyst's decorrelation — the
    // subquery plans as an aggregate + join, not a per-row loop) and
    // DuckDB.
    QueryDef("q74_correlated_subquery", Some(CorrelatedSql),
      (spark, dir) => {
        T(spark, dir, "supplier").createOrReplaceTempView("supplier")
        T(spark, dir, "nation").createOrReplaceTempView("nation")
        spark.sql(CorrelatedSql)
      }),

    // EXISTS / NOT EXISTS subqueries (plan as semi/anti joins): nations
    // with at least one high-balance supplier and no low-balance one.
    QueryDef("q75_exists", Some(ExistsSql),
      (spark, dir) => {
        T(spark, dir, "supplier").createOrReplaceTempView("supplier")
        T(spark, dir, "nation").createOrReplaceTempView("nation")
        spark.sql(ExistsSql)
      }),

    // Key-based upsert (MERGE semantics without a table format):
    // updates win on collision, unmatched rows survive, new keys append.
    // Updates are synthesized deterministically from the customer table.
    QueryDef("q80_upsert", Some("""
      WITH updates AS (
        SELECT c_custkey, c_name, round(c_acctbal + 100.0, 2) AS acctbal
        FROM customer WHERE c_custkey % 10 = 0
        UNION ALL
        SELECT c_custkey + 1000000, 'NEW ' || c_name, 0.0
        FROM customer WHERE c_custkey % 500 = 0),
      current AS (SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal FROM customer)
      SELECT c.c_custkey, c.c_name, c.acctbal
      FROM current c WHERE c.c_custkey NOT IN (SELECT c_custkey FROM updates)
      UNION ALL
      SELECT * FROM updates"""),
      (spark, dir) => {
        val cur = T(spark, dir, "customer")
          .select(col("c_custkey"), col("c_name"), round(col("c_acctbal"), 2).as("acctbal"))
        val updates = T(spark, dir, "customer").filter(col("c_custkey") % 10 === 0)
          .select(col("c_custkey"), col("c_name"),
            round(col("c_acctbal") + 100.0, 2).as("acctbal"))
          .unionByName(T(spark, dir, "customer").filter(col("c_custkey") % 500 === 0)
            .select((col("c_custkey") + 1000000).as("c_custkey"),
              concat(lit("NEW "), col("c_name")).as("c_name"),
              lit(0.0).as("acctbal")))
        graft.ops.Upsert.merge(cur, updates, Seq("c_custkey"))
      }),

    // Incremental aggregate maintenance: the old partition's aggregate
    // merged with the delta partition's aggregate must equal the
    // full-table aggregate (the oracle) — re-aggregation of partials is
    // exact for sum/count/min/max.
    QueryDef("q81_incremental_agg", Some("""
      SELECT o_orderpriority, count(*) AS n,
             round(sum(o_totalprice), 2) AS total,
             round(min(o_totalprice), 2) AS lo,
             round(max(o_totalprice), 2) AS hi
      FROM orders GROUP BY o_orderpriority"""),
      (spark, dir) => {
        def part(pred: org.apache.spark.sql.Column) =
          T(spark, dir, "orders").filter(pred)
            .groupBy("o_orderpriority")
            .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("total"),
              min(col("o_totalprice")).as("lo"), max(col("o_totalprice")).as("hi"))
        val cut = to_timestamp(lit("1997-01-01"))
        val old = part(col("o_orderdate") < cut)
        val delta = part(col("o_orderdate") >= cut)
        graft.ops.IncrementalAgg.merge(Seq(old, delta), Seq("o_orderpriority"),
            sumCols = Seq("n", "total"), minCols = Seq("lo"), maxCols = Seq("hi"))
          .select(col("o_orderpriority"), col("n"), round(col("total"), 2).as("total"),
            round(col("lo"), 2).as("lo"), round(col("hi"), 2).as("hi"))
      }),

    // Welch's t statistic between two customer segments' balances — the
    // A/B comparison aggregate, one conditional-aggregate pass.
    QueryDef("q86_ab_test", Some("""
      WITH g AS (
        SELECT avg(CASE WHEN c_mktsegment = 'BUILDING' THEN c_acctbal END) AS m1,
               var_samp(CASE WHEN c_mktsegment = 'BUILDING' THEN c_acctbal END) AS v1,
               count(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 END) AS n1,
               avg(CASE WHEN c_mktsegment = 'MACHINERY' THEN c_acctbal END) AS m2,
               var_samp(CASE WHEN c_mktsegment = 'MACHINERY' THEN c_acctbal END) AS v2,
               count(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 END) AS n2
        FROM customer)
      SELECT n1, n2, round(m1 - m2, 4) AS mean_diff,
             round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 6) AS t_stat
      FROM g"""),
      (spark, dir) => {
        val b = when(col("c_mktsegment") === "BUILDING", col("c_acctbal"))
        val m = when(col("c_mktsegment") === "MACHINERY", col("c_acctbal"))
        T(spark, dir, "customer")
          .agg(avg(b).as("m1"), var_samp(b).as("v1"),
            count(when(col("c_mktsegment") === "BUILDING", 1)).as("n1"),
            avg(m).as("m2"), var_samp(m).as("v2"),
            count(when(col("c_mktsegment") === "MACHINERY", 1)).as("n2"))
          .select(col("n1"), col("n2"), round(col("m1") - col("m2"), 4).as("mean_diff"),
            round((col("m1") - col("m2"))
              / sqrt(col("v1") / col("n1") + col("v2") / col("n2")), 6).as("t_stat"))
      }),

    // Fuzzy string matching: sampled targets joined to same-nation
    // candidates within Levenshtein distance 2 — the fuzzy-dedup /
    // entity-resolution primitive (the equi-key bounds the pair
    // explosion, exactly like the peer-search join).
    QueryDef("q87_fuzzy_match", Some("""
      SELECT a.c_custkey AS a_key, b.c_custkey AS b_key,
             CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
      FROM customer a JOIN customer b
        ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
      WHERE a.c_custkey % 97 = 0 AND levenshtein(a.c_name, b.c_name) <= 2"""),
      (spark, dir) => {
        val c = T(spark, dir, "customer")
        // Probe-side repartition + salted pair join (the Reports.q20
        // pattern): the %97-filtered probe scan arrives in 1-2 splits and
        // would otherwise run the per-pair levenshtein stage nearly
        // single-threaded; the salt keeps the non-broadcast fallback
        // wider than the 25-value nation key.
        val n = spark.sessionState.conf.numShufflePartitions
        val a = c.select(col("c_custkey").as("a_key"), col("c_nationkey").as("a_nation"),
          col("c_name").as("a_name")).filter(col("a_key") % 97 === 0).repartition(n)
        val b = c.select(col("c_custkey").as("b_key"), col("c_nationkey").as("b_nation"),
          col("c_name").as("b_name"))
        graft.ops.Salt.saltedPairJoin(a, b, "a_nation", "b_nation", "b_key",
            graft.ops.Salt.widthSalts(spark, keyCardinality = 25),
            col("a_key") < col("b_key"))
          .withColumn("dist", levenshtein(col("a_name"), col("b_name")))
          .filter(col("dist") <= 2)
          .select(col("a_key"), col("b_key"), col("dist"))
      }),

    // Per-group exact quantiles: median + quartiles + IQR per segment
    // (grouped variant of q58's global quantiles).
    QueryDef("q88_group_median", Some("""
      SELECT c_mktsegment,
             round(quantile_cont(c_acctbal, 0.25), 4) AS q1,
             round(quantile_cont(c_acctbal, 0.5), 4) AS median,
             round(quantile_cont(c_acctbal, 0.75), 4) AS q3,
             round(quantile_cont(c_acctbal, 0.75) - quantile_cont(c_acctbal, 0.25), 4) AS iqr
      FROM customer GROUP BY c_mktsegment"""),
      (spark, dir) =>
        T(spark, dir, "customer")
          .groupBy("c_mktsegment")
          .agg(round(percentile(col("c_acctbal"), lit(0.25)), 4).as("q1"),
            round(percentile(col("c_acctbal"), lit(0.5)), 4).as("median"),
            round(percentile(col("c_acctbal"), lit(0.75)), 4).as("q3"),
            round(percentile(col("c_acctbal"), lit(0.75))
              - percentile(col("c_acctbal"), lit(0.25)), 4).as("iqr"))),

    // Snapshot diff (CDC classification): customer vs the q80-style
    // upserted version — per-key inserted/deleted/updated/unchanged
    // counts via one full-outer join.
    QueryDef("q89_snapshot_diff", Some("""
      WITH before AS (
        SELECT c_custkey, round(c_acctbal, 2) AS acctbal FROM customer
        WHERE c_custkey % 7 <> 0),
      after AS (
        SELECT c_custkey, round(c_acctbal + CASE WHEN c_custkey % 10 = 0 THEN 100.0 ELSE 0.0 END, 2) AS acctbal
        FROM customer
        UNION ALL
        SELECT c_custkey + 1000000, 0.0 FROM customer WHERE c_custkey % 500 = 0)
      SELECT CASE WHEN b.c_custkey IS NULL THEN 'inserted'
                  WHEN a.c_custkey IS NULL THEN 'deleted'
                  WHEN b.acctbal IS DISTINCT FROM a.acctbal THEN 'updated'
                  ELSE 'unchanged' END AS change_type,
             count(*) AS n
      FROM before b FULL OUTER JOIN after a ON b.c_custkey = a.c_custkey
      GROUP BY 1"""),
      (spark, dir) => {
        val c = T(spark, dir, "customer")
        val before = c.filter(col("c_custkey") % 7 =!= 0)
          .select(col("c_custkey"), round(col("c_acctbal"), 2).as("acctbal"))
        val after = c.select(col("c_custkey"),
            round(col("c_acctbal") + when(col("c_custkey") % 10 === 0, 100.0)
              .otherwise(0.0), 2).as("acctbal"))
          .unionByName(c.filter(col("c_custkey") % 500 === 0)
            .select((col("c_custkey") + 1000000).as("c_custkey"),
              lit(0.0).as("acctbal")))
        graft.ops.Diff.snapshotDiff(before, after, Seq("c_custkey"), Seq("acctbal"))
          .groupBy("change_type").agg(count(lit(1)).as("n"))
      }),

    // Equi-width histogram: 25k-wide price bins with per-bin bounds —
    // the single-shuffle binning shape (no windows, no sort).
    QueryDef("q70_histogram", Some("""
      SELECT CAST(floor(o_totalprice / 25000.0) AS INTEGER) AS bin,
             count(*) AS n,
             round(min(o_totalprice), 2) AS lo,
             round(max(o_totalprice), 2) AS hi
      FROM orders GROUP BY 1"""),
      (spark, dir) =>
        T(spark, dir, "orders")
          .groupBy(floor(col("o_totalprice") / 25000.0).cast("int").as("bin"))
          .agg(count(lit(1)).as("n"), round(min(col("o_totalprice")), 2).as("lo"),
            round(max(col("o_totalprice")), 2).as("hi"))),

    // Rolling 90-day spend per customer: a RANGE frame over event-time
    // millis — the time-window aggregation that ROWS frames get wrong
    // when events cluster (frame must follow the clock, not row count).
    QueryDef("q96_rolling_window", Some("""
      SELECT o_custkey, o_orderkey, ms,
             round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY ms
               RANGE BETWEEN 7776000000 PRECEDING AND CURRENT ROW), 4) AS spend_90d,
             CAST(count(*) OVER (
               PARTITION BY o_custkey ORDER BY ms
               RANGE BETWEEN 7776000000 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_90d
      FROM (SELECT o_custkey, o_orderkey, epoch_ms(o_orderdate) AS ms, o_totalprice
            FROM orders WHERE o_custkey % 50 = 0)"""),
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("o_custkey").orderBy("ms")
          .rangeBetween(-7776000000L, Window.currentRow)
        T(spark, dir, "orders")
          .filter(col("o_custkey") % 50 === 0)
          .select(col("o_custkey"), col("o_orderkey"),
            // o_orderdate is TIMESTAMP_NTZ; session TZ is pinned UTC, so
            // the cast is the identity epoch DuckDB's epoch_ms computes.
            unix_millis(col("o_orderdate").cast("timestamp")).as("ms"), col("o_totalprice"))
          .select(col("o_custkey"), col("o_orderkey"), col("ms"),
            round(sum(col("o_totalprice")).over(w), 4).as("spend_90d"),
            count(lit(1)).over(w).as("n_90d"))
      }),

    // NTILE deciles: equal-frequency bucketing of customers by balance
    // (unique tiebreak pins the bucket boundaries on both engines).
    QueryDef("q97_ntile", Some("""
      WITH d AS (SELECT c_mktsegment, c_acctbal,
                        ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS decile
                 FROM customer)
      SELECT decile, count(*) AS n, round(min(c_acctbal), 2) AS lo,
             round(max(c_acctbal), 2) AS hi,
             CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_segments
      FROM d GROUP BY decile"""),
      (spark, dir) => {
        // Global ntile via the range-partitioned two-pass (ops.GlobalRank)
        // — row-identical to `ntile(10) OVER (ORDER BY ...)` but with no
        // single-partition WindowExec: the only global window left runs
        // over the B≈numShufflePartitions bin-count rows.
        graft.ops.GlobalRank.withNtile(T(spark, dir, "customer"), "decile", 10,
            Seq(col("c_acctbal"), col("c_custkey")))
          .groupBy("decile")
          .agg(count(lit(1)).as("n"), round(min(col("c_acctbal")), 2).as("lo"),
            round(max(col("c_acctbal")), 2).as("hi"),
            countDistinct(col("c_mktsegment")).as("n_segments"))
      }),

    // Data-quality gate (ops.Quality): all row-level constraints in ONE
    // aggregation pass over the fact table (conditional counts in a
    // single projection), plus an anti-join referential check — the
    // validation report a training-data ingest runs before trusting a
    // drop.
    QueryDef("q98_data_quality", Some("""
      SELECT * FROM (
        SELECT 'qty_out_of_range' AS check, CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations, count(*) AS n_rows FROM lineitem
        UNION ALL
        SELECT 'deep_discount', CAST(sum(CASE WHEN l_discount > 0.08 THEN 1 ELSE 0 END) AS BIGINT), count(*) FROM lineitem
        UNION ALL
        SELECT 'taxed_return', CAST(sum(CASE WHEN l_tax > 0.0 AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT), count(*) FROM lineitem
        UNION ALL
        SELECT 'null_partkey', CAST(sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT), count(*) FROM lineitem
        UNION ALL
        SELECT 'orphan_order_cust', CAST(count(*) AS BIGINT), CAST(NULL AS BIGINT)
        FROM orders o WHERE o.o_custkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))"""),
      (spark, dir) => {
        import graft.ops.Quality
        val li = T(spark, dir, "lineitem")
        val rows = Quality.rowChecks(li, Seq(
          Quality.Check("qty_out_of_range", col("l_quantity") < 1 || col("l_quantity") > 50),
          Quality.Check("deep_discount", col("l_discount") > 0.08),
          Quality.Check("taxed_return", col("l_tax") > 0.0 && col("l_returnflag") === "R"),
          Quality.Check("null_partkey", col("l_partkey").isNull)))
        rows.unionByName(Quality.fkViolations(
          T(spark, dir, "orders"), "o_custkey",
          T(spark, dir, "customer"), "c_custkey", "orphan_order_cust"))
      }),

    // Bloom-pruned selective join (ops.BloomPrune): the fact scan drops
    // non-Brand#13 lineitems via might_contain BEFORE the shuffle; the
    // exact join then removes false positives, so the oracle is the
    // plain join — the filter changes cost, never results.
    QueryDef("q95_bloom_join", Some("""
      SELECT p_type, round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
             count(*) AS n_items
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_brand = 'Brand#13'
      GROUP BY p_type"""),
      (spark, dir) =>
        graft.ops.BloomPrune.prunedInnerJoin(
          T(spark, dir, "lineitem"), "l_partkey",
          T(spark, dir, "part").filter(col("p_brand") === "Brand#13"), "p_partkey")
          .groupBy("p_type")
          .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("revenue"),
            count(lit(1)).as("n_items"))),

    // SCD Type-2 dimension maintenance (ops.Scd2): one update batch
    // against the customer dimension exercising all three behaviors —
    // a deterministic md5-selected fifth gets a balance change (old row
    // closes at v1, new opens), another fifth arrives UNCHANGED (no-op,
    // no empty version), and a twentieth arrives as brand-new keys
    // (insert, open at v1). The oracle reconstructs the exact history
    // table; the as-of join correctness this enables is q119's.
    QueryDef("q176_scd2_history", Some(s"""
      WITH $Scd2Ctes
      SELECT c_custkey, c_mktsegment, c_acctbal, valid_from, valid_to, is_current
      FROM hist"""),
      (spark, dir) => scd2History(spark, dir)),

    // The payoff of q176's history: an AS-OF fact join. Each order is
    // stamped with a deterministic version (md5 rank of the order key,
    // mod 2) and joins the customer dimension row VALID AT that version
    // — version-0 orders see pre-change balances, version-1 orders see
    // the post-batch rows. Key-equi join with the validity interval as
    // the join filter; this is what Type 1 overwriting can never answer.
    QueryDef("q179_scd2_asof_join", Some(s"""
      WITH $Scd2Ctes,
      facts AS (SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
                       CAST(o_custkey AS BIGINT) AS k,
                       CAST(('0x' || substr(md5(CAST(CAST(o_orderkey AS BIGINT) AS VARCHAR)), 1, 15))::BIGINT
                            % 1000003 + 1 AS BIGINT) % 2 AS v
                FROM orders)
      SELECT f.o_orderkey, f.v AS version, h.c_custkey, h.c_mktsegment,
             h.c_acctbal, h.valid_from
      FROM facts f JOIN hist h ON f.k = h.c_custkey
      WHERE h.valid_from <= f.v AND (h.valid_to IS NULL OR h.valid_to > f.v)"""),
      (spark, dir) => {
        import graft.ops.Sampling
        val hist = scd2History(spark, dir)
        val facts = T(spark, dir, "orders")
          .select(col("o_orderkey").cast("long").as("o_orderkey"),
            col("o_custkey").cast("long").as("k"),
            (Sampling.hashRank(col("o_orderkey").cast("long")) % 2).as("v"))
        facts.join(hist,
            col("k") === col("c_custkey") && col("valid_from") <= col("v") &&
              (col("valid_to").isNull || col("valid_to") > col("v")))
          .select(col("o_orderkey"), col("v").as("version"), col("c_custkey"),
            col("c_mktsegment"), col("c_acctbal"), col("valid_from"))
      }),

    // Quantile (rank) transform of a feature column — the third scaler
    // beside minmax (q19/M6) and standard (M13): values mapped to their
    // percentile inside a stratum, making any monotone distribution
    // uniform and outliers bounded. percent_rank derives from integer
    // ranks under a total order ((bal, custkey) tiebreak), so the
    // transform is exact — no float path at all until the final
    // division. Per-segment windows partition naturally; the GLOBAL
    // column uses the same percent_rank discipline over one partition —
    // at fact scale that column switches to GlobalRank.withRowNumber
    // (the q148/q151 no-global-window rule).
    QueryDef("q187_quantile_transform", Some("""
      SELECT c_custkey, c_mktsegment,
             round(percent_rank() OVER (PARTITION BY c_mktsegment
                     ORDER BY c_acctbal, c_custkey), 6) AS q_seg,
             round(percent_rank() OVER (ORDER BY c_acctbal, c_custkey), 6) AS q_global
      FROM customer"""),
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val byBal = Seq(col("c_acctbal").asc, col("c_custkey").asc)
        // Truncated: the count below and the ranked main pass both read
        // this frame — one materialization serves both.
        import graft.ops.Checkpoints.TruncateOps
        val seg = T(spark, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
          .withColumn("q_seg", round(percent_rank().over(
            Window.partitionBy("c_mktsegment").orderBy(byBal: _*)), 6))
          .truncated
        // Global percent_rank via GlobalRank, not an unpartitioned
        // window (r19 verdict #6 — customer-grain through one task's
        // sort): with the unique (acctbal, custkey) total order,
        // percent_rank = (row_number − 1) / (n − 1), identical
        // arithmetic to WindowExec's own definition.
        val n = seg.count()
        graft.ops.GlobalRank.withRowNumber(seg, "__rn", byBal)
          .withColumn("q_global",
            if (n <= 1) lit(0.0)
            else round((col("__rn") - 1).cast("double") / lit((n - 1).toDouble), 6))
          .drop("c_acctbal", "__rn")
      }),

    // Benford first-digit audit of order totals — the classic
    // fabricated-numbers screen: observed first-digit shares vs the
    // Benford expectation log10(1+1/d), with each digit's chi-square
    // contribution. The digit comes from the exact decimal-cents
    // integer (q172 discipline) rendered as a string — no float
    // log/pow in the digit path; one aggregation over the facts.
    // (Synthetic uniform-ish prices will FAIL Benford — large chi2 —
    // which is exactly what the audit should say about them.)
    QueryDef("q188_benford_audit", Some("""
      WITH c AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
                 FROM orders WHERE o_totalprice > 0),
      d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INTEGER) AS digit FROM c),
      n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM d),
      o AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM d GROUP BY digit)
      SELECT o.digit, o.n_obs,
             round(CAST(o.n_obs AS DOUBLE) / n.total, 6) AS obs_share,
             round(log10(1.0 + 1.0 / o.digit), 6) AS exp_share,
             round(pow(CAST(o.n_obs AS DOUBLE) / n.total - log10(1.0 + 1.0 / o.digit), 2)
                   / log10(1.0 + 1.0 / o.digit) * n.total, 6) AS chi2_part
      FROM o, n"""),
      (spark, dir) => {
        val cents = (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
        val d = T(spark, dir, "orders").filter(col("o_totalprice") > 0)
          .select(substring(cents.cast("string"), 1, 1).cast("int").as("digit"))
        val n = d.agg(count(lit(1)).as("total"))
        val expShare = log10(lit(1.0) + lit(1.0) / col("digit"))
        d.groupBy("digit").agg(count(lit(1)).as("n_obs"))
          .crossJoin(broadcast(n))
          .select(col("digit"), col("n_obs"),
            round(col("n_obs").cast("double") / col("total"), 6).as("obs_share"),
            round(expShare, 6).as("exp_share"),
            round(pow(col("n_obs").cast("double") / col("total") - expShare, 2)
              / expShare * col("total"), 6).as("chi2_part"))
      }),

    // Revenue-concentration report per market segment — Gini (rank
    // formula over exact decimal cents: Σ rank·cents is an exact
    // integer, so the coefficient has NO float accumulation at all),
    // HHI on whole currency units (cents // 100 keeps Σ units² inside
    // int64 at any realistic revenue — Σ cents² would overflow),
    // and the top-customer share. The skew diagnostics of the REVENUE
    // distribution, complementing q140's join-key skew profile; one
    // shuffle on the customer, one window rank per segment.
    QueryDef("q191_revenue_concentration", Some("""
      WITH rev AS (SELECT c.c_mktsegment AS seg, c.c_custkey,
                          CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
                   FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
                   GROUP BY 1, 2),
      rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY seg
                              ORDER BY cents, c_custkey) AS BIGINT) AS r
             FROM rev),
      s AS (SELECT seg, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(cents) AS BIGINT) AS total,
                   CAST(sum(r * cents) AS BIGINT) AS rc,
                   CAST(max(cents) AS BIGINT) AS mx,
                   CAST(sum((cents // 100) * (cents // 100)) AS BIGINT) AS sq,
                   CAST(sum(cents // 100) AS BIGINT) AS tu
            FROM rk GROUP BY seg)
      SELECT seg, n,
             round(CAST(2 * rc - (n + 1) * total AS DOUBLE) / (n * total), 6) AS gini,
             round(CAST(sq AS DOUBLE) / (CAST(tu AS DOUBLE) * tu), 6) AS hhi,
             round(CAST(mx AS DOUBLE) / total, 6) AS top1_share
      FROM s"""),
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val cents = (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
        val rev = T(spark, dir, "customer")
          .join(T(spark, dir, "orders"), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment").as("seg"), col("c_custkey"))
          .agg(sum(cents).as("cents"))
        val rk = rev.withColumn("r", row_number().over(
          Window.partitionBy("seg").orderBy(col("cents"), col("c_custkey"))).cast("long"))
        rk.groupBy("seg")
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("total"),
            sum(col("r") * col("cents")).as("rc"), max(col("cents")).as("mx"),
            sum(expr("(cents div 100) * (cents div 100)")).as("sq"),
            sum(expr("cents div 100")).as("tu"))
          .select(col("seg"), col("n"),
            round((lit(2) * col("rc") - (col("n") + 1) * col("total")).cast("double")
              / (col("n") * col("total")), 6).as("gini"),
            round(col("sq").cast("double")
              / (col("tu").cast("double") * col("tu")), 6).as("hhi"),
            round(col("mx").cast("double") / col("total"), 6).as("top1_share"))
      }),

    // Repeat-purchase cadence per segment — the lifecycle metric behind
    // churn models: per customer, day gaps between consecutive orders
    // (lag under the (day, orderkey) total order — same-day repeats
    // count as 0-day gaps), then mean / median / p90 per segment. Gaps
    // are exact integer days; the mean divides one exact sum, and the
    // percentiles use the interpolated-percentile pair already pinned
    // engine-equal by q121.
    QueryDef("q192_purchase_cadence", Some("""
      WITH o AS (SELECT o_custkey AS c, o_orderkey AS k,
                        CAST(epoch(date_trunc('day', o_orderdate)) / 86400 AS BIGINT) AS d
                 FROM orders),
      g AS (SELECT c, d - lag(d) OVER (PARTITION BY c ORDER BY d, k) AS gap FROM o),
      j AS (SELECT c_mktsegment AS seg, gap
            FROM g JOIN customer ON c = c_custkey
            WHERE gap IS NOT NULL)
      SELECT seg, CAST(count(*) AS BIGINT) AS n_gaps,
             round(CAST(sum(gap) AS DOUBLE) / count(*), 6) AS mean_days,
             round(quantile_cont(gap, 0.5), 6) AS median_days,
             round(quantile_cont(gap, 0.9), 6) AS p90_days
      FROM j GROUP BY seg"""),
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val o = T(spark, dir, "orders")
          .select(col("o_custkey").as("c"), col("o_orderkey").as("k"),
            (unix_timestamp(date_trunc("day", col("o_orderdate"))) / 86400)
              .cast("long").as("d"))
        val g = o.withColumn("gap", col("d") - lag(col("d"), 1).over(
          Window.partitionBy("c").orderBy(col("d"), col("k"))))
          .filter(col("gap").isNotNull)
        g.join(T(spark, dir, "customer"), col("c") === col("c_custkey"))
          .groupBy(col("c_mktsegment").as("seg"))
          .agg(count(lit(1)).as("n_gaps"),
            round(sum(col("gap")).cast("double") / count(lit(1)), 6).as("mean_days"),
            round(expr("percentile(gap, 0.5)"), 6).as("median_days"),
            round(expr("percentile(gap, 0.9)"), 6).as("p90_days"))
      }),

    // ABC / Pareto classification of parts by revenue — the inventory
    // standard: rank parts by revenue, class A carries the first 80% of
    // cumulative revenue, B to 95%, C the tail. Revenue and its running
    // total are exact decimal-cents integers under a total order
    // ((cents desc, partkey) — the running sum has no float in it), so
    // every class boundary is an exact integer comparison:
    // class = A iff cum_before < 80% of total, evaluated as
    // 100·cum_prev < 80·total in integers. Output is the per-class
    // summary; the per-part window partitions globally only over the
    // PART dimension (vocabulary-scale — the q151 global-rank caveat).
    QueryDef("q193_abc_classes", Some("""
      WITH rev AS (SELECT l_partkey AS p,
                          CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
                   FROM lineitem GROUP BY 1),
      t AS (SELECT CAST(sum(cents) AS BIGINT) AS total FROM rev),
      r AS (SELECT p, cents,
                   CAST(coalesce(sum(cents) OVER (ORDER BY cents DESC, p
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_prev
            FROM rev),
      cl AS (SELECT p, cents,
                    CASE WHEN 100 * cum_prev < 80 * total THEN 'A'
                         WHEN 100 * cum_prev < 95 * total THEN 'B'
                         ELSE 'C' END AS cls
             FROM r, t)
      SELECT cls, CAST(count(*) AS BIGINT) AS n_parts,
             CAST(sum(cents) AS BIGINT) AS class_cents,
             round(CAST(sum(cents) AS DOUBLE) / any_value(total), 6) AS revenue_share,
             round(CAST(count(*) AS DOUBLE)
                   / (SELECT count(*) FROM rev), 6) AS part_share
      FROM cl, t GROUP BY cls"""),
      (spark, dir) => {
        import graft.ops.Checkpoints.TruncateOps
        val cents = (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
        // Truncated: the totals aggregate and the prefix-sum pass below
        // both read this frame — one materialization serves both.
        val rev = T(spark, dir, "lineitem")
          .groupBy(col("l_partkey").as("p")).agg(sum(cents).as("cents"))
          .truncated
        val t = rev.agg(sum(col("cents")).as("total"),
          count(lit(1)).as("n_all"))
        // PrefixSum, not sum() OVER (ORDER BY … 1 PRECEDING): the frame
        // is part-grain — corpus-scaled — and the unpartitioned running
        // window funnels it through ONE task's sort (r19 verdict #6).
        // The two-phase scan is row-identical (exclusive running sum,
        // nulls-as-0 — CurationSpec pins parity with the window form).
        val r = graft.ops.PrefixSum.withRunningSum(rev, "cents", "cum_prev",
            Seq(col("cents").desc, col("p").asc))
          .crossJoin(broadcast(t))
          .withColumn("cls",
            when(lit(100) * col("cum_prev") < lit(80) * col("total"), "A")
              .when(lit(100) * col("cum_prev") < lit(95) * col("total"), "B")
              .otherwise("C"))
        r.groupBy("cls")
          .agg(count(lit(1)).as("n_parts"), sum(col("cents")).as("class_cents"),
            round(sum(col("cents")).cast("double") / first(col("total")), 6)
              .as("revenue_share"),
            round(count(lit(1)).cast("double") / first(col("n_all")), 6)
              .as("part_share"))
      }),

    // New-vs-returning revenue split per month — the growth-accounting
    // decomposition: a customer's first-ever order month tags every
    // later order as 'returning'. One aggregation for the first-month
    // map (customer-scale, broadcast into the fact scan), exact cents
    // everywhere, one rounded share.
    QueryDef("q194_new_vs_returning", Some("""
      WITH o AS (SELECT o_custkey AS c, strftime(o_orderdate, '%Y-%m') AS m,
                        CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
                 FROM orders),
      fm AS (SELECT c, min(m) AS first_m FROM o GROUP BY c)
      SELECT o.m AS month,
             CAST(sum(CASE WHEN o.m = fm.first_m THEN cents ELSE 0 END) AS BIGINT) AS new_cents,
             CAST(sum(CASE WHEN o.m <> fm.first_m THEN cents ELSE 0 END) AS BIGINT) AS returning_cents,
             CAST(count(DISTINCT CASE WHEN o.m = fm.first_m THEN o.c END) AS BIGINT) AS new_customers,
             round(CAST(sum(CASE WHEN o.m = fm.first_m THEN cents ELSE 0 END) AS DOUBLE)
                   / sum(cents), 6) AS new_share
      FROM o JOIN fm ON o.c = fm.c
      GROUP BY o.m"""),
      (spark, dir) => {
        val o = T(spark, dir, "orders")
          .select(col("o_custkey").as("c"),
            date_format(col("o_orderdate"), "yyyy-MM").as("m"),
            (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("cents"))
        val fm = o.groupBy("c").agg(min(col("m")).as("first_m"))
        o.join(broadcast(fm), "c")
          .groupBy(col("m").as("month"))
          .agg(
            sum(when(col("m") === col("first_m"), col("cents")).otherwise(0L))
              .as("new_cents"),
            sum(when(col("m") =!= col("first_m"), col("cents")).otherwise(0L))
              .as("returning_cents"),
            countDistinct(when(col("m") === col("first_m"), col("c")))
              .as("new_customers"),
            round(sum(when(col("m") === col("first_m"), col("cents")).otherwise(0L))
              .cast("double") / sum(col("cents")), 6).as("new_share"))
      }),

    // Supplier return-rate league table — the ops quality metric: share
    // of a supplier's line items returned (l_returnflag = 'R'), ranked
    // worst-first among suppliers with enough volume for the rate to
    // mean anything (integer min-volume gate, the q196 discipline).
    // Exact integer counts, one rounded share, one vocabulary-scale
    // rank.
    QueryDef("q197_supplier_returns", Some("""
      WITH s AS (SELECT l_suppkey,
                        CAST(count(*) AS BIGINT) AS n_items,
                        CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned
                 FROM lineitem GROUP BY l_suppkey
                 HAVING count(*) >= 20)
      SELECT l_suppkey, n_items, n_returned,
             round(CAST(n_returned AS DOUBLE) / n_items, 6) AS return_rate,
             CAST(row_number() OVER (ORDER BY CAST(n_returned AS DOUBLE) / n_items DESC,
                                              l_suppkey) AS INTEGER) AS worst_rank
      FROM s"""),
      (spark, dir) => {
        val s = T(spark, dir, "lineitem")
          .groupBy("l_suppkey")
          .agg(count(lit(1)).as("n_items"),
            sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("n_returned"))
          .filter(col("n_items") >= 20)
        val rate = col("n_returned").cast("double") / col("n_items")
        // GlobalRank, not row_number() OVER (ORDER BY …): supplier-grain
        // scales with the corpus, and the unpartitioned window funnels
        // it through one task (r19 verdict #6; unique suppkey tiebreak
        // makes the distributed rank row-identical).
        graft.ops.GlobalRank.withRowNumber(
            s.select(col("l_suppkey"), col("n_items"), col("n_returned"),
              round(rate, 6).as("return_rate")),
            "worst_rank", Seq(rate.desc, col("l_suppkey").asc))
          .withColumn("worst_rank", col("worst_rank").cast("int"))
      }),

    // RFM segmentation — the classic customer scoring: Recency (days
    // since last order, fewer = better), Frequency (order count),
    // Monetary (exact cents revenue), each cut into quartiles under a
    // total order (metric, custkey), composed into the familiar
    // three-digit RFM code (444 = best). ntile over integer-exact
    // metrics with unique tiebreaks is engine-deterministic; "now" is
    // the corpus' own max order day.
    QueryDef("q198_rfm_segments", Some("""
      WITH o AS (SELECT o_custkey AS c,
                        CAST(epoch(date_trunc('day', o_orderdate)) / 86400 AS BIGINT) AS d,
                        CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
                 FROM orders),
      mx AS (SELECT max(d) AS now_d FROM o),
      rfm AS (SELECT c, CAST(now_d - max(d) AS BIGINT) AS recency_days,
                     CAST(count(*) AS BIGINT) AS frequency,
                     CAST(sum(cents) AS BIGINT) AS monetary_cents
              FROM o, mx GROUP BY c, now_d),
      sc AS (SELECT *,
                    CAST(5 - ntile(4) OVER (ORDER BY recency_days, c) AS INTEGER) AS r_score,
                    CAST(ntile(4) OVER (ORDER BY frequency, c) AS INTEGER) AS f_score,
                    CAST(ntile(4) OVER (ORDER BY monetary_cents, c) AS INTEGER) AS m_score
             FROM rfm)
      SELECT c AS c_custkey, recency_days, frequency, monetary_cents,
             r_score, f_score, m_score,
             CAST(r_score * 100 + f_score * 10 + m_score AS INTEGER) AS rfm_code
      FROM sc"""),
      (spark, dir) => {
        import graft.ops.Checkpoints.TruncateOps
        val o = T(spark, dir, "orders")
          .select(col("o_custkey").as("c"),
            (unix_timestamp(date_trunc("day", col("o_orderdate"))) / 86400)
              .cast("long").as("d"),
            (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("cents"))
        val mx = o.agg(max(col("d")).as("now_d"))
        // Truncated: the three ntile passes below each count + sort this
        // frame — one materialization serves all six reads.
        val rfm = o.crossJoin(broadcast(mx)).groupBy("c", "now_d")
          .agg((first(col("now_d")) - max(col("d"))).as("recency_days"),
            count(lit(1)).as("frequency"), sum(col("cents")).as("monetary_cents"))
          .select(col("c"), col("recency_days"), col("frequency"),
            col("monetary_cents"))
          .truncated
        // GlobalRank.withNtile, not ntile() OVER (ORDER BY …): the frame
        // is customer-grain — billions of rows at fact scale — and an
        // unpartitioned window funnels it through ONE task's sort (the
        // WindowExec single-partition warning). The distributed form is
        // row-identical (OpsSpec pins ntile parity; unique (metric, c)
        // tiebreaks make the order total), guide §2 / r19 verdict #6.
        import graft.ops.GlobalRank
        val s = GlobalRank.withNtile(GlobalRank.withNtile(GlobalRank.withNtile(
          rfm, "__rt", 4, Seq(col("recency_days"), col("c"))),
          "__ft", 4, Seq(col("frequency"), col("c"))),
          "__mt", 4, Seq(col("monetary_cents"), col("c")))
        s.withColumn("r_score", (lit(5) - col("__rt")).cast("int"))
          .withColumn("f_score", col("__ft").cast("int"))
          .withColumn("m_score", col("__mt").cast("int"))
          .select(col("c").as("c_custkey"), col("recency_days"), col("frequency"),
            col("monetary_cents"), col("r_score"), col("f_score"), col("m_score"),
            (col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
              .cast("int").as("rfm_code"))
      }),

    // Winsorized per-brand price statistics (ops.Robust — exact order
    // statistics, Tukey clamping at the 5th/95th ranks): the
    // outlier-hardening pass ahead of scaling, where a single corrupt
    // price would drag q19's min-max bounds arbitrarily but moves the
    // winsorized mean by at most the clamp width. Prices go through
    // the q198 cents discipline (decimal→long), so ranks, bounds, clip
    // and sum are pure long arithmetic; the only floats are the final
    // grain-restoring divisions, each a single IEEE op the oracle
    // replays bit-for-bit.
    QueryDef("q230_winsorized_stats", Some("""
      WITH v AS (SELECT p_brand AS g,
                        CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
                 FROM part),
      r AS (SELECT g, c, row_number() OVER (PARTITION BY g ORDER BY c) AS rk,
                   count(*) OVER (PARTITION BY g) AS n FROM v),
      b AS (SELECT g,
                   max(CASE WHEN rk = greatest(1, CAST(ceil(0.05 * n) AS BIGINT))
                       THEN c END) AS lo,
                   max(CASE WHEN rk = least(n, CAST(ceil(0.95 * n) AS BIGINT))
                       THEN c END) AS hi
            FROM r GROUP BY g),
      s AS (SELECT v.g, count(*) AS n, max(b.lo) AS lo, max(b.hi) AS hi,
                   sum(least(greatest(v.c, b.lo), b.hi)) AS sc,
                   sum(CASE WHEN v.c < b.lo OR v.c > b.hi THEN 1 ELSE 0 END) AS ncl
            FROM v JOIN b ON v.g = b.g GROUP BY v.g)
      SELECT g AS p_brand, CAST(n AS INTEGER) AS n,
             lo / 100.0 AS lo_price, hi / 100.0 AS hi_price,
             CAST(ncl AS INTEGER) AS n_clipped,
             round(sc / (100.0 * n), 4) AS mean_winsor
      FROM s"""),
      (spark, dir) => {
        val v = T(spark, dir, "part").select(col("p_brand"),
          (col("p_retailprice").cast("decimal(18,2)") * 100).cast("long")
            .as("cents"))
        graft.ops.Robust.winsorizedStats(v, "p_brand", "cents", 0.05, 0.95)
          .select(col("p_brand"), col("n"),
            (col("lo") / 100.0).as("lo_price"),
            (col("hi") / 100.0).as("hi_price"),
            col("n_clipped"),
            round(col("sum_winsor") / (lit(100.0) * col("n")), 4)
              .as("mean_winsor"))
      }),

    // Rank-size law fit of the customer order-count distribution
    // (llm.CorpusStats.rankSizeFit — the Gabaix estimator q247 uses
    // for vocabulary, pointed at workload units): slope near −1 means
    // a Zipfian head dominates the workload (the regime where
    // SkewProfile's hub routing pays for itself); shallow means
    // balanced. Same fixed-point-log exact-moment determinism —
    // quantized longs, HUGEINT/decimal(38) sums, one rounded division
    // per output.
    QueryDef("q254_ranksize_fit", Some("""
      WITH c AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n
                 FROM orders GROUP BY 1),
      r AS (SELECT n, row_number() OVER (ORDER BY n DESC, o_custkey) AS rnk
            FROM c),
      f AS (SELECT
              CAST(round(ln(CAST(rnk AS DOUBLE)) * 1000000.0) AS BIGINT) AS x,
              CAST(round(ln(CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT) AS y,
              n
            FROM r),
      s AS (SELECT CAST(count(*) AS BIGINT) AS n_units,
                   CAST(sum(n) AS BIGINT) AS n_orders,
                   sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
                   sum(x::HUGEINT * y::HUGEINT) AS sxy,
                   sum(x::HUGEINT * x::HUGEINT) AS sxx
            FROM f),
      k AS (SELECT *,
              CAST(n_units * sxy - sx * sy AS DOUBLE) AS num,
              CAST(n_units * sxx - sx * sx AS DOUBLE) AS den
            FROM s)
      SELECT n_units, n_orders,
             round(CASE WHEN den = 0.0::DOUBLE THEN 0.0::DOUBLE
                        ELSE num / den END, 6) AS slope,
             round((CAST(sy AS DOUBLE)
                    - (CASE WHEN den = 0.0::DOUBLE THEN 0.0::DOUBLE
                            ELSE num / den END) * CAST(sx AS DOUBLE))
                   / (CAST(n_units AS DOUBLE) * 1000000.0::DOUBLE), 6)
               AS intercept
      FROM k"""),
      (spark, dir) => {
        val c = T(spark, dir, "orders")
          .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
        graft.llm.CorpusStats.rankSizeFit(c, "n", "o_custkey", "n_units",
          Seq(sum(col("n")) -> "n_orders"))
      }),

    // 2-D skyline over orders: the Pareto frontier under (earliest
    // order date, highest total price) — "no later order ever paid
    // more" (ops.Skyline.frontier2d, Börzsönyi ICDE'01). Price is
    // compared in fixed-point cents so the max monoid runs in exact
    // integers. The distributed shape is a per-date reduction plus the
    // PrefixSum two-phase running max over DISTINCT dates — never an
    // all-pairs dominance join and never an unpartitioned window. The
    // oracle's window over the 2.4k distinct dates is the semantic
    // spec, not the plan.
    QueryDef("q257_skyline", Some("""
      WITH o AS (SELECT o_orderkey, o_orderdate, o_totalprice,
                        CAST(round(o_totalprice * 100) AS BIGINT) AS cents
                 FROM orders),
      b AS (SELECT o_orderdate AS x, max(cents) AS besty FROM o GROUP BY 1),
      r AS (SELECT x, besty, max(besty) OVER (ORDER BY x
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
            FROM b),
      f AS (SELECT x, besty FROM r WHERE pm IS NULL OR pm < besty)
      SELECT o_orderkey, o_orderdate, o_totalprice
      FROM o JOIN f ON o.o_orderdate = f.x AND o.cents = f.besty"""),
      (spark, dir) => {
        val o = T(spark, dir, "orders")
          .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
        graft.ops.Skyline.frontier2d(o, "o_orderdate", "cents")
          .select("o_orderkey", "o_orderdate", "o_totalprice")
      }),

    // Per-priority skyline: the same frontier computed WITHIN each
    // order priority (ops.Skyline.frontier2dByGroup). Here the scale
    // story inverts — a window partitioned by the group key is already
    // shuffle-safe, so the plain window IS the plan; the two-phase scan
    // is only for the global variant above.
    QueryDef("q258_skyline_by_group", Some("""
      WITH o AS (SELECT o_orderkey, o_orderpriority, o_orderdate, o_totalprice,
                        CAST(round(o_totalprice * 100) AS BIGINT) AS cents
                 FROM orders),
      b AS (SELECT o_orderpriority AS g, o_orderdate AS x, max(cents) AS besty
            FROM o GROUP BY 1, 2),
      r AS (SELECT g, x, besty, max(besty) OVER (PARTITION BY g ORDER BY x
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
            FROM b),
      f AS (SELECT g, x, besty FROM r WHERE pm IS NULL OR pm < besty)
      SELECT o_orderkey, o_orderpriority, o_orderdate, o_totalprice
      FROM o JOIN f ON o.o_orderpriority = f.g AND o.o_orderdate = f.x
                   AND o.cents = f.besty"""),
      (spark, dir) => {
        val o = T(spark, dir, "orders")
          .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
        graft.ops.Skyline.frontier2dByGroup(
            o, "o_orderpriority", "o_orderdate", "cents")
          .select("o_orderkey", "o_orderpriority", "o_orderdate",
            "o_totalprice")
      }),

    // Poisson-bootstrap percentile CI for the BUILDING − MACHINERY mean
    // acctbal difference (ops.Bootstrap) — the nonparametric uncertainty
    // companion to q86's Welch t: 200 replicates ride ONE pass (each
    // row's per-replicate multiplicity is a deterministic md5-derived
    // Poisson(1) draw; replicate sums partial-aggregate map-side, so the
    // shuffle is 200 rows per partition — never a data resample). Means
    // are exact integer fixed point with a positivity offset, the CI is
    // exact ranks 5/196 of the replicate diffs — the oracle replays the
    // draw, the division, and the rank selection bit for bit.
    QueryDef("q281_bootstrap_ci", Some(bootstrapSql(
      """SELECT CAST(c_custkey AS VARCHAR) AS id,
                CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 2 END AS arm,
                CAST(round(c_acctbal * 100, 0) AS BIGINT) * 10000 AS v
         FROM customer
         WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')""")),
      (spark, dir) => {
        val base = T(spark, dir, "customer")
          .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
          .select(col("c_custkey").as("id"),
            when(col("c_mktsegment") === "BUILDING", 1).otherwise(2).as("arm"),
            (round(col("c_acctbal") * 100, 0).cast("long") * 10000L).as("v_fp"))
        graft.ops.Bootstrap.meanDiffCI(base, "id", "arm", "v_fp",
            reps = 200, loRank = 5, hiRank = 196)
          .select(col("n_reps"), col("n1"), col("n2"),
            round(col("point_fp").cast("double") / 1000000, 6).as("point_diff"),
            round(col("lo_fp").cast("double") / 1000000, 6).as("ci_lo"),
            round(col("hi_fp").cast("double") / 1000000, 6).as("ci_hi"))
      }),

    // CLUSTER bootstrap: CI for the BUILDING − MACHINERY mean ORDER
    // total, resampled at the CUSTOMER level — every order inherits its
    // customer's Poisson weight (the id passed to meanDiffCI is the
    // cluster key, so the multiplicity is shared across the cluster for
    // free). This is the statistically distinct estimator for
    // correlated rows: a customer's orders co-move, and the row-level
    // bootstrap (q281's shape) would understate the variance by
    // treating them as independent. Same one-pass plan — the cluster
    // weight is a pure function of (custkey, b), no per-cluster state.
    QueryDef("q283_cluster_bootstrap", Some(bootstrapSql(
      """SELECT CAST(o.o_custkey AS VARCHAR) AS id, c.arm,
                CAST(round(o.o_totalprice * 100, 0) AS BIGINT) * 10000 AS v
         FROM orders o
         JOIN (SELECT c_custkey,
                      CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 2 END AS arm
               FROM customer
               WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')) c
           ON o.o_custkey = c.c_custkey""")),
      (spark, dir) => {
        val cust = T(spark, dir, "customer")
          .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
          .select(col("c_custkey"),
            when(col("c_mktsegment") === "BUILDING", 1).otherwise(2).as("arm"))
        val base = T(spark, dir, "orders")
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .select(col("o_custkey").as("id"), col("arm"),
            (round(col("o_totalprice") * 100, 0).cast("long") * 10000L)
              .as("v_fp"))
        graft.ops.Bootstrap.meanDiffCI(base, "id", "arm", "v_fp",
            reps = 200, loRank = 5, hiRank = 196)
          .select(col("n_reps"), col("n1"), col("n2"),
            round(col("point_fp").cast("double") / 1000000, 6).as("point_diff"),
            round(col("lo_fp").cast("double") / 1000000, 6).as("ci_lo"),
            round(col("hi_fp").cast("double") / 1000000, 6).as("ci_hi"))
      }),

    // Per-group bootstrap: a mean CI for EVERY nation in one pass (the
    // dashboard form — "is segment X's metric move real?" needs the
    // uncertainty band per segment, not one global test). groups × reps
    // replicate cells, map-side combined; each group's CI from exact
    // ranks of its own replicate distribution via a group-partitioned
    // rank window (groups rank in parallel, never a global sort).
    QueryDef("q285_group_bootstrap", Some(s"""
      WITH base AS (SELECT n.n_name AS nation, CAST(c_custkey AS VARCHAR) AS id,
                      CAST(round(c_acctbal * 100, 0) AS BIGINT) * 10000 AS v
                    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey),
      reps AS (SELECT unnest(range(0, 200)) AS b),
      h AS (SELECT base.nation, base.v, reps.b,
              ${drawRankSql("base.id", "reps.b")} AS r
            FROM base CROSS JOIN reps),
      w AS (SELECT nation, v, b, $poissonWSql AS w
            FROM h),
      rep AS (SELECT nation, b,
                CAST(sum(w * v) AS BIGINT) AS s,
                CAST(sum(w) AS BIGINT) AS n
              FROM w GROUP BY nation, b),
      m AS (SELECT nation, b,
              ${meanFpSql("s", "n")} AS mm
            FROM rep WHERE n > 0),
      d AS (SELECT nation, b, mm,
              row_number() OVER (PARTITION BY nation ORDER BY mm, b) AS rn
            FROM m),
      ci AS (SELECT nation,
               CAST(CASE WHEN count(*) < 196
                 THEN error(concat('groupMeanCI: group ', nation, ' has ',
                   CAST(count(*) AS VARCHAR),
                   ' surviving replicates < hiRank 196'))
                 ELSE count(*) END AS INTEGER) AS n_reps,
               max(CASE WHEN rn = 5 THEN mm END) AS lo_fp,
               max(CASE WHEN rn = 196 THEN mm END) AS hi_fp
             FROM d GROUP BY nation),
      pt AS (SELECT nation, CAST(count(*) AS BIGINT) AS n,
               ${meanFpSql("CAST(sum(v) AS BIGINT)", "count(*)")} AS pm
             FROM base GROUP BY nation)
      SELECT ci.nation, pt.n, ci.n_reps,
             round(CAST(pt.pm AS DOUBLE) / 1000000, 6) AS point_mean,
             round(CAST(ci.lo_fp AS DOUBLE) / 1000000, 6) AS ci_lo,
             round(CAST(ci.hi_fp AS DOUBLE) / 1000000, 6) AS ci_hi
      FROM ci JOIN pt ON ci.nation = pt.nation"""),
      (spark, dir) => {
        val base = T(spark, dir, "customer")
          .join(broadcast(T(spark, dir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("n_name").as("nation"), col("c_custkey").as("id"),
            (round(col("c_acctbal") * 100, 0).cast("long") * 10000L).as("v_fp"))
        graft.ops.Bootstrap.groupMeanCI(base, "nation", "id", "v_fp",
            reps = 200, loRank = 5, hiRank = 196)
          .select(col("nation"), col("n"), col("n_reps"),
            round(col("point_fp").cast("double") / 1000000, 6).as("point_mean"),
            round(col("lo_fp").cast("double") / 1000000, 6).as("ci_lo"),
            round(col("hi_fp").cast("double") / 1000000, 6).as("ci_hi"))
      }),

    // Theil-Sen robust trend over monthly revenue (ops.Robust.theilSen):
    // the LOWER median of all pairwise slopes — 29.3% breakdown where
    // OLS (the q180/q247/q250 family) has 0%, so one crazy month cannot
    // drag the trend. The quadratic pair set is over TIME BUCKETS
    // (84 months → 3486 pairs), never raw rows — the raw pass is one
    // month groupBy. Slopes in exact integer fixed point with the
    // positivity offset (floor division agrees across engines on
    // negative slopes too); median = rank ⌊(n+1)/2⌋ under the total
    // order (slope, x1, x2).
    QueryDef("q286_theil_sen", Some("""
      WITH pts AS (SELECT (year(o_orderdate) - 1992) * 12
                            + month(o_orderdate) - 1 AS x,
                     CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                          AS BIGINT) AS y
                   FROM orders GROUP BY 1),
      pr AS (SELECT a.x AS x1, b.x AS x2, b.y - a.y AS dy, b.x - a.x AS dx
             FROM pts a JOIN pts b ON b.x > a.x),
      s AS (SELECT x1, x2,
              (dy * 1000 + dx * 100000000000000000) // dx - 100000000000000000
                AS slope_fp
            FROM pr),
      r AS (SELECT slope_fp,
              row_number() OVER (ORDER BY slope_fp, x1, x2) AS rn,
              count(*) OVER () AS cnt
            FROM s),
      np AS (SELECT CAST(count(*) AS BIGINT) AS n_points FROM pts)
      SELECT np.n_points, CAST(r.cnt AS BIGINT) AS n_pairs,
             round(CAST(r.slope_fp AS DOUBLE) / 100000.0, 4) AS ts_slope
      FROM r, np WHERE rn = (cnt + 1) // 2"""),
      (spark, dir) => {
        val pts = T(spark, dir, "orders")
          .groupBy(((year(col("o_orderdate")) - 1992) * 12
            + month(col("o_orderdate")) - 1).as("x"))
          .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("y"))
        graft.ops.Robust.theilSen(pts, "x", "y",
            // offset must exceed max|dy·scale/dx| (theilSen contract):
            // dy is a monthly revenue diff in cents — ~2.85e11·SF with
            // the partial 1998-08 month — so 10¹⁵ held only to SF≈7.
            // 10¹⁷ holds to SF≈3000 and stays inside Long: dx ≤ 83 ⇒
            // dx·offset ≤ 8.3e18 < 2⁶³ (the r16 review catch).
            scaleNum = 1000L, offset = 100000000000000000L)
          .select(col("n_points"), col("n_pairs"),
            round(col("slope_fp").cast("double") / 100000.0, 4).as("ts_slope"))
      }),

    cupedQuery,

    msprtQuery,

    srmQuery,

    mannWhitneyQuery,

    mannWhitneyLargeQuery,

    logRankLargeQuery,

    ksApproxQuery,

    cusumQuery,

    didQuery,

    benfordQuery,

    jackknifeQuery,

    funnelQuery,

    funnelWindowedQuery,

    stepDurationsQuery,

    stepDurationsWindowedQuery,

    kaplanMeierQuery,

    kmGreenwoodQuery,

    logRankQuery,

    ksQuery,

    chi2IndepQuery,

    cusumStoreQuery,

    psiQuery,

    msprtStoreQuery,

    mdeQuery)

  /** CUPED variance reduction (Deng, Xu, Kohavi & Walker, WSDM 2013 —
    * the experimentation-platform standard): adjust each unit's outcome
    * by its PRE-period covariate, Y' = Y − θ(X − X̄), θ = cov(X,Y)/var(X),
    * so persistent per-unit level differences cancel and the same
    * experiment needs ~(1−ρ²)× the sample. Here: per-user event value,
    * first half of the month as X, second half as Y, arms by md5 parity
    * (a synthetic assignment that is pure data, engine-replayable). One
    * pass builds per-user (x, y); one aggregate builds the pooled
    * moments; everything downstream is exact decimal(38,0) integer
    * arithmetic — θ and every mean ride positivity-offset floor
    * divisions, so the oracle's HUGEINT `//` replays Spark's decimal
    * `div` bit for bit (the q270/q274 idiom). Output: raw vs adjusted
    * BUILDING−… arm-1−arm-2 diff in dollars, plus θ.
    */
  // lazy: defs (declared above) references this during object init —
  // a plain val would still be null there (the Scd2Ctes/slidingHllSql
  // ordering trap)
  private lazy val cupedQuery: QueryDef = QueryDef("q289_cuped", Some("""
      WITH per AS (SELECT user_id,
               CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                             THEN CAST(round(value * 100, 0) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS x,
               CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                             THEN CAST(round(value * 100, 0) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS y
             FROM events GROUP BY user_id),
      pa AS (SELECT x, y,
               CAST((('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
                     % 1000003 + 1) % 2 + 1 AS INTEGER) AS arm
             FROM per),
      st AS (SELECT CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
               CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
               CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
             FROM pa),
      th AS (SELECT (((n * sxy - sx * sy) * 1000000
                      + (n * sxx - sx * sx) * 1000000000000)
                     // (n * sxx - sx * sx)) - 1000000000000 AS theta_fp
             FROM st),
      arms AS (SELECT arm, CAST(count(*) AS BIGINT) AS na,
                 CAST(sum(x) AS HUGEINT) AS sxa,
                 CAST(sum(y) AS HUGEINT) AS sya
               FROM pa GROUP BY arm),
      mm AS (SELECT arm, na,
               ((sxa * 1000000 + CAST(na AS HUGEINT) * 10000000000000000)
                 // na) - 10000000000000000 AS mx,
               ((sya * 1000000 + CAST(na AS HUGEINT) * 10000000000000000)
                 // na) - 10000000000000000 AS my
             FROM arms),
      dd AS (SELECT (SELECT na FROM mm WHERE arm = 1) AS n1,
                    (SELECT na FROM mm WHERE arm = 2) AS n2,
                    (SELECT my FROM mm WHERE arm = 1)
                      - (SELECT my FROM mm WHERE arm = 2) AS dy,
                    (SELECT mx FROM mm WHERE arm = 1)
                      - (SELECT mx FROM mm WHERE arm = 2) AS dx),
      aj AS (SELECT dd.n1, dd.n2, dd.dy,
               ((th.theta_fp * dd.dx
                 + CAST(1000000000000000 AS HUGEINT) * 1000000) // 1000000)
                 - 1000000000000000 AS adj_term,
               th.theta_fp
             FROM th, dd)
      SELECT n1, n2,
             round(CAST(theta_fp AS DOUBLE) / 1000000, 6) AS theta,
             round(CAST(dy AS DOUBLE) / 100000000, 6) AS raw_diff,
             round(CAST(dy - adj_term AS DOUBLE) / 100000000, 6) AS adj_diff
      FROM aj"""),
    (spark, dir) => {
      import graft.ops.Sampling
      val cut = to_timestamp(lit("2024-01-16 00:00:00"))
      val cents = round(col("value") * 100, 0).cast("long")
      val per = T(spark, dir, "events")
        .groupBy("user_id")
        .agg(sum(when(col("ts") < cut, cents).otherwise(0L)).as("x"),
          sum(when(col("ts") >= cut, cents).otherwise(0L)).as("y"))
        .withColumn("arm",
          (Sampling.hashRank(col("user_id")) % 2 + 1).cast("int"))
      graft.ops.Cuped.adjustedDiff(per, "arm", "x", "y")
        .select(col("n1"), col("n2"),
          round(col("theta_fp").cast("double") / 1000000, 6).as("theta"),
          round(col("raw_diff_fp").cast("double") / 100000000, 6).as("raw_diff"),
          round(col("adj_diff_fp").cast("double") / 100000000, 6).as("adj_diff"))
    })

  /** Always-valid sequential monitoring (mSPRT — Johari, Koomen,
    * Pekelis & Walsh, KDD 2017): the anytime-valid readout the
    * experimentation suite was missing next to Welch t (q86), the
    * bootstrap CIs (q281/283/285) and CUPED (q289). Day-grain
    * checkpoints over the events month, arms by the q289 md5-parity
    * assignment; sufficient statistics exact (decimal moments, lifted
    * floor-division means — the Cuped discipline), doubles only in the
    * final likelihood readout whose expression the oracle replays
    * token for token (ln/exp ride display rounding, the q20/q86
    * precedent; sqrt-free). p_av is monotone by construction — the
    * running min over checkpoints — so a dashboard may stop at first
    * crossing without inflating alpha.
    */
  /** Shared by q290 (one-shot) and q303 (store-served): moments are
    * linear, so the incrementally-maintained day×arm store is
    * bit-identical to the one-shot aggregate and the SAME oracle gates
    * both. Lazy — the defs-forces-lazy-QueryDefs init-order trap.
    */
  /** q290/q303's CTE chain up through the exact per-day cumulative
    * moments and pooled variance — shared verbatim with q307's MDE
    * readout (the same vn feeds both).
    */
  private lazy val msprtCtes: String = """
      WITH ev AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               CAST((('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
                     % 1000003 + 1) % 2 + 1 AS INTEGER) AS arm,
               CAST(round(value * 100, 0) AS BIGINT) AS v
             FROM events),
      da AS (SELECT day, arm, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(v) AS HUGEINT) AS s,
               CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS ss
             FROM ev GROUP BY 1, 2),
      grid AS (SELECT d.day, a.arm, coalesce(da.n, 0) AS n,
                 coalesce(da.s, 0) AS s, coalesce(da.ss, 0) AS ss
               FROM (SELECT DISTINCT day FROM da) d
               CROSS JOIN (SELECT unnest([1, 2]) AS arm) a
               LEFT JOIN da ON da.day = d.day AND da.arm = a.arm),
      cum AS (SELECT day, arm, sum(n) OVER w AS cn, sum(s) OVER w AS cs,
                sum(ss) OVER w AS css
              FROM grid
              WINDOW w AS (PARTITION BY arm ORDER BY day ROWS UNBOUNDED PRECEDING)),
      bd AS (SELECT day,
               max(CASE WHEN arm = 1 THEN cn END) AS n1,
               max(CASE WHEN arm = 1 THEN cs END) AS s1,
               max(CASE WHEN arm = 1 THEN css END) AS ss1,
               max(CASE WHEN arm = 2 THEN cn END) AS n2,
               max(CASE WHEN arm = 2 THEN cs END) AS s2,
               max(CASE WHEN arm = 2 THEN css END) AS ss2
             FROM cum GROUP BY day),
      mt AS (SELECT day, n1, n2,
               (s1 * 1000000 + CAST(n1 AS HUGEINT) * 10000000000000000) // n1
                 - 10000000000000000 AS m1_fp,
               (s2 * 1000000 + CAST(n2 AS HUGEINT) * 10000000000000000) // n2
                 - 10000000000000000 AS m2_fp,
               -- fail-fast parity with ops.Sequential.msprt (r17
               -- advice): a zero pooled variance must ERROR here too,
               -- not feed ln(0/0) = NaN rows the Spark path never emits
               CASE WHEN ((n1 + n2) * (ss1 + ss2) - (s1 + s2) * (s1 + s2)) <= 0
                 THEN CAST(error('msprt: pooled variance is zero (constant metric)')
                           AS HUGEINT)
                 ELSE ((n1 + n2) * (ss1 + ss2) - (s1 + s2) * (s1 + s2))
                      // (CAST(n1 + n2 AS HUGEINT) * (n1 + n2)) END AS var_u2
             FROM bd WHERE n1 > 0 AND n2 > 0)"""

  private lazy val msprtSql: String = msprtCtes + """,
      rd AS (SELECT day, n1, n2,
               CAST(m1_fp - m2_fp AS DOUBLE) / 1000000.0 AS dd,
               CAST(var_u2 AS DOUBLE)
                 * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                 / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS vn,
               CAST(var_u2 AS DOUBLE) AS tau2
             FROM mt),
      ll AS (SELECT day, n1, n2, dd,
               0.5 * ln(vn / (vn + tau2))
                 + dd * dd * tau2 / (2.0 * vn * (vn + tau2)) AS lnl
             FROM rd),
      pp AS (SELECT day, n1, n2, dd, lnl,
               min(least(1.0, exp(-lnl)))
                 OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS p_av_raw
             FROM ll)
      SELECT day, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
             round(dd, 4) AS mean_diff, round(lnl, 6) AS ln_lambda,
             round(p_av_raw, 6) AS p_av, p_av_raw < 0.05 AS rejected
      FROM pp"""

  private lazy val msprtQuery: QueryDef = QueryDef("q290_msprt",
    Some(msprtSql),
    (spark, dir) => {
      import graft.ops.Sampling
      val ev = T(spark, dir, "events").select(
        date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
        (Sampling.hashRank(col("user_id")) % 2 + 1).cast("int").as("arm"),
        round(col("value") * 100, 0).cast("long").as("v"))
      graft.ops.Sequential.msprt(ev, "day", "arm", "v", alpha = 0.05)
    })

  /** Sample-ratio-mismatch diagnostics per nation (Fabijan et al., KDD
    * 2019 — the first gate of any experiment readout): chi-square of
    * the realized md5-parity arm counts against the designed 1:1
    * split, per segment. The flag is EXACT integer arithmetic against
    * the pre-scaled critical value; only the chi2 display column
    * touches doubles.
    */
  private lazy val srmQuery: QueryDef = QueryDef("q291_srm_check", Some("""
      WITH per AS (SELECT n.n_name AS nation,
               CAST((('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT
                     % 1000003 + 1) % 2 + 1 AS INTEGER) AS arm
             FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey),
      ag AS (SELECT nation,
               CAST(count(CASE WHEN arm = 1 THEN 1 END) AS BIGINT) AS n1,
               CAST(count(CASE WHEN arm = 2 THEN 1 END) AS BIGINT) AS n2
             FROM per GROUP BY nation)
      SELECT nation, n1, n2,
             round(CAST((n1 - n2) * (n1 - n2) AS DOUBLE)
                   / CAST(n1 + n2 AS DOUBLE), 6) AS chi2,
             (n1 - n2) * (n1 - n2) * 1000000 > 3841459 * (n1 + n2) AS srm
      FROM ag"""),
    (spark, dir) => {
      import graft.ops.Sampling
      val per = T(spark, dir, "customer")
        .join(broadcast(T(spark, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("nation"),
          (Sampling.hashRank(col("c_custkey")) % 2 + 1).cast("int").as("arm"))
      graft.ops.Sequential.srmCheck(per, "nation", "arm")
        .select(col("g").as("nation"), col("n1"), col("n2"),
          col("chi2"), col("srm"))
    })

  /** Mann–Whitney rank-sum between the BUILDING and MACHINERY
    * segments' balances — the nonparametric twin of q86's Welch t on
    * the same arms (rank-based, immune to the heavy tails that drag a
    * mean): exact doubled-rank integers end to end, doubles only in
    * the z readout, significance decided in exact decimal (see
    * ops.Robust.mannWhitney).
    */
  private lazy val mannWhitneyQuery: QueryDef =
    QueryDef("q292_mann_whitney", Some("""
      WITH v AS (SELECT CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 2 END AS arm,
               CAST(round(c_acctbal * 100, 0) AS BIGINT) AS v
             FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
      bv AS (SELECT v, CAST(count(CASE WHEN arm = 1 THEN 1 END) AS BIGINT) AS c1,
               CAST(count(*) AS BIGINT) AS ct
             FROM v GROUP BY v),
      rk AS (SELECT v, c1, ct,
               sum(ct) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
             FROM bv),
      ag AS (SELECT
               CAST(sum(CAST(c1 AS HUGEINT) * (2 * (cum - ct) + ct + 1)) AS HUGEINT) AS r2x,
               CAST(sum(CAST(ct AS HUGEINT) * ct * ct - ct) AS HUGEINT) AS tsum,
               CAST(sum(c1) AS BIGINT) AS n1,
               CAST(sum(ct - c1) AS BIGINT) AS n2
             FROM rk),
      fin AS (SELECT n1, n2, n1 + n2 AS n,
                r2x - CAST(n1 AS HUGEINT) * (n1 + 1) AS u2x, tsum
              FROM ag)
      SELECT n1, n2, CAST(u2x AS BIGINT) AS u2x,
        -- fail-fast parity with ops.Robust.mannWhitney: degenerate
        -- input must ERROR identically in both engines, never NaN
        CASE
          WHEN coalesce(n1, 0) = 0 OR coalesce(n2, 0) = 0
            THEN CAST(error('mannWhitney: both arms need data') AS DOUBLE)
          WHEN (CAST(n AS HUGEINT) + 1) * (CAST(n AS HUGEINT) * (n - 1)) - tsum <= 0
            THEN CAST(error('mannWhitney: zero rank variance (all values tied)')
                      AS DOUBLE)
          ELSE round((CAST(u2x AS DOUBLE) - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
              / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 3.0
                     * ((CAST(n AS DOUBLE) + 1.0)
                        - CAST(tsum AS DOUBLE)
                          / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))),
              6) END AS z,
        (u2x - CAST(n1 AS HUGEINT) * n2) * (u2x - CAST(n1 AS HUGEINT) * n2)
          * 3 * 10000 * (CAST(n AS HUGEINT) * (n - 1))
        > 38416 * CAST(n1 AS HUGEINT) * n2
          * ((CAST(n AS HUGEINT) + 1) * (CAST(n AS HUGEINT) * (n - 1)) - tsum)
          AS significant
      FROM fin"""),
    (spark, dir) => {
      val c = T(spark, dir, "customer")
        .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(when(col("c_mktsegment") === "BUILDING", 1).otherwise(2)
          .as("arm"),
          round(col("c_acctbal") * 100, 0).cast("long").as("v"))
      graft.ops.Robust.mannWhitney(c, "arm", "v")
    })

  /** Page's CUSUM drift monitor over the daily mean event value:
    * baseline week's mean as the reference level, κ = 1% and h = 5% of
    * it (integer divisions of the exact lifted-mean scalar). The
    * recursion rides the prefix-sum identity S⁺ₜ = Pₜ − min_{j≤t} Pⱼ —
    * two exact-integer window sums, zero transcendentals (see
    * ops.Sequential.cusum).
    */
  /** Shared by q293 (one-shot) and q301 (store-served): counts and sums
    * are linear, so the incrementally-maintained store is bit-identical
    * to the one-shot daily aggregate and the SAME oracle gates both —
    * the q282/q288 one-definition idiom. Lazy: `defs` forces the
    * (lazy) QueryDefs at object init, BEFORE later plain vals assign —
    * the exact Scd2Ctes/slidingHllSql ordering trap this file documents.
    */
  private lazy val cusumSql: String = """
      WITH ev AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               CAST(round(value * 100, 0) AS BIGINT) AS v
             FROM events),
      da AS (SELECT day, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(v) AS HUGEINT) AS s
             FROM ev GROUP BY day),
      dm AS (SELECT day,
               CAST((s * 1000000 + CAST(n AS HUGEINT) * 10000000000000000) // n
                    - 10000000000000000 AS BIGINT) AS x_fp
             FROM da),
      pr AS (SELECT CAST((sb * 1 + CAST(nb AS HUGEINT) * 10000000000000000) // nb
                         - 10000000000000000 AS BIGINT) AS mu0_fp
             FROM (SELECT CAST(count(*) AS BIGINT) AS nb,
                     CAST(sum(x_fp) AS HUGEINT) AS sb
                   FROM dm WHERE day < '2024-01-08')),
      pp AS (SELECT mu0_fp, mu0_fp // 100 AS kappa_fp, mu0_fp // 20 AS h_fp
             FROM pr),
      se AS (SELECT dm.day, dm.x_fp,
               sum(dm.x_fp - pp.mu0_fp - pp.kappa_fp)
                 OVER (ORDER BY dm.day ROWS UNBOUNDED PRECEDING) AS p_hi,
               sum(dm.x_fp - pp.mu0_fp + pp.kappa_fp)
                 OVER (ORDER BY dm.day ROWS UNBOUNDED PRECEDING) AS p_lo,
               pp.h_fp
             FROM dm CROSS JOIN pp),
      st AS (SELECT day, x_fp,
               p_hi - least(min(p_hi) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING),
                            0) AS s_hi_fp,
               greatest(max(p_lo) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING),
                        0) - p_lo AS s_lo_fp,
               h_fp
             FROM se)
      SELECT day, x_fp, CAST(s_hi_fp AS BIGINT) AS s_hi_fp,
             CAST(s_lo_fp AS BIGINT) AS s_lo_fp,
             s_hi_fp > h_fp OR s_lo_fp > h_fp AS alarm
      FROM st"""

  private lazy val cusumQuery: QueryDef = QueryDef("q293_cusum",
    Some(cusumSql),
    (spark, dir) => {
      val ev = T(spark, dir, "events").select(
        date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
        round(col("value") * 100, 0).cast("long").as("v"))
      // lazy checkpoint (q282 idiom): the baseline params AND the CUSUM
      // series both consume the daily frame — truncation keeps the
      // corpus aggregate to ONE scan
      val dm = ev.groupBy("day")
        .agg(count(lit(1)).as("n"), sum(col("v")).cast("decimal(38,0)").as("s"))
        .select(col("day"), expr(
          """cast((s * 1000000 + cast(n as decimal(38,0)) * 10000000000000000)
                  div n - 10000000000000000 as bigint)""").as("x_fp"))
        .localCheckpoint(eager = false)
      val params = dm.filter(col("day") < "2024-01-08")
        .agg(count(lit(1)).as("nb"),
          sum(col("x_fp")).cast("decimal(38,0)").as("sb"))
        .select(expr(
          """cast((sb * 1 + cast(nb as decimal(38,0)) * 10000000000000000)
                  div nb - 10000000000000000 as bigint)""").as("mu0_fp"))
        .select(col("mu0_fp"),
          expr("mu0_fp div 100").as("kappa_fp"),
          expr("mu0_fp div 20").as("h_fp"))
      graft.ops.Sequential.cusum(dm, "day", "x_fp", params)
    })

  /** q293's CUSUM monitor SERVED FROM the incremental daily-moments
    * store (streaming.IncrementalDailyMoments): three unordered
    * event_id-mod batches fold into per-day exact (n, s) — counts and
    * sums are linear, so the store is bit-identical to the one-shot
    * daily aggregate and q293's ORACLE gates this query verbatim (the
    * q288 shared-definition idiom). The monitor read path touches
    * store rows only — 31 days — never the event corpus.
    */
  private lazy val cusumStoreQuery: QueryDef = QueryDef("q301_cusum_store",
    Some(cusumSql),
    (spark, dir) => {
      val ev = T(spark, dir, "events").select(col("event_id"),
        date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
        round(col("value") * 100, 0).cast("long").as("v"))
      def batch(store: String, i: Long): Unit =
        graft.streaming.IncrementalDailyMoments.processBatch(
          ev.filter(pmod(col("event_id"), lit(3)) === i),
          i, store, Seq("day"), "v"): Unit
      val store = graft.GraftSession.steadyStateStore("q301", dir)(batch)
      val dm = spark.read.parquet(s"$store/v=2")
        .select(col("day"), expr(
          """cast((s * 1000000 + cast(n as decimal(38,0)) * 10000000000000000)
                  div n - 10000000000000000 as bigint)""").as("x_fp"))
      val params = dm.filter(col("day") < "2024-01-08")
        .agg(count(lit(1)).as("nb"),
          sum(col("x_fp")).cast("decimal(38,0)").as("sb"))
        .select(expr(
          """cast((sb * 1 + cast(nb as decimal(38,0)) * 10000000000000000)
                  div nb - 10000000000000000 as bigint)""").as("mu0_fp"))
        .select(col("mu0_fp"),
          expr("mu0_fp div 100").as("kappa_fp"),
          expr("mu0_fp div 20").as("h_fp"))
      graft.ops.Sequential.cusum(dm, "day", "x_fp", params)
    })


  /** q290's always-valid mSPRT monitor SERVED FROM the incremental
    * day×arm moments store: the experimentation dashboard's read path
    * touches days×2 store rows — never the event corpus — and moments
    * are linear, so q290's ORACLE gates this verbatim (the q301
    * discipline, now for the variance-consuming monitor).
    */
  private lazy val msprtStoreQuery: QueryDef = QueryDef("q303_msprt_store",
    Some(msprtSql),
    (spark, dir) => {
      import graft.ops.Sampling
      val ev = T(spark, dir, "events").select(col("event_id"),
        date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
        (Sampling.hashRank(col("user_id")) % 2 + 1).cast("int").as("arm"),
        round(col("value") * 100, 0).cast("long").as("v"))
      def batch(store: String, i: Long): Unit =
        graft.streaming.IncrementalDailyMoments.processBatch(
          ev.filter(pmod(col("event_id"), lit(3)) === i),
          i, store, Seq("day", "arm"), "v"): Unit
      val store = graft.GraftSession.steadyStateStore("q303", dir)(batch)
      graft.ops.Sequential.msprtFromMoments(
        spark.read.parquet(s"$store/v=2")
          .select(col("day"), col("arm"), col("n"), col("s"), col("ss")),
        alpha = 0.05)
    })


  /** Minimum detectable effect per checkpoint — the sample-size panel
    * next to q290's monitor: MDE = 2.801585·√vn (the frozen
    * z₀.₀₂₅+z₀.₈ sum over the SAME exact cumulative vn the mSPRT
    * reads), with a `detectable` flag where the observed |mean diff|
    * already clears it (ops.Sequential.mdeFromMoments; oracle shares
    * q290's CTE chain verbatim through msprtCtes).
    */
  private lazy val mdeQuery: QueryDef = QueryDef("q307_mde", Some(
    msprtCtes + """,
      rd AS (SELECT day, n1, n2,
               CAST(m1_fp - m2_fp AS DOUBLE) / 1000000.0 AS dd,
               CAST(var_u2 AS DOUBLE)
                 * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                 / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS vn,
               CAST(var_u2 AS DOUBLE) AS v2
             FROM mt),
      md AS (SELECT day, n1, n2, dd, sqrt(v2) AS sigma_raw,
               2.801585 * sqrt(vn) AS mde_raw
             FROM rd)
      SELECT day, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
             round(dd, 4) AS mean_diff, round(sigma_raw, 6) AS sigma,
             round(mde_raw, 6) AS mde, abs(dd) > mde_raw AS detectable
      FROM md"""),
    (spark, dir) => {
      import graft.ops.Sampling
      val ev = T(spark, dir, "events").select(
        date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
        (Sampling.hashRank(col("user_id")) % 2 + 1).cast("int").as("arm"),
        round(col("value") * 100, 0).cast("long").as("v"))
      graft.ops.Sequential.mde(ev, "day", "arm", "v")
    })

  /** Population Stability Index between the month's halves over event
    * values (cents), binned by the q275-277 log-bucket recipe — the
    * production drift gate for a pipeline metric (PSI < 0.1 stable).
    * Exact bucket counts; doubles only in the per-bin terms, summed by
    * an ORDERED fold over the bucket-sorted list so the total never
    * depends on float aggregation order (ops.LogHistogram.psi). The
    * oracle replays the fold with list_reduce over list(term ORDER BY
    * bucket).
    */
  private lazy val psiQuery: QueryDef = QueryDef("q302_psi", Some("""
      WITH ev AS (SELECT ts < TIMESTAMP '2024-01-16 00:00:00' AS is_ref,
               greatest(CAST(round(value * 100, 0) AS BIGINT), 0) AS v
             FROM events),
      bk AS (SELECT is_ref, sh * 32 + (v >> sh) AS bucket
             FROM (SELECT is_ref, v,
                          greatest(length(bin(v)) - 1 - 5, 0) AS sh
                   FROM ev)),
      h AS (SELECT bucket,
              CAST(count(CASE WHEN is_ref THEN 1 END) AS BIGINT) AS cr,
              CAST(count(CASE WHEN NOT is_ref THEN 1 END) AS BIGINT) AS cc
            FROM bk GROUP BY bucket),
      tt AS (SELECT CAST(sum(cr) AS BIGINT) AS nr, CAST(sum(cc) AS BIGINT) AS nc,
               CAST(count(*) AS BIGINT) AS b
             FROM h),
      tm AS (SELECT h.bucket,
               ((CAST(cr AS DOUBLE) + 1.0) / (CAST(nr AS DOUBLE) + CAST(b AS DOUBLE))
                - (CAST(cc AS DOUBLE) + 1.0) / (CAST(nc AS DOUBLE) + CAST(b AS DOUBLE)))
               * ln(((CAST(cr AS DOUBLE) + 1.0) * (CAST(nc AS DOUBLE) + CAST(b AS DOUBLE)))
                    / ((CAST(cc AS DOUBLE) + 1.0) * (CAST(nr AS DOUBLE) + CAST(b AS DOUBLE))))
                 AS term,
               tt.nr, tt.nc, tt.b
             FROM h CROSS JOIN tt)
      SELECT max(nr) AS n_ref, max(nc) AS n_cur, max(b) AS n_bins,
             round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                     list(term ORDER BY bucket)), (a, x) -> a + x), 6) AS psi
      FROM tm"""),
    (spark, dir) => {
      import graft.ops.LogHistogram
      val cut = to_timestamp(lit("2024-01-16 00:00:00"))
      val ev = T(spark, dir, "events").select(
        (col("ts") < cut).as("is_ref"),
        greatest(round(col("value") * 100, 0).cast("long"), lit(0L)).as("v"))
      // ONE corpus scan: both sides come from the same side-grouped
      // histogram, lazily checkpointed so the ref/cur splits read the
      // aggregated rows instead of re-scanning events (the q282 idiom)
      val both = LogHistogram.histogram(ev, Seq("is_ref"), "v", 5)
        .localCheckpoint(eager = false)
      val ref = both.filter(col("is_ref")).select("bucket", "cnt")
      val cur = both.filter(!col("is_ref")).select("bucket", "cnt")
      LogHistogram.psi(ref, cur)
    })

  /** Difference-in-differences over the events month (Card & Krueger
    * 1994 canonical form): md5-parity "rollout" group × pre/post
    * 2024-01-16 period, δ = the interaction of the four exact cell
    * means — the quasi-experimental complement of q289's CUPED (no
    * randomization assumed; parallel trends instead). Exact decimal
    * cell means, fail-fast on an empty cell (ops.Cuped.diffInDiff).
    */
  private lazy val didQuery: QueryDef = QueryDef("q294_diff_in_diff", Some("""
      WITH ev AS (SELECT
               CAST((('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
                     % 1000003 + 1) % 2 AS INTEGER) AS g,
               CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END AS p,
               CAST(round(value * 100, 0) AS BIGINT) AS y
             FROM events),
      cells AS (SELECT g, p, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(y) AS HUGEINT) AS s
                FROM ev GROUP BY g, p),
      m AS (SELECT g, p, n,
              (s * 1000000 + CAST(n AS HUGEINT) * 10000000000000000) // n
                - 10000000000000000 AS m_fp
            FROM cells),
      pv AS (SELECT
               max(CASE WHEN g = 1 AND p = 0 THEN n END) AS n_t_pre,
               max(CASE WHEN g = 1 AND p = 1 THEN n END) AS n_t_post,
               max(CASE WHEN g = 0 AND p = 0 THEN n END) AS n_c_pre,
               max(CASE WHEN g = 0 AND p = 1 THEN n END) AS n_c_post,
               max(CASE WHEN g = 1 AND p = 0 THEN m_fp END) AS mtp0,
               max(CASE WHEN g = 1 AND p = 1 THEN m_fp END) AS mtp1,
               max(CASE WHEN g = 0 AND p = 0 THEN m_fp END) AS mcp0,
               max(CASE WHEN g = 0 AND p = 1 THEN m_fp END) AS mcp1
             FROM m)
      SELECT CAST(CASE WHEN n_t_pre IS NULL OR n_t_post IS NULL
                         OR n_c_pre IS NULL OR n_c_post IS NULL
               THEN error('diffInDiff: all four group x period cells must be non-empty')
               ELSE n_t_pre END AS BIGINT) AS n_t_pre,
             n_t_post, n_c_pre, n_c_post,
             round(CAST(mtp0 - mcp0 AS DOUBLE) / 100000000, 6) AS pre_gap,
             round(CAST(mtp1 - mcp1 AS DOUBLE) / 100000000, 6) AS post_gap,
             round(CAST((mtp1 - mtp0) - (mcp1 - mcp0) AS DOUBLE) / 100000000, 6)
               AS did
      FROM pv"""),
    (spark, dir) => {
      import graft.ops.Sampling
      val ev = T(spark, dir, "events").select(
        (Sampling.hashRank(col("user_id")) % 2).cast("int").as("g"),
        when(col("ts") >= to_timestamp(lit("2024-01-16 00:00:00")), 1)
          .otherwise(0).as("p"),
        round(col("value") * 100, 0).cast("long").as("y"))
      graft.ops.Cuped.diffInDiff(ev, "g", "p", "y")
        .select(col("n_t_pre"), col("n_t_post"), col("n_c_pre"), col("n_c_post"),
          round(col("pre_gap_fp").cast("double") / 100000000, 6).as("pre_gap"),
          round(col("post_gap_fp").cast("double") / 100000000, 6).as("post_gap"),
          round(col("did_fp").cast("double") / 100000000, 6).as("did"))
    })

  /** Benford first-digit audit of order totals (Nigrini's forensic
    * screen): exact digit counts against the frozen 10⁻⁹ expectation
    * integers (ops.Quality.BenfordP9 — the irrational logs live in ONE
    * place, interpolated into this SQL), chi-square terms per digit.
    */
  private lazy val benfordQuery: QueryDef = QueryDef("q295_benford", Some(s"""
      WITH v AS (SELECT v FROM (SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v
                                FROM orders) WHERE v > 0),
      d AS (SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INTEGER) AS digit FROM v),
      ob AS (SELECT digit, CAST(count(*) AS BIGINT) AS observed FROM d GROUP BY digit),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
      p AS (SELECT unnest([1, 2, 3, 4, 5, 6, 7, 8, 9]) AS digit,
                   unnest([${graft.ops.Quality.BenfordP9.mkString(", ")}]) AS p9),
      -- fixed digit spine (r17 advice): an UNOBSERVED digit still
      -- contributes its full n*p_d chi2 term, so all 9 rows emit
      sp AS (SELECT p.digit, p.p9,
               coalesce(ob.observed, CAST(0 AS BIGINT)) AS observed
             FROM p LEFT JOIN ob ON ob.digit = p.digit)
      SELECT sp.digit, sp.observed,
             CAST(CAST(nn.n AS HUGEINT) * sp.p9 AS BIGINT) AS expected_fp,
             round(CAST((CAST(sp.observed AS HUGEINT) * 1000000000
                         - CAST(nn.n AS HUGEINT) * sp.p9)
                        * (CAST(sp.observed AS HUGEINT) * 1000000000
                           - CAST(nn.n AS HUGEINT) * sp.p9) AS DOUBLE)
                   / (CAST(CAST(nn.n AS HUGEINT) * sp.p9 AS DOUBLE) * 1000000000.0),
                   6) AS chi2_term
      FROM sp CROSS JOIN nn
      ORDER BY sp.digit"""),
    (spark, dir) => {
      val o = T(spark, dir, "orders")
        .select(round(col("o_totalprice") * 100, 0).cast("long").as("v"))
      graft.ops.Quality.benford(o, "v")
    })

  /** Delete-one-bucket jackknife CI for the click-through ratio — the
    * production variance recipe for ratio metrics (sum/sum over units,
    * where per-unit ratios are undefined): 50 md5 buckets, exact
    * fixed-point leave-one-out ratios so the variance fold is
    * order-independent, doubles only in the scalar readout
    * (ops.Bootstrap.jackknifeRatio).
    */
  private lazy val jackknifeQuery: QueryDef =
    QueryDef("q296_jackknife_ratio", Some(s"""
      WITH per AS (SELECT user_id,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS views
             FROM events GROUP BY user_id),
      pb AS (SELECT (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
                     % 1000003 + 1) % 50 AS b, clicks, views
             FROM per),
      byb AS (SELECT b, CAST(sum(clicks) AS BIGINT) AS nb,
                CAST(sum(views) AS BIGINT) AS db
              FROM pb GROUP BY b),
      tot AS (SELECT CAST(sum(nb) AS BIGINT) AS nt, CAST(sum(db) AS BIGINT) AS dt,
                CAST(count(*) AS BIGINT) AS bpresent
              FROM byb),
      loo AS (SELECT byb.b,
                (CAST(tot.nt - byb.nb AS HUGEINT) * 1000000000
                 + CAST(tot.dt - byb.db AS HUGEINT) * ${graft.ops.Bootstrap.OffsetFp})
                  // (tot.dt - byb.db) - ${graft.ops.Bootstrap.OffsetFp} AS r_fp,
                tot.nt, tot.dt, tot.bpresent
              FROM byb, tot),
      fold AS (SELECT max(bpresent) AS n_buckets, max(nt) AS num_total,
                 max(dt) AS den_total,
                 CAST(sum(r_fp) AS HUGEINT) AS s1,
                 CAST(sum(r_fp * r_fp) AS HUGEINT) AS s2,
                 CAST(count(*) AS BIGINT) AS bcnt
               FROM loo)
      SELECT n_buckets, num_total, den_total,
        round(CAST(num_total AS DOUBLE) / CAST(den_total AS DOUBLE), 6) AS ratio,
        round(sqrt((CAST(bcnt AS DOUBLE) - 1.0) / CAST(bcnt AS DOUBLE)
                   * (CAST(s2 AS DOUBLE)
                      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                        / CAST(bcnt AS DOUBLE)))
              / 1000000000.0, 6) AS se_jk,
        round(CAST(num_total AS DOUBLE) / CAST(den_total AS DOUBLE)
              - 1.96 * sqrt((CAST(bcnt AS DOUBLE) - 1.0) / CAST(bcnt AS DOUBLE)
                            * (CAST(s2 AS DOUBLE)
                               - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                                 / CAST(bcnt AS DOUBLE)))
                     / 1000000000.0, 6) AS lo,
        round(CAST(num_total AS DOUBLE) / CAST(den_total AS DOUBLE)
              + 1.96 * sqrt((CAST(bcnt AS DOUBLE) - 1.0) / CAST(bcnt AS DOUBLE)
                            * (CAST(s2 AS DOUBLE)
                               - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                                 / CAST(bcnt AS DOUBLE)))
                     / 1000000000.0, 6) AS hi
      FROM fold"""),
    (spark, dir) => {
      val per = T(spark, dir, "events").groupBy("user_id").agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("clicks"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("views"))
      graft.ops.Bootstrap.jackknifeRatio(per, "user_id", "clicks", "views", 50)
    })

  /** Ordered conversion funnel signup → view → click → purchase over
    * each user's own timeline (first-touch: every step matches at its
    * earliest instant strictly after the previous step's match) — ONE
    * corpus scan into per-user per-step sorted time arrays, then pure
    * array algebra; see ops.Funnel. The oracle replays the identical
    * list pipeline with DuckDB lambdas (list_filter/list_min).
    */
  private lazy val funnelQuery: QueryDef = QueryDef("q297_funnel", Some("""
      WITH ev AS (SELECT user_id AS u, event_type AS t, epoch_us(ts) AS ts
                  FROM events
                  WHERE event_type IN ('signup', 'view', 'click', 'purchase')),
      pu AS (SELECT u,
               list_sort(list(ts) FILTER (WHERE t = 'signup')) AS ts0,
               list_sort(list(ts) FILTER (WHERE t = 'view')) AS ts1,
               list_sort(list(ts) FILTER (WHERE t = 'click')) AS ts2,
               list_sort(list(ts) FILTER (WHERE t = 'purchase')) AS ts3
             FROM ev GROUP BY u),
      c0 AS (SELECT u, ts0[1] AS m0, ts1, ts2, ts3 FROM pu),
      c1 AS (SELECT u, m0, list_min(list_filter(ts1, x -> x > m0)) AS m1,
               ts2, ts3 FROM c0),
      c2 AS (SELECT u, m0, m1, list_min(list_filter(ts2, x -> x > m1)) AS m2,
               ts3 FROM c1),
      c3 AS (SELECT u, m0, m1, m2,
               list_min(list_filter(ts3, x -> x > m2)) AS m3 FROM c2),
      r AS (SELECT CAST(count(m0) AS BIGINT) AS r0,
              CAST(count(m1) AS BIGINT) AS r1,
              CAST(count(m2) AS BIGINT) AS r2,
              CAST(count(m3) AS BIGINT) AS r3
            FROM c3)
      SELECT * FROM (
        SELECT 1 AS step_idx, 'signup' AS step, r0 AS users_reached,
               CASE WHEN r0 = 0 THEN NULL ELSE round(CAST(r0 AS DOUBLE) / CAST(r0 AS DOUBLE) * 100, 6) END AS pct_of_first,
               CASE WHEN r0 = 0 THEN NULL ELSE round(CAST(r0 AS DOUBLE) / CAST(r0 AS DOUBLE) * 100, 6) END AS pct_of_prev
        FROM r
        UNION ALL
        SELECT 2, 'view', r1, CASE WHEN r0 = 0 THEN NULL ELSE round(CAST(r1 AS DOUBLE) / CAST(r0 AS DOUBLE) * 100, 6) END,
               CASE WHEN r0 = 0 THEN NULL ELSE round(CAST(r1 AS DOUBLE) / CAST(r0 AS DOUBLE) * 100, 6) END FROM r
        UNION ALL
        SELECT 3, 'click', r2, CASE WHEN r0 = 0 THEN NULL ELSE round(CAST(r2 AS DOUBLE) / CAST(r0 AS DOUBLE) * 100, 6) END,
               CASE WHEN r1 = 0 THEN NULL ELSE round(CAST(r2 AS DOUBLE) / CAST(r1 AS DOUBLE) * 100, 6) END FROM r
        UNION ALL
        SELECT 4, 'purchase', r3, CASE WHEN r0 = 0 THEN NULL ELSE round(CAST(r3 AS DOUBLE) / CAST(r0 AS DOUBLE) * 100, 6) END,
               CASE WHEN r2 = 0 THEN NULL ELSE round(CAST(r3 AS DOUBLE) / CAST(r2 AS DOUBLE) * 100, 6) END FROM r)
      ORDER BY step_idx"""),
    (spark, dir) =>
      graft.ops.Funnel.funnel(T(spark, dir, "events"), "user_id",
        "event_type", "ts", Seq("signup", "view", "click", "purchase")))

  /** q297's funnel with a 3-DAY conversion window per transition —
    * step k counts only inside (tₖ₋₁, tₖ₋₁ + 72h] of the previous
    * match ("clicked within 3 days of the view"), the other half of
    * every production funnel dashboard. Identical one-scan array plan;
    * the window is one extra integer bound in the list filter on both
    * engines (ops.Funnel.funnelWindowed).
    */
  // lazy — `defs` forces the lazy QueryDefs at object init, BEFORE
  // later plain vals assign (the Scd2Ctes ordering trap this file
  // documents); a plain val here would interpolate 0 into the SQL
  private lazy val FunnelWindowMicros: Long = 3L * 86400L * 1000000L
  private lazy val funnelWindowedQuery: QueryDef =
    QueryDef("q304_funnel_windowed", Some(s"""
      WITH ev AS (SELECT user_id AS u, event_type AS t, epoch_us(ts) AS ts
                  FROM events
                  WHERE event_type IN ('signup', 'view', 'click', 'purchase')),
      pu AS (SELECT u,
               list_sort(list(ts) FILTER (WHERE t = 'signup')) AS ts0,
               list_sort(list(ts) FILTER (WHERE t = 'view')) AS ts1,
               list_sort(list(ts) FILTER (WHERE t = 'click')) AS ts2,
               list_sort(list(ts) FILTER (WHERE t = 'purchase')) AS ts3
             FROM ev GROUP BY u),
      c0 AS (SELECT u, ts0[1] AS m0, ts1, ts2, ts3 FROM pu),
      c1 AS (SELECT u, m0,
               list_min(list_filter(ts1,
                 x -> x > m0 AND x <= m0 + ${FunnelWindowMicros})) AS m1,
               ts2, ts3 FROM c0),
      c2 AS (SELECT u, m0, m1,
               list_min(list_filter(ts2,
                 x -> x > m1 AND x <= m1 + ${FunnelWindowMicros})) AS m2,
               ts3 FROM c1),
      c3 AS (SELECT u, m0, m1, m2,
               list_min(list_filter(ts3,
                 x -> x > m2 AND x <= m2 + ${FunnelWindowMicros})) AS m3 FROM c2),
      r AS (SELECT CAST(count(m0) AS BIGINT) AS r0,
              CAST(count(m1) AS BIGINT) AS r1,
              CAST(count(m2) AS BIGINT) AS r2,
              CAST(count(m3) AS BIGINT) AS r3
            FROM c3)
      SELECT * FROM (
        SELECT 1 AS step_idx, 'signup' AS step, r0 AS users_reached,
               CASE WHEN r0 = 0 THEN NULL ELSE round(CAST(r0 AS DOUBLE) / CAST(r0 AS DOUBLE) * 100, 6) END AS pct_of_first,
               CASE WHEN r0 = 0 THEN NULL ELSE round(CAST(r0 AS DOUBLE) / CAST(r0 AS DOUBLE) * 100, 6) END AS pct_of_prev
        FROM r
        UNION ALL
        SELECT 2, 'view', r1, CASE WHEN r0 = 0 THEN NULL ELSE round(CAST(r1 AS DOUBLE) / CAST(r0 AS DOUBLE) * 100, 6) END,
               CASE WHEN r0 = 0 THEN NULL ELSE round(CAST(r1 AS DOUBLE) / CAST(r0 AS DOUBLE) * 100, 6) END FROM r
        UNION ALL
        SELECT 3, 'click', r2, CASE WHEN r0 = 0 THEN NULL ELSE round(CAST(r2 AS DOUBLE) / CAST(r0 AS DOUBLE) * 100, 6) END,
               CASE WHEN r1 = 0 THEN NULL ELSE round(CAST(r2 AS DOUBLE) / CAST(r1 AS DOUBLE) * 100, 6) END FROM r
        UNION ALL
        SELECT 4, 'purchase', r3, CASE WHEN r0 = 0 THEN NULL ELSE round(CAST(r3 AS DOUBLE) / CAST(r0 AS DOUBLE) * 100, 6) END,
               CASE WHEN r2 = 0 THEN NULL ELSE round(CAST(r3 AS DOUBLE) / CAST(r2 AS DOUBLE) * 100, 6) END FROM r)
      ORDER BY step_idx"""),
    (spark, dir) =>
      graft.ops.Funnel.funnelWindowed(T(spark, dir, "events"), "user_id",
        "event_type", "ts", Seq("signup", "view", "click", "purchase"),
        FunnelWindowMicros))

  /** Time-to-convert per funnel transition: among users who reached
    * step k, the exact p50/p90 of tₖ − tₖ₋₁ — the latency panel next
    * to q297's conversion counts. Quantiles are exact order statistics
    * at rank ⌈p·n⌉ over the (step, delta) grain; the Spark side rides
    * ONE PrefixSum scan (no per-step window funnel — only 3 transition
    * groups), the oracle the equivalent per-step cumulative.
    */
  private lazy val stepDurationsQuery: QueryDef =
    QueryDef("q306_funnel_durations", Some("""
      WITH ev AS (SELECT user_id AS u, event_type AS t, epoch_us(ts) AS ts
                  FROM events
                  WHERE event_type IN ('signup', 'view', 'click', 'purchase')),
      pu AS (SELECT u,
               list_sort(list(ts) FILTER (WHERE t = 'signup')) AS ts0,
               list_sort(list(ts) FILTER (WHERE t = 'view')) AS ts1,
               list_sort(list(ts) FILTER (WHERE t = 'click')) AS ts2,
               list_sort(list(ts) FILTER (WHERE t = 'purchase')) AS ts3
             FROM ev GROUP BY u),
      c0 AS (SELECT u, ts0[1] AS m0, ts1, ts2, ts3 FROM pu),
      c1 AS (SELECT u, m0, list_min(list_filter(ts1, x -> x > m0)) AS m1,
               ts2, ts3 FROM c0),
      c2 AS (SELECT u, m0, m1, list_min(list_filter(ts2, x -> x > m1)) AS m2,
               ts3 FROM c1),
      c3 AS (SELECT u, m0, m1, m2,
               list_min(list_filter(ts3, x -> x > m2)) AS m3 FROM c2),
      dl AS (SELECT 2 AS i, m1 - m0 AS d FROM c3 WHERE m1 IS NOT NULL
             UNION ALL SELECT 3, m2 - m1 FROM c3 WHERE m2 IS NOT NULL
             UNION ALL SELECT 4, m3 - m2 FROM c3 WHERE m3 IS NOT NULL),
      bv AS (SELECT i, d, CAST(count(*) AS BIGINT) AS ct FROM dl GROUP BY i, d),
      tot AS (SELECT i, CAST(sum(ct) AS BIGINT) AS n FROM bv GROUP BY i),
      cm AS (SELECT i, d, ct,
               sum(ct) OVER (PARTITION BY i ORDER BY d
                             ROWS UNBOUNDED PRECEDING) AS cum
             FROM bv),
      q AS (SELECT cm.i, max(tot.n) AS n_converted,
              min(CASE WHEN cm.cum >= (tot.n + 1) // 2 THEN cm.d END) AS p50_us,
              min(CASE WHEN cm.cum >= (9 * tot.n + 9) // 10 THEN cm.d END) AS p90_us
            FROM cm JOIN tot ON cm.i = tot.i GROUP BY cm.i)
      SELECT i AS step_idx,
             CASE i WHEN 2 THEN 'view' WHEN 3 THEN 'click'
                    ELSE 'purchase' END AS step,
             n_converted, p50_us, p90_us,
             round(CAST(p50_us AS DOUBLE) / 1e6, 6) AS p50_sec,
             round(CAST(p90_us AS DOUBLE) / 1e6, 6) AS p90_sec
      FROM q ORDER BY step_idx"""),
    (spark, dir) =>
      graft.ops.Funnel.stepDurations(T(spark, dir, "events"), "user_id",
        "event_type", "ts", Seq("signup", "view", "click", "purchase")))

  /** q306's time-to-convert panel under q304's 3-DAY conversion window
    * — the matched dashboard pair: windowed conversion COUNTS (q304)
    * next to windowed conversion LATENCY (this). Same one-scan
    * matchTimes plan; the window is one extra integer bound in the
    * codegen'd list filter on both engines, and every reported delta
    * is ≤ the window by construction (ops.Funnel.stepDurations with
    * windowMicros).
    */
  private lazy val stepDurationsWindowedQuery: QueryDef =
    QueryDef("q309_funnel_durations_windowed", Some(s"""
      WITH ev AS (SELECT user_id AS u, event_type AS t, epoch_us(ts) AS ts
                  FROM events
                  WHERE event_type IN ('signup', 'view', 'click', 'purchase')),
      pu AS (SELECT u,
               list_sort(list(ts) FILTER (WHERE t = 'signup')) AS ts0,
               list_sort(list(ts) FILTER (WHERE t = 'view')) AS ts1,
               list_sort(list(ts) FILTER (WHERE t = 'click')) AS ts2,
               list_sort(list(ts) FILTER (WHERE t = 'purchase')) AS ts3
             FROM ev GROUP BY u),
      c0 AS (SELECT u, ts0[1] AS m0, ts1, ts2, ts3 FROM pu),
      c1 AS (SELECT u, m0,
               list_min(list_filter(ts1,
                 x -> x > m0 AND x <= m0 + ${FunnelWindowMicros})) AS m1,
               ts2, ts3 FROM c0),
      c2 AS (SELECT u, m0, m1,
               list_min(list_filter(ts2,
                 x -> x > m1 AND x <= m1 + ${FunnelWindowMicros})) AS m2,
               ts3 FROM c1),
      c3 AS (SELECT u, m0, m1, m2,
               list_min(list_filter(ts3,
                 x -> x > m2 AND x <= m2 + ${FunnelWindowMicros})) AS m3 FROM c2),
      dl AS (SELECT 2 AS i, m1 - m0 AS d FROM c3 WHERE m1 IS NOT NULL
             UNION ALL SELECT 3, m2 - m1 FROM c3 WHERE m2 IS NOT NULL
             UNION ALL SELECT 4, m3 - m2 FROM c3 WHERE m3 IS NOT NULL),
      bv AS (SELECT i, d, CAST(count(*) AS BIGINT) AS ct FROM dl GROUP BY i, d),
      tot AS (SELECT i, CAST(sum(ct) AS BIGINT) AS n FROM bv GROUP BY i),
      cm AS (SELECT i, d, ct,
               sum(ct) OVER (PARTITION BY i ORDER BY d
                             ROWS UNBOUNDED PRECEDING) AS cum
             FROM bv),
      q AS (SELECT cm.i, max(tot.n) AS n_converted,
              min(CASE WHEN cm.cum >= (tot.n + 1) // 2 THEN cm.d END) AS p50_us,
              min(CASE WHEN cm.cum >= (9 * tot.n + 9) // 10 THEN cm.d END) AS p90_us
            FROM cm JOIN tot ON cm.i = tot.i GROUP BY cm.i)
      SELECT i AS step_idx,
             CASE i WHEN 2 THEN 'view' WHEN 3 THEN 'click'
                    ELSE 'purchase' END AS step,
             n_converted, p50_us, p90_us,
             round(CAST(p50_us AS DOUBLE) / 1e6, 6) AS p50_sec,
             round(CAST(p90_us AS DOUBLE) / 1e6, 6) AS p90_sec
      FROM q ORDER BY step_idx"""),
    (spark, dir) =>
      graft.ops.Funnel.stepDurations(T(spark, dir, "events"), "user_id",
        "event_type", "ts", Seq("signup", "view", "click", "purchase"),
        Some(FunnelWindowMicros)))

  /** Kaplan–Meier user-retention curve over the events month: per-user
    * lifetime = days between first and last activity, right-censored at
    * the observation edge (active-on-last-day users are NOT churn —
    * the classic dashboard bias). Exact integer risk sets and 10⁹
    * fixed-point factor folds in a defined order; see ops.Survival.
    * The oracle replays the fold with list_slice + list_reduce.
    */
  private lazy val kaplanMeierQuery: QueryDef =
    QueryDef("q298_kaplan_meier", Some("""
      WITH pu AS (SELECT user_id,
               CAST(date_diff('day', DATE '2024-01-01', min(CAST(ts AS DATE))) AS BIGINT) AS fd,
               CAST(date_diff('day', DATE '2024-01-01', max(CAST(ts AS DATE))) AS BIGINT) AS ld
             FROM events GROUP BY user_id),
      mx AS (SELECT max(ld) AS endd FROM pu),
      subj AS (SELECT ld - fd AS t, ld = endd AS cen FROM pu, mx),
      byt AS (SELECT t,
                CAST(count(CASE WHEN NOT cen THEN 1 END) AS BIGINT) AS churned,
                CAST(count(CASE WHEN cen THEN 1 END) AS BIGINT) AS censored
              FROM subj GROUP BY t),
      rk AS (SELECT t, churned, censored,
               CAST(sum(churned + censored) OVER ()
                    - coalesce(sum(churned + censored)
                        OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0) AS BIGINT) AS n_at_risk
             FROM byt),
      ff AS (SELECT t, churned, censored, n_at_risk,
               CAST((n_at_risk - churned) * 1000000000 // n_at_risk AS BIGINT) AS f,
               CAST(row_number() OVER (ORDER BY t) AS INTEGER) AS rn
             FROM rk),
      fl AS (SELECT list(f ORDER BY t) AS fs FROM ff),
      o AS (SELECT ff.t, ff.n_at_risk, ff.churned, ff.censored,
              CAST(list_reduce(
                     list_prepend(CAST(1000000000 AS HUGEINT),
                       list_transform(list_slice(fl.fs, 1, ff.rn),
                                      x -> CAST(x AS HUGEINT))),
                     (a, b) -> (a * b) // 1000000000) AS BIGINT) AS survival_fp
            FROM ff, fl)
      SELECT t, n_at_risk, churned, censored, survival_fp,
             round(CAST(survival_fp AS DOUBLE) / 1000000000.0, 6) AS survival
      FROM o ORDER BY t"""),
    (spark, dir) => {
      // lazy checkpoint (q282 idiom): the censoring edge is the max of
      // the per-user frame itself — one corpus scan, reused
      val pu = T(spark, dir, "events").groupBy("user_id")
        .agg(datediff(min(to_date(col("ts"))), lit("2024-01-01").cast("date"))
          .cast("long").as("fd"),
          datediff(max(to_date(col("ts"))), lit("2024-01-01").cast("date"))
            .cast("long").as("ld"))
        .localCheckpoint(eager = false)
      val subj = pu.crossJoin(broadcast(pu.agg(max(col("ld")).as("endd"))))
        .select((col("ld") - col("fd")).as("t"),
          (col("ld") === col("endd")).as("cen"))
      graft.ops.Survival.kaplanMeier(subj, "t", "cen")
    })

  /** q298's retention curve WITH its Greenwood 95% confidence band —
    * var(S) = S²·Σ d/(n(n−d)) as a 10¹⁸ fixed-point integer cumulative
    * over the same ≤T rows, the se/CI as the one double readout
    * (ops.Survival.kaplanMeierGreenwood). Same subject derivation as
    * q298, so the curves coincide and only the band is new.
    */
  private lazy val kmGreenwoodQuery: QueryDef =
    QueryDef("q305_km_greenwood", Some("""
      WITH pu AS (SELECT user_id,
               CAST(date_diff('day', DATE '2024-01-01', min(CAST(ts AS DATE))) AS BIGINT) AS fd,
               CAST(date_diff('day', DATE '2024-01-01', max(CAST(ts AS DATE))) AS BIGINT) AS ld
             FROM events GROUP BY user_id),
      mx AS (SELECT max(ld) AS endd FROM pu),
      subj AS (SELECT ld - fd AS t, ld = endd AS cen FROM pu, mx),
      byt AS (SELECT t,
                CAST(count(CASE WHEN NOT cen THEN 1 END) AS BIGINT) AS churned,
                CAST(count(CASE WHEN cen THEN 1 END) AS BIGINT) AS censored
              FROM subj GROUP BY t),
      rk AS (SELECT t, churned, censored,
               CAST(sum(churned + censored) OVER ()
                    - coalesce(sum(churned + censored)
                        OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0) AS BIGINT) AS n_at_risk
             FROM byt),
      ff AS (SELECT t, churned, censored, n_at_risk,
               CAST((n_at_risk - churned) * 1000000000 // n_at_risk AS BIGINT) AS f,
               CASE WHEN churned < n_at_risk
                 THEN CAST(churned AS HUGEINT) * 1000000000000000000
                      // (CAST(n_at_risk AS HUGEINT) * (n_at_risk - churned))
                 ELSE CAST(0 AS HUGEINT) END AS g_term,
               CAST(row_number() OVER (ORDER BY t) AS INTEGER) AS rn
             FROM rk),
      gc AS (SELECT *, sum(g_term) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                       AS greenwood_fp
             FROM ff),
      fl AS (SELECT list(f ORDER BY t) AS fs FROM ff),
      o AS (SELECT gc.t, gc.n_at_risk, gc.churned, gc.censored,
              gc.greenwood_fp,
              CAST(list_reduce(
                     list_prepend(CAST(1000000000 AS HUGEINT),
                       list_transform(list_slice(fl.fs, 1, gc.rn),
                                      x -> CAST(x AS HUGEINT))),
                     (a, b) -> (a * b) // 1000000000) AS BIGINT) AS survival_fp
            FROM gc, fl),
      rd AS (SELECT t, n_at_risk, churned, censored,
               CAST(survival_fp AS DOUBLE) / 1000000000.0 AS s_d,
               CAST(survival_fp AS DOUBLE) / 1000000000.0
                 * sqrt(CAST(greenwood_fp AS DOUBLE) / 1e18) AS se_raw
             FROM o)
      SELECT t, n_at_risk, churned, censored,
             round(s_d, 6) AS survival, round(se_raw, 6) AS se,
             round(greatest(0.0, s_d - 1.96 * se_raw), 6) AS lo95,
             round(least(1.0, s_d + 1.96 * se_raw), 6) AS hi95
      FROM rd ORDER BY t"""),
    (spark, dir) => {
      val pu = T(spark, dir, "events").groupBy("user_id")
        .agg(datediff(min(to_date(col("ts"))), lit("2024-01-01").cast("date"))
          .cast("long").as("fd"),
          datediff(max(to_date(col("ts"))), lit("2024-01-01").cast("date"))
            .cast("long").as("ld"))
        .localCheckpoint(eager = false)
      val subj = pu.crossJoin(broadcast(pu.agg(max(col("ld")).as("endd"))))
        .select((col("ld") - col("fd")).as("t"),
          (col("ld") === col("endd")).as("cen"))
      graft.ops.Survival.kaplanMeierGreenwood(subj, "t", "cen")
    })

  /** Two-sample log-rank over the q298 lifetimes with q290's md5-parity
    * arms — "did retention differ between the arms", the survival twin
    * of the Welch/Mann-Whitney/KS toolkit (mean- and rank-based tests
    * cannot see censoring). Exact 10⁹ fixed-point hypergeometric
    * moments summed exactly, decision in exact decimal against the
    * df=1 critical; synthetic parity arms SHOULD read null — the
    * deterministic no-difference readout is the point
    * (ops.Survival.logRank).
    */
  private lazy val logRankQuery: QueryDef = QueryDef("q308_logrank", Some("""
      WITH pu AS (SELECT user_id,
               CAST(date_diff('day', DATE '2024-01-01', min(CAST(ts AS DATE))) AS BIGINT) AS fd,
               CAST(date_diff('day', DATE '2024-01-01', max(CAST(ts AS DATE))) AS BIGINT) AS ld
             FROM events GROUP BY user_id),
      mx AS (SELECT max(ld) AS endd FROM pu),
      subj AS (SELECT CAST((('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
                            % 1000003 + 1) % 2 + 1 AS INTEGER) AS arm,
                 ld - fd AS t, ld = endd AS cen
               FROM pu, mx),
      byt AS (SELECT t,
                CAST(count(CASE WHEN arm = 1 AND NOT cen THEN 1 END) AS BIGINT) AS d1,
                CAST(count(CASE WHEN arm = 1 AND cen THEN 1 END) AS BIGINT) AS c1,
                CAST(count(CASE WHEN arm = 2 AND NOT cen THEN 1 END) AS BIGINT) AS d2,
                CAST(count(CASE WHEN arm = 2 AND cen THEN 1 END) AS BIGINT) AS c2
              FROM subj GROUP BY t),
      rk AS (SELECT t, d1, d2,
               CAST(sum(d1 + c1) OVER ()
                    - coalesce(sum(d1 + c1)
                        OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0) AS BIGINT) AS n1t,
               CAST(sum(d2 + c2) OVER ()
                    - coalesce(sum(d2 + c2)
                        OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0) AS BIGINT) AS n2t
             FROM byt),
      tm AS (SELECT d1, n1t, n2t, d1 + d2 AS d, n1t + n2t AS n
             FROM rk WHERE d1 + d2 > 0),
      ag AS (SELECT CAST(sum(d1) AS BIGINT) AS o1,
               CAST(sum(CAST(n1t AS HUGEINT) * d * 1000000000 // n) AS HUGEINT) AS e1_fp,
               CAST(sum(CASE WHEN n > 1 THEN
                          (CAST(d AS HUGEINT) * n1t * n2t * (n - d) * 1000000000)
                          // (CAST(n AS HUGEINT) * n * (n - 1))
                        ELSE 0 END) AS HUGEINT) AS v_fp
             FROM tm),
      cn AS (SELECT CAST(count(CASE WHEN arm = 1 THEN 1 END) AS BIGINT) AS n1,
               CAST(count(CASE WHEN arm = 2 THEN 1 END) AS BIGINT) AS n2
             FROM subj)
      SELECT CASE WHEN n1 = 0 OR n2 = 0
               THEN CAST(error('logRank: both arms need subjects') AS BIGINT)
               ELSE n1 END AS n1,
             n2, o1,
             round(CAST(e1_fp AS DOUBLE) / 1e9, 6) AS e1,
             round((CAST(o1 AS DOUBLE) - CAST(e1_fp AS DOUBLE) / 1e9)
                   * (CAST(o1 AS DOUBLE) - CAST(e1_fp AS DOUBLE) / 1e9)
                   / (CAST(v_fp AS DOUBLE) / 1e9), 6) AS chi2,
             (CAST(o1 AS HUGEINT) * 1000000000 - e1_fp)
               * (CAST(o1 AS HUGEINT) * 1000000000 - e1_fp) * 1000000
               > 3841459 * v_fp * 1000000000 AS significant
      FROM ag, cn"""),
    (spark, dir) => {
      import graft.ops.Sampling
      val pu = T(spark, dir, "events").groupBy("user_id")
        .agg(datediff(min(to_date(col("ts"))), lit("2024-01-01").cast("date"))
          .cast("long").as("fd"),
          datediff(max(to_date(col("ts"))), lit("2024-01-01").cast("date"))
            .cast("long").as("ld"))
        .localCheckpoint(eager = false)
      val subj = pu.crossJoin(broadcast(pu.agg(max(col("ld")).as("endd"))))
        .select((Sampling.hashRank(col("user_id")) % 2 + 1).cast("int")
          .as("arm"),
          (col("ld") - col("fd")).as("t"),
          (col("ld") === col("endd")).as("cen"))
      graft.ops.Survival.logRank(subj, "arm", "t", "cen")
    })

  /** Two-sample Kolmogorov–Smirnov on the same BUILDING/MACHINERY arms
    * as q86 (Welch t) and q292 (rank-sum) — the shape-sensitive third
    * member of the comparison toolkit: sup-gap of the ECDFs in EXACT
    * integers (common denominator n₁n₂ deferred to the display), the
    * Smirnov α=.05 decision in exact decimal. See ops.Robust.ksTest.
    */
  private lazy val ksQuery: QueryDef = QueryDef("q299_ks_test", Some("""
      WITH v AS (SELECT CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 2 END AS arm,
               CAST(round(c_acctbal * 100, 0) AS BIGINT) AS v
             FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
      bv AS (SELECT v, CAST(count(CASE WHEN arm = 1 THEN 1 END) AS BIGINT) AS c1,
               CAST(count(CASE WHEN arm = 2 THEN 1 END) AS BIGINT) AS c2
             FROM v GROUP BY v),
      g AS (SELECT v, sum(c1) OVER w AS cum1, sum(c2) OVER w AS cum2,
              sum(c1) OVER () AS n1, sum(c2) OVER () AS n2
            FROM bv WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)),
      a AS (SELECT CAST(max(n1) AS BIGINT) AS n1, CAST(max(n2) AS BIGINT) AS n2,
              max(abs(CAST(cum1 AS HUGEINT) * n2 - CAST(cum2 AS HUGEINT) * n1))
                AS d_num
            FROM g)
      SELECT n1, n2, CAST(d_num AS BIGINT) AS d_num,
             -- fail-fast parity with ops.Robust.ksTest on an empty arm
             CASE WHEN coalesce(n1, 0) = 0 OR coalesce(n2, 0) = 0
               THEN CAST(error('ksTest: both arms need data') AS DOUBLE)
               ELSE round(CAST(d_num AS DOUBLE)
                   / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6) END AS d,
             d_num * d_num * 1000000
               > 1844164 * CAST(n1 + n2 AS HUGEINT) * n1 * n2 AS significant
      FROM a"""),
    (spark, dir) => {
      val c = T(spark, dir, "customer")
        .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(when(col("c_mktsegment") === "BUILDING", 1).otherwise(2)
          .as("arm"),
          round(col("c_acctbal") * 100, 0).cast("long").as("v"))
      graft.ops.Robust.ksTest(c, "arm", "v")
    })

  /** q292's rank-sum PAST the exact-decimal domain: a deterministic
    * synthetic 2×10⁷-row cell (10⁷ per arm — the exact decision's
    * n⁴·n₁n₂ product would overflow decimal(38,0), so ops.Robust
    * .mannWhitney FAILS FAST there by contract) read out through the
    * explicit approximate mode: all rank/tie sums stay exact decimal,
    * only the α=.05 decision rides the double z vs 1.96 with a 10⁻⁹
    * boundary guard (ops.Robust.mannWhitneyApprox — r18 verdict item
    * 3). Both engines generate the identical cell with pure integer
    * arithmetic — no hash, no float, no row-order dependence.
    */
  private lazy val mannWhitneyLargeQuery: QueryDef =
    QueryDef("q310_mann_whitney_large", Some("""
      WITH src AS (SELECT CAST(i % 2 + 1 AS INTEGER) AS arm,
               CAST((i % 9973 + i % 313) % 500 AS BIGINT) AS v
             FROM range(0, 20000000) t(i)),
      bv AS (SELECT v, CAST(count(CASE WHEN arm = 1 THEN 1 END) AS BIGINT) AS c1,
               CAST(count(*) AS BIGINT) AS ct
             FROM src GROUP BY v),
      rk AS (SELECT v, c1, ct,
               sum(ct) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
             FROM bv),
      ag AS (SELECT
               CAST(sum(CAST(c1 AS HUGEINT) * (2 * (cum - ct) + ct + 1)) AS HUGEINT) AS r2x,
               CAST(sum(CAST(ct AS HUGEINT) * ct * ct - ct) AS HUGEINT) AS tsum,
               CAST(sum(c1) AS BIGINT) AS n1,
               CAST(sum(ct - c1) AS BIGINT) AS n2
             FROM rk),
      fin AS (SELECT n1, n2, n1 + n2 AS n,
                r2x - CAST(n1 AS HUGEINT) * (n1 + 1) AS u2x, tsum
              FROM ag),
      zr AS (SELECT n1, n2, u2x, tsum, n,
               (CAST(u2x AS DOUBLE) - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
               / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 3.0
                      * ((CAST(n AS DOUBLE) + 1.0)
                         - CAST(tsum AS DOUBLE)
                           / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))) AS z_raw
             FROM fin)
      SELECT n1, n2, CAST(u2x AS BIGINT) AS u2x, round(z_raw, 6) AS z,
        CASE WHEN abs(abs(z_raw) - 1.96) < 1e-9
          THEN CAST(error('mannWhitneyApprox: |z| within 1e-9 of the 1.96 boundary — use the exact mode') AS BOOLEAN)
          ELSE abs(z_raw) > 1.96 END AS significant
      FROM zr"""),
    (spark, dir) => {
      val cell = spark.range(0, 20000000L)
        .select(((col("id") % 2) + 1).cast("int").as("arm"),
          ((col("id") % 9973 + col("id") % 313) % 500).cast("long").as("v"))
      graft.ops.Robust.mannWhitneyApprox(cell, "arm", "v")
    })

  /** q308's log-rank PAST the exact domain: 3×10⁷ synthetic subjects
    * concentrated on TWO exit times, so the per-time hypergeometric
    * variance numerator d·n₁ₜ·n₂ₜ·(n−d)·10⁹ ≈ 5·10⁴⁶ overflows the
    * exact form's decimal(38,0) by eight orders — the staged
    * fixed-point V (intermediates ≲ n³·10⁹/16) and the guarded double
    * χ² decision of ops.Survival.logRankApprox carry the readout,
    * still exact-integer and order-independent below the decision.
    */
  private lazy val logRankLargeQuery: QueryDef =
    QueryDef("q311_logrank_large", Some("""
      WITH subj AS (SELECT CAST(i % 2 + 1 AS INTEGER) AS arm,
               CAST((i // 2) % 2 AS BIGINT) AS t,
               i % 97 = 0 AS cen
             FROM range(0, 30000000) t(i)),
      byt AS (SELECT t,
                CAST(count(CASE WHEN arm = 1 AND NOT cen THEN 1 END) AS BIGINT) AS d1,
                CAST(count(CASE WHEN arm = 1 AND cen THEN 1 END) AS BIGINT) AS c1,
                CAST(count(CASE WHEN arm = 2 AND NOT cen THEN 1 END) AS BIGINT) AS d2,
                CAST(count(CASE WHEN arm = 2 AND cen THEN 1 END) AS BIGINT) AS c2
              FROM subj GROUP BY t),
      rk AS (SELECT t, d1, d2,
               CAST(sum(d1 + c1) OVER ()
                    - coalesce(sum(d1 + c1)
                        OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0) AS BIGINT) AS n1t,
               CAST(sum(d2 + c2) OVER ()
                    - coalesce(sum(d2 + c2)
                        OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0) AS BIGINT) AS n2t
             FROM byt),
      tm AS (SELECT d1, n1t, n2t, d1 + d2 AS d, n1t + n2t AS n
             FROM rk WHERE d1 + d2 > 0),
      ag AS (SELECT CAST(sum(d1) AS BIGINT) AS o1,
               CAST(sum(CAST(n1t AS HUGEINT) * d * 1000000000 // n) AS HUGEINT) AS e1_fp,
               CAST(sum(CASE WHEN n > 1 THEN
                          (CAST(d AS HUGEINT) * (n - d)
                            * (CAST(n1t AS HUGEINT) * n2t * 1000000000 // n))
                          // (CAST(n AS HUGEINT) * (n - 1))
                        ELSE 0 END) AS HUGEINT) AS v_fp
             FROM tm),
      cn AS (SELECT CAST(count(CASE WHEN arm = 1 THEN 1 END) AS BIGINT) AS n1,
               CAST(count(CASE WHEN arm = 2 THEN 1 END) AS BIGINT) AS n2
             FROM subj),
      fin AS (SELECT n1, n2, o1, e1_fp, v_fp,
                (CAST(o1 AS DOUBLE) - CAST(e1_fp AS DOUBLE) / 1e9)
                * (CAST(o1 AS DOUBLE) - CAST(e1_fp AS DOUBLE) / 1e9)
                / (CAST(v_fp AS DOUBLE) / 1e9) AS chi2_raw
              FROM ag, cn)
      SELECT CASE WHEN n1 = 0 OR n2 = 0
               THEN CAST(error('logRank: both arms need subjects') AS BIGINT)
               ELSE n1 END AS n1,
             n2, o1,
             round(CAST(e1_fp AS DOUBLE) / 1e9, 6) AS e1,
             round(chi2_raw, 6) AS chi2,
             CASE WHEN abs(chi2_raw - 3.841459) < 1e-9
               THEN CAST(error('logRankApprox: chi2 within 1e-9 of the 3.841459 boundary — use the exact mode') AS BOOLEAN)
               ELSE chi2_raw > 3.841459 END AS significant
      FROM fin"""),
    (spark, dir) => {
      val subj = spark.range(0, 30000000L)
        .select(((col("id") % 2) + 1).cast("int").as("arm"),
          ((col("id") / 2) % 2).cast("long").as("t"),
          (col("id") % 97 === 0).as("cen"))
      graft.ops.Survival.logRankApprox(subj, "arm", "t", "cen")
    })

  /** q299's KS readout through the explicit approximate decision
    * (ops.Robust.ksTestApprox): D's integer numerator and the ECDF
    * gaps stay exact; only the Smirnov threshold comparison rides
    * doubles with a relative 10⁻⁹ boundary guard. Same arms as q299 —
    * away from the boundary the two modes must agree, and the oracle
    * replays the double decision verbatim.
    */
  private lazy val ksApproxQuery: QueryDef = QueryDef("q312_ks_approx", Some("""
      WITH v AS (SELECT CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 2 END AS arm,
               CAST(round(c_acctbal * 100, 0) AS BIGINT) AS v
             FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
      bv AS (SELECT v, CAST(count(CASE WHEN arm = 1 THEN 1 END) AS BIGINT) AS c1,
               CAST(count(CASE WHEN arm = 2 THEN 1 END) AS BIGINT) AS c2
             FROM v GROUP BY v),
      g AS (SELECT v, sum(c1) OVER w AS cum1, sum(c2) OVER w AS cum2,
              sum(c1) OVER () AS n1, sum(c2) OVER () AS n2
            FROM bv WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)),
      a AS (SELECT CAST(max(n1) AS BIGINT) AS n1, CAST(max(n2) AS BIGINT) AS n2,
              max(abs(CAST(cum1 AS HUGEINT) * n2 - CAST(cum2 AS HUGEINT) * n1))
                AS d_num
            FROM g),
      f AS (SELECT n1, n2, d_num,
              CAST(d_num AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS d_raw,
              1.358 * sqrt(CAST(n1 + n2 AS DOUBLE)
                           / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))) AS crit
            FROM a)
      SELECT n1, n2, CAST(d_num AS BIGINT) AS d_num,
             CASE WHEN coalesce(n1, 0) = 0 OR coalesce(n2, 0) = 0
               THEN CAST(error('ksTest: both arms need data') AS DOUBLE)
               ELSE round(d_raw, 6) END AS d,
             CASE WHEN abs(d_raw - crit) < 1e-9 * crit
               THEN CAST(error('ksTestApprox: D within 1e-9 of the Smirnov boundary — use the exact mode') AS BOOLEAN)
               ELSE d_raw > crit END AS significant
      FROM f"""),
    (spark, dir) => {
      val c = T(spark, dir, "customer")
        .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(when(col("c_mktsegment") === "BUILDING", 1).otherwise(2)
          .as("arm"),
          round(col("c_acctbal") * 100, 0).cast("long").as("v"))
      graft.ops.Robust.ksTestApprox(c, "arm", "v")
    })

  /** Chi-square independence of nation × market segment over customers
    * (df = 24·4 = 96, critical 119.871 at α=.05 frozen at 10⁶ scale):
    * the R×C generalization of q291's SRM gate. Exact integer cell
    * terms summed exactly; see ops.Sequential.chiSquareIndependence.
    * Synthetic data IS independent here — the deterministic null
    * readout is the point (the oracle must agree on 'no dependence').
    */
  private lazy val chi2IndepQuery: QueryDef =
    QueryDef("q300_chi2_independence", Some("""
      WITH cells AS (SELECT n.n_name AS r, c.c_mktsegment AS c,
               CAST(count(*) AS BIGINT) AS o
             FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
             GROUP BY 1, 2),
      rm AS (SELECT r, CAST(sum(o) AS BIGINT) AS rm FROM cells GROUP BY r),
      cm AS (SELECT c, CAST(sum(o) AS BIGINT) AS cm FROM cells GROUP BY c),
      tt AS (SELECT CAST(sum(o) AS BIGINT) AS n,
               CAST(count(DISTINCT r) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT c) AS BIGINT) AS n_cols
             FROM cells),
      tm AS (SELECT ((CAST(o AS HUGEINT) * n - CAST(rm.rm AS HUGEINT) * cm.cm)
                     * (CAST(o AS HUGEINT) * n - CAST(rm.rm AS HUGEINT) * cm.cm)
                     * 1000000)
                    // (CAST(n AS HUGEINT) * rm.rm * cm.cm) AS term_fp,
               tt.n, tt.n_rows, tt.n_cols
             FROM cells JOIN rm USING (r) JOIN cm USING (c) CROSS JOIN tt),
      agg AS (SELECT max(n) AS n, max(n_rows) AS n_rows, max(n_cols) AS n_cols,
                CAST(sum(term_fp) AS HUGEINT) AS chi2_fp
              FROM tm)
      SELECT n, n_rows, n_cols,
             (n_rows - 1) * (n_cols - 1) AS df,
             round(CAST(chi2_fp AS DOUBLE) / 1000000.0, 6) AS chi2,
             chi2_fp > 119871000 AS dependent
      FROM agg"""),
    (spark, dir) => {
      val per = T(spark, dir, "customer")
        .join(broadcast(T(spark, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("r"), col("c_mktsegment").as("c"))
      graft.ops.Sequential.chiSquareIndependence(per, "r", "c",
        critFp = 119871000L)
    })

  /** DuckDB twin of ops.Sampling.hashRank over the draw key
    * `id:replicate` — shared by every bootstrap oracle so the draw
    * recipe has ONE definition next to its engine counterpart.
    */
  private def drawRankSql(id: String, b: String): String =
    s"('0x' || substr(md5($id || ':' || CAST($b AS VARCHAR)), 1, 15))::BIGINT % 1000003 + 1"

  /** DuckDB twin of ops.Bootstrap's offset floor-division mean
    * `(s + n·OffsetFp) div n − OffsetFp` — references OffsetFp itself,
    * never a re-typed literal.
    */
  private def meanFpSql(s: String, n: String): String = {
    val c = graft.ops.Bootstrap.OffsetFp
    s"($s + $n * $c) // $n - $c"
  }

  /** DuckDB twin of ops.Bootstrap.poissonWeight over a rank column `r`. */
  private def poissonWSql: String =
    graft.ops.Bootstrap.PoissonThresholds
      .map(t => s"CAST(r > $t AS INT)").mkString(" + ")

  /** Shared q281/q283 oracle chain — everything downstream of `base`
    * (id VARCHAR = resampling-unit key, arm ∈ {1,2}, v BIGINT fixed
    * point): the md5 Poisson(1) draw against ops.Bootstrap's integer
    * thresholds, per-replicate weighted sums, offset floor-division
    * means, exact-rank percentile CI, and the unweighted point
    * estimate. One definition so the two bootstrap variants cannot
    * drift; q285's grouped chain shares the same fragment helpers.
    */
  private def bootstrapSql(baseCte: String): String = s"""
      WITH base AS ($baseCte),
      reps AS (SELECT unnest(range(0, 200)) AS b),
      h AS (SELECT base.arm, base.v, reps.b,
              ${drawRankSql("base.id", "reps.b")} AS r
            FROM base CROSS JOIN reps),
      w AS (SELECT arm, v, b, $poissonWSql AS w
            FROM h),
      rep AS (SELECT b,
                CAST(sum(CASE WHEN arm = 1 THEN w * v ELSE 0 END) AS BIGINT) AS s1,
                CAST(sum(CASE WHEN arm = 1 THEN w ELSE 0 END) AS BIGINT) AS n1,
                CAST(sum(CASE WHEN arm = 2 THEN w * v ELSE 0 END) AS BIGINT) AS s2,
                CAST(sum(CASE WHEN arm = 2 THEN w ELSE 0 END) AS BIGINT) AS n2
              FROM w GROUP BY b),
      m AS (SELECT b,
              ${meanFpSql("s1", "n1")} AS m1,
              ${meanFpSql("s2", "n2")} AS m2
            FROM rep WHERE n1 > 0 AND n2 > 0),
      d AS (SELECT b, m1 - m2 AS dd,
              row_number() OVER (ORDER BY m1 - m2, b) AS rn FROM m),
      ci AS (SELECT CAST(CASE WHEN count(*) < 196
                 THEN error(concat('meanDiffCI: ', CAST(count(*) AS VARCHAR),
                   ' surviving replicates < hiRank 196'))
                 ELSE count(*) END AS INTEGER) AS n_reps,
               max(CASE WHEN rn = 5 THEN dd END) AS lo_fp,
               max(CASE WHEN rn = 196 THEN dd END) AS hi_fp FROM d),
      pt AS (SELECT
               CAST(count(CASE WHEN arm = 1 THEN 1 END) AS BIGINT) AS n1,
               CAST(count(CASE WHEN arm = 2 THEN 1 END) AS BIGINT) AS n2,
               ${meanFpSql("CAST(sum(CASE WHEN arm = 1 THEN v ELSE 0 END) AS BIGINT)",
                           "count(CASE WHEN arm = 1 THEN 1 END)")} AS pm1,
               ${meanFpSql("CAST(sum(CASE WHEN arm = 2 THEN v ELSE 0 END) AS BIGINT)",
                           "count(CASE WHEN arm = 2 THEN 1 END)")} AS pm2
             FROM base)
      SELECT ci.n_reps, pt.n1, pt.n2,
             round(CAST(pt.pm1 - pt.pm2 AS DOUBLE) / 1000000, 6) AS point_diff,
             round(CAST(ci.lo_fp AS DOUBLE) / 1000000, 6) AS ci_lo,
             round(CAST(ci.hi_fp AS DOUBLE) / 1000000, 6) AS ci_hi
      FROM ci, pt"""

  /** The q176 history build, shared with q179's as-of join. */
  private def scd2History(spark: org.apache.spark.sql.SparkSession,
                          dir: String): org.apache.spark.sql.DataFrame = {
    import graft.ops.{Sampling, Scd2}
    val base = T(spark, dir, "customer")
      .select(col("c_custkey").cast("long").as("c_custkey"),
        col("c_mktsegment"), col("c_acctbal"))
    val r = Sampling.hashRank(col("c_custkey"))
    val changed = base.filter(r % 5 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 100)
    val noop = base.filter(r % 5 === 1)
    val inserts = base.filter(r % 20 === 2)
      .select((col("c_custkey") + 1000000L).as("c_custkey"),
        lit("NEW").as("c_mktsegment"), lit(0.0).as("c_acctbal"))
    val updates = changed.unionByName(noop).unionByName(inserts)
    Scd2(Scd2.init(base, 0L), updates, "c_custkey",
      Seq("c_mktsegment", "c_acctbal"), version = 1L)
  }

  /** The q176 oracle's CTE chain ending in `hist` — shared with q179 so
    * the history definition cannot drift. (`def`: defs initializes
    * first.)
    */
  private def Scd2Ctes: String = """base AS (SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
                           c_mktsegment, c_acctbal,
                           ('0x' || substr(md5(CAST(CAST(c_custkey AS BIGINT) AS VARCHAR)), 1, 15))::BIGINT
                             % 1000003 + 1 AS r
                    FROM customer),
      changed AS (SELECT c_custkey, c_mktsegment, c_acctbal + 100 AS c_acctbal
                  FROM base WHERE r % 5 = 0),
      inserts AS (SELECT c_custkey + 1000000 AS c_custkey,
                         'NEW' AS c_mktsegment, 0.0 AS c_acctbal
                  FROM base WHERE r % 20 = 2),
      hist AS (
        SELECT c_custkey, c_mktsegment, c_acctbal,
               CAST(0 AS BIGINT) AS valid_from,
               CASE WHEN r % 5 = 0 THEN CAST(1 AS BIGINT) END AS valid_to,
               r % 5 <> 0 AS is_current
        FROM base
        UNION ALL
        SELECT c_custkey, c_mktsegment, c_acctbal,
               CAST(1 AS BIGINT), CAST(NULL AS BIGINT), true FROM changed
        UNION ALL
        SELECT c_custkey, c_mktsegment, c_acctbal,
               CAST(1 AS BIGINT), CAST(NULL AS BIGINT), true FROM inserts)"""
}
