package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Robust per-group statistics via EXACT order statistics —
  * winsorization (Tukey's trimming-by-clamping): values below the
  * pLo-th / above the pHi-th order statistic clamp to those bounds
  * before aggregating, the standard outlier-hardening pass for price /
  * latency / length features ahead of scaling (the [[Scale]] ops are
  * mean/extreme-based and an single corrupt row drags them; the
  * winsorized mean moves by at most the clamp width).
  *
  * EXACT, not sketched: the bound is the value AT rank
  * max(1, ceil(p·n)) of the group's sort order — approx_percentile
  * trades that for mergeability, but a correctness-gated feature
  * pipeline wants reproducible bounds (and a DuckDB twin can replay
  * ranks bit-for-bit, q230). Feed INTEGER-grained values (cents,
  * token counts, ms) and everything downstream — bounds, clip, sum —
  * stays in long arithmetic with zero float discipline; the caller
  * divides the grain back out at the end.
  *
  * Scale shape: one per-group window sort + one clip-and-aggregate
  * pass, shuffles keyed on the group column. Parallelism equals the
  * group count — right for feature groups (brands, sources,
  * languages: tens to thousands); for a HANDFUL of groups or a global
  * winsorize, route the rank through [[GlobalRank.withRowNumber]]
  * (distributed range sort) instead of a window — same ranks, no
  * single-task funnel (the q151 caveat).
  *
  * Ties: equal values get arbitrary row_number order, but the
  * SELECTED bound is a value, so ties at the cut change nothing.
  *
  * @return one row per group: n, lo, hi (the clamp bounds as values
  *         of `valCol`'s type), n_clipped, sum_winsor (sum of clamped
  *         values, exact for integral inputs)
  */
object Robust {

  def winsorizedStats(df: DataFrame, groupCol: String, valCol: String,
                      pLo: Double, pHi: Double): DataFrame = {
    require(0.0 <= pLo && pLo <= pHi && pHi <= 1.0,
      s"need 0 <= pLo <= pHi <= 1, got ($pLo, $pHi)")
    val v = df.select(col(groupCol), col(valCol))
    val ranked = v
      .withColumn("__r", row_number()
        .over(Window.partitionBy(groupCol).orderBy(col(valCol))))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(groupCol)))
    def atRank(rank: Column): Column =
      max(when(col("__r") === rank, col(valCol)))
    val bounds = ranked.groupBy(groupCol).agg(
      atRank(greatest(lit(1L), ceil(lit(pLo) * col("__n")))).as("__lo"),
      atRank(least(col("__n"), ceil(lit(pHi) * col("__n")))).as("__hi"))
    val clipped = least(greatest(col(valCol), col("__lo")), col("__hi"))
    v.join(bounds, Seq(groupCol))
      .groupBy(groupCol)
      .agg(
        count(lit(1)).cast("int").as("n"),
        first(col("__lo")).as("lo"),
        first(col("__hi")).as("hi"),
        sum(when(col(valCol) < col("__lo") || col(valCol) > col("__hi"), 1L)
          .otherwise(0L)).cast("int").as("n_clipped"),
        sum(clipped).as("sum_winsor"))
  }

  /** Exact per-group LOWER median — the value at rank ⌊(n+1)/2⌋ of the
    * group's sort order (for even n the lower of the two central
    * values, so the result is always an ELEMENT and integral inputs
    * stay integral — no interpolated float for an oracle to chase).
    * `tieCol` pins row_number order under equal values; the selected
    * VALUE is tie-insensitive, the pin just keeps plans deterministic.
    */
  private def groupMedian(df: DataFrame, groupCol: String, valCol: String,
                          tieCol: String, outCol: String): DataFrame = {
    val r = df
      .withColumn("__rk", row_number()
        .over(Window.partitionBy(groupCol).orderBy(col(valCol), col(tieCol))))
      .withColumn("__m", count(lit(1)).over(Window.partitionBy(groupCol)))
    r.groupBy(groupCol)
      .agg(max(when(col("__rk") === ((col("__m") + 1) / 2).cast("long"),
        col(valCol))).as(outCol))
  }

  /** MAD outlier flags (Hampel's robust z): a row is anomalous when
    * |v − median| > k·MAD, with MAD the [[groupMedian]] of the
    * absolute deviations — the robust replacement for mean±k·σ, whose
    * threshold the outliers themselves inflate (one wild value moves
    * the mean AND widens σ; the median and MAD barely move). Integral
    * inputs keep the whole chain — medians, deviations, threshold —
    * in exact long arithmetic (q232's oracle replays it bit-for-bit).
    *
    * Degenerate contract: MAD = 0 (over half the group at the median)
    * flags EVERY row off the median — the standard Hampel behavior;
    * pre-filter or fall back to a fixed floor if that's too sharp.
    *
    * Scale shape: two window-rank passes + two broadcast-size joins
    * keyed on the group column; parallelism equals group count (the
    * [[winsorizedStats]] note on few-group inputs applies).
    *
    * @return flagged rows (group, tie, v, med, mad)
    */
  def madOutliers(df: DataFrame, groupCol: String, tieCol: String,
                  valCol: String, k: Int = 3): DataFrame = {
    val v = df.select(col(groupCol), col(tieCol), col(valCol))
    val dev = v.join(groupMedian(v, groupCol, valCol, tieCol, "med"),
        Seq(groupCol))
      .withColumn("__dev", abs(col(valCol) - col("med")))
    dev.join(groupMedian(dev, groupCol, "__dev", tieCol, "mad"), Seq(groupCol))
      .filter(col("__dev") > lit(k) * col("mad"))
      .select(col(groupCol), col(tieCol), col(valCol), col("med"), col("mad"))
  }

  /** Theil–Sen robust trend: the LOWER median of all pairwise slopes
    * (Theil 1950 / Sen 1968 — 29.3% breakdown point where OLS has 0%;
    * one wild month cannot drag it). Input contract: `points` is an
    * AGGREGATED series (time buckets), not raw rows — the pair set is
    * T·(T−1)/2 over the bucket count, so the quadratic part is bounded
    * by the series length while the raw data contributes only the one
    * bucketing pass upstream. Slopes are exact integer fixed point:
    * `(dy·scale + dx·offset) div dx − offset` (the offset forces the
    * numerator positive so floor division agrees across engines for
    * negative slopes; offset must exceed max|dy·scale/dx|), and the
    * median picks rank ⌊(n+1)/2⌋ under the total order
    * (slope, x1, x2) — deterministic, replayable.
    *
    * @return single row: n_points, n_pairs, slope_fp (dy·scale/dx units)
    */
  def theilSen(points: DataFrame, xCol: String, yCol: String,
               scaleNum: Long, offset: Long): DataFrame = {
    val p = points.select(col(xCol).cast("long").as("x"),
      col(yCol).cast("long").as("y"))
    val pairs = p.as("a").join(p.as("b"), col("b.x") > col("a.x"))
      .select(col("a.x").as("x1"), col("b.x").as("x2"),
        (col("b.y") - col("a.y")).as("dy"),
        (col("b.x") - col("a.x")).as("dx"))
      // Enforce the documented (scaleNum, offset) contract per pair, in
      // decimal so the CHECK itself can't wrap (r16 advice): (a) the
      // offset must dominate |dy|·scale/dx or the numerator goes
      // negative and floor division diverges across engines; (b) the
      // Long numerator must not overflow — non-ANSI Long arithmetic
      // would wrap silently into a wrong median. Pairs are bounded by
      // the bucket count squared, so the decimal guard is cheap.
      .withColumn("slope_fp",
        expr(s"""case
          when cast(abs(dy) as decimal(38,0)) * ${scaleNum}L
               >= cast(dx as decimal(38,0)) * ${offset}L
            then cast(raise_error(concat(
              'theilSen: offset too small for observed slopes: |dy|*scale=',
              cast(cast(abs(dy) as decimal(38,0)) * ${scaleNum}L as string),
              ' >= dx*offset=',
              cast(cast(dx as decimal(38,0)) * ${offset}L as string)))
              as bigint)
          when cast(abs(dy) as decimal(38,0)) * ${scaleNum}L
               + cast(dx as decimal(38,0)) * ${offset}L > 9223372036854775807
            then cast(raise_error(
              'theilSen: dy*scale + dx*offset exceeds Long range')
              as bigint)
          else (dy * ${scaleNum}L + dx * ${offset}L) div dx - ${offset}L
          end"""))
    val all = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    val byS = org.apache.spark.sql.expressions.Window
      .orderBy(col("slope_fp").asc, col("x1").asc, col("x2").asc)
    val med = pairs
      .withColumn("rn", row_number().over(byS))
      .withColumn("cnt", count(lit(1)).over(all))
      .filter(col("rn") === expr("(cnt + 1) div 2"))
      .select(col("cnt").as("n_pairs"), col("slope_fp"))
    med.crossJoin(broadcast(p.agg(count(lit(1)).as("n_points"))))
      .select(col("n_points"), col("n_pairs"), col("slope_fp"))
  }

  /** Mann–Whitney U / Wilcoxon rank-sum — the nonparametric twin of
    * the Welch t comparison (q86): ranks are immune to the heavy tails
    * and outliers that drag a mean-based test, the right default for
    * revenue-like metrics. Everything up to the z readout is EXACT
    * integer arithmetic on doubled ranks (average ranks of ties are
    * half-integers, so 2·rank is a whole number): per distinct value,
    * the tie group contributes cnt₁·(2·below + at + 1) to 2R₁, giving
    * 2U = 2R₁ − n₁(n₁+1); the tie correction T = Σ(t³−t) accumulates
    * in decimal(38,0). The normal approximation
    * z = (2U − n₁n₂) / √(n₁n₂/3 · ((n+1) − T/(n(n−1)))) enters doubles
    * only at the readout (√ is IEEE-correctly-rounded), and the
    * significance flag at α=.05 two-sided is decided in EXACT decimal:
    * (2U−n₁n₂)²·3·10⁴·n(n−1) > 38416·n₁n₂·((n+1)·n(n−1) − T)
    * (1.96² = 3.8416 is rational) — no float near the boundary.
    * Domain: the decimal comparison needs n⁴·n₁n₂ ≲ 10³⁸, i.e.
    * n ≲ 10⁶ per comparison cell; larger cells should pre-aggregate
    * or subsample (documented contract, like theilSen's offset).
    *
    * Arm contract (r17 advice): only rows with arm ∈ {1, 2} enter the
    * comparison — a stray arm value (3, null, a typo) is DROPPED, not
    * silently counted into arm 2. Degenerate inputs fail fast, the
    * msprt discipline: an empty arm or an all-tied metric (zero rank
    * variance) raises rather than emitting a NaN z.
    *
    * Scale shape: one value-grain aggregate (map-side combined) over
    * the input, then the rank cumulative rides [[PrefixSum]]'s
    * two-phase per-partition scan over the DISTINCT values — NOT an
    * unpartitioned window, which would funnel every distinct value of
    * a high-cardinality metric through one task — then two scalar
    * folds.
    *
    * @return one row: n1, n2, u2x (= 2·U₁), z (6 dp), significant
    */
  def mannWhitney(df: DataFrame, armCol: String, valCol: String): DataFrame =
    mannWhitneyImpl(df, armCol, valCol, exactDecision = true)

  /** [[mannWhitney]] with the significance DECISION in double — the
    * documented large-n escape hatch (r18 verdict item 3): the exact
    * decimal comparison needs n⁴·n₁n₂ ≲ 10³⁸ (n ≲ 10⁶ per cell) and
    * FAILS FAST past it via decimal overflow; a 100 TB experiment
    * readout lands there on day one. Here every rank/tie SUM stays
    * exact decimal (r2x ≤ 2n², tsum ≤ n³ — in-range to n ≈ 10¹²); only
    * the α=.05 decision rides the double z against 1.96, with a
    * BOUNDARY-DISTANCE GUARD: if ||z| − 1.96| < 10⁻⁹ — inside double
    * rounding noise of the critical value, where the approximation
    * could flip the call — the query raises instead of guessing
    * (approximate, never silently wrong). Selected explicitly by
    * calling this method; the default stays exact.
    */
  def mannWhitneyApprox(df: DataFrame, armCol: String, valCol: String): DataFrame =
    mannWhitneyImpl(df, armCol, valCol, exactDecision = false)

  private def mannWhitneyImpl(df: DataFrame, armCol: String, valCol: String,
                              exactDecision: Boolean): DataFrame = {
    val v = df.select(col(armCol).as("arm"), col(valCol).cast("long").as("v"))
      .filter(col("arm") === 1 || col("arm") === 2)
    // lazily truncated (the q282 idiom): the two-phase scan's partial
    // and seeded passes both consume this corpus aggregate — without
    // truncation each would re-run the heavy upstream scan
    val byVal = v.groupBy("v").agg(
      count(when(col("arm") === 1, 1)).as("c1"),
      count(lit(1)).as("ct"))
      .localCheckpoint(eager = false)
    // exclusive running count of ALL arms over the value order = the
    // mass strictly below each tie group (the two-phase scan keeps the
    // rank stage partitioned at any metric cardinality)
    val ranked = PrefixSum
      .withRunningSum(byVal, "ct", "below", Seq(col("v")))
      // arm-1 mass at this value x (2·average rank of the tie group)
      .withColumn("r2_contrib",
        col("c1").cast("decimal(38,0)")
          * (lit(2L) * col("below") + col("ct") + lit(1L)))
      .withColumn("tie_term",
        col("ct").cast("decimal(38,0)") * col("ct") * col("ct") - col("ct"))
    val agg = ranked.agg(
      sum("r2_contrib").as("r2x"),
      sum("tie_term").as("tsum"),
      sum("c1").as("n1"),
      sum(col("ct") - col("c1")).as("n2"))
    agg
      .withColumn("n", col("n1") + col("n2"))
      .withColumn("u2x", expr(
        "cast(r2x - cast(n1 as decimal(38,0)) * (n1 + 1) as decimal(38,0))"))
      .withColumn("z", expr(
        """case
           when coalesce(n1, 0) = 0 or coalesce(n2, 0) = 0
             then cast(raise_error(
               'mannWhitney: both arms need data') as double)
           when (cast(n as decimal(38,0)) + 1)
                  * (cast(n as decimal(38,0)) * (n - 1)) - tsum <= 0
             then cast(raise_error(
               'mannWhitney: zero rank variance (all values tied)') as double)
           else round(
             (cast(u2x as double) - cast(n1 as double) * cast(n2 as double))
             / sqrt(cast(n1 as double) * cast(n2 as double) / 3.0
                    * ((cast(n as double) + 1.0)
                       - cast(tsum as double)
                         / (cast(n as double) * (cast(n as double) - 1.0)))),
             6)
           end"""))
      .withColumn("significant",
        if (exactDecision) expr(
          """(u2x - cast(n1 as decimal(38,0)) * n2)
               * (u2x - cast(n1 as decimal(38,0)) * n2) * 3 * 10000
               * (cast(n as decimal(38,0)) * (n - 1))
             > 38416 * cast(n1 as decimal(38,0)) * n2
               * ((cast(n as decimal(38,0)) + 1) * (cast(n as decimal(38,0)) * (n - 1))
                  - tsum)""")
        else expr(
          // UNROUNDED z for the decision; the displayed z is 6 dp.
          // The guard band (1e-9 absolute on |z|) is orders past the
          // ~1e-15-relative error of the double pipeline, so a pass
          // through it can never be a rounding artifact.
          """case
             when abs(abs(
                 (cast(u2x as double) - cast(n1 as double) * cast(n2 as double))
                 / sqrt(cast(n1 as double) * cast(n2 as double) / 3.0
                        * ((cast(n as double) + 1.0)
                           - cast(tsum as double)
                             / (cast(n as double) * (cast(n as double) - 1.0))))
               ) - 1.96) < 1e-9
               then cast(raise_error(
                 'mannWhitneyApprox: |z| within 1e-9 of the 1.96 boundary — use the exact mode') as boolean)
             else abs(
                 (cast(u2x as double) - cast(n1 as double) * cast(n2 as double))
                 / sqrt(cast(n1 as double) * cast(n2 as double) / 3.0
                        * ((cast(n as double) + 1.0)
                           - cast(tsum as double)
                             / (cast(n as double) * (cast(n as double) - 1.0))))
               ) > 1.96
             end"""))
      .select(col("n1"), col("n2"), col("u2x").cast("long").as("u2x"),
        col("z"), col("significant"))
  }

  /** Two-sample Kolmogorov–Smirnov — the distribution-shape companion
    * of [[mannWhitney]] (which sees only location): D = sup|F₁ − F₂|
    * over the pooled empirical CDFs catches variance, tail, and
    * multimodality shifts a rank-sum misses. EVERYTHING is exact
    * integers: at each distinct value the ECDF gap is
    * |cum₁·n₂ − cum₂·n₁| (common denominator n₁n₂ deferred), D's
    * numerator is an integer max, and the two-sided α=.05 decision
    * (Smirnov asymptotic c(α)=1.358) is the exact decimal comparison
    * Dnum²·10⁶ > 1358²·(n₁+n₂)·n₁·n₂ — only the display division is a
    * double. Domain: the decision needs (n₁n₂)²·10⁶ ≲ 10³⁸, i.e.
    * ~10⁸ rows per arm per comparison cell (the mannWhitney-style
    * documented contract). Scale shape: one value-grain aggregate
    * (map-side combined), then BOTH ECDF cumulatives ride ONE
    * [[PrefixSum]] two-phase scan over the distinct values (not an
    * unpartitioned window — the single-task-funnel hazard the
    * mannWhitney note describes) with the arm totals as a broadcast
    * one-row scalar fold, then one max fold.
    *
    * @return one row: n1, n2, d_num (= D·n₁n₂, exact), d (6 dp),
    *         significant
    */
  def ksTest(df: DataFrame, armCol: String, valCol: String): DataFrame =
    ksTestImpl(df, armCol, valCol, exactDecision = true)

  /** [[ksTest]] with the significance DECISION in double — the large-n
    * escape hatch (the mannWhitneyApprox contract): the exact decimal
    * decision needs (n₁n₂)²·10⁶ ≲ 10³⁸ (~10⁸ rows per arm) and fails
    * fast past it; here D's integer numerator and the ECDF gaps stay
    * EXACT (in-range to ~10¹⁹ per arm) and only the Smirnov threshold
    * comparison rides doubles, guarded: a D within 10⁻⁹ RELATIVE of
    * the critical value raises instead of guessing. Explicit opt-in;
    * deterministic (the double inputs are exact integers, no
    * order-dependent float sums).
    */
  def ksTestApprox(df: DataFrame, armCol: String, valCol: String): DataFrame =
    ksTestImpl(df, armCol, valCol, exactDecision = false)

  private def ksTestImpl(df: DataFrame, armCol: String, valCol: String,
                         exactDecision: Boolean): DataFrame = {
    val v = df.select(col(armCol).as("arm"), col(valCol).cast("long").as("v"))
      .filter(col("arm") === 1 || col("arm") === 2)
    // lazily truncated: the scan's two passes plus the totals fold all
    // consume this corpus aggregate (the mannWhitney note)
    val byVal = v.groupBy("v").agg(
      count(when(col("arm") === 1, 1)).as("c1"),
      count(when(col("arm") === 2, 1)).as("c2"))
      .localCheckpoint(eager = false)
    // one scan, two accumulators: exclusive prefixes + own counts give
    // the inclusive ECDF numerators at every distinct value
    val cum = PrefixSum.withRunningSums(byVal,
      Seq("c1", "c2"), Seq("b1", "b2"), Seq(col("v")))
    val tot = byVal.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    val gaps = cum
      .crossJoin(broadcast(tot))
      .withColumn("gap", abs(
        (col("b1") + col("c1")).cast("decimal(38,0)") * col("n2")
          - (col("b2") + col("c2")).cast("decimal(38,0)") * col("n1")))
    gaps
      .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        max(col("gap")).as("d_num"))
      .select(col("n1"), col("n2"), col("d_num").cast("long").as("d_num"),
        expr(
          """case when coalesce(n1, 0) = 0 or coalesce(n2, 0) = 0
             then cast(raise_error('ksTest: both arms need data') as double)
             else round(cast(d_num as double)
                        / (cast(n1 as double) * cast(n2 as double)), 6)
             end""").as("d"),
        (if (exactDecision)
          expr("""cast(d_num as decimal(38,0)) * d_num * 1000000
                  > 1844164 * cast(n1 + n2 as decimal(38,0)) * n1 * n2""")
        else expr(
          // D and the Smirnov critical value in double, relative guard:
          // crit = 1.358·√((n1+n2)/(n1·n2))
          """case
             when abs(cast(d_num as double)
                      / (cast(n1 as double) * cast(n2 as double))
                    - 1.358 * sqrt(cast(n1 + n2 as double)
                                   / (cast(n1 as double) * cast(n2 as double))))
                  < 1e-9 * 1.358 * sqrt(cast(n1 + n2 as double)
                                        / (cast(n1 as double) * cast(n2 as double)))
               then cast(raise_error(
                 'ksTestApprox: D within 1e-9 of the Smirnov boundary — use the exact mode') as boolean)
             else cast(d_num as double)
                    / (cast(n1 as double) * cast(n2 as double))
                  > 1.358 * sqrt(cast(n1 + n2 as double)
                                 / (cast(n1 as double) * cast(n2 as double)))
             end""")).as("significant"))
  }
}
