package graft.ops

import graft.ops.Checkpoints.TruncateOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Always-valid sequential monitoring — the mixture sequential
  * probability ratio test (mSPRT) of Johari, Koomen, Pekelis & Walsh
  * ("Peeking at A/B Tests: Why It Matters, and What to Do About It",
  * KDD 2017; "Always Valid Inference", Ops. Res. 2022). A fixed-horizon
  * t-test read daily inflates false positives several-fold (the
  * "peeking problem"); the mSPRT's mixture likelihood ratio
  * Λ_n = √(V_n/(V_n+τ²)) · exp(d_n²·τ²/(2·V_n·(V_n+τ²))) is a
  * martingale under H₀, so p_n = min_{m≤n} min(1, 1/Λ_m) is a valid
  * p-value at EVERY checkpoint simultaneously — the experimenter may
  * stop the moment it crosses α.
  *
  * Determinism discipline (the [[Cuped]] idiom): every sufficient
  * statistic is exact — per-day-per-arm counts/sums/sums-of-squares
  * accumulate in decimal(38,0), cumulative checkpoints are plain
  * integer window sums, the mean difference rides the positivity-offset
  * floor division at 10⁶ fixed point, and the pooled variance is a
  * nonnegative-numerator integer division. Doubles enter only in the
  * final per-checkpoint likelihood readout, built from those exact
  * integers with an expression an external SQL engine replays verbatim
  * (+,−,×,÷,sqrt are IEEE-correctly-rounded everywhere; ln/exp ride the
  * same display-rounding absorption as the haversine/t-stat queries).
  * Degenerate inputs fail fast: a pooled variance of zero (constant
  * metric) raises rather than feeding ±Inf downstream.
  *
  * Scale shape: ONE corpus-sized pass (the day×arm aggregate,
  * map-side combined); everything after runs on ~days×2 rows.
  */
object Sequential {

  /** Fixed-point offset for the mean divisions (the Cuped constant). */
  private val OffFp = "10000000000000000" // 10^16

  /** mSPRT readout at day-grain checkpoints. Input: one row per event
    * with a day string, `arm` ∈ {1, 2}, and an exact integer metric
    * (e.g. cents). The mixture variance τ² is set to the pooled outcome
    * variance at each checkpoint (the scale-free τ = σ choice; any
    * fixed multiple only shifts power, not validity). Checkpoints
    * before both arms have data are not monitorable and are dropped —
    * identically on any engine, since the filter is on exact counts.
    *
    * @return one row per monitorable day: day, n1, n2, mean_diff
    *         (metric units, 4 dp), ln_lambda (6 dp), p_av (always-valid
    *         p, 6 dp), rejected (p_av < alpha)
    */
  def msprt(perEvent: DataFrame, dayCol: String, armCol: String,
            valCol: String, alpha: Double = 0.05): DataFrame = {
    val ev = perEvent.select(col(dayCol).as("day"), col(armCol).as("arm"),
      col(valCol).cast("long").as("v"))
    // the one corpus-sized pass — lazily localCheckpointed (the q282
    // idiom) because both the day spine and the grid join consume it:
    // without truncation each consumer would re-run the corpus
    // aggregate, doubling the only expensive scan
    val dayArm = ev.groupBy("day", "arm").agg(
        count(lit(1)).as("n"),
        sum(col("v")).cast("decimal(38,0)").as("s"),
        sum(col("v").cast("decimal(38,0)") * col("v")).as("ss"))
      .truncated
    msprtFromMoments(dayArm, alpha)
  }

  /** [[mdeFromMoments]] over raw events — the [[msprt]]-shaped
    * convenience: one map-side-combinable day×arm moments pass (lazily
    * truncated, both grid consumers share it), then the days-sized MDE
    * readout.
    */
  def mde(perEvent: DataFrame, dayCol: String, armCol: String,
          valCol: String): DataFrame = {
    val ev = perEvent.select(col(dayCol).as("day"), col(armCol).as("arm"),
      col(valCol).cast("long").as("v"))
    val dayArm = ev.groupBy("day", "arm").agg(
        count(lit(1)).as("n"),
        sum(col("v")).cast("decimal(38,0)").as("s"),
        sum(col("v").cast("decimal(38,0)") * col("v")).as("ss"))
      .truncated
    mdeFromMoments(dayArm)
  }

  /** The mSPRT monitor body over an ALREADY-AGGREGATED day×arm moments
    * frame (day, arm, n, s, ss) — the serving-path entry: an
    * incrementally maintained store (streaming.IncrementalDailyMoments,
    * q303) hands its rows straight here, so the monitor never touches
    * the event corpus. Moments are linear, so a store-fed readout is
    * bit-identical to [[msprt]] over the raw events.
    */
  def msprtFromMoments(dayArm: DataFrame, alpha: Double = 0.05): DataFrame = {
    // the double-valued readout, from exact integers only; expression
    // order mirrors the SQL twin token for token
    val readout = cumCheckpoints(dayArm)
      .withColumn("vn", expr(
        """cast(var_u2 as double) * (cast(n1 as double) + cast(n2 as double))
           / (cast(n1 as double) * cast(n2 as double))"""))
      .withColumn("tau2", expr("cast(var_u2 as double)"))
      .withColumn("dd", expr("cast(d_fp as double) / 1000000.0"))
      .withColumn("ln_lambda_raw", expr(
        """0.5 * ln(vn / (vn + tau2))
           + dd * dd * tau2 / (2.0 * vn * (vn + tau2))"""))
      .withColumn("p_inst", expr("least(1.0, exp(-ln_lambda_raw))"))
    val wMin = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    readout
      .withColumn("p_av_raw", min(col("p_inst")).over(wMin))
      .select(col("day"), col("n1"), col("n2"),
        round(col("dd"), 4).as("mean_diff"),
        round(col("ln_lambda_raw"), 6).as("ln_lambda"),
        round(col("p_av_raw"), 6).as("p_av"),
        (col("p_av_raw") < lit(alpha)).as("rejected"))
      .orderBy("day")
  }

  /** Shared checkpoint builder for [[msprtFromMoments]] and
    * [[mdeFromMoments]]: dense day×arm grid, cumulative exact moments,
    * per-day pivot with fixed-point means, mean diff, and the pooled
    * variance (fail-fast on zero).
    */
  private def cumCheckpoints(dayArm: DataFrame): DataFrame = {
    // dense day x arm grid so cumulative sums carry across days where
    // one arm is silent (days-count rows; trivially small)
    val days = dayArm.select("day").distinct()
    val grid = days.crossJoin(broadcast(
        dayArm.sparkSession.range(1, 3).select(col("id").cast("int").as("arm"))))
      .join(dayArm, Seq("day", "arm"), "left")
      .select(col("day"), col("arm"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("s"), lit(0L).cast("decimal(38,0)")).as("s"),
        coalesce(col("ss"), lit(0L).cast("decimal(38,0)")).as("ss"))
    val wCum = Window.partitionBy("arm").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grid.select(col("day"), col("arm"),
      sum("n").over(wCum).as("cn"),
      sum("s").over(wCum).as("cs"),
      sum("ss").over(wCum).as("css"))
    cum.groupBy("day").agg(
        max(when(col("arm") === 1, col("cn"))).as("n1"),
        max(when(col("arm") === 1, col("cs"))).as("s1"),
        max(when(col("arm") === 1, col("css"))).as("ss1"),
        max(when(col("arm") === 2, col("cn"))).as("n2"),
        max(when(col("arm") === 2, col("cs"))).as("s2"),
        max(when(col("arm") === 2, col("css"))).as("ss2"))
      .filter(col("n1") > 0 && col("n2") > 0)
      // exact fixed-point means (10^6 per metric unit) and mean diff
      .withColumn("m1_fp", expr(
        s"(s1 * 1000000 + cast(n1 as decimal(38,0)) * $OffFp) div n1 - $OffFp"))
      .withColumn("m2_fp", expr(
        s"(s2 * 1000000 + cast(n2 as decimal(38,0)) * $OffFp) div n2 - $OffFp"))
      .withColumn("d_fp", col("m1_fp") - col("m2_fp"))
      // exact pooled variance (metric units squared): numerator
      // n*ss - s^2 = n^2 * var >= 0, so plain floor division agrees
      // across engines; zero variance (constant metric) fails fast
      .withColumn("var_u2", expr(
        """case when ((n1 + n2) * (ss1 + ss2) - (s1 + s2) * (s1 + s2)) <= 0
           then cast(raise_error(
             'msprt: pooled variance is zero (constant metric)')
             as decimal(38,0))
           else ((n1 + n2) * (ss1 + ss2) - (s1 + s2) * (s1 + s2))
                div (cast(n1 + n2 as decimal(38,0)) * (n1 + n2)) end"""))
  }

  /** Minimum detectable effect per checkpoint — the sample-size panel
    * of every experimentation dashboard: with the exact cumulative
    * moments at day t, the absolute effect a fixed-horizon two-sample
    * z-test would detect at α = .05 two-sided with power .80 is
    * MDE = (z₀.₀₂₅ + z₀.₈)·√(σ²·(1/n₁ + 1/n₂)); the z-sum is FROZEN at
    * 2.801585 (1.959964 + 0.841621, the standard normal quantiles) so
    * both engines read the same literal — the readout is one sqrt over
    * the same exact vn the mSPRT uses. `detectable` flags checkpoints
    * where the OBSERVED |mean diff| already exceeds the MDE — both
    * sides of the compare derive from identical exact integers, so the
    * flag replays bit-for-bit.
    *
    * Scale shape: identical to [[msprtFromMoments]] — store-rows in,
    * days-sized out, one corpus pass only if the caller aggregates raw
    * events.
    *
    * @return one row per monitorable day: day, n1, n2, mean_diff
    *         (4 dp), sigma (6 dp), mde (6 dp), detectable
    */
  private def mdeFromMoments(dayArm: DataFrame): DataFrame =
    cumCheckpoints(dayArm)
      .withColumn("vn", expr(
        """cast(var_u2 as double) * (cast(n1 as double) + cast(n2 as double))
           / (cast(n1 as double) * cast(n2 as double))"""))
      .withColumn("dd", expr("cast(d_fp as double) / 1000000.0"))
      .withColumn("mde_raw", expr("2.801585 * sqrt(vn)"))
      .select(col("day"), col("n1"), col("n2"),
        round(col("dd"), 4).as("mean_diff"),
        round(expr("sqrt(cast(var_u2 as double))"), 6).as("sigma"),
        round(col("mde_raw"), 6).as("mde"),
        expr("abs(dd) > mde_raw").as("detectable"))
      .orderBy("day")

  /** Sample-ratio-mismatch check — the first diagnostic any
    * experimentation platform runs (Fabijan et al., "Diagnosing Sample
    * Ratio Mismatch in Online Controlled Experiments", KDD 2019): a
    * chi-square goodness-of-fit of the realized arm counts against the
    * designed 1:1 split, per segment, because a mismatch localized to
    * one segment (a crashing variant on one platform) is the common
    * failure. For 1:1 the statistic collapses to χ² = (n1−n2)²/n, so
    * the decision is EXACT integer arithmetic against the pre-scaled
    * critical value (χ²₍df=1,α=.05₎ = 3.841459 → the flag is
    * (n1−n2)²·10⁶ > 3841459·n, no float anywhere near the boundary);
    * the χ² readout itself is one double division, display-rounded.
    * Scale: one map-side-combinable aggregate over units.
    *
    * @return one row per group: group, n1, n2, chi2 (6 dp), srm flag
    */
  def srmCheck(perUnit: DataFrame, groupCol: String,
               armCol: String): DataFrame = {
    perUnit.select(col(groupCol).as("g"), col(armCol).as("arm"))
      .groupBy("g")
      .agg(count(when(col("arm") === 1, 1)).as("n1"),
        count(when(col("arm") === 2, 1)).as("n2"))
      .select(col("g"), col("n1"), col("n2"),
        round(expr("""cast((n1 - n2) * (n1 - n2) as double)
                      / cast(n1 + n2 as double)"""), 6).as("chi2"),
        expr("(n1 - n2) * (n1 - n2) * 1000000 > 3841459 * (n1 + n2)")
          .as("srm"))
  }

  /** Chi-square test of independence over an R×C contingency table —
    * the generalization of [[srmCheck]] from "is the split 1:1" to
    * "does the categorical outcome depend on the arm" (sign-up plan
    * chosen, error-vs-success, device class): χ² = Σ (o−e)²/e with
    * e_ij = rowᵢ·colⱼ/n. Exactness: each cell's term freezes as the
    * 10⁶ fixed-point floor division (o·n − r·c)² · 10⁶ div (n·r·c) —
    * all decimal(38,0) — and the statistic is the exact integer SUM of
    * those terms (a float per-cell term would make the total depend on
    * aggregation order). The α=.05 decision compares that integer to
    * the caller's pre-scaled critical value for the table's df — no
    * float near the boundary; per-cell flooring understates χ² by
    * < cells·10⁻⁶, negligible against any critical value. Domain: the
    * squared residual needs n⁴·10⁶ ≲ 10³⁸ worst case, i.e. n ≲ 10⁸
    * observations per table (the documented-contract idiom).
    *
    * @param critFp χ²-critical at 10⁶ scale for df=(R−1)(C−1), e.g.
    *               9487729 for df=4 at α=.05
    * @return one row: n, n_rows, n_cols, df, chi2 (6 dp), dependent
    */
  def chiSquareIndependence(df: DataFrame, rowCol: String, colCol: String,
                            critFp: Long): DataFrame = {
    val cells = df.select(col(rowCol).as("r"), col(colCol).as("c"))
      .groupBy("r", "c").agg(count(lit(1)).as("o"))
      .truncated // margins + terms share one pass
    val rowM = cells.groupBy("r").agg(sum("o").as("rm"))
    val colM = cells.groupBy("c").agg(sum("o").as("cm"))
    val tot = cells.agg(sum("o").as("n"),
      countDistinct("r").as("n_rows"), countDistinct("c").as("n_cols"))
    val terms = cells
      .join(broadcast(rowM), "r").join(broadcast(colM), "c")
      .crossJoin(broadcast(tot))
      .withColumn("term_fp", expr(
        """((cast(o as decimal(38,0)) * n - cast(rm as decimal(38,0)) * cm)
            * (cast(o as decimal(38,0)) * n - cast(rm as decimal(38,0)) * cm)
            * 1000000)
           div (cast(n as decimal(38,0)) * rm * cm)"""))
    terms.agg(max(col("n")).as("n"), max(col("n_rows")).as("n_rows"),
        max(col("n_cols")).as("n_cols"),
        sum(col("term_fp")).as("chi2_fp"))
      .select(col("n"), col("n_rows"), col("n_cols"),
        ((col("n_rows") - 1) * (col("n_cols") - 1)).as("df"),
        round(col("chi2_fp").cast("double") / 1000000.0, 6).as("chi2"),
        (col("chi2_fp") > lit(critFp)).as("dependent"))
  }

  /** Page's CUSUM drift monitor over a daily metric series (Page,
    * Biometrika 1954) — the standard sequential change-point alarm for
    * a pipeline metric (mean document quality, mean order value): the
    * one-sided statistics S⁺ₜ = max(0, S⁺ₜ₋₁ + (xₜ − μ₀ − κ)) and
    * S⁻ₜ = max(0, S⁻ₜ₋₁ − (xₜ − μ₀ + κ)) accumulate only sustained
    * drift (κ absorbs noise), alarming when either exceeds h.
    *
    * The recursion is not a window aggregate, but it IS a prefix-sum
    * identity: S⁺ₜ = Pₜ − min_{j≤t} Pⱼ over the plain cumulative sum
    * Pₜ = Σ(xᵢ − μ₀ − κ) (and S⁻ from the max prefix of the +κ sum) —
    * so the whole monitor is two exact-integer window sums over the
    * day-grain rows, replayable bit for bit in any engine. Zero
    * transcendentals. Input is an already-aggregated daily series in
    * fixed point; the corpus pass that built it is the caller's one
    * heavy stage.
    *
    * `params` is a ONE-ROW frame (mu0_fp, kappa_fp, h_fp) so the
    * reference level and thresholds can be data-derived (a baseline
    * week's mean) without any driver-side collect — it rides a
    * broadcast scalar fold like every other one-row config join.
    *
    * @return one row per day: day, x_fp, s_hi_fp, s_lo_fp, alarm
    */
  def cusum(daily: DataFrame, dayCol: String, xFpCol: String,
            params: DataFrame): DataFrame = {
    val w = Window.orderBy(dayCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.select(col(dayCol).as("day"), col(xFpCol).cast("long").as("x_fp"))
      .crossJoin(broadcast(params.select(
        col("mu0_fp").cast("long").as("mu0_fp"),
        col("kappa_fp").cast("long").as("kappa_fp"),
        col("h_fp").cast("long").as("h_fp"))))
      .withColumn("p_hi",
        sum(col("x_fp") - col("mu0_fp") - col("kappa_fp")).over(w))
      .withColumn("p_lo",
        sum(col("x_fp") - col("mu0_fp") + col("kappa_fp")).over(w))
      // min/max prefix INCLUDING the virtual P₀ = 0 start (an all-up
      // series must not reset against its own first element)
      .withColumn("s_hi_fp",
        col("p_hi") - least(min(col("p_hi")).over(w), lit(0L)))
      .withColumn("s_lo_fp",
        greatest(max(col("p_lo")).over(w), lit(0L)) - col("p_lo"))
      .select(col("day"), col("x_fp"), col("s_hi_fp"), col("s_lo_fp"),
        (col("s_hi_fp") > col("h_fp") || col("s_lo_fp") > col("h_fp"))
          .as("alarm"))
      .orderBy("day")
  }
}
