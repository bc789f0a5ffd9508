package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ordered-funnel analysis — the product-analytics primitive behind
  * every conversion dashboard: of the users who performed step 1, how
  * many went on to perform step 2 AFTER it, then step 3 after that,
  * strictly ordered within each user's own timeline (first-touch
  * semantics: each step matches at its earliest eligible instant, the
  * deterministic choice that makes the count replayable).
  *
  * Spark-first shape: ONE corpus scan groups each user's event times
  * per step into a sorted array (collect_list + array_sort — per-user
  * arrays are bounded by that user's own activity, never corpus-sized),
  * then the step chain is pure array algebra: t₁ = first(s₁ times),
  * tₖ = min of sₖ's times strictly after tₖ₋₁ (`filter` + `array_min`,
  * codegen'd, no UDF). A join-per-step formulation would rescan the
  * corpus k times and still need the per-step time lists; this pays
  * one shuffle on user_id and k array scans of tiny per-user lists.
  *
  * Exactness: timestamps ride as epoch microseconds (long); every
  * comparison is integer; the conversion percentages are one double
  * division at the readout from exact counts.
  */
object Funnel {

  /** Funnel readout. Input: raw events with a user, an event-type
    * string, and a timestamp. `steps` is the ordered step list (2+).
    *
    * @return one row per step, in order: step_idx, step, users_reached,
    *         pct_of_first (6 dp), pct_of_prev (6 dp)
    */
  def funnel(events: DataFrame, userCol: String, typeCol: String,
             tsCol: String, steps: Seq[String]): DataFrame =
    funnelImpl(events, userCol, typeCol, tsCol, steps, None)

  /** [[funnel]] with a CONVERSION WINDOW — the other half of every
    * production funnel dashboard: step k counts only when it lands in
    * (tₖ₋₁, tₖ₋₁ + window] of the step-k−1 match ("purchased within 7
    * days of the click"), so stale conversions stop inflating the
    * readout. Same first-touch greedy semantics (each step matches at
    * its EARLIEST in-window instant — the standard dashboard
    * convention; a backtracking variant that sacrifices an early match
    * to rescue a later step is a different, costlier estimator), same
    * one-scan array-algebra plan — the window is one extra integer
    * bound in the codegen'd array filter.
    *
    * @param windowMicros per-transition window in MICROseconds (> 0)
    */
  def funnelWindowed(events: DataFrame, userCol: String, typeCol: String,
                     tsCol: String, steps: Seq[String],
                     windowMicros: Long): DataFrame = {
    require(windowMicros > 0, s"window must be positive, got $windowMicros")
    funnelImpl(events, userCol, typeCol, tsCol, steps, Some(windowMicros))
  }

  /** Per-transition time-to-convert: for each step k ≥ 2, among users
    * who reached it, the count and the EXACT p50/p90 of
    * (tₖ − tₖ₋₁) — the "how long does the click→purchase hop take"
    * panel next to every funnel. Quantiles are exact order statistics
    * at rank ⌈p·n⌉ computed WITHOUT a per-step window: the duration
    * grain aggregates to (step, delta) counts, ONE [[PrefixSum]]
    * two-phase scan over the (step, delta) total order yields in-step
    * cumulatives after subtracting the per-step offsets (a
    * broadcast-size frame of steps−1 rows), and the quantile is the
    * min delta whose cumulative reaches the rank — the scale-safe
    * grouped-quantile shape when the group count is a handful (a
    * per-step window would funnel each step's whole distinct-delta
    * set through one task; see Robust.winsorizedStats' few-groups
    * caveat).
    *
    * @return one row per transition: step_idx (2-based), step,
    *         n_converted, p50_us, p90_us (exact micros), p50_sec,
    *         p90_sec (6 dp)
    */
  def stepDurations(events: DataFrame, userCol: String, typeCol: String,
                    tsCol: String, steps: Seq[String],
                    windowMicros: Option[Long] = None): DataFrame = {
    val matches = matchTimes(events, userCol, typeCol, tsCol, steps,
      windowMicros)
    // unpivot converting users' per-transition durations (one array
    // build per user — tiny), then aggregate to the (step, delta) grain
    val deltas = matches.select(explode(array(
        steps.indices.drop(1).map(i => struct(lit(i + 1).as("i"),
          (col(s"m$i") - col(s"m${i - 1}")).as("d"))): _*)).as("x"))
      .select(col("x.i").as("i"), col("x.d").as("d"))
      .filter(col("d").isNotNull)
    val byVal = deltas.groupBy("i", "d").agg(count(lit(1)).as("ct"))
      .localCheckpoint(eager = false) // scan passes + totals share it
    val cum = PrefixSum.withRunningSum(byVal, "ct", "below",
      Seq(col("i"), col("d")))
    // per-step totals and the global-prefix offset at each step's start
    // (steps−1 rows; the window here is over THAT tiny frame)
    val wOff = org.apache.spark.sql.expressions.Window.orderBy("i")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val off = byVal.groupBy("i").agg(sum("ct").as("n"))
      .withColumn("off", coalesce(sum(col("n")).over(wOff), lit(0L)))
    val ranked = cum.join(broadcast(off), Seq("i"))
      .withColumn("cum_in", col("below") + col("ct") - col("off"))
    val out = ranked.groupBy("i").agg(
      max(col("n")).as("n_converted"),
      // rank ⌈p·n⌉ in exact integers: ceil(a/b) = (a + b − 1) div b
      min(when(col("cum_in") >= expr("(n + 1) div 2"), col("d"))).as("p50_us"),
      min(when(col("cum_in") >= expr("(9 * n + 9) div 10"), col("d")))
        .as("p90_us"))
    val session = events.sparkSession
    import session.implicits._
    val names = steps.zipWithIndex.drop(1)
      .map { case (s, i) => (i + 1, s) }.toDF("i", "step")
    out.join(broadcast(names), Seq("i"))
      .select(col("i").as("step_idx"), col("step"), col("n_converted"),
        col("p50_us"), col("p90_us"),
        round(col("p50_us").cast("double") / 1e6, 6).as("p50_sec"),
        round(col("p90_us").cast("double") / 1e6, 6).as("p90_sec"))
      .orderBy("step_idx")
  }

  private def funnelImpl(events: DataFrame, userCol: String, typeCol: String,
                         tsCol: String, steps: Seq[String],
                         windowMicros: Option[Long]): DataFrame = {
    val withMatches = matchTimes(events, userCol, typeCol, tsCol, steps,
      windowMicros)
    // exact per-step reach counts in one aggregate
    val counts = withMatches.agg(
      count(col("m0")).as("r0"),
      steps.indices.drop(1).map(i => count(col(s"m$i")).as(s"r$i")): _*)
    // unpivot to one row per step with the two conversion readouts
    val stepRows = steps.zipWithIndex.map { case (s, i) =>
      struct(lit(i + 1).as("step_idx"), lit(s).as("step"),
        col(s"r$i").as("users_reached"),
        round(col(s"r$i").cast("double")
          / when(col("r0") === 0L, lit(null)).otherwise(col("r0")) * 100, 6)
          .as("pct_of_first"),
        round(col(s"r$i").cast("double")
          / when(col(s"r${math.max(i - 1, 0)}") === 0L, lit(null))
            .otherwise(col(s"r${math.max(i - 1, 0)}")) * 100, 6)
          .as("pct_of_prev"))
    }
    counts.select(explode(array(stepRows: _*)).as("s"))
      .select(col("s.step_idx"), col("s.step"), col("s.users_reached"),
        col("s.pct_of_first"), col("s.pct_of_prev"))
      .orderBy("step_idx")
  }

  /** The shared one-scan chain: one row per user with the first-touch
    * match instants m0..m(n−1) (null once the chain breaks).
    */
  private def matchTimes(events: DataFrame, userCol: String, typeCol: String,
                         tsCol: String, steps: Seq[String],
                         windowMicros: Option[Long]): DataFrame = {
    require(steps.size >= 2, s"a funnel needs >= 2 steps, got ${steps.size}")
    require(steps.distinct.size == steps.size, "funnel steps must be distinct")
    val ev = events
      .filter(col(typeCol).isin(steps: _*))
      // epoch MICROseconds (not the second-grain timestamp->long cast):
      // strict "after" comparisons must not collapse same-second events
      .select(col(userCol).as("u"), col(typeCol).as("t"),
        unix_micros(col(tsCol).cast("timestamp")).as("ts"))
    // one corpus pass: per (user, step) sorted time arrays, pivoted to
    // one row per user (arrays bounded by the user's own activity)
    val perUser = ev.groupBy("u").agg(
      steps.zipWithIndex.map { case (s, i) =>
        array_sort(collect_list(when(col("t") === s, col("ts"))))
          .as(s"ts$i")
      }.head,
      steps.zipWithIndex.drop(1).map { case (s, i) =>
        array_sort(collect_list(when(col("t") === s, col("ts"))))
          .as(s"ts$i")
      }: _*)
    // the strict-order chain: m0 = first s0 time; mk = min sk time > m(k-1)
    val withMatches = steps.indices.foldLeft(perUser) { (df, i) =>
      // size guard: a user with later-step events but no step-1 event
      // has an EMPTY ts0, and ANSI element_at throws on it — the null
      // must flow instead (the user simply never entered the funnel)
      if (i == 0) df.withColumn("m0",
        when(size(col("ts0")) > 0, element_at(col("ts0"), 1)))
      // a null m(k-1) nulls every comparison, the filter keeps nothing,
      // and array_min(empty) stays null — non-reaching users propagate
      else df.withColumn(s"m$i",
        array_min(filter(col(s"ts$i"), x => windowMicros match {
          case Some(w) => x > col(s"m${i - 1}") &&
            x <= col(s"m${i - 1}") + lit(w)
          case None => x > col(s"m${i - 1}")
        })))
    }
    withMatches
  }
}
