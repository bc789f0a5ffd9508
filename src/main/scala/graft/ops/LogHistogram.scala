package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relative-error quantiles over UNBOUNDED non-negative longs via
  * log-scale bucketing (the HdrHistogram discipline, Tene's public
  * high-dynamic-range histogram; equivalently the "exponential
  * histogram" of metrics systems): values keep their top `m+1`
  * significant bits, so every bucket spans at most a 2^-m relative
  * width and the WHOLE 62-bit domain fits in ≤ (63−m)·2^m buckets
  * (~1.9k at m = 5, ~3.7k at m = 6) of EXACT counts — no hash, no
  * collision, no probabilistic bound.
  *
  * The complementary axis to [[graft.engine.expressions.QuantileSketch]]:
  * the dyadic grid gives ABSOLUTE rank error on a bounded domain
  * (doc scores, bounded lengths); this gives RELATIVE value error on
  * an unbounded one (latencies, token counts, byte sizes — the
  * heavy-tailed columns a 100 TB feed actually monitors, where "p99
  * within 3%" is the contract and a 2^16 clamp is not). Both are
  * linear structures — counts are sums of a pure per-row function —
  * so both are partition/order-invariant, mergeable by addition
  * (hour→day→corpus without rescans), and hash-gateable in SQL.
  *
  * ALL integer ops, bit-replayable on any engine: the exponent is
  * `length(bin(v)) − 1` (binary-string length — exact, unlike
  * floor(log2) whose float can misround at powers of two), buckets
  * and their lower-bound representatives are shifts and adds.
  *
  * Bucket layout (shift = max(exponent − m, 0)):
  *   bucket(v)    = shift·2^m + (v >> shift)   — strictly monotone
  *   lowerBound(b) = let s = max(b div 2^m − 1, 0):
  *                   b if s = 0 else (b − s·2^m) << s
  * Values < 2^m are exact (shift 0); a returned quantile is the
  * bucket LOWER bound, so est ≤ true < est·(1 + 2^−m) — one-sided,
  * spec-pinned.
  */
object LogHistogram {

  /** Log-scale bucket of a non-negative long column (negatives clamp
    * to 0). SQL twin:
    * `greatest(length(bin(v)) - 1 - m, 0)` for the shift, then
    * `shift * 2^m + (v >> shift)`.
    */
  def bucket(v: Column, m: Int): Column = {
    val cv = greatest(v.cast("long"), lit(0L))
    val shift = greatest(length(bin(cv)) - 1 - m, lit(0)).cast("int")
    (shift.cast("long") * (1L << m) +
      call_function("shiftright", cv, shift)).cast("long")
  }

  /** Lower-bound representative value of a bucket (the returned
    * quantile unit). SQL twin: `CASE WHEN b < 2^(m+1) THEN b ELSE
    * (b - (b // 2^m - 1) * 2^m) << (b // 2^m - 1) END`.
    */
  private[graft] def lowerBound(b: Column, m: Int): Column = {
    // b div 2^m as a SHIFT, not a float division: Long/Long in Column
    // algebra is a double divide, which misrounds past 2^53. The shift
    // clamps to [0, 62]: lowerBound is a public column API (the
    // Hll.estimate lesson), and a malformed bucket value would
    // otherwise feed shiftleft an overlarge distance and wrap silently
    // — on valid bucket() output the clamp is the identity.
    val s = least(greatest(call_function("shiftright", b, lit(m)) - 1L,
      lit(0L)), lit(62L)).cast("int")
    when(s === 0, b)
      .otherwise(call_function("shiftleft", b - s.cast("long") * (1L << m), s))
      .cast("long")
  }

  /** The mergeable state: exact per-(group, bucket) counts — union
    * histograms and re-aggregate to roll up. One narrow groupBy with
    * map-side combine; at most (63−m)·2^m rows per group regardless
    * of data volume.
    */
  def histogram(df: DataFrame, groupCols: Seq[String], valueCol: String,
                m: Int): DataFrame =
    df.groupBy((groupCols.map(col) :+ bucket(col(valueCol), m).as("bucket")): _*)
      .agg(count(lit(1)).as("cnt"))

  /** Population Stability Index between a reference and a current
    * histogram — THE production drift gate for a model feature or
    * pipeline metric (credit-scoring lineage; PSI < 0.1 stable,
    * 0.1–0.25 drifting, > 0.25 act): Σ_bins (p−q)·ln(p/q) over the
    * shared log-bucket layout, add-one smoothed so a bin present on
    * only one side contributes a finite term (p = (c+1)/(n+B), B =
    * bins in the UNION — exact integers into every double).
    *
    * Float discipline: the per-bin terms are doubles (ln), and a
    * groupBy SUM of doubles would depend on aggregation order — so the
    * total is an ORDERED FOLD over the bucket-sorted term list
    * (aggregate over a collected array, the Survival.kaplanMeier
    * idiom), which any engine replays left-to-right identically. Both
    * input histograms are bucket-grain (≤ layout-bounded rows), so the
    * fold is tiny regardless of corpus size.
    *
    * @return one row: n_ref, n_cur, n_bins, psi (6 dp)
    */
  def psi(ref: DataFrame, cur: DataFrame): DataFrame = {
    val j = ref.select(col("bucket"), col("cnt").as("cr"))
      .join(cur.select(col("bucket"), col("cnt").as("cc")),
        Seq("bucket"), "full_outer")
      .select(col("bucket"), coalesce(col("cr"), lit(0L)).as("cr"),
        coalesce(col("cc"), lit(0L)).as("cc"))
    val tot = j.agg(sum("cr").as("nr"), sum("cc").as("nc"),
      count(lit(1)).as("b"))
    val terms = j.crossJoin(broadcast(tot))
      .withColumn("term", expr(
        """((cast(cr as double) + 1.0) / (cast(nr as double) + cast(b as double))
            - (cast(cc as double) + 1.0) / (cast(nc as double) + cast(b as double)))
           * ln(((cast(cr as double) + 1.0) * (cast(nc as double) + cast(b as double)))
                / ((cast(cc as double) + 1.0) * (cast(nr as double) + cast(b as double))))"""))
    terms
      .agg(max("nr").as("n_ref"), max("nc").as("n_cur"),
        max("b").as("n_bins"),
        transform(array_sort(collect_list(struct(col("bucket"), col("term")))),
          x => x.getField("term")).as("ts"))
      .select(col("n_ref"), col("n_cur"), col("n_bins"),
        round(expr(
          "aggregate(ts, cast(0.0 as double), (acc, x) -> acc + x)"), 6)
          .as("psi"))
  }

  /** Quantiles from a histogram: per (group, phi ∈ integer percents),
    * the lower bound of the smallest bucket whose running count
    * reaches t = ceil(phi·n/100). The window sorts ≤ bucket-count rows
    * per group (bounded by the layout, not the data); everything is
    * integer.
    */
  def quantiles(hist: DataFrame, groupCols: Seq[String], phis: Seq[Int],
                m: Int): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("__cum", sum(col("cnt")).over(w))
    val n = hist.groupBy(groupCols.map(col): _*).agg(sum(col("cnt")).as("n"))
    val tgt = n.select((groupCols.map(col) :+ col("n") :+
      explode(array(phis.map(lit): _*)).as("phi_pct")): _*)
      .withColumn("t", expr("(phi_pct * n + 99) div 100"))
    (if (groupCols.isEmpty) cum.crossJoin(broadcast(tgt))
     else cum.join(broadcast(tgt), groupCols))
      .filter(col("__cum") >= col("t"))
      .groupBy((groupCols.map(col) ++ Seq(col("phi_pct"), col("n"), col("t"))): _*)
      .agg(min(col("bucket")).as("__b"))
      .select((groupCols.map(col) ++ Seq(col("phi_pct"), col("n"),
        col("t").as("target_rank"),
        lowerBound(col("__b"), m).as("est_q"))): _*)
  }
}
