package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scalable GLOBAL ranks — row_number / ntile over a total order without
  * an unpartitioned window (the `WindowExec: No Partition Defined`
  * single-task funnel the bench tail warns about).
  *
  * Implementation note — why this is NOT the classic
  * "repartitionByRange + spark_partition_id + per-bin window" two-pass:
  * that formulation reads the bin id from the physical partition, but the
  * bin-counts aggregate and the rank join are SEPARATE executions of the
  * range-exchange subtree, and AQE coalesces their post-shuffle
  * partitions independently — at sf0.1 the offsets branch saw different
  * bin ids than the rank branch and the inner join silently dropped and
  * misnumbered rows (caught by the sf0.1 oracle run; invisible at
  * sf0.01, where both branches coalesced identically). Physical-layout
  * ids must never cross plan-branch boundaries.
  *
  * Instead the total order goes through [[Indexing.zipWithIndexOrdered]]:
  * sort (fully distributed range sort), then RDD `zipWithIndex` — whose
  * count + map jobs run one FIXED physical plan, outside AQE re-planning,
  * so indices are deterministic. The cost is one Row-encoding round-trip;
  * at fact scale that is the standard contiguous-id recipe.
  */
object GlobalRank {

  /** Append 1-based global `row_number() OVER (ORDER BY order)` as
    * `outCol` (LongType).
    */
  def withRowNumber(df: DataFrame, outCol: String, order: Seq[Column]): DataFrame =
    Indexing.zipWithIndexOrdered(df, outCol, order)
      .withColumn(outCol, col(outCol) + 1)

  /** Append global `ntile(k) OVER (ORDER BY order)` as `outCol`
    * (IntegerType): ntile's bucket algebra — the first `n % k` buckets
    * take `n/k + 1` rows, the rest `n/k` — applied to the global row
    * number, so results are row-identical to the window form (OpsSpec
    * pins parity). The total row count is pulled eagerly (one scan-only
    * job) so the ranked subtree executes once.
    */
  def withNtile(df: DataFrame, outCol: String, k: Int, order: Seq[Column]): DataFrame = {
    val n = df.count()
    val size = n / k   // rows per small bucket
    val rem = n % k    // buckets that take one extra row
    val rn = withRowNumber(df, "__rn", order)
    val r0 = col("__rn") - 1 // 0-based index
    val bucket =
      if (size == 0) r0 + 1  // fewer rows than tiles: one row per tile
      else when(r0 < rem * (size + 1), r0 / (size + 1) + 1)
        .otherwise(lit(rem) + (r0 - rem * (size + 1)) / size + 1)
    rn.withColumn(outCol, bucket.cast("int")).drop("__rn")
  }
}
