package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** Bloom-filter runtime pruning for selective joins — Spark's
  * InjectRuntimeFilter pattern surfaced as an explicit library operator.
  *
  * Scale rationale: when a fact-table join keeps only the rows matching
  * a selective dimension subset, shuffling the whole fact table first is
  * the dominant cost. A Bloom filter of the dimension keys (a few KB)
  * ships to the fact scan and drops non-matching rows BEFORE the
  * exchange; false positives are removed by the exact join that follows,
  * so results are identical to the plain join — the filter only cuts
  * shuffle volume (by ~the dimension selectivity, e.g. 50-100x at 1%).
  *
  * Uses Spark's own sketch expressions (`BloomFilterAggregate` /
  * `BloomFilterMightContain` + `XxHash64`, the pair InjectRuntimeFilter
  * plans internally), registered as SQL-callable functions. The built
  * filter is collected (one row, ~KBs) and inlined as a literal — the
  * API-level mirror of the optimizer's scalar-subquery wiring, and like
  * a broadcast-join build side it rides to executors with the task
  * binary.
  */
object BloomPrune {

  private val AggName = "graft_bloom_agg"
  private val MightName = "graft_bloom_might_contain"

  /** Idempotent session registration of the two SQL functions:
    * `graft_bloom_agg(key, estimatedItems, numBits)` and
    * `graft_bloom_might_contain(bloom, key)`. Keys are xxhash64-ed
    * inside the builders, matching InjectRuntimeFilter's hashing.
    * Build and probe key TYPES must match (xxhash64 hashes by width:
    * INT 5 and BIGINT 5 differ) — the same rule as join key types.
    * The bloom argument of might_contain must be a literal or scalar
    * subquery (Spark's BloomFilterMightContain constraint).
    */
  def register(spark: SparkSession): Unit = {
    graft.engine.Registration.once(spark, AggName)(
      exprs => new BloomFilterAggregate(new XxHash64(Seq(exprs.head)),
        org.apache.spark.sql.catalyst.expressions.Cast(exprs(1), org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.catalyst.expressions.Cast(exprs(2), org.apache.spark.sql.types.LongType)))
    graft.engine.Registration.once(spark, MightName)(
      exprs => BloomFilterMightContain(exprs.head, new XxHash64(Seq(exprs(1)))))
  }

  /** Optimal Bloom bit count for `n` items at false-positive rate `fpp`:
    * ceil(-n ln(fpp) / ln(2)^2).
    */
  private[graft] def optimalNumBits(n: Long, fpp: Double): Long =
    math.ceil(-n * math.log(fpp) / (math.log(2) * math.log(2))).toLong

  /** Inner join `big ⋈ small` with Bloom pre-pruning of the big side.
    * Result is EXACTLY the plain inner join (false positives die in the
    * verify join); the filter only reduces what reaches the shuffle.
    *
    * @param expectedItems sizing estimate for the filter; defaults to a
    *                      count of the small side (one tiny extra job)
    */
  def prunedInnerJoin(big: DataFrame, bigKey: String,
                      small: DataFrame, smallKey: String,
                      fpp: Double = 0.01, expectedItems: Long = -1L): DataFrame = {
    val spark = big.sparkSession
    register(spark)
    val nItems = if (expectedItems > 0) expectedItems else small.count()
    val numBits = optimalNumBits(math.max(nItems, 1L), fpp)
    val bf = small
      .select(call_function(AggName, col(smallKey), lit(nItems), lit(numBits)).as("bf"))
      .head().getAs[Array[Byte]](0)
    big.filter(call_function(MightName, lit(bf), col(bigKey)))
      .join(small, col(bigKey) === col(smallKey))
  }
}
