package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{floor, lit, sum}

/** Order-independent exact sums of doubles, the same integers in Spark
  * and in the DuckDB oracle.
  *
  * A double `x` is summed as the BIGINT `floor(x · 2^k)`, `k` = [[Bits]].
  * The scale is a power of two, so the multiply and the `floor` are
  * exact in IEEE-754 and both engines produce the same integer per
  * term. Integer addition is associative, so the sum no longer depends
  * on row order, partitioning or the partial-aggregation tree: the
  * plan keeps map-side combine and fixed-width state, and the oracle
  * still matches bit for bit. [[value]] turns a sum back into a double
  * (`s / 2^k`, correctly rounded on both sides). Each term loses less
  * than 2^-k of its value, so a group of n terms is summed to within
  * n · 2^-k.
  *
  * Overflow bound: each group must keep `Σ|x| < 2^(63-k)` = 2^31 ≈ 2.1e9.
  * Spark 4's ANSI `sum` raises on a BIGINT overflow, and the DuckDB side
  * casts its HUGEINT `sum` back to BIGINT, which raises too. The bound
  * also keeps every single term in range; a term beyond it saturates
  * in Spark's `floor` and raises in DuckDB's cast. The callers sum unit-
  * vector components, residuals and TF-IDF weight products, far inside it.
  */
object ExactSum {

  /** The scale exponent `k`: a term is `floor(x · 2^k)`. */
  val Bits = 32

  private val Scale = math.pow(2, Bits)
  private val ScaleSql = s"CAST(${Scale.toLong} AS DOUBLE)"

  /** The aggregate: BIGINT sum of `x`'s scaled terms. */
  def sumOf(x: Column): Column = sum(floor(x * lit(Scale)))

  /** A scaled BIGINT sum as a double. */
  def value(s: Column): Column = s.cast("double") / lit(Scale)

  /** The aggregate as a double: `value(sumOf(x))`. */
  def apply(x: Column): Column = value(sumOf(x))

  /** DuckDB form of [[apply]] over the SQL expression `x`: the HUGEINT
    * `sum` is cast back to BIGINT, which raises past the bound.
    */
  def sql(x: String): String =
    s"(CAST(CAST(sum(CAST(floor(($x) * $ScaleSql) AS BIGINT)) AS BIGINT) AS DOUBLE) / $ScaleSql)"
}
