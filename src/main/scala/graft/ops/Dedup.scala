package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Key-based deduplication (SURVEY.md §2.4 A1).
  *
  * The reference dedups with `groupBy(key).agg(first(col) for all cols)`
  * (`src/search_ranking_peers.py:178-188`) — nondeterministic row choice.
  * The engine makes the choice explicit: keep the first row per key under
  * a total order, as a single hash-shuffle + per-partition sort (Spark
  * 3.5+/4.x rewrites rank<=1 window filters into a group-limit, so this
  * never materializes full per-key sorts at scale).
  */
object Dedup {

  /** Keep exactly one row per `keys`, the first under `order` (caller must
    * make `order` a total order — e.g. include a unique id — for
    * deterministic output).
    */
  def firstPerKey(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Exact whole-row dedup — Spark's shuffle-based distinct. */
  def exact(df: DataFrame): DataFrame = df.dropDuplicates()

  /** Exact content dedup by a fingerprint of selected columns: keeps the
    * first row per fingerprint under `order`. At 100 TB this is the
    * standard first pass of a dedup pipeline: one shuffle on a 128-bit
    * hash instead of on multi-KB document bodies.
    *
    * Each column is null-sentineled before concatenation — `concat_ws`
    * silently drops NULL operands, which would make (a, NULL, b) and
    * (a, b, NULL) fingerprint identically — and the sentinel/separator use
    * control characters (U+0001, U+0000) that normal text columns cannot
    * contain, written as escapes so the source stays diffable.
    */
  def byFingerprint(df: DataFrame, contentCols: Seq[String], order: Seq[Column]): DataFrame =
    firstPerKey(df.withColumn("__fp", fingerprint(contentCols)), Seq("__fp"), order)
      .drop("__fp")

  /** The 128-bit content fingerprint byFingerprint keys on. */
  private def fingerprint(contentCols: Seq[String]): Column = {
    val sentineled = contentCols.map(c => coalesce(col(c).cast("string"), lit("\u0001NULL")))
    md5(concat_ws("\u0000", sentineled: _*))
  }
}
