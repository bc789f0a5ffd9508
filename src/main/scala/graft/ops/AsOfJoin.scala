package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed as-of join — "most recent right-side value at or before
  * each left timestamp, per key" — the time-series join Spark has no
  * native operator for.
  *
  * Union-and-window formulation: rather than a non-equi range join
  * (quadratic per key, no pushdown), both sides are unioned with a side
  * tag, sorted once per key by (time, tag), and the right payload is
  * carried forward with `last(..., ignoreNulls)` over a running frame.
  * ONE shuffle on the key, per-row state, no pair explosion — the shape
  * a 100 TB event table needs. Right rows sort before left rows at equal
  * timestamps, so an exactly-simultaneous right row matches (DuckDB
  * `ASOF JOIN ... ON l.t >= r.t` semantics).
  */
object AsOfJoin {

  /** Backward as-of join.
    *
    * @param left      probe side; ALL its columns are preserved
    * @param right     reference side
    * @param keys      equi-join key columns (same names on both sides)
    * @param leftTime  left ordering column (numeric or timestamp)
    * @param rightTime right ordering column (same type as leftTime)
    * @param payload   right columns to carry onto each left row (must not
    *                  collide with left column names); unmatched left rows
    *                  keep them null
    * @param tieBreak  extra right-side sort columns making the match
    *                  deterministic when several right rows share a
    *                  (key, time); the LAST row in this order wins
    */
  def backward(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTime: String, rightTime: String, payload: Seq[String],
               tieBreak: Seq[String] = Nil): DataFrame = {
    val l = left.withColumn("__t", col(leftTime)).withColumn("__side", lit(1))
    val r = right
      .select((keys :+ rightTime).map(col) ++ payload.map(col): _*)
      .withColumn("__t", col(rightTime)).withColumn("__side", lit(0))
      .drop(rightTime)
    // unionByName(allowMissingColumns) null-fills each side's absent
    // columns — exactly the sparse union the window needs.
    val u = l.unionByName(r, allowMissingColumns = true)
    val order = (Seq(col("__t"), col("__side")) ++ tieBreak.map(col)).toArray
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = payload.foldLeft(u) { (df, p) =>
      df.withColumn(p, last(col(p), ignoreNulls = true).over(w))
    }
    carried.filter(col("__side") === 1).drop("__t", "__side")
  }
}
