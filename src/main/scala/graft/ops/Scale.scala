package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Global column scaling (SURVEY.md §2.8 M6 — the SQL-parity path of the
  * reference's per-feature MinMaxScaler, `inference_postprocess.py:52-67`).
  *
  * Implemented as a tiny stats aggregate cross-joined back via broadcast —
  * NOT an unpartitioned window (which would funnel the whole table through
  * one task at scale). Two jobs, both fully distributed; the broadcast is
  * one row.
  */
object Scale {

  /** Append `outCol` = (inCol - min) / (max - min); constant columns map
    * to 0.5 (MinMaxScaler's midpoint convention).
    */
  def minmax(df: DataFrame, inCol: String, outCol: String): DataFrame = {
    val stats = df.agg(min(col(inCol)).as("__mn"), max(col(inCol)).as("__mx"))
    df.crossJoin(broadcast(stats))
      .withColumn(outCol,
        when(col("__mx") === col("__mn"), lit(0.5))
          .otherwise((col(inCol) - col("__mn")) / (col("__mx") - col("__mn"))))
      .drop("__mn", "__mx")
  }
}
