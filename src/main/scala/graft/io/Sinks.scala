package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Report/table sinks of the reference (SURVEY.md §2.1 K1-K3).
  *
  * `coalesce(1)` single-file reports are an explicit *option* here, not a
  * default — at 100 TB a single-file sink serializes the whole job through
  * one task; distributed multi-part output is the default.
  */
object Sinks {

  /** K1 — CSV report. `singleFile = true` reproduces the reference's
    * `coalesce(1)` single-file report (`src/search_ranking_peers.py:168-173`).
    */
  def csv(df: DataFrame, dir: String, mode: SaveMode = SaveMode.Overwrite,
          singleFile: Boolean = false): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    out.write.mode(mode).option("header", "true").csv(dir)
  }

  /** K2 — parquet sink (`src/search_ranking_peers.py:174-176`). */
  def parquet(df: DataFrame, dir: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).parquet(dir)

  /** ORC sink (columnar alternative; same writer surface as parquet). */
  def orc(df: DataFrame, dir: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).orc(dir)

  /** K3 — JSON sink (`src/recommender_prod_rec.py:156-159`). */
  def json(df: DataFrame, dir: String, mode: SaveMode = SaveMode.Overwrite,
           singleFile: Boolean = false): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    out.write.mode(mode).json(dir)
  }
}
