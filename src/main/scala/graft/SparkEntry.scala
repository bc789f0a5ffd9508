package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + BASELINE.md.
  *
  * Every implemented operator from SURVEY.md §2 is registered here as a
  * named query over the driver test tables, with a DuckDB oracle when the
  * semantics are SQL-expressible.
  */
object SparkEntry {

  /** All registered queries across the engine's domains. */
  private def allDefs: Seq[QueryDef] =
    Relational.defs ++ Relational2.defs ++ Relational3.defs ++ Relational4.defs ++
      Reports.defs ++ Vector.defs ++ Text.defs ++ Curation.defs ++
      Retrieval.defs ++ Events.defs ++ Media.defs ++ ML.defs ++ Graph.defs ++
      Engine.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Reports.confidence(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map(d => d.name -> d.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    allDefs.flatMap(d => d.oracle.map(o => d.name -> o)).toMap
}
