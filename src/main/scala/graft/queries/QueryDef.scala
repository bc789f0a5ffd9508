package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered engine query: Spark implementation + (when SQL-expressible)
  * the equivalent DuckDB oracle SQL over the same parquet tables.
  *
  * Determinism contract (driver hash-compares row sets):
  *  - every computed float is `round(...)`-ed identically on both sides;
  *  - every window rank orders by a total order (unique tiebreaker);
  *  - integer-typed outputs are cast to the same width on both sides
  *    (DuckDB `sum(INTEGER)` is HUGEINT, Spark is LongType — always cast).
  */
final case class QueryDef(
    name: String,
    oracle: Option[String],
    fn: (SparkSession, String) => DataFrame)

object T {
  /** Load one driver test table from an sf dir. */
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir)
    else spark.read.parquet(s"$sfDir/$name.parquet")

  /** The events table's `ts` column has shipped as both TIMESTAMP(NANOS)
    * (which Spark 4 rejects by default — the nanosAsLong legacy flag reads
    * it as a long we floor-divide to micros, matching DuckDB's own ns→us
    * truncation) and native TIMESTAMP(MICROS) without a UTC flag (read as
    * TIMESTAMP_NTZ — cast to TIMESTAMP, epoch-identical under the pinned
    * UTC session timezone, and required by streaming watermarks).
    * Normalize adaptively on the observed schema so every generator
    * vintage loads to the same TimestampType column.
    */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          df.col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(spark.read.parquet(s"$sfDir/events.parquet"))
  }
}
