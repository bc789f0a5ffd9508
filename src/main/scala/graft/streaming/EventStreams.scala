package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming over the events table (capability extension —
  * the reference has no streaming; SURVEY.md §7.2 v5).
  *
  * The batch parquet drives a real streaming query: file source →
  * watermark → windowed aggregation → memory sink, drained synchronously
  * with `processAllAvailable`. On a cluster the same plan runs unbounded
  * (kafka/file source, checkpointed sink) — the aggregation state is
  * keyed by (window, event_type) and bounded by the watermark.
  */
object EventStreams {

  /** File-source stream over the events parquet with `ts` normalized to a
    * microsecond timestamp whatever vintage the generator wrote
    * ([[graft.queries.T.normalizeTs]] — TIMESTAMP(NANOS)-as-long vs
    * native TIMESTAMP(MICROS)). The schema probe is a metadata-only read.
    */
  private def eventStream(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    graft.queries.T.normalizeTs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(sfDir))
  }

  /** Tumbling-window count/sum per event_type, computed by a streaming
    * query over the events parquet and returned as a batch DataFrame.
    */
  def hourlyStreaming(spark: SparkSession, sfDir: String): DataFrame = {
    val stream = eventStream(spark, sfDir)
    val agg = stream
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:00:00").as("hour"),
        col("event_type"), col("n"), col("sum_value"))
    val name = s"graft_hourly_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    // Materialize before the in-memory sink table goes away.
    val out = spark.table(name).cache()
    out.count()
    // cached InMemoryRelation is self-contained; free the sink's catalog entry
    spark.catalog.dropTempView(name)
    out
  }
}
