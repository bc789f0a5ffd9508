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

  /** Stream-stream join: click→purchase attribution within a 30-minute
    * window, both sides watermarked (state on each side is bounded by
    * the watermark + the join's time-range condition — the production
    * shape for event attribution at scale).
    */
  def streamStreamAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    def side(tpe: String, prefix: String) =
      eventStream(spark, sfDir)
        // truncate to ms so the join condition matches the batch twin's
        // epoch_ms floor exactly
        .withColumn("ts", timestamp_millis(unix_millis(col("ts"))))
        .filter(col("event_type") === tpe)
        .withWatermark("ts", "1 hour")
        .select(col("user_id").as(s"${prefix}_user"), col("event_id").as(s"${prefix}_event"),
          col("ts").as(s"${prefix}_ts"))
    val clicks = side("click", "c")
    val purchases = side("purchase", "p")
    val joined = clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") < col("c_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("c_user").as("user_id"), col("c_event").as("click_event"),
        col("p_event").as("purchase_event"),
        (unix_millis(col("p_ts")) - unix_millis(col("c_ts"))).as("gap_ms"))
    val name = s"graft_attr_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table(name).cache()
    out.count()
    // cached InMemoryRelation is self-contained; free the sink's catalog entry
    spark.catalog.dropTempView(name)
    out
  }

  /** Custom streaming state: per-user running event counts via
    * `mapGroupsWithState` (the engine's KeyValueGroupedDataset custom-
    * state surface; update mode, state keyed by user). The memory sink
    * accumulates update rows — the caller reduces to the latest per key
    * (here: max, counts are monotone).
    */
  def statefulUserCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import spark.implicits._
    val stream = eventStream(spark, sfDir)
      .select(col("user_id")).as[Long]
    val counted = stream.groupByKey(identity)
      .mapGroupsWithState[Long, (Long, Long)](GroupStateTimeout.NoTimeout) {
        (user, events, state) =>
          val n = state.getOption.getOrElse(0L) + events.size
          state.update(n)
          (user, n)
      }
      .toDF("user_id", "n_events")
    val name = s"graft_state_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = counted.writeStream.outputMode("update")
      .format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table(name)
      .groupBy("user_id").agg(org.apache.spark.sql.functions.max("n_events").as("n_events"))
      .cache()
    out.count()
    // cached InMemoryRelation is self-contained; free the sink's catalog entry
    spark.catalog.dropTempView(name)
    out
  }

  /** Streaming distinct-user cardinality per tumbling hour via the KMV
    * bottom-k sketch ([[graft.engine.expressions.KmvDistinct]]): the
    * aggregation state per window is k longs — bounded however many
    * distinct users the stream carries — and the sketch's merge is what
    * Spark calls to combine partial states across micro-batches, so the
    * estimate is identical to a one-shot batch aggregation of the same
    * rows (spec-pinned, including under maxFilesPerTrigger=1). The
    * unbounded-stream shape for "unique visitors per window" where an
    * exact distinct would hold the full id set per window in the state
    * store.
    */
  def hourlyDistinctSketch(spark: SparkSession, sfDir: String,
                           k: Int = 64): DataFrame = {
    graft.engine.expressions.KmvDistinct.register(spark)
    import graft.engine.expressions.KmvDistinct.{hash60, sketch}
    val agg = eventStream(spark, sfDir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(sketch(hash60(col("user_id")), k).as("s"),
        count(lit(1)).as("n_events"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:00:00").as("hour"),
        col("s.est").as("distinct_est"), col("s.n_kept").as("n_kept"),
        col("n_events"))
    val name = s"graft_kmv_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table(name).cache()
    out.count()
    // cached InMemoryRelation is self-contained; free the sink's catalog entry
    spark.catalog.dropTempView(name)
    out
  }
}
