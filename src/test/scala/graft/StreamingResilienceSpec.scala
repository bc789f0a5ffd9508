package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.functions._
import graft.streaming.EventStreams

/** Production streaming behaviors beyond single-run parity: restart from
  * a checkpoint must be exactly-once (file source tracks consumed files
  * in the checkpoint log; the parquet file sink commits atomically via
  * its own sink log), and the state store must be swappable to RocksDB —
  * the provider a large-state cluster deployment runs — without changing
  * results.
  */
class StreamingResilienceSpec extends SparkSuite {

  /** Write `df` as a single parquet file named `name` inside `dir`. */
  private def addFile(df: org.apache.spark.sql.DataFrame, dir: Path, name: String): Unit = {
    val tmp = GraftSession.scratchDir("graft_stage")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, dir.resolve(name))
  }

  test("T.normalizeTs yields identical timestamps for every generator vintage") {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val base = graft.queries.T.events(spark, sf)
      .select(col("event_id"), col("ts")).orderBy("event_id")
    assert(base.schema("ts").dataType === TimestampType)
    val expected = base.collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime))
    // vintage 1: ts as raw nanos-since-epoch long (TIMESTAMP(NANOS) read
    // under the legacy flag)
    val asNanos = base.select(col("event_id"),
      (unix_micros(col("ts")) * 1000L).as("ts"))
    assert(asNanos.schema("ts").dataType === LongType)
    val fromNanos = graft.queries.T.normalizeTs(asNanos)
    assert(fromNanos.schema("ts").dataType === TimestampType)
    assert(fromNanos.collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime))
      .sameElements(expected))
    // vintage 2: un-flagged TIMESTAMP(MICROS), i.e. TIMESTAMP_NTZ —
    // round-trip through a parquet file to exercise the real reader path
    val ntzDir = GraftSession.scratchDir("graft_ntz").toString
    base.select(col("event_id"), col("ts").cast(TimestampNTZType).as("ts"))
      .write.mode("overwrite").parquet(ntzDir)
    val reread = spark.read.parquet(ntzDir)
    assert(reread.schema("ts").dataType === TimestampNTZType)
    val fromNtz = graft.queries.T.normalizeTs(reread).orderBy("event_id")
    assert(fromNtz.schema("ts").dataType === TimestampType)
    assert(fromNtz.collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime))
      .sameElements(expected))
  }

  test("file-source stream restarted from checkpoint is exactly-once") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val events = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_id"), col("user_id"), col("event_type"))
    val total = events.count()
    val srcDir = GraftSession.scratchDir("graft_restart_src")
    val outDir = GraftSession.scratchDir("graft_restart_out").toString
    val ckpt = GraftSession.scratchDir("graft_restart_ckpt").toString
    val schema = events.schema

    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(srcDir.toString)
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt).option("path", outDir)
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    // first half, first run
    addFile(events.filter(col("event_id") % 2 === 0), srcDir, "a.parquet")
    runOnce()
    val afterFirst = spark.read.parquet(outDir).count()
    assert(afterFirst === events.filter(col("event_id") % 2 === 0).count())

    // second half arrives while the query is DOWN; a fresh query on the
    // same checkpoint must pick up exactly the unseen file
    addFile(events.filter(col("event_id") % 2 === 1), srcDir, "b.parquet")
    runOnce()
    val out = spark.read.parquet(outDir)
    assert(out.count() === total, "restart lost or replayed rows")
    assert(out.select("event_id").distinct().count() === total, "restart duplicated rows")

    // idempotence: a third restart with nothing new must add nothing
    runOnce()
    assert(spark.read.parquet(outDir).count() === total)
  }

  test("windowed aggregation state merges correctly across micro-batches") {
    // Everything else drains the corpus in ONE batch; this forces 4
    // (maxFilesPerTrigger = 1 over 4 source files, each spanning the
    // whole time range) so per-window state must accumulate across
    // batches to match the batch-mode result.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val events = spark.read.parquet(s"$sf/events.parquet")
    val srcDir = GraftSession.scratchDir("graft_multibatch")
    (0 until 4).foreach(i =>
      addFile(events.filter(col("event_id") % 4 === i), srcDir, s"part$i.parquet"))
    val agg = graft.queries.T.normalizeTs(
      spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
      .select(col("w.start").as("h"), col("event_type"), col("n"), col("sum_value"))
    val name = s"graft_mb_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = agg.writeStream.outputMode("complete").format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 4, "expected >= 4 non-empty batches")
    val streamed = spark.table(name).collect().toSet
    spark.catalog.dropTempView(name)
    val batch = graft.queries.T.normalizeTs(events)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
      .select(col("w.start").as("h"), col("event_type"), col("n"), col("sum_value"))
      .collect().toSet
    assert(streamed === batch)
  }

  test("append-mode watermark finalizes windows across time-ordered batches") {
    // Time-ordered files + maxFilesPerTrigger=1 make the watermark
    // advance batch by batch — the eviction mechanism that bounds state
    // on an unbounded stream. Append mode only emits a window once the
    // watermark passes its end, so the final output must (a) agree with
    // the batch result on every emitted window and (b) contain every
    // window that closed below the final watermark.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val events = graft.queries.T.normalizeTs(spark.read.parquet(s"$sf/events.parquet"))
      .withColumn("tsv", unix_micros(col("ts")))
    val qs = events.stat.approxQuantile("tsv", Array(0.25, 0.5, 0.75), 0.0)
    val srcDir = GraftSession.scratchDir("graft_wm")
    val bounds = (Double.MinValue +: qs.map(_.toDouble)) :+ Double.MaxValue
    bounds.sliding(2).zipWithIndex.foreach { case (pair, i) =>
      val (lo, hi) = (pair(0), pair(1))
      addFile(events.filter(col("tsv") > lo && col("tsv") <= hi).drop("tsv"),
        srcDir, s"t$i.parquet")
    }
    val agg = graft.queries.T.normalizeTs(
      spark.readStream.schema(events.drop("tsv").schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.end").as("we"), col("event_type"), col("n"))
    val name = s"graft_wm_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = agg.writeStream.outputMode("append").format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table(name).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    spark.catalog.dropTempView(name)

    val batchRows = events
      .withColumn("ts", timestamp_micros(col("tsv")))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.end").as("we"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val wmMs = events.agg(max("tsv")).head.getLong(0) / 1000 - 3600 * 1000
    // (a) nothing wrong was emitted
    assert(streamed.subsetOf(batchRows),
      s"append emitted windows that disagree with batch: ${streamed.diff(batchRows).take(3)}")
    // (b) everything that closed below the final watermark was emitted
    val mustEmit = batchRows.filter(_._1.getTime <= wmMs)
    assert(mustEmit.subsetOf(streamed),
      s"closed windows missing from append output: ${mustEmit.diff(streamed).take(3)}")
    assert(streamed.nonEmpty && streamed.size < batchRows.size,
      "expected some windows emitted and the tail (above watermark) held back")
  }

  test("KMV sketch aggregation merges identically across micro-batches") {
    import graft.engine.expressions.KmvDistinct
    import graft.engine.expressions.KmvDistinct.{hash60, sketch}
    KmvDistinct.register(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val events = graft.queries.T.normalizeTs(spark.read.parquet(s"$sf/events.parquet"))
    val k = 64
    val batch = events
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(sketch(hash60(col("user_id")), k).as("s"), count(lit(1)).as("n_events"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:00:00").as("hour"),
        col("s.est").as("distinct_est"), col("s.n_kept").as("n_kept"), col("n_events"))
      .collect().toSet
    // state must MERGE across micro-batches, not restart: 4 staged files
    // each spanning the full time range, drained one file per trigger
    val srcDir = GraftSession.scratchDir("graft_kmv_mb")
    (0 until 4).foreach(i =>
      addFile(events.filter(col("event_id") % 4 === i), srcDir, s"part$i.parquet"))
    val agg = graft.queries.T.normalizeTs(
      spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString))
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(sketch(hash60(col("user_id")), k).as("s"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:00:00").as("hour"),
        col("s.est").as("distinct_est"))
    val name = s"graft_kmvmb_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = agg.writeStream.outputMode("complete").format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 4, "expected >= 4 non-empty batches")
    val multiBatch = spark.table(name).collect().toSet
    spark.catalog.dropTempView(name)
    assert(multiBatch.map(r => (r.getString(0), r.getDouble(1))) ===
      batch.map(r => (r.getString(0), r.getDouble(1))))
    // sanity: the estimate tracks the exact distinct within KMV error
    val exact = events.groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(countDistinct(col("user_id")).as("nd"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:00:00").as("hour"), col("nd"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    batch.foreach { r =>
      val (h, est, kept) = (r.getString(0), r.getDouble(1), r.getInt(2))
      val nd = exact(h)
      if (kept < k) assert(est == nd.toDouble, s"$h: below-k sketch must be exact")
      else assert(math.abs(est - nd) / nd < 5.0 / math.sqrt(k), s"$h: est $est vs exact $nd")
    }
  }

  test("RocksDB state store provider yields identical windowed aggregates") {
    val default = EventStreams.hourlyStreaming(spark, sf).collect().toSet
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rocks = EventStreams.hourlyStreaming(spark, sf).collect().toSet
      assert(rocks === default)
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }
}
