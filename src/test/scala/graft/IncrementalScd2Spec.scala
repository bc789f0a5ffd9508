package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Scd2
import graft.streaming.IncrementalScd2

/** The delta-store streaming SCD2 must reconstruct EXACTLY the history
  * the batch Scd2 produces when applied sequentially, replay
  * byte-identically, slice correct as-of images, and survive
  * compaction unchanged.
  */
class IncrementalScd2Spec extends SparkSuite {
  import spark.implicits._

  private def img(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.toString)

  /** Three deterministic snapshot batches over the customer dimension:
    * batch 1 changes a third of balances and adds new keys, batch 2
    * changes segments for a different slice.
    */
  private def batches: Seq[DataFrame] = {
    val base = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey").cast("long").as("k"),
        col("c_mktsegment").as("seg"), col("c_acctbal").as("bal"))
    val b1 = base.withColumn("bal",
        when(col("k") % 3 === 0, col("bal") + 50).otherwise(col("bal")))
      .unionByName(base.filter(col("k") % 7 === 0)
        .select((col("k") + 500000L).as("k"), lit("NEW").as("seg"), lit(1.0).as("bal")))
    val b2 = b1.withColumn("seg",
      when(col("k") % 5 === 1, lit("MOVED")).otherwise(col("seg")))
    Seq(base, b1, b2)
  }

  test("streaming deltas reconstruct the sequential batch Scd2 exactly; replay identical") {
    val store = GraftSession.scratchDir("inc_scd2").toString
    val bs = batches
    bs.zipWithIndex.foreach { case (b, i) =>
      IncrementalScd2.processBatch(b, i, "k", Seq("seg", "bal"), store)
    }
    // reference: the batch operator applied sequentially
    var ref = Scd2.init(bs.head, 0L)
    Seq(1, 2).foreach { v =>
      ref = Scd2(ref, bs(v), "k", Seq("seg", "bal"), v.toLong)
    }
    val streamed = IncrementalScd2.history(spark, store, "k")
      .select("k", "seg", "bal", "valid_from", "valid_to", "is_current")
    assert(img(streamed) == img(ref.select(
      "k", "seg", "bal", "valid_from", "valid_to", "is_current")))
    // crash-replay the last batch: identical store
    val before = img(streamed)
    IncrementalScd2.processBatch(bs.last, 2, "k", Seq("seg", "bal"), store)
    assert(img(IncrementalScd2.history(spark, store, "k")
      .select("k", "seg", "bal", "valid_from", "valid_to", "is_current")) == before)
    // as-of slices: version 0 image == the first snapshot
    assert(img(IncrementalScd2.asOf(spark, store, "k", 0).select("k", "seg", "bal"))
      == img(bs.head))
    // current image == the last snapshot (dedup by key — b2 carries all keys)
    assert(img(IncrementalScd2.history(spark, store, "k")
        .filter(col("is_current")).select("k", "seg", "bal"))
      == img(bs.last.dropDuplicates("k")))
  }

  test("compaction preserves history; folded batch replay fails fast") {
    val store = GraftSession.scratchDir("inc_scd2_cmp").toString
    val bs = batches
    bs.zipWithIndex.foreach { case (b, i) =>
      IncrementalScd2.processBatch(b, i, "k", Seq("seg", "bal"), store)
    }
    val before = img(IncrementalScd2.history(spark, store, "k"))
    IncrementalScd2.compact(spark, store)
    assert(img(IncrementalScd2.history(spark, store, "k")) == before)
    // a fourth batch on top of the generation applies cleanly
    IncrementalScd2.processBatch(
      Seq((1L, "POST", 9.9)).toDF("k", "seg", "bal"), 3, "k", Seq("seg", "bal"), store)
    val h = IncrementalScd2.history(spark, store, "k")
    assert(h.filter(col("k") === 1L && col("is_current")).head
      .getAs[String]("seg") == "POST")
    intercept[IllegalStateException] {
      IncrementalScd2.processBatch(bs.head, 0, "k", Seq("seg", "bal"), store)
    }
  }
}
