package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.streaming.IncrementalDailyMoments

/** Counts and sums are plain integer adds — commutative across any
  * batch split, so the store must be bit-identical to a one-shot
  * aggregate of the union; exactly-once rides the family's
  * version-overwrite protocol and the `_SUCCESS` torn-write guard.
  */
class IncrementalDailyMomentsSpec extends SparkSuite {
  import spark.implicits._

  private def rows = (0 until 3000)
    .map(i => (s"d${i % 7}", (i * 37L + 11) % 6000L)).toDF("day", "v")

  private def asMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getDecimal(2).toBigInteger,
        r.getDecimal(3).toBigInteger)).toMap

  test("3-batch store == one-shot aggregate, any batch order; replay rewrites") {
    val store = GraftSession.scratchDir("graft_incdm").toString
    def part(i: Int) = rows.filter(pmod(col("v"), lit(3)) === i)
    IncrementalDailyMoments.processBatch(part(2), 0L, store, Seq("day"), "v")
    IncrementalDailyMoments.processBatch(part(0), 1L, store, Seq("day"), "v")
    val v2 = IncrementalDailyMoments
      .processBatch(part(1), 2L, store, Seq("day"), "v")
      .select("day", "n", "s", "ss")
    val oneShot = rows.groupBy("day").agg(count(col("v")).as("n"),
      sum(col("v").cast("decimal(38,0)")).as("s"),
      sum(col("v").cast("decimal(38,0)") * col("v")).as("ss"))
    assert(asMap(v2) == asMap(oneShot), "store != one-shot aggregate")
    // replaying the LAST batch rewrites v=2 — no double count
    val replay = IncrementalDailyMoments
      .processBatch(part(1), 2L, store, Seq("day"), "v")
      .select("day", "n", "s", "ss")
    assert(asMap(replay) == asMap(oneShot), "replayed batch double-counted")
  }

  test("late-arriving day folds out of order; the store-served mSPRT equals the batch rebuild") {
    // The one incremental-correctness surface the batch≡incremental
    // family didn't pin for moments (r17 advice): a whole day landing
    // LATE (and another day split across batches) must leave the store
    // — and the monitor READ from it — bit-identical to a one-shot
    // rebuild, because moments are linear and the full-outer add is
    // day-order-blind. Compares the actual q303-style monitor output,
    // not just the store rows.
    val ev = (0 until 4000).map { i =>
      val day = f"2024-01-${i % 10 + 1}%02d"
      val arm = i % 2 + 1
      (day, arm, (i * 37L + 11) % 6000L)
    }.toDF("day", "arm", "v")
    val store = GraftSession.scratchDir("graft_incdm_late").toString
    // batch 0: everything except day 04, plus only HALF of day 07;
    // batch 1: the rest of day 07; batch 2: day 04 arrives last
    val b0 = ev.filter(col("day") =!= "2024-01-04" &&
      !(col("day") === "2024-01-07" && pmod(col("v"), lit(2)) === 0))
    val b1 = ev.filter(col("day") === "2024-01-07" &&
      pmod(col("v"), lit(2)) === 0)
    val b2 = ev.filter(col("day") === "2024-01-04")
    IncrementalDailyMoments.processBatch(b0, 0L, store, Seq("day", "arm"), "v")
    IncrementalDailyMoments.processBatch(b1, 1L, store, Seq("day", "arm"), "v")
    val served = IncrementalDailyMoments
      .processBatch(b2, 2L, store, Seq("day", "arm"), "v")
    val fromStore = graft.ops.Sequential.msprtFromMoments(served).collect()
    val oneShot = graft.ops.Sequential.msprt(ev, "day", "arm", "v").collect()
    assert(fromStore.toSeq == oneShot.toSeq,
      "store-served monitor diverged from the one-shot rebuild after " +
        "out-of-order day delivery")
  }

  test("missing and torn predecessors fail fast; replay recovers a torn store") {
    val store = GraftSession.scratchDir("graft_incdm_torn").toString
    def part(i: Int) = rows.filter(pmod(col("v"), lit(3)) === i)
    val gap = intercept[IllegalStateException] {
      IncrementalDailyMoments.processBatch(rows, 3L, store, Seq("day"), "v")
    }
    assert(gap.getMessage.contains("store version missing"))
    IncrementalDailyMoments.processBatch(part(0), 0L, store, Seq("day"), "v")
    IncrementalDailyMoments.processBatch(part(1), 1L, store, Seq("day"), "v")
    Files.delete(java.nio.file.Paths.get(s"$store/v=1/_SUCCESS"))
    val torn = intercept[IllegalStateException] {
      IncrementalDailyMoments.processBatch(part(2), 2L, store, Seq("day"), "v")
    }
    assert(torn.getMessage.contains("store version torn") &&
      torn.getMessage.contains("Replay batch 1"), torn.getMessage)
    IncrementalDailyMoments.processBatch(part(1), 1L, store, Seq("day"), "v")
    val v2 = IncrementalDailyMoments
      .processBatch(part(2), 2L, store, Seq("day"), "v")
      .select("day", "n", "s", "ss")
    val oneShot = rows.groupBy("day").agg(count(col("v")).as("n"),
      sum(col("v").cast("decimal(38,0)")).as("s"),
      sum(col("v").cast("decimal(38,0)") * col("v")).as("ss"))
    assert(asMap(v2) == asMap(oneShot), "recovered store != one-shot")
  }
}
