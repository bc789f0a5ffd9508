package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.engine.expressions.Hll
import graft.streaming.IncrementalHll

/** HLL registers are elementwise MAXes of a pure per-item function —
  * the strongest merge contract in the sketch family: the store must
  * be bit-identical to the one-shot sketch in ANY batch order AND
  * under row-level duplication (re-delivering rows cannot move a
  * register), while keeping the family's replay-idempotence and
  * fail-fast contracts. The estimator must track exact cardinality
  * within the FFGM error bound on both its branches.
  */
class IncrementalHllSpec extends SparkSuite {

  import spark.implicits._

  private def grid(df: org.apache.spark.sql.DataFrame): Map[String, Seq[Int]] =
    df.collect().map(r => r.getString(0) -> r.getSeq[Int](1).toSeq).toMap

  test("sketch: partitioning-independent, duplicate-insensitive, estimates within FFGM bounds on both branches") {
    Hll.register(spark)
    // small cardinality (40) -> linear-counting branch; large (5000)
    // -> raw FFGM branch (> 2.5 * 256 = 640)
    val small = (1 to 40).flatMap(i => Seq.fill(3)(s"s$i")).toDF("x")
    val large = (1 to 5000).map(i => s"l$i").toDF("x")
    def sk(df: org.apache.spark.sql.DataFrame) =
      df.agg(Hll.sketch(col("x"), 8).as("sk"))
    def regs(df: org.apache.spark.sql.DataFrame): Seq[Int] =
      sk(df).head.getSeq[Int](0).toSeq
    // maxes are insensitive to partitioning AND to duplication
    assert(regs(small.repartition(1)) == regs(small.repartition(7)),
      "sketch depends on partitioning")
    assert(regs(small) == regs(small.union(small)),
      "duplicated rows moved a register")
    def est(df: org.apache.spark.sql.DataFrame): Double =
      sk(df).select(Hll.estimate(col("sk"), 8)).head.getDouble(0)
    val eSmall = est(small)
    assert(math.abs(eSmall - 40.0) < 8.0,
      s"linear-counting estimate $eSmall far from 40")
    // raw-branch relative error: sigma = 1.04/sqrt(256) = 6.5%; allow 4 sigma
    val eLarge = est(large)
    assert(math.abs(eLarge - 5000.0) / 5000.0 < 0.26,
      s"raw estimate $eLarge beyond 4 sigma of 5000")
    assert(eLarge > 640.0, "large set unexpectedly hit linear counting")
  }

  test("HllMerge rollup: folding group sketches is bit-identical to sketching the base rows; duplicate partials are free") {
    Hll.register(spark)
    val rows = (1L to 200L).map(i => (s"g${i % 4}", s"item${i % 73}"))
      .toDF("g", "item")
    val per = rows.groupBy("g").agg(Hll.sketch(col("item"), 8).as("sk"))
    def regs(df: org.apache.spark.sql.DataFrame): Seq[Int] =
      df.head.getSeq[Int](0).toSeq
    val rolled = regs(per.agg(Hll.merge(col("sk"), 8).as("sk")))
    val direct = regs(rows.agg(Hll.sketch(col("item"), 8).as("sk")))
    assert(rolled == direct, "rollup diverged from the base-data sketch")
    // idempotent: merging the partials twice over changes nothing
    val doubled = regs(per.unionByName(per).agg(Hll.merge(col("sk"), 8).as("sk")))
    assert(doubled == direct, "duplicate partials moved a register")
    // estimates agree too (same registers, same fold)
    val eR = per.agg(Hll.merge(col("sk"), 8).as("sk"))
      .select(Hll.estimate(col("sk"), 8)).head.getDouble(0)
    val eD = rows.agg(Hll.sketch(col("item"), 8).as("sk"))
      .select(Hll.estimate(col("sk"), 8)).head.getDouble(0)
    assert(eR == eD)
  }

  test("3 batches in any order commit the one-shot grid bit-for-bit; replay idempotent; orphan fails fast") {
    Hll.register(spark)
    val all = (1L to 60L).map(i => (i, if (i % 2 == 0) "even" else "odd",
      s"k${i % 37}")).toDF("id", "g", "item")
    val oneShot = grid(all.groupBy("g").agg(Hll.sketch(col("item"), 6).as("sk")))
    def run(order: Seq[Long]): Map[String, Seq[Int]] = {
      val dir = GraftSession.scratchDir("graft_hll_inc").toString
      order.zipWithIndex.foreach { case (m, i) =>
        IncrementalHll.processBatch(
          all.filter(pmod(col("id"), lit(3)) === m), i.toLong, dir,
          Seq("g"), "item", 6): Unit
      }
      grid(spark.read.parquet(s"$dir/v=${order.size - 1}"))
    }
    assert(run(Seq(0L, 1L, 2L)) == oneShot, "in-order store != one-shot")
    assert(run(Seq(2L, 0L, 1L)) == oneShot, "reordered store != one-shot")
    // replay: batch 1 reprocessed over the same v=0 rewrites v=1 identically
    val dir = GraftSession.scratchDir("graft_hll_rp").toString
    def b(m: Long, id: Long) = IncrementalHll.processBatch(
      all.filter(pmod(col("id"), lit(3)) === m), id, dir, Seq("g"), "item", 6)
    b(0L, 0L)
    val first = grid(b(1L, 1L))
    assert(grid(b(1L, 1L)) == first, "replay drifted")
    // a group absent from early batches appears intact later
    val dir2 = GraftSession.scratchDir("graft_hll_newgrp").toString
    IncrementalHll.processBatch(all.filter(col("g") === "odd"), 0L, dir2,
      Seq("g"), "item", 6)
    val merged = grid(IncrementalHll.processBatch(
      all.filter(col("g") === "even"), 1L, dir2, Seq("g"), "item", 6))
    assert(merged == oneShot, "late-arriving group diverged from one-shot")
    // a non-initial batch with no predecessor refuses to run
    val orphan = intercept[IllegalStateException] {
      IncrementalHll.processBatch(all, 5L,
        GraftSession.scratchDir("graft_hll_orphan").toString,
        Seq("g"), "item", 6)
    }
    assert(orphan.getMessage.contains("store version missing"))
    // a TORN predecessor (no _SUCCESS commit marker) also refuses —
    // register maxes are idempotent, but torn means ROWS MISSING: a
    // group absent from the partial files would vanish from every
    // later version. Replaying the torn batch recovers (overwrite).
    Files.delete(java.nio.file.Paths.get(s"$dir/v=1/_SUCCESS"))
    val torn = intercept[IllegalStateException] { b(2L, 2L) }
    assert(torn.getMessage.contains("store version torn"), torn.getMessage)
    assert(grid(b(1L, 1L)) == first, "replay after torn write drifted")
    assert(grid(b(2L, 2L)) == oneShot, "recovered store != one-shot")
  }
}
