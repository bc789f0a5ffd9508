package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.engine.expressions.CountMin
import graft.streaming.IncrementalCountMin

/** The incrementally maintained Count-Min grid must be BIT-IDENTICAL
  * to the one-shot sketch over the union of every batch — in ANY batch
  * order (counters are commutative sums; this store is the family's
  * commutative anchor, with no in-order guard to need) — and keep the
  * family's replay-idempotence and fail-fast contracts.
  */
class IncrementalCountMinSpec extends SparkSuite {

  import spark.implicits._

  private def grid(df: org.apache.spark.sql.DataFrame): Seq[Seq[Long]] =
    df.select(col("sk")).head
      .getSeq[scala.collection.Seq[Long]](0).map(_.toSeq)

  test("3 batches in any order commit the one-shot grid bit-for-bit; replay idempotent; orphan fails fast") {
    CountMin.register(spark)
    val all = (Seq.fill(9)("x") ++ Seq.fill(4)("y") ++ Seq("z", "w"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "token")
    val oneShot = grid(all.agg(CountMin.sketch(col("token"), 3, 32).as("sk")))
    def run(order: Seq[Long]): Seq[Seq[Long]] = {
      val dir = GraftSession.scratchDir("graft_cm_inc").toString
      order.zipWithIndex.foreach { case (m, i) =>
        IncrementalCountMin.processBatch(
          all.filter(pmod(col("id"), lit(3)) === m), i.toLong, dir,
          "token", 3, 32): Unit
      }
      grid(spark.read.parquet(s"$dir/v=${order.size - 1}"))
    }
    assert(run(Seq(0L, 1L, 2L)) == oneShot, "in-order store != one-shot")
    assert(run(Seq(2L, 0L, 1L)) == oneShot, "reordered store != one-shot")
    // replay: batch 1 reprocessed over the same v=0 rewrites v=1 identically
    val dir = GraftSession.scratchDir("graft_cm_rp").toString
    def b(m: Long, id: Long) = IncrementalCountMin.processBatch(
      all.filter(pmod(col("id"), lit(3)) === m), id, dir, "token", 3, 32)
    b(0L, 0L)
    val first = grid(b(1L, 1L))
    assert(grid(b(1L, 1L)) == first, "replay drifted")
    // a non-initial batch with no predecessor refuses to run
    val orphan = intercept[IllegalStateException] {
      IncrementalCountMin.processBatch(all, 5L,
        GraftSession.scratchDir("graft_cm_orphan").toString,
        "token", 3, 32)
    }
    assert(orphan.getMessage.contains("store version missing"))
    // a TORN predecessor (dir without its _SUCCESS commit marker — a
    // crash mid-write) also refuses: summed counters would silently
    // under-count forever if a partial grid folded forward
    Files.delete(java.nio.file.Paths.get(s"$dir/v=1/_SUCCESS"))
    val torn = intercept[IllegalStateException] {
      b(2L, 2L)
    }
    assert(torn.getMessage.contains("store version torn"), torn.getMessage)
    // replaying batch 1 rewrites v=1 whole; batch 2 then commits
    assert(grid(b(1L, 1L)) == first, "replay after torn write drifted")
    b(2L, 2L): Unit
  }
}
