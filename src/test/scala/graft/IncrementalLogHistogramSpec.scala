package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.LogHistogram
import graft.streaming.IncrementalLogHistogram

/** Log-histogram bucket counts are plain integer sums — the store must
  * be bit-identical to the one-shot histogram of the union in any
  * batch order; exactly-once comes from the version-overwrite protocol
  * (a replayed batch rewrites its own version), and a missing
  * predecessor fails fast.
  */
class IncrementalLogHistogramSpec extends SparkSuite {

  import spark.implicits._

  // 9-decade heavy-tailed values across 3 groups
  private def rows = (1 to 6000).map { i =>
    val e = i % 30
    (s"g${i % 3}", (1L << e) + (i * 2654435761L) % math.max(1L << e, 2L))
  }.toDF("g", "v")

  private def table(df: org.apache.spark.sql.DataFrame): Map[(String, Long), Long] =
    df.collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap

  test("3-batch store == one-shot histogram of the union; replay rewrites, never double-counts") {
    val store = GraftSession.scratchDir("graft_incloghist").toString
    def part(i: Int) = rows.filter(pmod(col("v"), lit(3)) === i)
    IncrementalLogHistogram.processBatch(part(1), 0L, store, Seq("g"), "v")
    IncrementalLogHistogram.processBatch(part(2), 1L, store, Seq("g"), "v")
    val v2 = IncrementalLogHistogram.processBatch(part(0), 2L, store, Seq("g"), "v")
    val oneShot = LogHistogram.histogram(rows, Seq("g"), "v", 5)
    assert(table(v2) == table(oneShot), "store != one-shot histogram")
    val replay = IncrementalLogHistogram.processBatch(part(0), 2L, store, Seq("g"), "v")
    assert(table(replay) == table(oneShot), "replayed batch double-counted")
    // the committed store answers quantiles per group
    val q = LogHistogram.quantiles(replay, Seq("g"), Seq(99), 5).collect()
    assert(q.length == 3 && q.forall(_.getAs[Long]("est_q") > 0L))
  }

  test("missing predecessor version fails fast") {
    val store = GraftSession.scratchDir("graft_incloghist_gap").toString
    val err = intercept[IllegalStateException] {
      IncrementalLogHistogram.processBatch(rows, 2L, store, Seq("g"), "v")
    }
    assert(err.getMessage.contains("store version missing"))
  }

  test("torn predecessor (no _SUCCESS marker) fails fast; replay recovers") {
    val store = GraftSession.scratchDir("graft_incloghist_torn").toString
    def part(i: Int) = rows.filter(pmod(col("v"), lit(3)) === i)
    IncrementalLogHistogram.processBatch(part(0), 0L, store, Seq("g"), "v")
    IncrementalLogHistogram.processBatch(part(1), 1L, store, Seq("g"), "v")
    Files.delete(java.nio.file.Paths.get(s"$store/v=1/_SUCCESS"))
    val err = intercept[IllegalStateException] {
      IncrementalLogHistogram.processBatch(part(2), 2L, store, Seq("g"), "v")
    }
    assert(err.getMessage.contains("store version torn"), err.getMessage)
    IncrementalLogHistogram.processBatch(part(1), 1L, store, Seq("g"), "v")
    val v2 = IncrementalLogHistogram.processBatch(part(2), 2L, store, Seq("g"), "v")
    assert(table(v2) == table(LogHistogram.histogram(rows, Seq("g"), "v", 5)),
      "recovered store != one-shot histogram")
  }
}
