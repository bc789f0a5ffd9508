package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.engine.expressions.QuantileSketch
import graft.streaming.IncrementalQuantile

/** Dyadic-quantile grids are plain integer sums — commutative across
  * any batch split, so the store must be bit-identical to the one-shot
  * sketch of the union; exactly-once comes from the version-overwrite
  * protocol (re-processing a batch rewrites its own version rather
  * than double-counting), and a missing predecessor fails fast.
  */
class IncrementalQuantileSpec extends SparkSuite {

  import spark.implicits._

  private def rows = (0 until 3000)
    .map(i => (s"g${i % 3}", (i * 37L + 11) % 60000L)).toDF("g", "v")

  private def grids(df: org.apache.spark.sql.DataFrame): Map[String, (Seq[Seq[Seq[Long]]], Long)] =
    df.collect().map { r =>
      r.getString(0) -> (r.getSeq[scala.collection.Seq[scala.collection.Seq[Long]]](1)
        .map(_.map(_.toSeq).toSeq).toSeq, r.getLong(2))
    }.toMap

  test("3-batch store == one-shot sketch of the union, in any batch order; replay rewrites, never double-counts") {
    QuantileSketch.register(spark)
    val store = GraftSession.scratchDir("graft_incq").toString
    def part(i: Int) = rows.filter(pmod(col("v"), lit(3)) === i)
    // deliberately scrambled batch content order relative to ids
    IncrementalQuantile.processBatch(part(2), 0L, store, Seq("g"), "v")
    IncrementalQuantile.processBatch(part(0), 1L, store, Seq("g"), "v")
    val v2 = IncrementalQuantile.processBatch(part(1), 2L, store, Seq("g"), "v")
      .select("g", "sk", "n")
    val oneShot = rows.groupBy("g")
      .agg(QuantileSketch.sketch(col("v")).as("sk"), count(col("v")).as("n"))
    assert(grids(v2) == grids(oneShot), "store != one-shot sketch")
    // crash replay of the LAST batch: v=2 is rebuilt from v=1 + batch,
    // so the result is unchanged (no double count)
    val replay = IncrementalQuantile.processBatch(part(1), 2L, store, Seq("g"), "v")
      .select("g", "sk", "n")
    assert(grids(replay) == grids(oneShot), "replayed batch double-counted")
    // the committed store answers quantiles per group (read from
    // `replay`: the overwrite invalidated v2's snapshot of the files)
    val q = replay.select(col("g"),
      QuantileSketch.quantile(col("sk"),
        ((col("n") + 1L) / 2L).cast("long")).as("p50")).collect()
    assert(q.forall(_.getLong(1) > 0L), "store quantile degenerate")
  }

  test("missing predecessor version fails fast") {
    val store = GraftSession.scratchDir("graft_incq_gap").toString
    val err = intercept[IllegalStateException] {
      IncrementalQuantile.processBatch(rows, 3L, store, Seq("g"), "v")
    }
    assert(err.getMessage.contains("store version missing"))
  }

  test("torn predecessor (no _SUCCESS marker) fails fast; replaying the torn batch recovers the store") {
    // simulate a crash mid-write of v=1: the directory exists but the
    // commit marker (written LAST by the FileOutputCommitter) does not —
    // folding such a partial grid forward would under-count forever
    QuantileSketch.register(spark)
    val store = GraftSession.scratchDir("graft_incq_torn").toString
    def part(i: Int) = rows.filter(pmod(col("v"), lit(3)) === i)
    IncrementalQuantile.processBatch(part(0), 0L, store, Seq("g"), "v")
    IncrementalQuantile.processBatch(part(1), 1L, store, Seq("g"), "v")
    Files.delete(java.nio.file.Paths.get(s"$store/v=1/_SUCCESS"))
    val err = intercept[IllegalStateException] {
      IncrementalQuantile.processBatch(part(2), 2L, store, Seq("g"), "v")
    }
    assert(err.getMessage.contains("store version torn") &&
      err.getMessage.contains("Replay batch 1"), err.getMessage)
    // recovery IS the overwrite protocol: replaying batch 1 rewrites
    // v=1 whole, after which batch 2 commits and the store equals the
    // one-shot sketch of the union
    IncrementalQuantile.processBatch(part(1), 1L, store, Seq("g"), "v")
    val v2 = IncrementalQuantile.processBatch(part(2), 2L, store, Seq("g"), "v")
      .select("g", "sk", "n")
    val oneShot = rows.groupBy("g")
      .agg(QuantileSketch.sketch(col("v")).as("sk"), count(col("v")).as("n"))
    assert(grids(v2) == grids(oneShot), "recovered store != one-shot sketch")
  }

  test("adversarial heavy-tail fixture: incremental store and window rollup carry the one-shot error envelope bit for bit") {
    // QuantileSketchSpec witnesses a NONZERO-error regime on the
    // one-shot sketch (all 65536 domain values present, Zipf mass →
    // structural Count-Min collisions). Grid adds are linear, so the
    // incremental store (q272's read path) and the merge rollup
    // (q273/q287's read path) must reproduce the SAME grid — any
    // divergence is a bug, and bit-identity transfers the witnessed
    // envelope to both paths verbatim. Both are asserted here, plus a
    // direct probe of the envelope through the STORE's grid.
    QuantileSketch.register(spark)
    val df = spark.range(65536).select(
      col("id").as("v"),
      explode(sequence(lit(1L),
        expr("greatest(1L, 2000L div (id + 1))"))).as("__rep"))
      .select(col("v"), lit("all").as("g")).repartition(8)
    val oneShot = df.groupBy("g")
      .agg(QuantileSketch.sketch(col("v")).as("sk"), count(col("v")).as("n"))
      .cache()
    // (a) incremental: the fixture split across 3 store batches
    val store = GraftSession.scratchDir("graft_incq_adv").toString
    def part(i: Int) = df.filter(pmod(col("v"), lit(3)) === i)
    IncrementalQuantile.processBatch(part(0), 0L, store, Seq("g"), "v")
    IncrementalQuantile.processBatch(part(1), 1L, store, Seq("g"), "v")
    val inc = IncrementalQuantile.processBatch(part(2), 2L, store, Seq("g"), "v")
      .select("g", "sk", "n").cache()
    assert(grids(inc) == grids(oneShot),
      "incremental store grid diverged from one-shot under the adversarial fixture")
    // (b) window rollup: 24 synthetic hour-grain sketches merged to the
    // day grain from SKETCH ROWS (q273's fold), never base data
    val rolled = df.withColumn("h", pmod(col("v"), lit(24)))
      .groupBy("g", "h")
      .agg(QuantileSketch.sketch(col("v")).as("sk"), count(col("v")).as("n"))
      .groupBy("g")
      .agg(QuantileSketch.merge(col("sk")).as("sk"), sum(col("n")).as("n"))
    assert(grids(rolled) == grids(oneShot),
      "merge rollup grid diverged from one-shot under the adversarial fixture")
    // direct envelope probe through the STORE grid: one-sided and
    // inside hashedLevels*n/width, same as the one-shot witness
    val cnt = new Array[Long](65536)
    df.groupBy("v").count().collect()
      .foreach(r => cnt(r.getLong(0).toInt) = r.getLong(1))
    val cum = cnt.scanLeft(0L)(_ + _).tail
    val n = cum.last
    val bound = 6L * n / 1024L
    val probes = Seq(0L, 63L, 1023L, 8191L, 65534L)
    val got = inc.select(probes.map(x =>
      QuantileSketch.rank(col("sk"), lit(x), col("n")).as(s"r$x")): _*).head
    val errs = probes.zipWithIndex.map { case (x, i) =>
      val est = got.getLong(i); val truth = cum(x.toInt)
      assert(est >= truth, s"store rank($x): $est under truth $truth")
      assert(est - truth <= bound, s"store rank($x): overcount ${est - truth} > $bound")
      est - truth
    }
    assert(errs.max > 0L, "store probes never overcounted — fixture left the error regime")
    oneShot.unpersist(); inc.unpersist()
  }
}
