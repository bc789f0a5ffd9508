package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.expressions.JaroWinkler
import graft.ops.EntityResolution
import graft.streaming.IncrementalEntityResolution

/** Streaming canonicalization must (a) keep admitted canonicals
  * mutually below the match threshold inside a block/band, (b) map
  * every arrived name to exactly one stable canonical, (c) replay
  * byte-identically, (d) reproduce the batch canonicalize when the
  * whole stream is one batch, and (e) survive compaction unchanged.
  */
class IncrementalErSpec extends SparkSuite {
  import spark.implicits._

  private val cfg = IncrementalEntityResolution.Config(
    threshold = 0.86, maxLenDiff = 3, blkBuckets = 8)

  /** Part-name vocabulary plus PLANTED variants: a one-char suffix per
    * selected name ("small ring" -> "small ringx") so cross-batch
    * fuzzy matches exist by construction.
    */
  private def names: DataFrame = {
    val base = spark.read.parquet(s"$sf/part.parquet").select(col("p_name")).distinct()
    val variants = base.filter(length(col("p_name")) % 2 === 0)
      .select(concat(col("p_name"), lit("x")).as("p_name"))
    base.unionByName(variants)
  }

  private def img(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.toString)

  test("incremental ER: stable mappings, separated canonicals, replay-identical") {
    val store = GraftSession.scratchDir("inc_er").toString
    val all = names.cache()
    val slices = Seq(
      all.filter(pmod(xxhash64(col("p_name")), lit(3)) === 0),
      all.filter(pmod(xxhash64(col("p_name")), lit(3)) === 1),
      all.filter(pmod(xxhash64(col("p_name")), lit(3)) === 2))
    slices.zipWithIndex.foreach { case (s, i) =>
      IncrementalEntityResolution.processBatch(s, i, "p_name", store, cfg)
    }
    val before = img(IncrementalEntityResolution.resolve(spark, store))
    // crash-replay the last batch -> identical store
    IncrementalEntityResolution.processBatch(
      slices.last, slices.size - 1, "p_name", store, cfg)
    assert(img(IncrementalEntityResolution.resolve(spark, store)) == before)

    val m = IncrementalEntityResolution.resolve(spark, store).cache()
    // every arrived name mapped exactly once
    assert(m.count() == all.count())
    assert(m.select("name").distinct().count() == m.count())
    // every canonical target is itself admitted as a canonical
    val canon = IncrementalEntityResolution.canonicals(spark, store).cache()
    assert(m.join(canon.select(col("name").as("canonical")), Seq("canonical"), "left_anti")
      .count() == 0)
    // ADMISSION INVARIANT: no two canonicals in the same block and
    // length band at or above the threshold
    JaroWinkler.register(spark)
    val c = canon.select(col("name"))
    val close = c.alias("a").join(c.alias("b"),
        substring(col("a.name"), 1, 1) === substring(col("b.name"), 1, 1) &&
          col("a.name") < col("b.name") &&
          abs(length(col("a.name")) - length(col("b.name"))) <= cfg.maxLenDiff &&
          JaroWinkler.jaroWinkler(col("a.name"), col("b.name")) >= cfg.threshold)
    assert(close.count() == 0, "two admitted canonicals match each other")
    // planted variants resolve AWAY from themselves when their source
    // was admitted first (cross-batch fuzzy match pressure exists)
    assert(m.filter(col("name") =!= col("canonical")).count() > 0)
  }

  test("single-batch stream == batch canonicalize; re-arrival writes nothing new") {
    val store = GraftSession.scratchDir("inc_er_one").toString
    val all = names.cache()
    IncrementalEntityResolution.processBatch(all, 0, "p_name", store, cfg)
    val streamed = img(IncrementalEntityResolution.resolve(spark, store))
    val entities = all.select(col("p_name").as("name"))
    val pairs = EntityResolution.blockedFuzzyPairs(
      entities, "name", substring(col("name"), 1, 1), cfg.threshold, cfg.maxLenDiff)
    val batch = img(EntityResolution.canonicalize(entities, "name", pairs))
    assert(streamed == batch)
    // re-arrival of already-decided names: the new batch adds no rows
    IncrementalEntityResolution.processBatch(all.limit(20), 1, "p_name", store, cfg)
    assert(img(IncrementalEntityResolution.resolve(spark, store)) == streamed)
  }

  test("compaction preserves resolve/canonicals; folded batch replay fails fast") {
    val store = GraftSession.scratchDir("inc_er_cmp").toString
    val all = names.cache()
    val s0 = all.filter(pmod(xxhash64(col("p_name")), lit(2)) === 0)
    val s1 = all.filter(pmod(xxhash64(col("p_name")), lit(2)) === 1)
    IncrementalEntityResolution.processBatch(s0, 0, "p_name", store, cfg)
    IncrementalEntityResolution.processBatch(s1, 1, "p_name", store, cfg)
    val before = (img(IncrementalEntityResolution.resolve(spark, store)),
      img(IncrementalEntityResolution.canonicals(spark, store)))
    IncrementalEntityResolution.compact(spark, store)
    assert((img(IncrementalEntityResolution.resolve(spark, store)),
      img(IncrementalEntityResolution.canonicals(spark, store))) == before)
    // a third batch on top of the generation still resolves consistently
    IncrementalEntityResolution.processBatch(
      Seq("small ringx2").toDF("p_name"), 2, "p_name", store, cfg)
    val m = IncrementalEntityResolution.resolve(spark, store)
    assert(m.count() == before._1.size + 1)
    // replaying a batch the generation folded must fail fast
    intercept[IllegalStateException] {
      IncrementalEntityResolution.processBatch(s0, 0, "p_name", store, cfg)
    }
  }
}
