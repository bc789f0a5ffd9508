package graft

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.llm.{SimSearch, SparseSim}
import graft.ops.ExactSum

/** A plain double sum depends on the order its terms are added in, so a
  * partial-aggregated mean or dot product followed the input's row order
  * and the shuffle's partitioning. [[graft.ops.ExactSum]] sums scaled
  * integers instead, and every reduction built on it gives the same rows
  * under every row order and partition count: the sparse cosine join
  * (q120), the Lloyd bucket means (the q43 family, q186) and the PQ
  * codebook means (q101, q102, q159). The queries that use them are
  * checked at 1 and 7 shuffle partitions.
  */
class ExactSumSpec extends SparkSuite {

  private val Partitions = "spark.sql.shuffle.partitions"

  private def withPartitions[T](n: Int)(f: => T): T = {
    val saved = spark.conf.getOption(Partitions)
    spark.conf.set(Partitions, n.toString)
    try f finally saved.fold(spark.conf.unset(Partitions))(spark.conf.set(Partitions, _))
  }

  /** `f`'s sorted rows over `src` in 6 seeded row orders × 1, 4 and 7
    * input and shuffle partitions.
    */
  private def outcomes(src: DataFrame)(f: DataFrame => DataFrame): Seq[Seq[String]] = {
    val rows = src.collect().toSeq
    for (parts <- Seq(1, 4, 7); k <- 0 until 6) yield withPartitions(parts) {
      val in = spark.createDataFrame(
        spark.sparkContext.parallelize(new Random(k).shuffle(rows), parts), src.schema)
      GraftSession.withQueryCaches(spark) {
        f(in).collect().map(_.toString).toSeq.sorted
      }
    }
  }

  private def assertOneOutcome(runs: Seq[Seq[String]]): Unit = {
    assert(runs.head.nonEmpty)
    val distinct = runs.distinct
    if (distinct.size > 1)
      fail(s"${distinct.size} outcomes, e.g. ${distinct(0).diff(distinct(1)).take(2)}")
  }

  /** Whether summing `xs` in 6 seeded orders lands on more than one double. */
  private def orderSensitive(xs: Seq[Double]): Boolean =
    (0 until 6).map(k => new Random(k).shuffle(xs).sum).distinct.size > 1

  // 40 terms in [-1, 1): the planted group
  private val terms = { val r = new Random(7); Seq.fill(40)(r.nextDouble() * 2 - 1) }

  private lazy val unitEmb = SimSearch.unitized(
    spark.read.parquet(s"$sf/embeddings.parquet"), "vec_id", "embedding", "vec_id", "__ne")

  test("ExactSum: one sum under every row order and partition count; a plain sum varies") {
    import spark.implicits._
    assert(orderSensitive(terms))
    val scale = math.pow(2, ExactSum.Bits)
    val expected = terms.map(x => math.floor(x * scale).toLong).sum / scale
    val runs = outcomes(terms.map(x => ("g", x)).toDF("g", "x"))(
      _.groupBy("g").agg(ExactSum(col("x")).as("s")))
    assertOneOutcome(runs)
    assert(runs.head == Seq(Row("g", expected).toString))
    val plain = outcomes(terms.map(x => ("g", x)).toDF("g", "x"))(
      _.groupBy("g").agg(sum(col("x")).as("s")))
    assert(plain.distinct.size > 1)
  }

  test("ExactSum: a group past the overflow bound fails loudly") {
    import spark.implicits._
    val big = Seq.fill(4)(("g", 1.5e9)).toDF("g", "x")
    val e = intercept[Exception](big.groupBy("g").agg(ExactSum(col("x"))).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ArithmeticException]), e)
  }

  test("SparseSim.idfCosineJoin: same rows under every row order and partition count") {
    import graft.queries.Retrieval.{SimGramN, SimMaxDf, SimMinSim}
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    assertOneOutcome(outcomes(docs)(
      SparseSim.idfCosineJoin(_, "doc_id", "text", SimGramN, SimMaxDf, SimMinSim)))
    // partial aggregation only: no per-group array materialization
    val plan = SparseSim.idfCosineJoin(docs, "doc_id", "text", SimGramN, SimMaxDf,
      SimMinSim).queryExecution.optimizedPlan.toString
    assert(!plan.contains("collect_list") && !plan.contains("array_sort"), plan.take(1500))
  }

  test("SimSearch.bucketMeans: same centroids under every row order and partition count") {
    val assigned = unitEmb.withColumn("bucket", col("vec_id") % 4)
    val firstComponents = assigned.filter(col("bucket") === 1)
      .select(element_at(col("__ne"), 1)).collect().map(_.getDouble(0)).toSeq
    assert(orderSensitive(firstComponents))
    assertOneOutcome(outcomes(assigned)(SimSearch.bucketMeans))
  }

  test("SimSearch.pqTrainBooks: same codebooks under every row order and partition count") {
    assertOneOutcome(outcomes(unitEmb) { c =>
      val subs = SimSearch.pqSubSplit(c, "vec_id", "__ne", nSub = 8, subDim = 8).cache()
      SimSearch.pqTrainBooks(c, subs, "vec_id", nSub = 8, subDim = 8, nCodes = 16, iters = 2)
    })
  }

  private def rows(name: String): Seq[String] =
    GraftSession.withQueryCaches(spark) {
      SparkEntry.queries(name)(spark, sf).collect().map(_.toString).toSeq.sorted
    }

  private val ivfPair = Seq("q313_ivf_build", "q314_ivf_probe")

  for (q <- Seq("q101_pq_ann", "q102_pq_rerank", "q120_sparse_sim_join", "q159_ivfpq_ann",
      "q160_filtered_ann", "q165_split_aware_ann", "q186_class_separation", "q226_hits",
      "q43_ivf_ann"))
    test(s"$q: same rows at 1 and 7 shuffle partitions") {
      val one = withPartitions(1)(rows(q))
      assert(one.nonEmpty)
      assert(withPartitions(7)(rows(q)) == one)
    }

  test("q313/q314 serving pair: same rows at 1 and 7 shuffle partitions") {
    val one = withPartitions(1)(ivfPair.map(rows))
    assert(withPartitions(7)(ivfPair.map(rows)) == one)
  }
}
