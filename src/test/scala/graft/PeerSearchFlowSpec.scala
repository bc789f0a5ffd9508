package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{functions => F}
import graft.engine.expressions.DotProduct
import graft.flows.PeerSearchFlow
import graft.ops.{Dedup, Indexing, Scale, TopK}
import graft.queries.T

/** PeerSearchFlow's one-pass plan (one eager scalar pass, literal
  * bounds, a key guard) against the flow as it was first written: an
  * eager median, `Dedup.firstPerKey`, a `withRowIndex` surrogate, two
  * nested `Scale.minmax` stats joins and an `idx` self-pair guard. The
  * fixtures plant the cases where the two could part: a dedup that moves
  * the bounds, a prospect dropped by the dedup, a median outside the
  * kept rows' range and a constant feature.
  */
class PeerSearchFlowSpec extends SparkSuite {
  import spark.implicits._

  private val segments = Seq("BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE")

  /** An sf dir holding only `customer.parquet` with these rows. */
  private def customerDir(rows: Seq[(Long, String, Int, java.lang.Double, String)]): String = {
    val dir = GraftSession.scratchDir("peer_flow").toString
    rows.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.parquet(s"$dir/customer.parquet")
    dir
  }

  private def name(k: Long): String = f"Customer#$k%09d"

  /** Dedup moves both acctbal bounds; a real row keyed -1 sorts before
    * `PROSPECT CO`, so the prospect's null is dropped and the median must
    * stay out of the bounds; c_nationkey is constant (f_nat = 0.5).
    */
  private lazy val droppedProspect = customerDir(
    (1L to 24L).map(k => (k, name(k), 7, Double.box(-400.0 + k * 37.25), segments((k % 5).toInt))) ++
      Seq((5L, "ZZ duplicate high", 7, Double.box(99999.0), "BUILDING"),
        (6L, "ZZ duplicate low", 7, Double.box(-99999.0), "HOUSEHOLD"),
        (-1L, "AAA REAL CO", 7, Double.box(123.5), "MACHINERY"),
        (30L, name(30), 7, null, "BUILDING"),
        (31L, null, 7, Double.box(10.0), "BUILDING")))

  /** The prospect is kept, and dropped duplicates pull the median above
    * every kept acctbal, so the imputed value widens the max.
    */
  private lazy val keptProspect = customerDir(
    (1L to 9L).map(k => (k, name(k), (k % 3).toInt, Double.box(k * 10.0), segments((k % 5).toInt))) ++
      (1L to 9L).map(k => (k, s"ZZ duplicate $k", 1, Double.box(1000.0 + k), "FURNITURE")))

  /** The flow as first written, kept as the oracle of its rewrite, with
    * the flow's blend weights (0.399 hops, 0.001 haversine), 15 peers per
    * target and a 0.0 score floor.
    */
  private def nestedMinmaxFlow(spark: SparkSession, sfDir: String): DataFrame = {
    DotProduct.register(spark)
    val raw = T(spark, sfDir, "customer")
      .filter(col("c_name").isNotNull && col("c_acctbal").isNotNull)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal").cast("double").as("acctbal"), col("c_mktsegment"))
    val prospect = spark.range(1).select(
      lit(-1L).as("c_custkey"), lit("PROSPECT CO").as("c_name"),
      lit(0).cast("int").as("c_nationkey"),
      lit(null).cast("double").as("acctbal"), lit("BUILDING").as("c_mktsegment"))
    val unioned = raw.unionByName(prospect)
    val med = unioned.agg(expr("percentile(acctbal, 0.5)")).head().getDouble(0)
    val imputed = unioned.withColumn("acctbal_imp", coalesce(col("acctbal"), lit(med)))
    val deduped = Dedup.firstPerKey(imputed, Seq("c_custkey"), Seq(col("c_name").asc))
    val indexed = Indexing.withRowIndex(deduped, "idx", Seq(col("c_custkey").asc))
      .repartition(spark.sessionState.conf.numShufflePartitions)
    val scaled = Scale.minmax(
      Scale.minmax(indexed, "acctbal_imp", "f_bal"), "c_nationkey", "f_nat")
      .withColumn("features", array(col("f_bal") * 0.8, col("f_nat") * 0.2))
    val geo = scaled
      .withColumn("lat", when(col("c_custkey") % 23 === 0, lit(null).cast("double"))
        .otherwise(((col("c_custkey") * 13) % 160 - 80 + lit(0.25)).cast("double")))
      .withColumn("lon", ((col("c_custkey") * 31) % 340 - 170 + lit(0.5)).cast("double"))
      .withColumn("naics", concat(substring(md5(col("c_mktsegment")), 1, 3),
        substring(md5(col("c_nationkey").cast("string")), 1, 3)))
      .withColumn("naics_num", F.hopsCode(col("naics")))
      .withColumn("nrm", sqrt(DotProduct.dot(col("features"), col("features"))))
      .withColumn("unit", when(col("nrm") === 0.0, col("features"))
        .otherwise(transform(col("features"), x => x / col("nrm"))))
    val tgt = geo.select(geo.columns.toSeq.map(c => col(c).as(s"t_$c")): _*)
    val src = geo.select(geo.columns.toSeq.map(c => col(c).as(s"s_$c")): _*)
    val pairs = tgt
      .join(src, col("t_c_nationkey") === col("s_c_nationkey") &&
        col("t_idx") =!= col("s_idx"))
      .select(col("t_c_custkey").as("tgt_custkey"), col("s_c_custkey").as("src_custkey"),
        round(F.blendedScore(
          DotProduct.dot(col("t_unit"), col("s_unit")),
          F.hopsScoreHex(col("t_naics_num"), col("s_naics_num")),
          F.haversineScore(col("t_lat"), col("t_lon"), col("s_lat"), col("s_lon")),
          0.399, 0.001), 6).as("score"))
    TopK.exactPerKey(pairs, Seq("tgt_custkey"),
        Seq(col("score").desc, col("src_custkey").asc), 15, "peer_rank")
      .filter(col("score") >= 0.0)
      .join(T(spark, sfDir, "customer")
        .select(col("c_custkey").as("src_custkey"), col("c_name").as("src_name"),
          col("c_mktsegment").as("src_segment")), Seq("src_custkey"))
      .withColumn("peer_rank", col("peer_rank").cast("int"))
      .select("tgt_custkey", "src_custkey", "score", "peer_rank", "src_name", "src_segment")
      .orderBy(col("tgt_custkey").asc, col("score").desc, col("src_custkey").asc)
  }

  private def withPartitions[A](n: Int)(f: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, n.toString)
    try f finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** The report's rows in a total order: the join-back repeats a peer
    * once per customer row of its key, and the report sort leaves those
    * copies unordered.
    */
  private def rowsOf(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  private def assertSameRows(dir: String): Seq[Row] = {
    val runs = Seq(1, 4, 7).map { n =>
      withPartitions(n) {
        val got = rowsOf(PeerSearchFlow.run(spark, dir))
        val want = rowsOf(nestedMinmaxFlow(spark, dir))
        assert(got == want, s"at $n shuffle partitions")
        got
      }
    }
    assert(runs.distinct.size == 1, "rows depend on the shuffle partition count")
    runs.head
  }

  test("dedup-moved bounds, a dropped prospect and a constant nation match the nested-minmax flow") {
    val rows = assertSameRows(droppedProspect)
    // the real -1 row won the dedup: the prospect, alone in nation 0,
    // would have no peers
    assert(rows.exists(r => r.getAs[Long]("src_custkey") == -1L &&
      r.getAs[String]("src_name") == "AAA REAL CO"))
    assert(rows.map(_.getAs[Long]("tgt_custkey")).distinct.size == 25)
  }

  test("a kept prospect whose median lies above every kept acctbal matches the nested-minmax flow") {
    val rows = assertSameRows(keptProspect)
    assert(rows.exists(_.getAs[Long]("tgt_custkey") == -1L))
  }
}
