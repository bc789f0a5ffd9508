package graft

import org.apache.spark.sql.functions.col

/** q13/q14's brand dimension writes `avg_retail`, the brand's mean
  * retail price at 4 dp. A floating-point mean that is an exact
  * x.xxxx5 tie (sf0.01's Brand#4: 950.59375) rounds up or down
  * depending on the order the partial sums merge in, so the output
  * followed the input's row order and file split. The mean is exact
  * now: the same half-up value under every order and partition count.
  */
class BrandMetaSpec extends SparkSuite {

  // 32 prices whose exact mean is 950.59375
  private val tieCents = Seq(92201, 99325, 91033, 94179, 91931, 98117, 97364,
    97737, 96219, 93439, 91537, 97993, 90464, 96386, 97090, 99952, 90034, 97297,
    94363, 93748, 99685, 91674, 95200, 90501, 90365, 90416, 98870, 90150, 96245,
    93548, 96915, 107922)

  test("avg_retail rounds a planted x.xxxx5 tie half-up under every row order and partition count") {
    import spark.implicits._
    assert(BigDecimal(tieCents.sum) / 3200 == BigDecimal("950.59375"))
    val orders = (0 until 20).map(k => new scala.util.Random(k).shuffle(tieCents))
    // the plant is order-sensitive in floating point: summing the same
    // prices in different orders lands on both sides of the tie
    val floatRounded = orders.map(o => BigDecimal(o.map(_ / 100.0).sum / o.size)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP))
    assert(floatRounded.distinct.size == 2, floatRounded.distinct)
    val saved = spark.conf.getOption("spark.sql.shuffle.partitions")
    try for (parts <- Seq(1, 4, 7); order <- orders.take(6)) {
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      val rows = order.map(c => ("Brand#4", c / 100.0)) ++
        Seq(("Brand#2", 1.0), ("Brand#2", 2.0), ("Brand#2", 2.0))
      val part = spark.sparkContext.parallelize(rows, parts).toDF("p_brand", "p_retailprice")
      val got = graft.queries.Reports.brandMeta(part)
        .select(col("p_brand"), col("n_parts"), col("avg_retail"))
        .as[(String, Long, Double)].collect().sortBy(_._1).toSeq
      assert(got == Seq(("Brand#2", 3L, 1.6667), ("Brand#4", 32L, 950.5938)),
        s"$parts partitions, order ${order.take(3)}: $got")
    } finally saved.fold(spark.conf.unset("spark.sql.shuffle.partitions"))(
      spark.conf.set("spark.sql.shuffle.partitions", _))
  }
}
