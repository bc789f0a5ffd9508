package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.engine.{functions => F}
import graft.engine.expressions.{DotProduct, MinHashBands}
import graft.llm.{DedupOps, TextOps}

/** Kernel micro-harness (the `engine` layer): each custom kernel against
  * the built-in-expression form it replaced, on the same cached
  * `spark.range` rows. A kernel's rate is reported only after its output
  * is checked equal to the built-in form's on every row.
  */
object Kernels {

  /** `input` derives the kernel's columns from `spark.range(rows)`. */
  final case class Kernel(name: String, rows: Long, input: DataFrame => DataFrame,
                          kernel: Column, builtin: Column)

  /** Both forms rendered to one comparable value per row. */
  private def canon(c: Column): Column = c.cast("string")

  private def vec(seedScale: Double, phase: Double): Column =
    transform(sequence(lit(0), lit(63)), i => sin(col("id") * seedScale + i * phase))

  def kernels: Seq[Kernel] = Seq(
    Kernel("DotProduct", 200000L,
      _.select(vec(0.001, 1.0).as("a"), vec(0.002, 0.5).as("b")),
      DotProduct.dot(col("a"), col("b")), F.dotProduct(col("a"), col("b"))),
    {
      // One row per scored pair, each side's NAICS code encoded once as
      // the flow does; about 1 in 19 codes is short and 1 in 23 latitudes
      // is null, exercising the -1 hops and neutral geo branches.
      def code(k: Int) = when(col("id") % 19 === k, substring(md5((col("id") % 37 + k).cast("string")), 1, 5))
        .otherwise(substring(md5((col("id") % (37 + k)).cast("string")), 1, 6))
      def lat(k: Int) = when(col("id") % 23 === k, lit(null).cast("double"))
        .otherwise(((col("id") * (13 + k)) % 160 - 80 + 0.25).cast("double"))
      def lon(k: Int) = ((col("id") * (31 + k)) % 340 - 170 + 0.5).cast("double")
      val havs = F.haversineScore(col("lat_a"), col("lon_a"), col("lat_b"), col("lon_b"))
      Kernel("blendedScore", 1000000L,
        _.select(sin(col("id")).as("cos"),
          code(0).as("naics_a"), code(3).as("naics_b"),
          lat(0).as("lat_a"), lon(0).as("lon_a"), lat(5).as("lat_b"), lon(5).as("lon_b"))
          .withColumn("num_a", F.hopsCode(col("naics_a")))
          .withColumn("num_b", F.hopsCode(col("naics_b"))),
        F.blendedScore(col("cos"), F.hopsScoreHex(col("num_a"), col("num_b")), havs),
        F.blendedScore(col("cos"), F.hopsScore(col("naics_a"), col("naics_b")), havs))
    },
    {
      val (bands, perBand) = (4, 2)
      // The built-in form: one salted affine MinHash per array pass, each
      // re-hashing every shingle with md5 (DedupOps.lshCandidates' defaults).
      val mins = MinHashBands.hashParams(bands * perBand).map { case (a, b) =>
        array_min(transform(col("sh"), x =>
          (lit(a) * pmod(conv(substring(md5(x), 1, 15), 16, 10).cast("long"), lit(MinHashBands.P))
            + lit(b)) % lit(MinHashBands.P)))
      }
      val builtin = array((0 until bands).map { i =>
        when(size(col("sh")) === 0, lit(null).cast("string"))
          .otherwise(concat_ws("_", mins.slice(i * perBand, (i + 1) * perBand).map(_.cast("string")): _*))
      }: _*)
      Kernel("MinHashBands", 20000L,
        _.select(
          when(col("id") % 50 === 0, array().cast("array<string>"))
            .otherwise(transform(sequence(lit(0), lit(19)),
              i => concat((col("id") % 1000).cast("string"), lit("_"), ((col("id") + i) % 500).cast("string"))))
            .as("sh")),
        MinHashBands.bandSignatures(col("sh"), bands, perBand), builtin)
    })

  private def seconds(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }

  private def median(xs: Seq[Double]): Double = { val s = xs.sorted; s(s.size / 2) }

  /** Per kernel: rows/s of both forms (median of 3 after a warm-up) and
    * the count of rows on which they disagree.
    */
  def run(spark: SparkSession): String = {
    DotProduct.register(spark)
    MinHashBands.register(spark)
    Json.obj(kernels.map { k =>
      val in = k.input(spark.range(k.rows).toDF()).cache()
      in.count()
      val mismatches = in.filter(!(canon(k.kernel) <=> canon(k.builtin))).count()
      def rate(c: Column): Double = {
        def once(): Double = seconds(in.select(c.as("v")).write.format("noop").mode("overwrite").save())
        once()
        k.rows / median(Seq.fill(3)(once()))
      }
      val (kr, br) = if (mismatches == 0) (rate(k.kernel), rate(k.builtin)) else (Double.NaN, Double.NaN)
      in.unpersist(blocking = true)
      k.name -> Json.obj("rows_per_s" -> Json.num(kr), "builtin_rows_per_s" -> Json.num(br),
        "mismatches" -> mismatches.toString, "rows" -> k.rows.toString)
    }: _*)
  }

  /** LSH candidate pairs on the run's documents, and the share of them
    * whose verified Jaccard reaches the 0.5 near-dup threshold.
    */
  def lshStats(spark: SparkSession, inputs: String): String = {
    val sh = graft.queries.T(spark, inputs, "documents")
      .select(col("doc_id"), TextOps.shingles(TextOps.tokenize(col("text")), 2).as("sh"))
    val row = GraftSession.withQueryCaches(spark) {
      DedupOps.lshCandidates(sh, "doc_id", "sh")
        .agg(count(lit(1)), sum(when(col("jaccard") >= 0.5, 1L).otherwise(0L)))
        .head()
    }
    Json.obj("candidates" -> row.getLong(0).toString,
      "useful" -> Option(row.get(1)).map(_.toString).getOrElse("0"))
  }
}
