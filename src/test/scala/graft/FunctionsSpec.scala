package graft

import org.apache.spark.sql.functions._
import graft.engine.{functions => F}

class FunctionsSpec extends SparkSuite {
  import spark.implicits._

  private def eval1(c: org.apache.spark.sql.Column): Any =
    spark.range(1).select(c.as("v")).head.get(0)

  test("hopsScore: non-6-char code -> -1") {
    assert(eval1(F.hopsScore(lit("12345"), lit("123456"))) == -1.0)
    assert(eval1(F.hopsScore(lit("1234567"), lit("123456"))) == -1.0)
  }

  test("hopsScoreHex agrees with hopsScore on every input class, including NULL") {
    val cases = Seq(
      ("1a2b3c", "1a2b3c"),  // equal -> 1.0
      ("1a2b3c", "1a2b3d"),  // prefix 5 -> 0.8
      ("1a2b3c", "9a2b3c"),  // first char differs -> 0.0
      ("1a2b3",  "1a2b3c"),  // wrong length -> -1.0
      (null,     "1a2b3c"),  // null input -> CASE fall-through 0.0
      (null,     null))
    cases.foreach { case (a, b) =>
      val str = eval1(F.hopsScore(lit(a), lit(b)))
      val hex = eval1(F.hopsScoreHex(F.hopsCode(lit(a)), F.hopsCode(lit(b))))
      assert(hex == str, s"($a, $b): hex=$hex str=$str")
    }
    assert(eval1(F.hopsScoreHex(F.hopsCode(lit(null)), F.hopsCode(lit("1a2b3c")))) == 0.0)
    assert(eval1(F.hopsScoreHex(F.hopsCode(lit("1a2b3")), F.hopsCode(lit("1a2b3c")))) == -1.0)
  }

  test("hopsScore: first-char mismatch -> 0") {
    assert(eval1(F.hopsScore(lit("912345"), lit("123456"))) == 0.0)
  }

  test("hopsScore: full match -> 1") {
    assert(eval1(F.hopsScore(lit("123456"), lit("123456"))) == 1.0)
  }

  test("hopsScore: prefix-sensitive partial scores (defect d13 intended semantics)") {
    // common prefix l -> 1 - (6-l)*0.2
    assert(eval1(F.hopsScore(lit("123456"), lit("123459"))) == 1.0 - 1 * 2.0 / 10.0) // l=5
    assert(eval1(F.hopsScore(lit("123456"), lit("123999"))) == 1.0 - 3 * 2.0 / 10.0) // l=3
    assert(eval1(F.hopsScore(lit("123456"), lit("199999"))) == 1.0 - 5 * 2.0 / 10.0) // l=1
  }

  test("hopsScore is symmetric") {
    val a = eval1(F.hopsScore(lit("123456"), lit("123999"))).asInstanceOf[Double]
    val b = eval1(F.hopsScore(lit("123999"), lit("123456"))).asInstanceOf[Double]
    assert(a == b)
  }

  test("haversineScore: identical point -> 1.0") {
    val v = eval1(F.haversineScore(lit(40.0), lit(-74.0), lit(40.0), lit(-74.0)))
      .asInstanceOf[Double]
    assert(math.abs(v - 1.0) < 1e-12)
  }

  test("haversineScore: any null coordinate -> neutral 0.5") {
    val nullD = lit(null).cast("double")
    assert(eval1(F.haversineScore(nullD, lit(0.0), lit(1.0), lit(1.0))) == 0.5)
    assert(eval1(F.haversineScore(lit(0.0), lit(0.0), lit(1.0), nullD)) == 0.5)
  }

  test("haversineKm: known distance (London->Paris ~343km at R=6373)") {
    val v = eval1(F.haversineKm(lit(51.5074), lit(-0.1278), lit(48.8566), lit(2.3522)))
      .asInstanceOf[Double]
    assert(v > 330 && v < 350, s"got $v")
  }

  test("dot/l2/cosine on known vectors") {
    val df = Seq((Array(1.0f, 2.0f, 2.0f), Array(2.0f, 0.0f, 0.0f))).toDF("a", "b")
    val r = df.select(
      F.dotProduct(col("a"), col("b")).as("dot"),
      F.l2Norm(col("a")).as("na"),
      (F.dotProduct(col("a"), col("b")) /
        (F.l2Norm(col("a")) * F.l2Norm(col("b")))).as("cos")).head
    assert(r.getDouble(0) == 2.0)
    assert(r.getDouble(1) == 3.0)
    assert(math.abs(r.getDouble(2) - 2.0 / (3.0 * 2.0)) < 1e-12)
  }

  test("l2Normalize produces unit vectors") {
    val df = Seq(Tuple1(Array(3.0f, 4.0f))).toDF("a")
    val n = df.select(F.l2Norm(F.l2Normalize(col("a")))).head.getDouble(0)
    assert(math.abs(n - 1.0) < 1e-12)
  }

  test("blendedScore default weights sum correctly") {
    val v = eval1(F.blendedScore(lit(1.0), lit(1.0), lit(1.0))).asInstanceOf[Double]
    assert(math.abs(v - 1.0) < 1e-12)
    val cosOnly = eval1(F.blendedScore(lit(1.0), lit(0.0), lit(0.0))).asInstanceOf[Double]
    assert(math.abs(cosOnly - 0.6) < 1e-12)
  }

  test("jaroWinkler matches DuckDB jaro_winkler_similarity on pinned pairs") {
    import graft.engine.expressions.JaroWinkler
    JaroWinkler.register(spark)
    // Expected values computed with DuckDB's jaro_winkler_similarity —
    // the q167 oracle function. Exact double equality: the expression's
    // arithmetic order is pinned to produce identical IEEE results.
    val pinned = Seq(
      ("martha", "marhta", 0.9611111111111111),
      ("dwayne", "duane", 0.8400000000000001),
      ("dixon", "dicksonx", 0.8133333333333332),
      ("small ring", "small wing", 0.96),
      ("red widget", "red gadget", 0.895),
      ("blue bolt", "blue bell", 0.9111111111111111),
      ("crate", "trace", 0.7333333333333334), // boost-eligible but zero common prefix
      ("hot gear", "hot bear", 0.95),
      ("same", "same", 1.0),
      ("abc", "", 0.0),
      ("", "", 0.0))
    pinned.foreach { case (a, b, want) =>
      val got = eval1(JaroWinkler.jaroWinkler(lit(a), lit(b))).asInstanceOf[Double]
      assert(got == want, s"jw($a, $b): got $got want $want")
      val sym = eval1(JaroWinkler.jaroWinkler(lit(b), lit(a))).asInstanceOf[Double]
      assert(sym == want, s"jw($b, $a) not symmetric: $sym vs $want")
    }
  }

  test("graft_jaro_winkler is SQL-callable via GraftExtensions; null-safe") {
    val r = spark.sql(
      "SELECT graft_jaro_winkler('martha', 'marhta') AS s, " +
        "graft_jaro_winkler(CAST(NULL AS STRING), 'x') AS n").head
    assert(r.getDouble(0) == 0.9611111111111111)
    assert(r.isNullAt(1))
  }
}
