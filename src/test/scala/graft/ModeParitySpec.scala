package graft

import org.apache.spark.sql.SparkSession

/** Every twin query (`QueryDef.twin`) returns the same rows in both plan
  * modes, so the production plan Bench times answers exactly what the
  * oracle gates on the exact plan Verify runs. A twin differs only in
  * float-addition order (~1e-16 relative) between its ordered fold and
  * its plain sums; this pins that the rounded output — ids, ranks,
  * scores — is identical row for row at test scale.
  *
  * The production side runs in its own session (`newSession`, same
  * SparkContext) with the mode set, so the shared test session never
  * flips. q313 builds the IVF index q314 probes, so the two run as an
  * ordered pair within each mode; the mode-marked index also keeps a
  * probe from reading an index built in the other mode.
  */
class ModeParitySpec extends SparkSuite {

  private lazy val production: SparkSession = {
    val s = spark.newSession()
    s.conf.set(GraftSession.ModeKey, GraftSession.Mode.production.toString)
    s
  }

  private def rows(s: SparkSession, name: String): Seq[String] =
    GraftSession.withQueryCaches(s) {
      SparkEntry.queries(name)(s, sf).collect().map(_.toString).toSeq.sorted
    }

  /** The first rows that differ, or None. */
  private def diff(exact: Seq[String], prod: Seq[String]): Option[String] =
    if (prod == exact) None
    else Some(s"${prod.diff(exact).take(3)} vs ${exact.diff(prod).take(3)}")

  private val ivfPair = Seq("q313_ivf_build", "q314_ivf_probe")

  test("production mode is session-scoped") {
    assert(GraftSession.production(production))
    assert(!GraftSession.production(spark))
  }

  for (q <- SparkEntry.allDefs.filter(_.twin).map(_.name).sorted if !ivfPair.contains(q))
    test(s"$q: production rows equal exact rows") {
      diff(rows(spark, q), rows(production, q)).foreach(d => fail(s"$q diverged: $d"))
    }

  test("q313/q314 serving pair: production rows equal exact rows") {
    val exact = ivfPair.map(rows(spark, _))
    val prod = ivfPair.map(rows(production, _))
    ivfPair.indices.foreach(i =>
      diff(exact(i), prod(i)).foreach(d => fail(s"${ivfPair(i)} diverged: $d")))
  }

  test("every registered query: production rows equal exact rows", SlowTest) {
    // catches a query that reads the mode without being flagged a twin;
    // a query that cannot run at test scale must fail the same way in both
    def outcome(s: SparkSession, q: String): Either[String, Seq[String]] =
      try Right(rows(s, q))
      catch { case e: Exception => Left(s"${e.getClass.getName}: ${e.getMessage}") }
    val diverged = SparkEntry.allDefs.map(_.name).sorted.flatMap { q =>
      (outcome(spark, q), outcome(production, q)) match {
        case (Right(e), Right(p)) => diff(e, p).map(d => s"$q: $d")
        case (e, p) if e == p => None
        case (e, p) => Some(s"$q: $e vs $p")
      }
    }
    assert(diverged.isEmpty, diverged.mkString("\n"))
  }
}
