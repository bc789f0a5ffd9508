package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The run harness: one session factory, the steady-state store helper
  * and Bench's handling of a failing query.
  */
class HarnessSpec extends SparkSuite {

  test("one session factory: no other SparkSession builder, no plan-mode system property") {
    // split literals so this file does not match itself
    val builder = "SparkSession" + ".builder()"
    val property = "graft.bench" + ".production"
    val sources = Files.walk(Paths.get("src")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.size > 100, "expected to scan the repository's src/ tree")
    def containing(s: String): Seq[Path] = sources.filter(p => Files.readString(p).contains(s))
    assert(containing(builder).map(_.getFileName.toString) == Seq("GraftSession.scala"))
    assert(containing(property).isEmpty)
  }

  test("steady-state store: versions 0-1 build once per (query, dir), batch 2 on every call") {
    val batches = ArrayBuffer.empty[(String, Long)]
    def record(store: String, i: Long): Unit = batches += ((store, i))
    val a = GraftSession.steadyStateStore("harness_spec", "d1")(record)
    val b = GraftSession.steadyStateStore("harness_spec", "d1")(record)
    assert(a == b && batches.toSeq == Seq(a -> 0L, a -> 1L, a -> 2L, a -> 2L))
    val c = GraftSession.steadyStateStore("harness_spec", "d2")(record)
    val root = Paths.get(a).getParent
    assert(c != a && Paths.get(c).getParent == root)
    assert(root.getParent == Paths.get(System.getProperty("java.io.tmpdir")))
  }

  test("steady-state store: a repeated store query returns the first call's rows") {
    def rows(): Seq[String] = GraftSession.withQueryCaches(spark) {
      SparkEntry.queries("q301_cusum_store")(spark, sf).collect().map(_.toString).toSeq.sorted
    }
    val first = rows()
    assert(first.nonEmpty)
    assert(rows() == first)
  }

  test("Bench: a throwing query is listed under failed and left out of the total") {
    val ok: Bench.QueryFn = (s, d) => queries.T(s, d, "nation")
    val boom: Bench.QueryFn = (_, _) => throw new IllegalStateException("planted")
    val res = Bench.timeAll(spark, sf, Seq("q_ok" -> ok, "q_boom" -> boom))
    assert(res.map(_.name) == Seq("q_ok", "q_boom"))
    assert(res.head.failure.isEmpty && res.head.secs > 0)
    assert(res(1).failure.map(_.getClass).contains(classOf[IllegalStateException]))
    val (line, full) = Bench.report(res, cal = 0.05, sfDir = sf)
    for (json <- Seq(line, full)) {
      assert(json.contains(""""failed":{"q_boom":"java.lang.IllegalStateException"}"""), json)
      assert(!json.contains(""""q_boom":0"""), json)
    }
    assert(line.contains(f""""value":${res.head.secs}%.3f,"""), line)
  }
}
