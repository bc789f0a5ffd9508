package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The run harness: one session factory, one scratch root, the
  * steady-state store helper, Bench's measured run — its counters,
  * their repeatability and its handling of a failing query — and
  * Verify's handling of a failing query.
  */
class HarnessSpec extends SparkSuite {

  // The source scans split their literals so this file does not match itself.
  private def scalaFiles(root: String): Seq[Path] = Files.walk(Paths.get(root)).iterator().asScala
    .filter(_.toString.endsWith(".scala")).toSeq
  private def containing(paths: Seq[Path], s: String): Seq[String] =
    paths.filter(p => Files.readString(p).contains(s)).map(_.getFileName.toString)

  /** Public names in `src/main` that no other `src/main` file and no
    * perfbench harness file references, each with the reason it stays.
    * Keying an object keeps its defs too. A spec is never the reason:
    * code that only specs reach is deleted with them.
    */
  private val Keep: Map[String, String] = Map(
    "Sources" -> "SURVEY §2.1 S1–S4: the reference's CSV/parquet ingest and latest-snapshot read",
    "AlsPipeline.percentRankRating" ->
      "SURVEY W1: the reference's percent_rank rating (recommender_prod_rec.py:171,175)",
    "AlsPipeline.gridSearch" ->
      "SURVEY §6 ALS budget: the reference's rank/regParam grid (recommender_prod_rec.py:244-246)",
    "AlsPipeline.evalRmse" -> "SURVEY M11: the reference's RMSE evaluation (recommender_prod_rec.py:234-241)",
    "AlsPipeline.recommendations" ->
      "SURVEY M12: the recommendForAllUsers output the reference consumes (recommender_prod_rec.py:261-269)",
    "SkewProfile.invalidate" -> "clears the profile cache, so OpsSpec reads a cold profile after a warm one")

  /** Each source file under `root` with its comments stripped. */
  private def code(root: String): Seq[(Path, String)] = scalaFiles(root)
    .map(p => p -> Files.readString(p).replaceAll("(?s)/\\*.*?\\*/|//[^\n]*", ""))

  test("reachability: every public object and def in src/main is referenced outside its file, or kept with a reason") {
    // Roots: SparkEntry's registry and GraftExtensions' registrations
    // (both src/main), the mains, and the perfbench harness, which
    // compiles against graft's public API. Specs do not count.
    val main = code("src/main")
    val harness = code("perfbench/harness/src")
    assert(main.size > 100 && harness.nonEmpty, "expected src/main and perfbench/harness/src")
    val ident = "\\w+".r
    val filesOf: Map[String, Set[Path]] = (main ++ harness)
      .flatMap { case (p, s) => ident.findAllIn(s).toSet.map((w: String) => w -> p) }
      .groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap
    val top = "(?m)^(private\\[\\w+\\] )?(?:final |sealed |abstract |case )*(object|class|trait) (\\w+)".r
    val member = "(?m)^  (private\\[\\w+\\] )?(?:final |implicit |@\\w+ )*def (\\w+)".r
    val unreached = for {
      (p, s) <- main
      tops = top.findAllMatchIn(s).toSeq
      (o, end) <- tops.zip(tops.drop(1).map(_.start) :+ s.length)
      body = s.substring(o.start, end)
      if o.group(2) == "object" && !body.contains("def main(")
      obj = o.group(3)
      // a def inside a package-private object is package-private too
      (qualified, name, key) <- (Option(o.group(1)), obj, obj) +: member.findAllMatchIn(body)
        .map(d => (Option(d.group(1)).orElse(Option(o.group(1))), d.group(2), s"$obj.${d.group(2)}")).toSeq
      if !filesOf(name).exists(_ != p)
      // package-private names may be reached from their own file
      if qualified.isEmpty || ident.findAllIn(s).count(_ == name) < 2
    } yield key
    val uncovered = unreached.filterNot(k => Keep.contains(k) || Keep.contains(k.takeWhile(_ != '.')))
    assert(uncovered.isEmpty,
      s"no reference outside its own file (delete it, narrow it, or keep-list it with a reason): ${uncovered.mkString(", ")}")
    val stale = Keep.keySet -- unreached
    assert(stale.isEmpty, s"keep-list entries that are now referenced, or gone: ${stale.mkString(", ")}")
    val specOnly = Keep.filter(_._2.startsWith("test-only")).keys
    assert(specOnly.isEmpty, s"kept only for specs (delete them with their cases): ${specOnly.mkString(", ")}")
  }

  test("scaladoc links: every [[X]] or [[X.y]] in src/main names a declaration in src/main") {
    // Lowercase qualifiers before the last segment are package names;
    // every other segment must be declared in comment-stripped code.
    val declared = code("src/main")
      .flatMap { case (_, s) => "\\b(?:object|class|trait|def|val|var|type)\\s+(\\w+)".r
        .findAllMatchIn(s).map(_.group(1)) }.toSet
    val links = scalaFiles("src/main")
      .flatMap(p => "\\[\\[([\\w.]+)\\]\\]".r.findAllMatchIn(Files.readString(p))
        .map(m => p.getFileName.toString -> m.group(1)))
    assert(links.size > 100, "expected scaladoc links in src/main")
    val dangling = links.filter { case (_, link) =>
      val segs = link.split('.')
      segs.zipWithIndex.exists { case (x, i) =>
        (i == segs.length - 1 || x.head.isUpper) && !declared.contains(x) }
    }.distinct
    assert(dangling.isEmpty,
      s"links to no declaration: ${dangling.map { case (f, l) => s"$f: [[$l]]" }.mkString(", ")}")
  }

  test("one session factory: no other SparkSession builder, no plan-mode system property") {
    val sources = scalaFiles("src")
    assert(sources.size > 100, "expected to scan the repository's src/ tree")
    assert(containing(sources, "SparkSession" + ".builder()") == Seq("GraftSession.scala"))
    assert(containing(sources, "graft.bench" + ".production").isEmpty)
    // one plan per query: no plan-mode conf and no exact/production fork
    for (fork <- Seq("spark.graft" + ".mode", "GraftSession" + ".production",
        "exact" + "Rounding", "exact" + "Fold"))
      assert(containing(sources, fork).isEmpty, fork)
  }

  test("one scratch root and one listener: no other temp directory, no second SparkListener") {
    assert(containing(scalaFiles("src"), "createTemp" + "Directory") == Seq("GraftSession.scala"))
    val listener = "extends " + "SparkListener"
    val main = scalaFiles("src/main")
    assert(main.map(p => Files.readString(p).split(listener, -1).length - 1).sum == 1)
    assert(containing(main, listener) == Seq("Profile.scala"))
    val d = GraftSession.scratchDir("harness_spec")
    assert(Files.isDirectory(d) && d.getFileName.toString.startsWith("harness_spec"))
    assert(d.getParent.getParent == Paths.get(System.getProperty("java.io.tmpdir")))
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
    val c = res.head.counters
    assert(c.jobs > 0 && c.stages.nonEmpty && c.tasks > 0, c)
    assert(res(1).failure.map(_.getClass).contains(classOf[IllegalStateException]))
    val (line, full) = Bench.report(res, cal = 0.05, sfDir = sf)
    for (json <- Seq(line, full)) {
      assert(json.contains(""""failed":{"q_boom":"java.lang.IllegalStateException"}"""), json)
      assert(!json.contains(""""q_boom":0"""), json)
    }
    assert(line.contains(f""""value":${res.head.secs}%.3f,"""), line)
    assert(full.contains(s""""readings":{"q_ok":{"wall_s":${res.head.secs},"jobs":${c.jobs},"""), full)
  }

  test("Verify: a throwing query is named among the failures and the dump still completes") {
    val ok: Bench.QueryFn = (s, d) => queries.T(s, d, "nation")
    val boom: Bench.QueryFn = (_, _) => throw new IllegalStateException("planted")
    val out = GraftSession.scratchDir("harness_verify")
    val failed = Verify.dump(spark, sf, out.toString, Seq("q_boom" -> boom, "q_ok" -> ok))
    assert(failed == Seq("q_boom"))
    assert(Files.isDirectory(out.resolve("q_ok")) && !Files.exists(out.resolve("q_boom")))
    assert(Files.readString(out.resolve("oracle_sql.json")).contains("\"q01_pricing_summary\""))
  }

  test("measured run: job, stage and task counts repeat exactly across two readings") {
    val q = "q01_pricing_summary"
    def counts(): (Int, Int, Int) = {
      val r = Profile.recording(spark)(Profile.measure(spark, _, q, SparkEntry.queries(q), sf))
      assert(r.failure.isEmpty, r)
      (r.counters.jobs, r.counters.stages.size, r.counters.tasks)
    }
    val first = counts()
    assert(first._1 > 0 && first._2 > 0 && first._3 > 0, first)
    assert(counts() == first)
  }
}
