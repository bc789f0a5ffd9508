package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.io.StdIn

import org.apache.spark.BenchAccess
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry}
import graft.io.Sinks

/** The benchmark's JVM side: one session, driven pass by pass over stdin.
  *
  * It touches graft only through its public entry points: the session
  * comes from `GraftSession.builder`, each op is the query function
  * registered in `SparkEntry.queries`, and each result is written with
  * `io.Sinks.parquet` inside `GraftSession.withQueryCaches`. No JVM system
  * property is set, so the plans timed are the registered plans the oracle
  * gates.
  *
  * Commands (one per stdin line); each is answered by one `@@` line on
  * stdout carrying a JSON object:
  *   pass <id> <cold|timed|traced>   run the workload's ops once, in order
  *   census <id>                     run each `--census` op once
  *   end                             host context (+ kernels and LSH when
  *                                   traced), then stop the session
  *
  * Outputs of pass `id` go to `<work>/out/<id>/<op>`; the caller checks
  * and deletes them before its next command.
  */
object Main {

  final case class Opts(inputs: String, work: String, workload: String,
                        ops: Seq[String], cores: Int, trace: Boolean,
                        plant: Option[(String, String)], census: Seq[String])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def list(k: String) = m.get(k).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    Opts(m("inputs"), m("work"), m("workload"), list("ops"), m("cores").toInt,
      m.get("trace").contains("1"),
      m.get("plant").filter(_.nonEmpty).map { p => val Array(k, op) = p.split(":", 2); k -> op },
      list("census"))
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNanos(): Long = osBean.getProcessCpuTime

  /** Heap in use after a full collection, in MB. Spark's ContextCleaner
    * learns from a collection which broadcasts and shuffles no plan holds
    * any more and removes their blocks on its own thread, so the heap is
    * read after a second collection, once the cleaner has had time to run.
    */
  def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val fns = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    val allOps = (o.ops ++ o.census).distinct
    Files.writeString(Paths.get(o.work, "oracle_sql.json"), Json.obj(
      allOps.flatMap(op => oracles.get(op).map(op -> Json.str(_))): _*))

    val spark = GraftSession.builder(cores = o.cores)
      .appName(s"graft-bench-${o.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext

    // Paths the program may leave behind, relative to the work directory:
    // new entries of the temp directory (`tmp/` under it), and entries of the
    // work directory itself (Spark's cwd) apart from the harness's own.
    val tmpDir = new File(System.getProperty("java.io.tmpdir"))
    val workDir = new File(o.work)
    val ownEntries = Set("out", "spark-local", "warehouse", "tmp", "jvm.stderr",
      "oracle_sql.json", "spans.jsonl")
    def entries(d: File): Set[String] = Option(d.list()).map(_.toSet).getOrElse(Set.empty)
    val tmpBaseline = entries(tmpDir)
    def leftovers(): String = Json.arr(
      ((entries(tmpDir) -- tmpBaseline).map("tmp/" + _) ++
        (entries(workDir) -- ownEntries)).toSeq.sorted.map(Json.str): _*)

    val counters = new Counters
    val schedRec = new SchedulerRecorder(counters)
    val planRec = new PlanRecorder(counters)
    val spans = new Spans(o.workload)

    def storageMb(): Double =
      sc.getExecutorMemoryStatus.values.map { case (max, rem) => max - rem }.sum / 1e6

    def countersJson(): String =
      Json.obj(counters.snapshot().map { case (k, v) => k -> v.toString }.toSeq: _*)

    def opFn(op: String): (SparkSession, String) => DataFrame = {
      val fn = fns.getOrElse(op, throw new NoSuchElementException(s"no registered query $op"))
      o.plant match {
        case Some(("throw", `op`)) => (_, _) => throw new IllegalStateException(s"planted failure in $op")
        case Some(("wrong", `op`)) => (s, d) => { val df = fn(s, d); df.union(df.limit(1)) }
        case _ => fn
      }
    }

    /** Run one op: build its plan, then write it inside the cache scope. */
    def runOp(op: String, dir: String, traced: Boolean, passSpan: Long): String = {
      def span[T](name: String, parent: Long)(f: Long => T): T = spans.within(traced)(name, parent)(f)
      val t0 = System.nanoTime()
      var buildMs = 0.0
      val error: Option[Throwable] =
        try {
          span(s"op.$op", passSpan) { opSpan =>
            val df = span("build", opSpan) { _ =>
              sc.setLocalProperty(Recorder.PhaseKey, Recorder.BuildPhase)
              try opFn(op)(spark, o.inputs) finally sc.setLocalProperty(Recorder.PhaseKey, null)
            }
            buildMs = (System.nanoTime() - t0) / 1e6
            span("write", opSpan) { _ =>
              GraftSession.withQueryCaches(spark) { Sinks.parquet(df, dir) }
            }
          }
          None
        } catch { case e: Throwable => Some(e) }
      val secs = (System.nanoTime() - t0) / 1e9
      val base = Seq("name" -> Json.str(op), "dir" -> Json.str(dir), "s" -> Json.num(secs),
        "build_ms" -> Json.num(buildMs), "ok" -> Json.bool(error.isEmpty),
        "error" -> error.map(e => Json.str(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"))
          .getOrElse("null"))
      val layers = if (!traced) Nil else {
        BenchAccess.drainListenerBus(sc)
        Seq("counters" -> countersJson(),
          "join_rows" -> counters.takeMaxJoinRows().toString,
          "residual_mb" -> Json.num(storageMb()),
          "cache_entries" -> BenchAccess.cachedPlans(spark).toString)
      }
      Json.obj(base ++ layers: _*)
    }

    def runPass(id: String, kind: String): String = {
      val traced = kind == "traced"
      val startCounters = if (!traced) Nil else {
        sc.addSparkListener(schedRec)
        spark.listenerManager.register(planRec)
        BenchAccess.drainListenerBus(sc)
        counters.takeMaxJoinRows()
        Seq("start_counters" -> countersJson())
      }
      val poller = if (traced) Some(new Poller(storageMb)) else None
      spans.pass = id
      val cpu0 = cpuNanos()
      val t0 = System.nanoTime()
      val ops = spans.within(traced)("pass", -1L) { passSpan =>
        o.ops.map(op => runOp(op, s"${o.work}/out/$id/$op", traced, passSpan))
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (cpuNanos() - cpu0) / 1e9
      val peak = poller.map(_.stop()).getOrElse(0.0)
      if (traced) {
        BenchAccess.drainListenerBus(sc)
        spark.listenerManager.unregister(planRec)
        sc.removeSparkListener(schedRec)
      }
      val heap = retainedHeapMb()
      Json.obj(Seq("id" -> Json.str(id), "kind" -> Json.str(kind), "wall_s" -> Json.num(wall),
        "cpu_s" -> Json.num(cpu), "heap_mb" -> Json.num(heap),
        "storage_peak_mb" -> Json.num(peak),
        "leftovers" -> leftovers(),
        "ops" -> Json.arr(ops: _*)) ++ startCounters: _*)
    }

    /** Run each census op once, in the session the workload has warmed. */
    def runCensus(id: String): String = {
      val ops = o.census.map(op => runOp(op, s"${o.work}/out/$id/$op", traced = false, -1L))
      Json.obj("id" -> Json.str(id), "ops" -> Json.arr(ops: _*))
    }

    def end(): String = {
      val layers =
        if (!o.trace) Nil
        else Seq("kernels" -> Kernels.run(spark), "lsh" -> Kernels.lshStats(spark, o.inputs))
      spans.write(Paths.get(o.work, "spans.jsonl"))
      Json.obj(Seq(
        "leftovers" -> leftovers(),
        "cores" -> o.cores.toString,
        "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1e6),
        "jdk" -> Json.str(System.getProperty("java.version")),
        "spark" -> Json.str(spark.version),
        "cal" -> Json.num(Calibrator.md5FoldSeconds()))
        ++ layers: _*)
    }

    println("@@ready {}")
    var done = false
    while (!done) {
      val line = StdIn.readLine()
      val cmd = if (line == null) Array("end") else line.trim.split("\\s+")
      cmd match {
        case Array("pass", id, kind) => println(s"@@pass ${runPass(id, kind)}")
        case Array("census", id) => println(s"@@census ${runCensus(id)}")
        case Array("end") => println(s"@@end ${end()}"); done = true
        case other => System.err.println(s"[graftbench] unknown command: ${other.mkString(" ")}")
      }
      System.out.flush()
    }
    spark.stop()
  }
}

/** Samples block-manager storage in use until stopped; returns the peak. */
final class Poller(sample: () => Double) {
  @volatile private var running = true
  @volatile private var peak = 0.0
  private val t = new Thread(() => {
    while (running) { peak = math.max(peak, sample()); Thread.sleep(50) }
  }, "graftbench-storage-poller")
  t.setDaemon(true)
  t.start()
  def stop(): Double = { running = false; t.join(); math.max(peak, sample()) }
}

/** In-memory span log: name, start, end, parent, pass id and workload. */
final class Spans(workload: String) {
  import Spans.Span
  private val all = ArrayBuffer.empty[Span]
  /** The pass that spans opened from now on belong to. */
  var pass = ""

  /** Run `f` inside a span named `name` (passed its id), when `on`. */
  def within[T](on: Boolean)(name: String, parent: Long)(f: Long => T): T =
    if (!on) f(-1L)
    else {
      val s = Span(all.size.toLong, name, parent, pass, System.nanoTime(), -1L)
      all += s
      try f(s.id) finally s.end = System.nanoTime()
    }

  def write(path: java.nio.file.Path): Unit =
    Files.writeString(path, all.map { s =>
      Json.obj("id" -> s.id.toString, "name" -> Json.str(s.name), "parent" -> s.parent.toString,
        "pass" -> Json.str(s.pass), "workload" -> Json.str(workload),
        "start_ns" -> s.start.toString, "end_ns" -> s.end.toString)
    }.mkString("", "\n", "\n"))
}

object Spans {
  final case class Span(id: Long, name: String, parent: Long, pass: String,
                        start: Long, var end: Long)
}

/** Host-speed calibrator, the same deterministic single-core md5 fold
  * `graft.Bench` records: recorded beside every run, never used to drop or
  * rescale one.
  */
object Calibrator {
  def md5FoldSeconds(): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def run(): Double = {
      val t0 = System.nanoTime()
      var i = 0; var acc = 0L
      var buf = "graft-calibration-seed".getBytes("UTF-8")
      while (i < 300000) { buf = md.digest(buf); acc += buf(0); i += 1 }
      if (acc == Long.MinValue) println("")
      (System.nanoTime() - t0) / 1e9
    }
    run()
    Seq(run(), run(), run()).min
  }
}

/** Just enough JSON writing for the protocol lines. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: String*): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
