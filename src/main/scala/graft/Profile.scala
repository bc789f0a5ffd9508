package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.graftbridge.StageScope
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** One profiler for every registered query, on the session Bench and
  * Verify build (`GraftSession.builder`), and the one measured run that
  * Bench times the suite with ([[measure]]). Usage, from the repo root:
  *
  *   sbt "runMain graft.Profile <report> <sfDir> [options] [query ...]"
  *
  * Reports (all registered queries when none is named):
  *  - `summary` — per query, its [[Reading]]: min wall time, then the
  *    Spark jobs, stages and tasks, summed executor run/CPU/GC ms,
  *    shuffle read/write MB, spill MB and planning ms (analysis +
  *    optimization + physical planning of every action) of the min-wall
  *    rep, and the RDDs and storage the query left persisted. Job, stage
  *    and task counts are the steadier evidence: wall time on a shared
  *    host swings far more. They are not always the same in every rep
  *    (AQE may run an extra query-stage job), so each is shown as its
  *    min-max over the reps when the reps disagree;
  *  - `stages` — the summary plus the min-wall rep's per-stage table,
  *    costliest first, each stage named by the operator scopes of its
  *    last RDDs (`WholeStageCodegen (n) -> Exchange`, ...);
  *  - `action` — the formatted executed plan of the query's Nth action
  *    (a mid-loop round of an iterative op, not just its final frame);
  *  - `explain` — the formatted plan of the query's returned frame,
  *    without running it.
  *
  * Option: `--action N` (default 1). Every query has one plan, the one
  * Verify dumps and Bench times. Cores come from SPARK_GRAFT_CPUS (default
  * 4), as for Bench and Verify. `summary` and `stages` run Bench's
  * warm-up ([[warmUp]]) and protocol ([[measure]]).
  *
  * Scaled inputs: `Test/runMain graft.queries.ProfileScaling <src> <dst>
  * <copies>` writes a key-shifted sf dir; profile it like any other.
  */
object Profile {

  /** Runs per measured query, in Bench and in `summary`/`stages`. */
  val Reps = 3

  /** One completed stage's task metrics, named by the operator scopes
    * of its last RDDs ([[StageScope]]).
    */
  final case class Stage(id: Int, tasks: Int, runMs: Long, cpuMs: Long, gcMs: Long,
                         fetchWaitMs: Long, readB: Long, writeB: Long,
                         spillB: Long, name: String)

  /** What one run did: its Spark jobs, completed stages and planning ms. */
  final case class Counters(jobs: Int, stages: Seq[Stage], planMs: Long) {
    def tasks: Int = stages.map(_.tasks).sum
    def runMs: Long = stages.map(_.runMs).sum
    def cpuMs: Long = stages.map(_.cpuMs).sum
    def gcMs: Long = stages.map(_.gcMs).sum
    def readMB: Double = mb(stages.map(_.readB).sum)
    def writeMB: Double = mb(stages.map(_.writeB).sum)
    def spillMB: Double = mb(stages.map(_.spillB).sum)
  }

  /** A count's min and max over a query's reps. */
  final case class Span(min: Int, max: Int) {
    override def toString: String = if (min == max) s"$min" else s"$min-$max"
  }

  private def span(counts: Seq[Int]): Span = Span(counts.min, counts.max)

  /** One query's reading: the min wall seconds over [[Reps]] runs and
    * that run's counters; or, when a run throws, NaN seconds, the
    * failing run's counters and the failure. `reps` holds every run's
    * counters; the spans are their job, stage and task counts' min and
    * max. `rdds` and
    * `storageMB` are what stayed persisted after the query's cache scope
    * closed: a query that leaks shows here, and nothing sweeps it before
    * the next one.
    */
  final case class Reading(name: String, secs: Double, counters: Counters,
                           rdds: Int, storageMB: Double, failure: Option[Throwable],
                           reps: Seq[Counters]) {
    def jobSpan: Span = span(reps.map(_.jobs))
    def stageSpan: Span = span(reps.map(_.stages.size))
    def taskSpan: Span = span(reps.map(_.tasks))
  }

  /** Collects the scheduler and planner events of one measured run.
    * Events reach listeners asynchronously; [[drain]] runs a marker job
    * and waits for its end event, which the shared listener queue
    * delivers after every event of the measured run.
    */
  final class Recorder private[Profile] (sc: SparkContext) extends SparkListener
      with QueryExecutionListener {
    private val stages = new ConcurrentLinkedQueue[Stage]()
    private val plans = new ConcurrentLinkedQueue[QueryExecution]()
    @volatile private var jobs = 0
    @volatile private var planMs = 0L
    @volatile private var marker: Option[(Int, CountDownLatch)] = None
    private val MarkerKey = "graft.profile.marker"

    private[graft] def reset(): Unit = { stages.clear(); plans.clear(); jobs = 0; planMs = 0L }

    private[graft] def counters: Counters = Counters(jobs, stages.asScala.toSeq, planMs)

    /** The executed plans of the last run's actions, in order. */
    private[Profile] def actions: Seq[QueryExecution] = plans.asScala.toSeq

    private[graft] def drain(): Unit = {
      val done = new CountDownLatch(1)
      marker = Some((-1, done))
      sc.setLocalProperty(MarkerKey, "true")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(MarkerKey, null)
      require(done.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      marker = None
    }

    private def isMarker(props: java.util.Properties): Boolean =
      props != null && props.getProperty(MarkerKey) != null

    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (isMarker(e.properties)) marker = marker.map { case (_, l) => (e.jobId, l) }
      else jobs += 1

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      marker.foreach { case (id, l) => if (id == e.jobId) l.countDown() }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (!marker.exists(_._1 >= 0)) {
        val i = e.stageInfo
        val m = i.taskMetrics
        stages.add(Stage(i.stageId, i.numTasks, m.executorRunTime,
          m.executorCpuTime / 1000000, m.jvmGCTime, m.shuffleReadMetrics.fetchWaitTime,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.diskBytesSpilled, StageScope.label(i)))
      }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      planMs += qe.tracker.phases.values.map(_.durationMs).sum
      plans.add(qe)
    }

    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      planMs += qe.tracker.phases.values.map(_.durationMs).sum
  }

  /** Untimed warm-up before the first measured query, in Bench and in
    * `summary`/`stages`: tiny sf-independent plans over the parquet
    * reader, shuffle machinery and the JIT paths the suite leans on
    * (whole-stage codegen compile, WindowExec, broadcast and sort-merge
    * joins, object hash agg), so the first query named does not read JVM
    * and codegen start-up as query time. Queries still compile their own
    * codegen classes; this warms the compiler and executor hot loops.
    */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet").limit(10000).cache()
    li.groupBy("l_returnflag").count().collect()
    li.withColumn("rn", row_number().over(
      Window.partitionBy("l_returnflag").orderBy("l_orderkey")))
      .filter(col("rn") <= 5).count()
    val dim = li.select("l_returnflag").distinct()
    li.join(broadcast(dim), "l_returnflag").count()
    li.alias("a").join(li.alias("b"), Seq("l_orderkey")).count()
    li.unpersist()
    spark.catalog.clearCache()
  }

  /** Run `f` with a [[Recorder]] listening on `spark`, removed on exit. */
  def recording[T](spark: SparkSession)(f: Recorder => T): T = {
    val rec = new Recorder(spark.sparkContext)
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec)
    try f(rec)
    finally {
      spark.listenerManager.unregister(rec)
      spark.sparkContext.removeSparkListener(rec)
    }
  }

  /** The measured protocol, the same for every query: a `System.gc()`,
    * then [[Reps]] runs, each the query's `count()` inside
    * `withQueryCaches`; the reading keeps the min-wall run. The min of
    * adjacent runs strips one-sided host stalls while still counting
    * every scan, shuffle and codegen execution the plan does. The first
    * run that throws ends the query's measurement.
    */
  def measure(spark: SparkSession, rec: Recorder, name: String, fn: Bench.QueryFn,
              sfDir: String): Reading = {
    System.gc()
    var runs = List.empty[Reading]
    while (runs.size < Reps && runs.forall(_.failure.isEmpty)) runs ::= run(spark, rec, name, fn, sfDir)
    val best = runs.find(_.failure.isDefined).fold(runs.minBy(_.secs))(_.copy(secs = Double.NaN))
    val sc = spark.sparkContext
    // block-manager storage in use: cached RDD blocks plus live broadcasts
    val storageMB = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum / 1e6
    best.copy(rdds = sc.getPersistentRDDs.size, storageMB = storageMB,
      reps = runs.map(_.counters))
  }

  /** One run: the query's `count()` in a cache scope, read as its wall
    * seconds, counters and failure.
    */
  private def run(spark: SparkSession, rec: Recorder, name: String, fn: Bench.QueryFn,
                  sfDir: String): Reading = {
    rec.reset()
    val t0 = System.nanoTime()
    val failure =
      try { GraftSession.withQueryCaches(spark) { fn(spark, sfDir).count() }; None }
      catch { case e: Throwable => Some(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    rec.drain()
    val c = rec.counters
    Reading(name, wall, c, rdds = 0, storageMB = 0.0, failure, reps = Seq(c))
  }

  private final case class Opts(report: String, sfDir: String, queries: Seq[String],
                                cores: Int, action: Int)

  private def parse(args: Seq[String]): Opts = {
    val usage = "usage: graft.Profile summary|stages|action|explain <sfDir> " +
      "[--action N] [query ...]"
    require(args.length >= 2 && Set("summary", "stages", "action", "explain")(args.head), usage)
    def go(rest: List[String], o: Opts): Opts = rest match {
      case "--action" :: v :: t => go(t, o.copy(action = v.toInt))
      case flag :: _ if flag.startsWith("--") => throw new IllegalArgumentException(usage)
      case q :: t => go(t, o.copy(queries = o.queries :+ q))
      case Nil => o
    }
    go(args.drop(2).toList, Opts(args.head, args(1), Nil,
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, action = 1))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toSeq)
    val spark = GraftSession.builder(cores = o.cores)
      .appName("graft-profile").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (o.queries.nonEmpty) o.queries else SparkEntry.queries.keys.toSeq.sorted
    println(s"[profile] ${o.report} sf=${o.sfDir} cores=${o.cores}")
    if (o.report == "summary" || o.report == "stages") warmUp(spark, o.sfDir)
    recording(spark) { rec =>
      names.foreach { n =>
        val fn = SparkEntry.queries.getOrElse(n,
          throw new NoSuchElementException(s"no registered query $n"))
        o.report match {
          case "explain" =>
            println(s"\n========== $n ==========")
            try println(fn(spark, o.sfDir).queryExecution.explainString(FormattedMode))
            catch { case e: Throwable => failed(n, e) }
          case "action" =>
            run(spark, rec, n, fn, o.sfDir).failure.foreach(failed(n, _))
            val qes = rec.actions
            println(s"\n========== $n action ${o.action} of ${qes.size} ==========")
            qes.lift(o.action - 1).foreach(qe => println(qe.explainString(FormattedMode)))
          case report =>
            val r = measure(spark, rec, n, fn, o.sfDir)
            println(line(r))
            if (report == "stages") stageTable(r.counters)
        }
      }
    }
    spark.stop()
  }

  private def failed(name: String, e: Throwable): Unit =
    println(s"[profile] $name FAILED ${e.getClass.getName}: ${e.getMessage}")

  private def mb(bytes: Long): Double = bytes / 1e6

  /** A reading as one fixed-width line. */
  private def line(r: Reading): String = {
    val c = r.counters
    val outcome = r.failure.fold(f"wall=${r.secs}%7.2f s")(e =>
      s"FAILED ${e.getClass.getName}: ${e.getMessage}")
    f"[profile] ${r.name}%-28s $outcome jobs=${r.jobSpan}%4s stages=${r.stageSpan}%4s " +
      f"tasks=${r.taskSpan}%6s runMs=${c.runMs}%8d cpuMs=${c.cpuMs}%8d gcMs=${c.gcMs}%6d " +
      f"shuffleReadMB=${c.readMB}%8.1f shuffleWriteMB=${c.writeMB}%8.1f " +
      f"spillMB=${c.spillMB}%7.1f planMs=${c.planMs}%6d rdds=${r.rdds}%3d storageMB=${r.storageMB}%8.1f"
  }

  private def stageTable(c: Counters): Unit =
    c.stages.sortBy(-_.runMs).foreach { r =>
      println(f"[stages]   id=${r.id}%4d tasks=${r.tasks}%4d runMs=${r.runMs}%7d " +
        f"cpuMs=${r.cpuMs}%7d gcMs=${r.gcMs}%5d fetchWaitMs=${r.fetchWaitMs}%5d " +
        f"readMB=${mb(r.readB)}%7.1f writeMB=${mb(r.writeB)}%7.1f " +
        f"spillMB=${mb(r.spillB)}%6.1f  ${r.name.take(48)}")
    }
}
