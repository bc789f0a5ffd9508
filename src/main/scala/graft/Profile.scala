package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** One profiler for every registered query, on the session Bench and
  * Verify build (`GraftSession.builder`). Usage, from the repo root:
  *
  *   sbt "runMain graft.Profile <report> <sfDir> [options] [query ...]"
  *
  * Reports (all registered queries when none is named):
  *  - `summary` — per query and rep: wall time, Spark jobs, stages and
  *    tasks, summed executor run/CPU/GC ms, shuffle read/write MB, spill
  *    MB and planning ms (analysis + optimization + physical planning
  *    of every action). Job, stage and task counts are the noise-free
  *    evidence: wall time on a shared host swings far more;
  *  - `stages` — the last rep's per-stage table, costliest first;
  *  - `action` — the formatted executed plan of the query's Nth action
  *    (a mid-loop round of an iterative op, not just its final frame);
  *  - `explain` — the formatted plan of the query's returned frame,
  *    without running it.
  *
  * Options: `--mode exact|production` (default exact, what Verify runs;
  * Bench runs production — the two differ only for twin queries) and
  * `--action N` (default 1). Cores come from SPARK_GRAFT_CPUS (default
  * 4), as for Bench and Verify. `summary` and `stages` run 2 reps, each
  * the query's `count()` inside `withQueryCaches` — Bench's min-of-2
  * protocol.
  *
  * Scaled inputs: `Test/runMain graft.queries.ProfileScaling <src> <dst>
  * <copies>` writes a key-shifted sf dir; profile it like any other.
  */
object Profile {

  private final case class Opts(report: String, sfDir: String, queries: Seq[String],
                                mode: GraftSession.Mode.Value, cores: Int, action: Int)

  private val Reps = 2

  private def parse(args: Seq[String]): Opts = {
    val usage = "usage: graft.Profile summary|stages|action|explain <sfDir> " +
      "[--mode exact|production] [--action N] [query ...]"
    require(args.length >= 2 && Set("summary", "stages", "action", "explain")(args.head), usage)
    def go(rest: List[String], o: Opts): Opts = rest match {
      case "--mode" :: v :: t => go(t, o.copy(mode = GraftSession.Mode.withName(v)))
      case "--action" :: v :: t => go(t, o.copy(action = v.toInt))
      case flag :: _ if flag.startsWith("--") => throw new IllegalArgumentException(usage)
      case q :: t => go(t, o.copy(queries = o.queries :+ q))
      case Nil => o
    }
    go(args.drop(2).toList, Opts(args.head, args(1), Nil, GraftSession.Mode.exact,
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, action = 1))
  }

  /** One completed stage's task metrics. */
  private final case class Stage(id: Int, tasks: Int, runMs: Long, cpuMs: Long, gcMs: Long,
                                 fetchWaitMs: Long, readB: Long, writeB: Long,
                                 spillB: Long, name: String)

  /** Collects the scheduler and planner events of one measured run.
    * Events reach listeners asynchronously; [[drain]] runs a marker job
    * and waits for its end event, which the shared listener queue
    * delivers after every event of the measured run.
    */
  private final class Recorder(sc: SparkContext) extends SparkListener
      with QueryExecutionListener {
    val stages = new ConcurrentLinkedQueue[Stage]()
    val plans = new ConcurrentLinkedQueue[QueryExecution]()
    @volatile var jobs = 0
    @volatile var planMs = 0L
    @volatile private var marker: Option[(Int, CountDownLatch)] = None
    private val MarkerKey = "graft.profile.marker"

    def reset(): Unit = { stages.clear(); plans.clear(); jobs = 0; planMs = 0L }

    def drain(): Unit = {
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
          m.diskBytesSpilled, i.name))
      }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      planMs += qe.tracker.phases.values.map(_.durationMs).sum
      plans.add(qe)
    }

    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      planMs += qe.tracker.phases.values.map(_.durationMs).sum
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toSeq)
    val spark = GraftSession.builder(cores = o.cores, mode = o.mode)
      .appName("graft-profile").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (o.queries.nonEmpty) o.queries else SparkEntry.queries.keys.toSeq.sorted
    val rec = new Recorder(spark.sparkContext)
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec)
    println(s"[profile] ${o.report} sf=${o.sfDir} mode=${o.mode} cores=${o.cores}")
    names.foreach { n =>
      val fn = SparkEntry.queries.getOrElse(n,
        throw new NoSuchElementException(s"no registered query $n"))
      try o.report match {
        case "explain" =>
          println(s"\n========== $n ==========")
          println(fn(spark, o.sfDir).queryExecution.explainString(FormattedMode))
        case "action" =>
          run(spark, rec, fn, o.sfDir)
          val qes = rec.plans.asScala.toSeq
          println(s"\n========== $n action ${o.action} of ${qes.size} ==========")
          qes.lift(o.action - 1).foreach(qe => println(qe.explainString(FormattedMode)))
        case _ =>
          (1 to Reps).foreach { rep =>
            val wall = run(spark, rec, fn, o.sfDir)
            summary(n, rep, wall, rec)
            if (o.report == "stages" && rep == Reps) stageTable(rec)
          }
      } catch {
        case e: Throwable => println(s"[profile] $n FAILED ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    spark.stop()
  }

  /** One measured run: the query's `count()` in a cache scope; wall seconds. */
  private def run(spark: SparkSession, rec: Recorder,
                  fn: (SparkSession, String) => DataFrame, sfDir: String): Double = {
    rec.reset()
    val t0 = System.nanoTime()
    try {
      GraftSession.withQueryCaches(spark) { fn(spark, sfDir).count() }
      (System.nanoTime() - t0) / 1e9
    } finally rec.drain()
  }

  private def mb(bytes: Long): Double = bytes / 1e6

  private def summary(name: String, rep: Int, wall: Double, rec: Recorder): Unit = {
    val s = rec.stages.asScala.toSeq
    println(f"[profile] $name%-28s rep$rep wall=$wall%7.2f s jobs=${rec.jobs}%4d " +
      f"stages=${s.size}%4d tasks=${s.map(_.tasks).sum}%6d " +
      f"runMs=${s.map(_.runMs).sum}%8d cpuMs=${s.map(_.cpuMs).sum}%8d gcMs=${s.map(_.gcMs).sum}%6d " +
      f"shuffleReadMB=${mb(s.map(_.readB).sum)}%8.1f shuffleWriteMB=${mb(s.map(_.writeB).sum)}%8.1f " +
      f"spillMB=${mb(s.map(_.spillB).sum)}%7.1f planMs=${rec.planMs}%6d")
  }

  private def stageTable(rec: Recorder): Unit =
    rec.stages.asScala.toSeq.sortBy(-_.runMs).foreach { r =>
      println(f"[stages]   id=${r.id}%4d tasks=${r.tasks}%4d runMs=${r.runMs}%7d " +
        f"cpuMs=${r.cpuMs}%7d gcMs=${r.gcMs}%5d fetchWaitMs=${r.fetchWaitMs}%5d " +
        f"readMB=${mb(r.readB)}%7.1f writeMB=${mb(r.writeB)}%7.1f " +
        f"spillMB=${mb(r.spillB)}%6.1f  ${r.name.take(48)}")
    }
}
