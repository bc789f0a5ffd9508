package graft.ops

import org.apache.spark.sql.DataFrame

/** Engine-wide lineage-truncation knob for the iterative family
  * (CC/SCC/HITS/label-prop/k-core/truss/MIS/PageRank/BFS/walks…).
  *
  * Every iterative op truncates loop-carried lineage so per-round plan
  * analysis stays O(1) instead of O(round). `localCheckpoint` does that
  * with EXECUTOR-LOCAL blocks — fast, no configuration, but not
  * fault-tolerant: on a real cluster, losing one executor mid-run kills
  * the job unrecoverably (the truncated lineage cannot recompute the
  * lost blocks). That trade is right for short interactive runs and for
  * local mode; it is wrong for a multi-hour 100 TB iteration where
  * executor churn is routine.
  *
  * The knob (one engine-wide switch, no per-op plumbing):
  *  - `spark.sparkContext.setCheckpointDir(dir)` set → `truncated`
  *    uses RELIABLE `Dataset.checkpoint` (files under `dir`, typically
  *    HDFS/S3): an executor loss recovers by re-reading the checkpoint
  *    files. Cost: each truncation point writes its frame to the dir
  *    (one extra compute + I/O per checkpoint — size the cadence
  *    accordingly; see PageRank.checkpointEvery).
  *  - no checkpoint dir (the default everywhere in tests/bench) →
  *    exactly the old `localCheckpoint` behavior, bit-for-bit.
  *  - `spark.graft.checkpoint.mode` overrides: `local` forces local
  *    blocks even with a dir set (a dir configured for some OTHER
  *    consumer must not tax every graph op); `reliable` asserts the
  *    dir is set and fails fast if not (protects a job that MUST be
  *    loss-tolerant from silently running local); `auto` (default) is
  *    the dir-presence rule above.
  *
  * Orthogonal invariant: mode changes WHERE truncated blocks live,
  * never WHAT the op computes — CheckpointModeSpec pins identical
  * output on both paths. Checkpoint files are reclaimed by Spark's
  * ContextCleaner when `spark.cleaner.referenceTracking.cleanCheckpoints`
  * is true, else they persist for post-mortem restart.
  */
object Checkpoints {

  private[graft] def useReliable(df: DataFrame): Boolean = {
    val spark = df.sparkSession
    val dirSet = spark.sparkContext.getCheckpointDir.isDefined
    spark.conf.getOption("spark.graft.checkpoint.mode")
      .getOrElse("auto") match {
      case "local" => false
      case "reliable" =>
        require(dirSet, "spark.graft.checkpoint.mode=reliable needs " +
          "SparkContext.setCheckpointDir — refusing to run loss-intolerant")
        true
      case _ => dirSet
    }
  }

  implicit class TruncateOps(private val df: DataFrame) extends AnyVal {
    /** Lazy lineage truncation under the engine checkpoint mode. */
    def truncated: DataFrame = truncated(eager = false)

    /** Truncation of a LOOP-STATIC frame, hash-partitioned and sorted
      * on the key its per-round join probes. Under AQE the returned
      * LogicalRDD reports `UnknownPartitioning` (the adaptive plan is a
      * leaf wrapper), so a per-round join still re-exchanges the copy;
      * what the copy buys is blocks already grouped and sorted on the
      * key, which AQE coalesces into few map tasks per round. The
      * repartition's exchange runs at call time even though the
      * checkpoint is lazy: the adaptive plan materializes its shuffle
      * stages when the checkpoint RDD is built. The partition count
      * stays scale-adaptive: `repartition(col)` uses the session
      * shuffle-partition setting and AQE may coalesce it
      * (REPARTITION_BY_COL).
      */
    def truncatedKeyed(keys: String*): DataFrame = {
      val cols = keys.map(org.apache.spark.sql.functions.col)
      df.repartition(cols: _*).sortWithinPartitions(cols: _*)
        .truncated
    }

    /** Lineage truncation under the engine checkpoint mode. */
    def truncated(eager: Boolean): DataFrame =
      if (useReliable(df)) df.checkpoint(eager)
      else df.localCheckpoint(eager)

    /** Eager truncation that also computes aggregate metrics IN the
      * materialization pass (`Dataset.observe` riding the checkpoint
      * action). Replaces the truncate-then-aggregate two-action idiom
      * of the fixpoint loops (CC star alternation, coreness h-index,
      * SCC coloring, truss peeling), where the convergence witness was
      * a SECOND action that re-read the entire just-checkpointed frame:
      * one action instead of two, one pass over the data instead of
      * two, and no separate single-partition witness stage. At 100 TB
      * the saved pass is a full re-scan of the frame per round; at
      * local scale it is one of the 4-5 per-round stages whose fixed
      * latency dominates (measured: q217's loop 5.4 s → 4.7 s warm).
      * Metrics must be named (`.as(...)`); the observed values arrive
      * exactly once per action (`CollectMetricsExec` accumulators are
      * scheduler-deduplicated), so the witness arithmetic is unchanged.
      *
      * @return the truncated frame plus the observed metric row as a
      *         name → value map (aggregates over an empty frame yield
      *         SQL semantics: count = 0, sum = null)
      */
    def truncatedObserving(metrics: org.apache.spark.sql.Column*)
        : (DataFrame, Map[String, Any]) = {
      val obs = org.apache.spark.sql.Observation()
      val observed = df.observe(obs, metrics.head, metrics.tail: _*)
      val out =
        if (useReliable(df)) observed.checkpoint(eager = true)
        else observed.localCheckpoint(eager = true)
      (out, obs.get)
    }
  }
}
