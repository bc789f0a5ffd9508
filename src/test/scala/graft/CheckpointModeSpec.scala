package graft

import graft.ops.{ConnectedComponents, Hits}

/** The engine-wide reliable-checkpoint knob (r18 verdict item 2): with
  * `SparkContext.setCheckpointDir` set, every iterative op's lineage
  * truncation writes RELIABLE checkpoint files (executor-loss
  * recoverable) instead of executor-local blocks — and the outputs are
  * identical, because the mode changes where truncated blocks live,
  * never what the op computes.
  *
  * Session hygiene: the suite shares one JVM-wide SparkSession and
  * SparkContext has no unsetCheckpointDir — so once a test sets a dir,
  * every LATER test/suite would silently flip to reliable mode under
  * the `auto` rule. Tests therefore run the dir-less assertions FIRST
  * (FunSuite runs in declaration order) and every dir-setting test
  * ends by pinning `spark.graft.checkpoint.mode=local`, which restores
  * the exact default behavior for the rest of the JVM.
  */
class CheckpointModeSpec extends SparkSuite {

  // long-diameter chain + a ring: forces several alternating-star rounds
  private def edges = {
    import spark.implicits._
    ((1L to 60L).sliding(2).map(s => (s.head, s.last)).toSeq ++
      Seq((100L, 101L), (101L, 102L), (102L, 100L))).toDF("src", "dst")
  }

  private def checkpointFiles(): Int = {
    val d = new java.io.File(
      new java.net.URI(spark.sparkContext.getCheckpointDir.get))
    def count(f: java.io.File): Int =
      if (f.isFile) 1 else Option(f.listFiles).toSeq.flatten.map(count).sum
    count(d)
  }

  test("mode=reliable without a dir fails fast") {
    assume(spark.sparkContext.getCheckpointDir.isEmpty)
    import spark.implicits._
    spark.conf.set("spark.graft.checkpoint.mode", "reliable")
    try {
      val ex = intercept[Exception] {
        ConnectedComponents.alternatingStar(
          Seq((1L, 2L)).toDF("src", "dst"), "src", "dst").collect()
      }
      assert(ex.getMessage.contains("setCheckpointDir"))
    } finally spark.conf.unset("spark.graft.checkpoint.mode")
  }

  test("alternatingStar CC: reliable dir produces identical labels and real checkpoint files") {
    val local = ConnectedComponents.alternatingStar(edges, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.sparkContext.setCheckpointDir(
      GraftSession.scratchDir("graft-ckpt").toString)
    try {
      val reliable = ConnectedComponents.alternatingStar(edges, "src", "dst")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(reliable == local, "checkpoint mode must not change CC labels")
      assert(checkpointFiles() > 0, "reliable mode must write checkpoint files")
    } finally spark.conf.set("spark.graft.checkpoint.mode", "local")
  }

  test("HITS sweep: reliable dir produces identical scores") {
    import spark.implicits._
    val biparts = (1 to 50).map(i => (i.toLong % 7, i.toLong % 11, 1.0 + i % 3))
      .toDF("hub", "auth", "w")
    spark.conf.unset("spark.graft.checkpoint.mode") // dir already set → local
    val localOut = {
      spark.conf.set("spark.graft.checkpoint.mode", "local")
      try Hits.bipartite(biparts, "hub", "auth", "w", iters = 3)
        .collect().toSeq.sortBy(_.toString)
      finally spark.conf.unset("spark.graft.checkpoint.mode")
    }
    // dir is set from the previous test → auto resolves to reliable
    try {
      val reliable = Hits.bipartite(biparts, "hub", "auth", "w", iters = 3)
        .collect().toSeq.sortBy(_.toString)
      assert(reliable == localOut, "checkpoint mode must not change HITS scores")
    } finally spark.conf.set("spark.graft.checkpoint.mode", "local")
  }

  test("mode=local overrides a configured dir: no checkpoint files written") {
    val before = checkpointFiles()
    spark.conf.set("spark.graft.checkpoint.mode", "local")
    val out = ConnectedComponents.alternatingStar(edges, "src", "dst").count()
    assert(out > 0)
    assert(checkpointFiles() == before,
      "mode=local must not write checkpoint files")
    // leave mode=local pinned: the shared session keeps its dir, and
    // this restores default truncation behavior for every later suite
  }

  test("truncatedObserving: observed witness equals a separate aggregation, both modes") {
    import graft.ops.Checkpoints.TruncateOps
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = (1L to 1000L).map(i => (i, i * 3)).toDF("a", "b")
      .filter(col("a") % 7 =!= 0)
    val expect = df.agg(count(lit(1)), sum(col("a")), sum(col("b"))).head
    for (mode <- Seq("local", "reliable")) {
      spark.conf.set("spark.graft.checkpoint.mode", mode)
      try {
        val (out, m) = df.truncatedObserving(count(lit(1)).as("n"),
          sum(col("a")).as("sa"), sum(col("b")).as("sb"))
        assert(m("n") == expect.getLong(0) && m("sa") == expect.getLong(1) &&
          m("sb") == expect.getLong(2),
          s"observed witness must equal the separate agg under mode=$mode")
        assert(out.count() == expect.getLong(0),
          "truncated frame must hold the same rows")
        assert(out.queryExecution.optimizedPlan.collectLeaves().size == 1 &&
          out.queryExecution.optimizedPlan.toString.contains("LogicalRDD"),
          "the returned frame must be lineage-truncated (LogicalRDD leaf)")
      } finally spark.conf.set("spark.graft.checkpoint.mode", "local")
    }
  }

  test("truncatedObserving: empty frame observes SQL semantics (count 0, null sum)") {
    import graft.ops.Checkpoints.TruncateOps
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val (out, m) = Seq.empty[(Long, Long)].toDF("a", "b")
      .truncatedObserving(count(lit(1)).as("n"), sum(col("a")).as("sa"))
    assert(m("n") == 0L && m("sa") == null)
    assert(out.count() == 0L)
  }
}
