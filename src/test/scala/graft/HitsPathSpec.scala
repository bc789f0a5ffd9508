package graft

import org.apache.spark.sql.DataFrame

/** Hits.bipartite's exact path joins each half-step's (node, score)
  * sliver by broadcast when its observed row count fits the session's
  * `spark.sql.autoBroadcastJoinThreshold`, and by a keyed shuffle
  * otherwise (threshold -1 forces it). The choice is physical only: the
  * output must be identical either way, at every shuffle-partition
  * count.
  */
class HitsPathSpec extends SparkSuite {

  private def hits(edges: DataFrame, threshold: String, parts: Int) = {
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold", "spark.sql.shuffle.partitions")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    keys.zip(Seq(threshold, parts.toString)).foreach { case (k, v) => spark.conf.set(k, v) }
    try graft.ops.Hits.bipartite(edges, "c", "s", "w", iters = 5).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
      .sortBy(t => (t._1, t._2))
    finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("broadcast and forced-shuffle half-steps give identical scores at 1, 4 and 7 shuffle partitions") {
    import spark.implicits._
    val graphs = Seq(
      // the OpsSpec planted graph
      "planted" -> Seq((10L, 100L, 1.0), (10L, 200L, 1.0), (20L, 200L, 1.0)),
      "empty" -> Seq.empty[(Long, Long, Double)],
      "single edge" -> Seq((1L, 2L, 3.0)),
      "mixed weights" -> (1 to 120).map(i => (i.toLong % 17, 100L + i % 23, 1.0 + i % 5)))
    for ((name, rows) <- graphs; parts <- Seq(1, 4, 7)) {
      val e = rows.toDF("c", "s", "w")
      val viaBroadcast = hits(e, "10485760", parts)
      val viaShuffle = hits(e, "-1", parts)
      assert(viaBroadcast == viaShuffle,
        s"$name at $parts partitions: broadcast $viaBroadcast vs shuffle $viaShuffle")
      val nodes = rows.map(_._1).distinct.size + rows.map(_._2).distinct.size
      assert(viaBroadcast.size == nodes, s"$name: one row per node")
    }
  }
}
