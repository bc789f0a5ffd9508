package graft

import org.apache.spark.sql.functions._
import graft.llm.SimSearch

/** KMeans‖ seeding ([[SimSearch.kmeansParRows]]):
  * the weighted distributed sample must escape the id-order seeding's
  * cluster-membership bias, deterministically.
  *
  * Geometry: 4 well-separated unit clusters in R^8 with SKEWED sizes
  * and ids SORTED BY CLUSTER — the adversarial-but-typical case
  * (ingestion order correlates with source): the k lowest ids all live
  * in the dense cluster, so id-order seeds tile that cluster and the
  * three far clusters share whatever bucket boundary they fall on.
  */
class KMeansParSpec extends SparkSuite {
  import spark.implicits._

  private val Dim = 8
  private def center(c: Int): Array[Double] = {
    val v = new Array[Double](Dim); v(c * 2) = 1.0; v
  }
  // cluster of id: 0..79 -> 0 (dense), 80..89 -> 1, 90..99 -> 2, 100..109 -> 3
  private def clusterOf(i: Int): Int =
    if (i < 80) 0 else if (i < 90) 1 else if (i < 100) 2 else 3
  private def member(i: Int): Seq[Double] = {
    val c = center(clusterOf(i))
    // deterministic small jitter: points stay far closer to their own
    // center than to any other (centers are 2·e_{2c}, pairwise dist √2)
    val v = c.zipWithIndex.map { case (x, d) =>
      x + 0.08 * (((i * 31 + d * 7) % 13) - 6) / 6.0
    }
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n).toSeq
  }
  private lazy val corpus =
    (0 until 110).map(i => (i.toLong, member(i))).toDF("vec_id", "emb")
  // one query per sparse cluster + one from the dense cluster
  private lazy val queries =
    Seq(1085, 1095, 1105, 1005).map { q =>
      (q.toLong, member(q - 1000))
    }.toDF("vec_id", "emb")

  private def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    df.select("query_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }

  private def recallOf(approx: Map[Long, Set[Long]],
                       exact: Map[Long, Set[Long]]): Double = {
    val per = exact.map { case (q, ex) =>
      approx.getOrElse(q, Set.empty).intersect(ex).size.toDouble / ex.size
    }
    per.sum / per.size
  }

  test("kmeansParRows: deterministic, k unit centroids, one per real cluster") {
    val u = graft.llm.SimSearch.unitized(corpus, "vec_id", "emb", "vec_id", "__ne")
    val a = SimSearch.kmeansParRows(u, "vec_id", 4, seed = 7L)
      .orderBy("cent_id").collect().map(_.getSeq[Double](1).toArray)
    val b = SimSearch.kmeansParRows(u, "vec_id", 4, seed = 7L)
      .orderBy("cent_id").collect().map(_.getSeq[Double](1).toArray)
    assert(a.length == 4)
    assert(a.zip(b).forall { case (x, y) => x.sameElements(y) },
      "same data+seed must reproduce bit-identical centroids")
    // each centroid is unit-norm and each TRUE cluster center is close
    // (dot > 0.9) to some learned centroid — all four regions found
    a.foreach { v =>
      val n = math.sqrt(v.map(x => x * x).sum)
      assert(math.abs(n - 1.0) < 1e-9, s"centroid norm $n")
    }
    (0 until 4).foreach { cl =>
      val ctr = center(cl)
      val best = a.map(v => v.zip(ctr).map { case (x, y) => x * y }.sum).max
      assert(best > 0.9, s"cluster $cl unrepresented (best dot $best)")
    }
  }

  test("kmeansParRows: corpus smaller than k yields one centroid per point; empty corpus yields none") {
    val tiny = (0 until 2).map(i => (i.toLong, member(i))).toDF("vec_id", "emb")
    val u = SimSearch.unitized(tiny, "vec_id", "emb", "vec_id", "__ne")
    assert(SimSearch.kmeansParRows(u, "vec_id", 5).count() == 2)
    val empty = tiny.filter(col("vec_id") < 0)
    val ue = SimSearch.unitized(empty, "vec_id", "emb", "vec_id", "__ne")
    assert(SimSearch.kmeansParRows(ue, "vec_id", 3).count() == 0)
  }

  test("pqTrainBooks kmeansParSeed: codebook trains and spans clusters") {
    val u = SimSearch.unitized(corpus, "vec_id", "emb", "vec_id", "__ne").cache()
    val subs = SimSearch.pqSubSplit(u, "vec_id", "__ne", 2, 4)
    val books = SimSearch.pqTrainBooks(u, subs, "vec_id", nSub = 2, subDim = 4,
      nCodes = 4, iters = 1, kmeansParSeed = Some(11L))
    val got = books.groupBy("m").count().orderBy("m")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(got.map(_._2).forall(_ == 4), s"4 codewords per subspace, got $got")
    u.unpersist()
  }
}
