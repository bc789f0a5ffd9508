package graft.rec

import scala.collection.mutable
import scala.util.hashing.byteswap64

import org.apache.spark.HashPartitioner
import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.recommendation.{ALS, ALSModel, AlsBridge}
import org.apache.spark.ml.recommendation.AlsBridge.{Nnls, Normal}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{FloatType, IntegerType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** ALS collaborative filtering (SURVEY.md §2.8 M10-M12, §3.2), the
  * reference's `recommender_prod_rec.py` flow re-expressed:
  *
  *  1. usage → percent_rank rating per (user, item) (W1, `:170-179`)
  *  2. accumulate intensity (A2, `:181-185`)
  *  3. deterministic surrogate int ids (`:187-206`, zipWithIndex replaced
  *     by ids numbered over one sort on the user key)
  *  4. ALS train + grid search + RMSE eval (`:212-259`)
  *  5. recommendForAllUsers → explode → join entity maps back (`:261-269`)
  */
object AlsPipeline {

  case class Config(rank: Int = 15, maxIter: Int = 5, regParam: Double = 0.001,
                    implicitPrefs: Boolean = true, seed: Long = 0L, topK: Int = 5,
                    // Storage for the ratings grouped by user (the fused
                    // path) or MLlib's per-iteration factor/block RDDs. The
                    // default stays MLlib's spill-safe MEMORY_AND_DISK:
                    // under executor memory pressure an evicted MEMORY_ONLY
                    // block silently recomputes the caller's ratings
                    // lineage. Memory-sized local runs (q40) pass
                    // MEMORY_ONLY explicitly (no spill-file serialization).
                    intermediateStorage: String = "MEMORY_AND_DISK")

  /** Ratings per user block on the fused path: ceil(count / this) blocks
    * of the observed triple count, so its fold order is a pure function
    * of the data.
    */
  private val RatingsPerBlock = 8192L
  /** Ratings per user and per item block on the MLlib path, also sized
    * from the observed count, rather than MLlib's fixed 10 blocks. Its
    * blocks are larger than the fused path's: on sf0.1's 289,583 q40
    * triples, warm MLlib fits read 6.6–7.7 s at 36 blocks and 2.9–3.7 s
    * at 9 (4-core host).
    */
  private val MllibRatingsPerBlock = 32768L
  /** At most this many blocks on either path: the fused path's driver
    * merges one item partial per block.
    */
  private val MaxBlocks = 1024L
  /** MLlib's default implicit-feedback confidence scale. */
  private val Alpha = 1.0

  /** W1 preprocessing: percent_rank of intensity within user+item, plus
    * epsilon (`recommender_prod_rec.py:171-176`).
    */
  def percentRankRating(usage: DataFrame, user: String, item: String,
                        intensity: String): DataFrame = {
    val w = Window.partitionBy(user, item).orderBy(col(intensity))
    usage.withColumn("rating", percent_rank().over(w) + lit(1e-6))
      .filter(col("rating").isNotNull)
  }

  /** A2 accumulation: total intensity per (user, item). */
  def accumulate(usage: DataFrame, user: String, item: String,
                 intensity: String): DataFrame =
    usage.groupBy(user, item).agg(sum(col(intensity)).as("rating"))

  /** Deterministic surrogate ids + (userId, itemId, rating) triples, rows
    * with a null key dropped. User ids are 0-based in ascending user-key
    * order; item ids are 0-based in ascending item-key order (keys of an
    * orderable atomic type). The ratings are read twice (an observation
    * pass and the numbering pass) and the result is lazy, so CALLERS
    * should `.cache()` the ratings and unpersist them after `train` (an
    * eager fit that materializes the factors) — caching here would pin a
    * frame this function can never release.
    *
    * One distributed sort on the user key (a range shuffle: no
    * single-task step, since a ratings fact table's user universe is
    * itself fact-sized) puts every user's rows in one partition and the
    * partitions in key order. One pass counts each partition's user runs
    * and collects its distinct items; the run counts' prefix sums number
    * the users, and the sorted item set numbers the items. Item universes
    * are catalog-dimension scale (brands/SKUs): the item map rides in the
    * task closure. MLlib ALS ids are Int, so more than 2^31 users fail
    * fast on the driver instead of truncating ids into collisions.
    */
  def indexedTriples(ratings: DataFrame, user: String, item: String): DataFrame = {
    val sorted = ratings.filter(col(user).isNotNull && col(item).isNotNull)
      .select(col(user), col(item), col("rating").cast("float"))
      .orderBy(col(user).asc).rdd
    val seen = sorted.mapPartitions { it =>
      val items = mutable.HashSet.empty[Any]
      var runs = 0L
      var prev: Any = null
      it.foreach { r =>
        if (runs == 0 || r.get(0) != prev) { runs += 1; prev = r.get(0) }
        items += r.get(1)
      }
      Iterator((runs, items.toArray))
    }.collect()
    val offsets = seen.map(_._1).scanLeft(0L)(_ + _)
    require(offsets.last <= Int.MaxValue.toLong + 1,
      s"userId exceeds Int range: ${offsets.last} users")
    val itemId = seen.flatMap(_._2).distinct
      .sortWith((a, b) => a.asInstanceOf[Comparable[Any]].compareTo(b) < 0)
      .zipWithIndex.toMap
    val rows = sorted.mapPartitionsWithIndex { (p, it) =>
      var id = offsets(p) - 1
      var prev: Any = null
      it.map { r =>
        if (id < offsets(p) || r.get(0) != prev) { id += 1; prev = r.get(0) }
        Row(id.toInt, itemId(r.get(1)), r.get(2))
      }
    }
    ratings.sparkSession.createDataFrame(rows, StructType(Seq(
      StructField("userId", IntegerType, nullable = false),
      StructField("itemId", IntegerType, nullable = false),
      StructField("rating", FloatType))))
  }

  /** Non-negative ALS (MLlib's objective and solver) over
    * (userId, itemId, rating) triples; an eager fit whose factors are
    * materialized when it returns.
    *
    * One pass over the triples observes their count, which sizes either
    * path's blocks, and their distinct items. When items × rank² × 8 B fit
    * `spark.sql.autoBroadcastJoinThreshold` (a brand-level item space),
    * the fit is [[fused]]: one job per iteration. Otherwise MLlib `ALS`
    * runs, whose per-iteration shuffles and aggregates are the shape for
    * large item spaces. Threshold -1 forces MLlib.
    */
  def train(triples: DataFrame, cfg: Config): ALSModel = {
    require(cfg.maxIter >= 1, s"maxIter must be at least 1, got ${cfg.maxIter}")
    val rows = triples.select(col("userId").cast("int"), col("itemId").cast("int"),
      col("rating").cast("float")).rdd
    val threshold = triples.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val maxItems = if (threshold < 0) -1L else threshold / (8L * cfg.rank * cfg.rank)
    val seen = rows.mapPartitions { it =>
      val items = mutable.HashSet.empty[Int]
      var n = 0L
      it.foreach { r => n += 1; if (items.size <= maxItems) items += r.getInt(1) }
      Iterator((n, items.size <= maxItems, items.toArray))
    }.collect()
    val count = seen.map(_._1).sum
    def blocks(perBlock: Long) = ((count + perBlock - 1) / perBlock).max(1L).min(MaxBlocks).toInt
    val items = seen.flatMap(_._3).distinct.sorted
    if (seen.forall(_._2) && items.length <= maxItems)
      fused(triples.sparkSession, rows, items, blocks(RatingsPerBlock), cfg)
    else new ALS()
      .setRank(cfg.rank).setMaxIter(cfg.maxIter).setRegParam(cfg.regParam)
      .setImplicitPrefs(cfg.implicitPrefs).setNonnegative(true)
      .setColdStartStrategy("drop").setSeed(cfg.seed)
      .setNumUserBlocks(blocks(MllibRatingsPerBlock))
      .setNumItemBlocks(blocks(MllibRatingsPerBlock))
      .setIntermediateStorageLevel(cfg.intermediateStorage)
      .setUserCol("userId").setItemCol("itemId").setRatingCol("rating")
      .fit(triples)
  }

  /** One partition's ratings grouped by user: user `users(u)` rated the
    * dense item indices `items(ptr(u) until ptr(u + 1))` with the matching
    * `ratings`. Users ascend, and each user's ratings are ordered by
    * (item, rating), so every fold over a block runs in data order.
    */
  private final case class UserBlock(users: Array[Int], ptr: Array[Int],
                                     items: Array[Int], ratings: Array[Float])

  private def userBlock(rows: Iterator[(Int, (Int, Float))]): UserBlock = {
    val rs = rows.map { case (u, (i, r)) => (u, i, r) }.toArray
      .sorted(Ordering.Tuple3(Ordering.Int, Ordering.Int, Ordering.Float.TotalOrdering))
    val starts = rs.indices.filter(k => k == 0 || rs(k)._1 != rs(k - 1)._1)
    UserBlock(starts.map(rs(_)._1).toArray, (starts :+ rs.length).toArray,
      rs.map(_._2), rs.map(_._3))
  }

  /** One block's share of the item-side normal equations: per item, Σ
    * over the block's ratings of it and their regularization count; and
    * the block's XᵀX (implicit feedback).
    */
  private final class Partial(rank: Int, nItems: Int) extends Serializable {
    val items: Array[Normal] = Array.fill(nItems)(new Normal(rank))
    val explicits = new Array[Int](nItems)
    val gram = new Normal(rank)
  }

  /** Adds one rating against factor `f` to `ne` as MLlib's ALS does. For
    * implicit feedback (Hu, Koren & Volinsky, ICDM 2008) the confidence
    * weight is c1 = alpha·|r| and the preference is 1 iff r > 0. Returns
    * 1 when the rating counts toward the `regParam · numExplicits`
    * regularization.
    */
  private def addRating(ne: Normal, f: Array[Float], r: Float, implicitPrefs: Boolean): Int =
    if (implicitPrefs) {
      val c1 = Alpha * math.abs(r)
      ne.add(f, if (r > 0) 1.0 + c1 else 0.0, c1)
      if (r > 0) 1 else 0
    } else { ne.add(f, r, 1.0); 1 }

  /** YᵀY of `factors`, built as MLlib's `computeYtY` builds it. */
  private def gram(factors: Array[Array[Float]], rank: Int): Normal = {
    val g = new Normal(rank)
    factors.foreach(g.add(_, 0.0, 1.0))
    g
  }

  /** ALS for a small item space, one job per iteration.
    *
    * The triples are grouped by user once, into `blocks` hash partitions
    * of [[UserBlock]]s persisted at `cfg.intermediateStorage`. The item
    * factors start as nonnegative unit vectors seeded per item id. Each
    * iteration broadcasts the item factors Y and YᵀY; one map solves
    * every user's normal equation (MLlib's `NormalEquation` and NNLS
    * solver) and, in the same pass, adds the user's ratings to the
    * per-item normal equations and XᵀX. The driver collects the
    * per-block [[Partial]]s, merges them in block-index order (not in
    * task-completion order, as `treeAggregate` would), solves the items
    * and destroys the broadcast. So the factors are a pure function of
    * the data: the same at any shuffle-partition count, core count or
    * input row order.
    *
    * Jobs: [[train]]'s observation pass, then `maxIter` here; the first
    * also groups the blocks, and the last persists the user factors at
    * MEMORY_AND_DISK (MLlib's final storage level). Driver state per
    * iteration is `blocks` partials of items × rank²/2 doubles.
    */
  private def fused(spark: SparkSession, rows: RDD[Row], itemIds: Array[Int], blocks: Int,
                    cfg: Config): ALSModel = {
    val nItems = itemIds.length
    val grouped = rows
      .map(r => (r.getInt(0), (java.util.Arrays.binarySearch(itemIds, r.getInt(1)), r.getFloat(2))))
      .partitionBy(new HashPartitioner(blocks))
      .mapPartitions(it => Iterator(userBlock(it)), preservesPartitioning = true)
      .persist(StorageLevel.fromString(cfg.intermediateStorage))
    var y = itemIds.map { i =>
      val rnd = new java.util.Random(byteswap64(cfg.seed ^ i))
      val f = Array.fill(cfg.rank)(math.abs(rnd.nextGaussian()).toFloat)
      val nrm = math.sqrt(f.map(v => v.toDouble * v).sum).toFloat
      f.map(_ / nrm)
    }
    try {
      var users: RDD[(Int, Array[Float])] = null
      for (iter <- 1 to cfg.maxIter) {
        val items = spark.sparkContext.broadcast((y, gram(y, cfg.rank)))
        val pass = grouped.map { b =>
          val (yf, yty) = items.value
          val ne = new Normal(cfg.rank)
          val nnls = new Nnls
          val p = new Partial(cfg.rank, nItems)
          val x = Array.tabulate(b.users.length) { u =>
            if (cfg.implicitPrefs) ne.merge(yty)
            var explicits = 0
            for (k <- b.ptr(u) until b.ptr(u + 1))
              explicits += addRating(ne, yf(b.items(k)), b.ratings(k), cfg.implicitPrefs)
            val xu = nnls.solve(ne, explicits * cfg.regParam)
            if (cfg.implicitPrefs) p.gram.add(xu, 0.0, 1.0)
            for (k <- b.ptr(u) until b.ptr(u + 1))
              p.explicits(b.items(k)) +=
                addRating(p.items(b.items(k)), xu, b.ratings(k), cfg.implicitPrefs)
            xu
          }
          (b.users, x, p)
        }
        if (iter == cfg.maxIter) {
          users = pass.persist(StorageLevel.MEMORY_AND_DISK)
            .flatMap { case (us, xs, _) => us.iterator.zip(xs.iterator) }
        }
        val parts = pass.map(_._3).collect()
        val xtx = new Normal(cfg.rank)
        parts.foreach(p => xtx.merge(p.gram))
        val nnls = new Nnls
        y = Array.tabulate(nItems) { j =>
          val ne = new Normal(cfg.rank)
          if (cfg.implicitPrefs) ne.merge(xtx)
          parts.foreach(p => ne.merge(p.items(j)))
          nnls.solve(ne, parts.map(_.explicits(j)).sum * cfg.regParam)
        }
        // The persisted user factors keep the last broadcast in their
        // lineage (a lost block recomputes), so it is only unpersisted.
        if (iter == cfg.maxIter) items.unpersist(blocking = false) else items.destroy()
      }
      AlsBridge.model(cfg.rank, spark.createDataFrame(users).toDF("id", "features"),
        spark.createDataFrame(itemIds.toSeq.zip(y)).toDF("id", "features"))
        .setUserCol("userId").setItemCol("itemId").setColdStartStrategy("drop")
    } finally grouped.unpersist(blocking = false)
  }

  /** M11: RMSE on a held-out split (`recommender_prod_rec.py:234-241`). */
  def evalRmse(triples: DataFrame, cfg: Config): Double = {
    val Array(train8, test2) = triples.randomSplit(Array(0.8, 0.2), cfg.seed)
    val model = train(train8, cfg)
    val pred = model.transform(test2)
    new RegressionEvaluator().setMetricName("rmse")
      .setLabelCol("rating").setPredictionCol("prediction")
      .evaluate(pred)
  }

  /** Grid search over (rank, maxIter, regParam) by held-out RMSE
    * (reference grid is a single point, `recommender_prod_rec.py:244-246`).
    */
  def gridSearch(triples: DataFrame, grid: Seq[Config]): (Config, Double) =
    grid.map(c => c -> evalRmse(triples, c)).minBy(_._2)

  /** M12 + F11/F12: top-K recommendations, exploded to rows — struct
    * field access replaces the reference's Python UDFs (§2.9).
    */
  def recommendations(model: ALSModel, k: Int): DataFrame =
    model.recommendForAllUsers(k)
      .select(col("userId"), posexplode(col("recommendations")).as(Seq("rec_rank", "rec")))
      .select(col("userId"), col("rec.itemId").as("itemId"),
        col("rec.rating").as("score"), (col("rec_rank") + 1).as("rec_rank"))

  /** [[recommendations]] fast path for SMALL item universes (the
    * engine's brand-level item space): the item factors are collected
    * into the task closure, and each user-factor row scores every item
    * with a float dot product (summed in feature order) and emits its
    * top k, ties broken by itemId. One row per user in, k rows out: no
    * shuffle, no broadcast exchange. `recommendForAllUsers` blockifies
    * both factor sides into BLAS gemm batches + per-block priority
    * queues — the right shape when ITEMS are millions, pure overhead
    * when they fit in a closure. Scores match MLlib to float precision.
    */
  def recommendationsDirect(model: ALSModel, k: Int): DataFrame = {
    val spark = model.userFactors.sparkSession
    import spark.implicits._
    val items = model.itemFactors.as[(Int, Array[Float])].collect()
    model.userFactors.as[(Int, Array[Float])].flatMap { case (u, uf) =>
      items.map { case (i, f) =>
        var s = 0.0f
        for (d <- uf.indices) s += uf(d) * f(d)
        (i, s)
      }.sortWith { case ((i, s), (j, t)) =>
        // score desc (NaN first, -0.0 = 0.0, as Spark orders), then itemId
        val c = java.lang.Float.compare(t + 0.0f, s + 0.0f)
        c < 0 || (c == 0 && i < j)
      }.take(k).zipWithIndex.map { case ((i, s), r) => (u, i, s, r + 1) }
    }.toDF("userId", "itemId", "score", "rec_rank")
  }
}
