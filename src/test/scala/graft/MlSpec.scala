package graft

import org.apache.spark.sql.functions._
import graft.feature.FeaturePipeline
import graft.rec.AlsPipeline

class MlSpec extends SparkSuite {
  import spark.implicits._

  test("ALS recovers planted low-rank preference structure") {
    // Two user blocks × two item blocks: block users strongly prefer
    // block items (rating 5 vs 0.1 noise).
    val rows = for {
      u <- 0 until 40; i <- 0 until 20
      r = if ((u < 20) == (i < 10)) 5.0 else 0.1
    } yield (u, i, r.toFloat)
    val triples = rows.toDF("userId", "itemId", "rating")
    val model = AlsPipeline.train(triples,
      AlsPipeline.Config(rank = 4, maxIter = 10, regParam = 0.05, implicitPrefs = false))
    val recs = AlsPipeline.recommendations(model, 3)
      .select("userId", "itemId").as[(Int, Int)].collect()
    val inBlock = recs.count { case (u, i) => (u < 20) == (i < 10) }
    assert(inBlock.toDouble / recs.length > 0.9, s"in-block ratio ${inBlock.toDouble / recs.length}")
  }

  test("recommendationsDirect matches recommendForAllUsers scores") {
    val rows = for {
      u <- 0 until 40; i <- 0 until 20
      r = if ((u < 20) == (i < 10)) 5.0 else 0.1
    } yield (u, i, r.toFloat)
    val model = AlsPipeline.train(rows.toDF("userId", "itemId", "rating"),
      AlsPipeline.Config(rank = 4, maxIter = 10, regParam = 0.05, implicitPrefs = false))
    val viaMllib = AlsPipeline.recommendations(model, 3)
      .select("userId", "score").as[(Int, Float)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    val direct = AlsPipeline.recommendationsDirect(model, 3)
      .select("userId", "score").as[(Int, Float)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(viaMllib.keySet == direct.keySet)
    viaMllib.foreach { case (u, scores) =>
      scores.zip(direct(u)).foreach { case (a, b) =>
        assert(math.abs(a - b) <= 1e-4f * math.max(1f, math.abs(a)),
          s"user $u: mllib $a vs direct $b")
      }
    }
  }

  // Planted two-block preference data: block users rate block items.
  // Implicit: intensities 1.1-4.4 in block, sparse 0.3 off block.
  // Explicit: 5.0 in block, 0.1 off block, every pair rated. The
  // non-dyadic ratings make float sums depend on their order.
  private val implicitRows = for {
    u <- 0 until 60; i <- 0 until 20
    inBlock = (u < 30) == (i < 10)
    if inBlock || (u * 7 + i) % 9 == 0
  } yield (u, i, if (inBlock) 1.1f * (1 + (u + 2 * i) % 4) else 0.3f)
  private val explicitRows = for {
    u <- 0 until 40; i <- 0 until 20
  } yield (u, i, if ((u < 20) == (i < 10)) 5.0f else 0.1f)
  private val implicitCfg = AlsPipeline.Config(rank = 4, maxIter = 10, regParam = 0.05)
  private val explicitCfg = implicitCfg.copy(implicitPrefs = false)

  private def withConf[T](kv: (String, String)*)(f: => T): T = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** The fit under a broadcast threshold: the fused path at the 10 MB
    * default, MLlib ALS at -1.
    */
  private def fit(rows: Seq[(Int, Int, Float)], cfg: AlsPipeline.Config,
                  threshold: String = "10485760"): org.apache.spark.ml.recommendation.ALSModel =
    withConf("spark.sql.autoBroadcastJoinThreshold" -> threshold) {
      AlsPipeline.train(rows.toDF("userId", "itemId", "rating"), cfg)
    }

  private def factors(df: org.apache.spark.sql.DataFrame): Map[Int, Array[Float]] =
    df.select("id", "features").as[(Int, Array[Float])].collect().toMap

  /** MLlib's ALS objective (ALS-WR regularization: each factor's squared
    * norm weighted by its count of explicit ratings). Implicit feedback
    * sums over every (user, item) pair with confidence 1 + |r| and
    * preference r > 0 (Hu, Koren & Volinsky); explicit sums the rated
    * pairs' squared error.
    */
  private def objective(rows: Seq[(Int, Int, Float)], cfg: AlsPipeline.Config,
                        model: org.apache.spark.ml.recommendation.ALSModel): Double = {
    val (x, y) = (factors(model.userFactors), factors(model.itemFactors))
    def dot(a: Array[Float], b: Array[Float]) = a.indices.map(d => a(d).toDouble * b(d)).sum
    val rated = rows.map { case (u, i, r) => (u, i) -> r }.toMap
    val loss =
      if (cfg.implicitPrefs) (for (u <- x.keys.toSeq; i <- y.keys.toSeq) yield {
        val r = rated.getOrElse((u, i), 0f)
        (1.0 + math.abs(r)) * math.pow((if (r > 0) 1.0 else 0.0) - dot(x(u), y(i)), 2)
      }).sum
      else rows.map { case (u, i, r) => math.pow(r - dot(x(u), y(i)), 2) }.sum
    val counted = rows.filter(t => !cfg.implicitPrefs || t._3 > 0)
    val reg = counted.map { case (u, i, _) => dot(x(u), x(u)) + dot(y(i), y(i)) }.sum
    loss + cfg.regParam * reg
  }

  test("fused ALS objective is at most 2% above MLlib's, and the planted blocks are recovered") {
    for ((name, rows, cfg) <- Seq(("implicit", implicitRows, implicitCfg),
                                  ("explicit", explicitRows, explicitCfg))) {
      val fused = fit(rows, cfg)
      val mllib = fit(rows, cfg, threshold = "-1")
      val (f, m) = (objective(rows, cfg, fused), objective(rows, cfg, mllib))
      info(f"$name: objective fused $f%.4f, MLlib $m%.4f")
      assert(f <= m * 1.02, s"$name: fused objective $f vs MLlib $m")
      val recs = AlsPipeline.recommendationsDirect(fused, 3)
        .select("userId", "itemId").as[(Int, Int)].collect()
      val half = rows.map(_._1).max / 2
      val inBlock = recs.count { case (u, i) => (u <= half) == (i < 10) }.toDouble / recs.length
      assert(inBlock >= 0.9, s"$name: in-block ratio $inBlock")
    }
  }

  test("fused ALS factors are bit-identical across shuffle partitions and row orders") {
    // MLlib's are not: its solver stages fold floats in shuffle-fetch order.
    def bits(m: org.apache.spark.ml.recommendation.ALSModel) =
      Seq(m.userFactors, m.itemFactors).map(factors(_).toSeq.sortBy(_._1)
        .map { case (id, f) => id -> f.map(java.lang.Float.floatToIntBits).toSeq })
    // q40's rank and regParam: an ill-conditioned solve, where a
    // different fold order shows in the factor bits.
    val q40 = AlsPipeline.Config()
    for ((rows, cfg) <- Seq(implicitRows -> q40, explicitRows -> q40.copy(implicitPrefs = false))) {
      val runs = for (parts <- Seq(1, 4, 7); order <- Seq(rows, rows.reverse)) yield
        withConf("spark.sql.shuffle.partitions" -> parts.toString) {
          bits(AlsPipeline.train(order.toDF("userId", "itemId", "rating")
            .repartition(col("userId")), cfg))
        }
      val distinct = runs.distinct.size
      assert(distinct == 1, s"$distinct distinct factor sets over 6 runs")
    }
  }

  test("fused ALS at maxIter 5 submits at most 7 jobs; threshold -1 runs MLlib") {
    val triples = implicitRows.toDF("userId", "itemId", "rating")
    def jobs(threshold: String): Int = Profile.recording(spark) { rec =>
      withConf("spark.sql.autoBroadcastJoinThreshold" -> threshold) {
        rec.reset()
        AlsPipeline.train(triples, implicitCfg.copy(maxIter = 5))
        rec.drain()
        rec.counters.jobs
      }
    }
    val fused = jobs("10485760")
    assert(fused <= 7, s"fused fit ran $fused jobs")
    val mllib = jobs("-1")
    info(s"jobs: fused $fused, MLlib $mllib")
    assert(mllib > fused, s"MLlib fit ran $mllib jobs, fused $fused")
  }

  test("ALS RMSE on planted structure is small") {
    val rows = for {
      u <- 0 until 40; i <- 0 until 20
      r = if ((u < 20) == (i < 10)) 4.0 else 1.0
    } yield (u, i, r.toFloat)
    val rmse = AlsPipeline.evalRmse(rows.toDF("userId", "itemId", "rating"),
      AlsPipeline.Config(rank = 4, maxIter = 10, regParam = 0.05, implicitPrefs = false))
    assert(rmse < 1.0, s"rmse $rmse")
  }

  test("percentRankRating bounds and epsilon") {
    val usage = Seq((1, 1, 10.0), (1, 1, 20.0), (1, 1, 30.0), (2, 2, 5.0))
      .toDF("u", "i", "x")
    val got = AlsPipeline.percentRankRating(usage, "u", "i", "x")
      .select("rating").as[Double].collect()
    assert(got.forall(r => r >= 1e-6 && r <= 1.0 + 1e-6))
    assert(got.count(_ == 1e-6) == 2) // first of each group
  }

  test("indexedTriples: contiguous int ids, one per entity") {
    val rated = Seq(("ca", "px", 1.0), ("cb", "px", 2.0), ("cc", "py", 3.0))
      .toDF("cust", "item", "rating")
    val t = AlsPipeline.indexedTriples(rated, "cust", "item")
    val users = t.select("userId").as[Int].collect().toSet
    val items = t.select("itemId").as[Int].collect().toSet
    assert(users == Set(0, 1, 2) && items == Set(0, 1))
  }

  test("FeaturePipeline: imputation fills nulls, scaled features in [0,1] pre-weight") {
    val df = Seq(
      (1L, Some(10.0), 1.0, "A"), (2L, None, 2.0, "B"),
      (3L, Some(30.0), 3.0, "A"), (4L, Some(20.0), 4.0, "C"))
      .toDF("id", "bal", "age", "seg")
      .withColumn("bal", col("bal").cast("double"))
    val out = FeaturePipeline.build(df, Seq("bal", "age"), "seg",
      Map("bal" -> 1.0, "age" -> 1.0), wCat = 1.0)
    val feats = out.select("features_arr").as[Seq[Double]].collect()
    assert(feats.forall(_.forall(v => v >= 0.0 && v <= 1.0)))
    // 2 numeric + 4 OHE slots (3 categories + keep-invalid slot)
    assert(feats.head.length == 2 + 4)
    // imputed row present (no NaN/null)
    assert(feats.forall(_.forall(v => !v.isNaN)))
  }

  test("FeaturePipeline: exactMedian pre-fill agrees with ml.Imputer's approx median") {
    // ml.Imputer's approxQuantile always returns an ELEMENT of the data;
    // `percentile` interpolates between the middle two at even counts.
    // The paths therefore coincide exactly when the non-null count is odd
    // (element == interpolation) — pinned here. The q41/q44 oracles do
    // not depend on this parity: they run the exact path on BOTH engines
    // (`percentile` ≡ DuckDB `median`); M1 (ml.Imputer) remains the
    // documented sketch-based path for scales where an exact sort-based
    // percentile would be a hotspot.
    val df = Seq(
      (1L, Some(10.0), 1.0, "A"), (2L, None, 2.0, "B"),
      (3L, Some(30.0), 3.0, "A"), (4L, Some(20.0), 4.0, "C"),
      (5L, Some(25.0), 5.0, "B"), (6L, Some(15.0), 6.0, "C"))
      .toDF("id", "bal", "age", "seg")
      .withColumn("bal", col("bal").cast("double"))
    def feats(exact: Boolean): Map[Long, Seq[Double]] =
      FeaturePipeline.build(df, Seq("bal", "age"), "seg",
        Map("bal" -> 0.8, "age" -> 0.2), wCat = 0.05, exactMedian = exact)
        .select(col("id"), col("features_arr")).as[(Long, Seq[Double])]
        .collect().toMap
    assert(feats(exact = true) == feats(exact = false))
  }

  test("FeaturePipeline.evenSplits covers [0, max+1] with infinities") {
    val df = Seq(1.0, 5.0, 9.0).toDF("x")
    val splits = FeaturePipeline.evenSplits(df, "x", 4)
    assert(splits.length == 5)
    assert(splits.head == Double.NegativeInfinity && splits.last == Double.PositiveInfinity)
  }

  test("HashEncoder.hashFeatures: bounded buckets, partitioning-independent, same value same bucket") {
    import graft.feature.HashEncoder
    val df = (1 to 100).map(i => (i.toLong, s"seg${i % 5}", i % 7)).toDF("id", "seg", "nat")
    val a = HashEncoder.hashFeatures(df.repartition(7), "id", Seq("seg", "nat"), 16)
    val b = HashEncoder.hashFeatures(df.repartition(2), "id", Seq("seg", "nat"), 16)
    val rows = a.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(rows == b.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet)
    assert(rows.forall { case (_, bkt, w) => bkt >= 0 && bkt < 16 && math.abs(w) <= 2 })
    // identical feature values always share a bucket: ids 1 and 6 have seg1
    val bySeg = a.join(df, "id").filter(col("seg") === "seg1")
    assert(bySeg.count() > 0)
  }

  test("HashEncoder.looTargetEncode: excludes own row, singleton group -> null") {
    import graft.feature.HashEncoder
    val df = Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "a", 30.0), (4L, "b", 99.0))
      .toDF("id", "cat", "y")
    val m = HashEncoder.looTargetEncode(df, "id", "cat", "y")
      .collect().map(r => r.getLong(0) -> Option(r.get(2))).toMap
    assert(m(1L).contains(25.0)) // mean(20, 30)
    assert(m(2L).contains(20.0)) // mean(10, 30)
    assert(m(3L).contains(15.0)) // mean(10, 20)
    assert(m(4L).isEmpty)        // alone in its group
  }

  test("Sampling.temperatureResample: alpha=1 no-op, alpha<1 boosts the rare stratum") {
    val df = ((1 to 900).map(i => (i.toLong, "big")) ++ (901 to 1000).map(i => (i.toLong, "small")))
      .toDF("id", "s")
    val all = graft.ops.Sampling.temperatureResample(df, "id", "s", alpha = 1.0)
    assert(all.count() == 1000) // every rate rounds to 1.0
    val t = graft.ops.Sampling.temperatureResample(df, "id", "s", alpha = 0.5)
    val rates = t.select(col("s"), col("rate")).distinct()
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rates("small") == 1.0) // rarest stratum keeps everything
    assert(math.abs(rates("big") - 1.0 / 3.0) < 1e-9) // sqrt(1/9) boost ratio
    // deterministic under re-partitioning
    val t2 = graft.ops.Sampling.temperatureResample(df.repartition(13), "id", "s", 0.5)
    assert(t.select("id").collect().map(_.getLong(0)).toSet ==
      t2.select("id").collect().map(_.getLong(0)).toSet)
  }
}
