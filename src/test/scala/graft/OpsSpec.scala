package graft

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Indexing, Scale, TopK}

class OpsSpec extends SparkSuite {
  import spark.implicits._

  private lazy val kv = Seq(
    ("a", 3, "x"), ("a", 1, "y"), ("a", 2, "z"),
    ("b", 5, "p"), ("b", 4, "q")).toDF("k", "v", "tag")

  test("Dedup.firstPerKey keeps exactly the first row under the total order") {
    val got = Dedup.firstPerKey(kv, Seq("k"), Seq(col("v").asc))
      .orderBy("k").collect().map(r => (r.getString(0), r.getInt(1), r.getString(2)))
    assert(got.toSeq == Seq(("a", 1, "y"), ("b", 4, "q")))
  }

  test("Dedup.byFingerprint collapses identical content") {
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other")).toDF("id", "text")
    val got = Dedup.byFingerprint(df, Seq("text"), Seq(col("id").asc))
    assert(got.count() == 2)
    assert(got.filter(col("text") === "same text").head.getLong(0) == 1L)
  }

  test("TopK.perKey: ties kept by rank; exactPerKey: exactly k") {
    val df = Seq(("a", 2), ("a", 2), ("a", 1), ("b", 9)).toDF("k", "v")
    assert(TopK.perKey(df, Seq("k"), Seq(col("v").desc), 1).count() == 3) // tie at 2
    assert(TopK.exactPerKey(df, Seq("k"), Seq(col("v").desc), 1).count() == 2)
  }

  test("Indexing.withRowIndex: contiguous 0-based, deterministic") {
    val df = Seq("c", "a", "b").toDF("s")
    val got = Indexing.withRowIndex(df, "idx", Seq(col("s").asc))
      .orderBy("idx").collect().map(r => (r.getInt(1), r.getString(0)))
    assert(got.toSeq == Seq((0, "a"), (1, "b"), (2, "c")))
  }

  test("Indexing.zipWithIndexOrdered matches withRowIndex on sorted ids") {
    val df = spark.range(100).toDF("id")
    val a = Indexing.withRowIndex(df, "idx", Seq(col("id").asc))
      .select(col("idx").cast("long"), col("id")).as[(Long, Long)].collect().toSet
    // zipWithIndexOrdered emits LongType ids by design (100 TB path).
    val b = Indexing.zipWithIndexOrdered(df, "idx", Seq(col("id").asc))
      .select("idx", "id").as[(Long, Long)].collect().toSet
    assert(a == b)
  }

  test("Scale.minmax bounds + constant-column midpoint") {
    val df = Seq(0.0, 5.0, 10.0).toDF("x")
    val got = Scale.minmax(df, "x", "s").select("s").as[Double].collect().sorted
    assert(got.toSeq == Seq(0.0, 0.5, 1.0))
    val const = Seq(7.0, 7.0).toDF("x")
    assert(Scale.minmax(const, "x", "s").select("s").as[Double].collect().toSet == Set(0.5))
  }

  test("approx_count_distinct within 5% of exact (HLL sketch path)") {
    val li = spark.read.parquet(s"${TestSession.sf0001}/lineitem.parquet")
    val r = li.agg(
      org.apache.spark.sql.functions.countDistinct(col("l_partkey")).as("exact"),
      org.apache.spark.sql.functions.approx_count_distinct(col("l_partkey")).as("approx")).head
    val (exact, approx) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
    assert(math.abs(approx - exact) / exact < 0.05, s"exact=$exact approx=$approx")
  }

  test("Diff.snapshotDiff classifies inserted/deleted/updated/unchanged") {
    val before = Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v")
    val after = Seq((2, "B"), (3, "c"), (9, "z")).toDF("k", "v")
    val got = graft.ops.Diff.snapshotDiff(before, after, Seq("k"), Seq("v"))
      .select("k", "change_type").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(got == Map(1 -> "deleted", 2 -> "updated", 3 -> "unchanged", 9 -> "inserted"))
  }

  test("Upsert.merge: updates win, unmatched survive, new keys append") {
    val current = Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v")
    val updates = Seq((2, "B"), (9, "z")).toDF("k", "v")
    val got = graft.ops.Upsert.merge(current, updates, Seq("k"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(got == Map(1 -> "a", 2 -> "B", 3 -> "c", 9 -> "z"))
  }

  test("percentile_approx tracks exact percentile within accuracy bound") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val r = li.agg(
      expr("percentile(l_quantity, 0.5)").as("exact"),
      expr("percentile_approx(l_quantity, 0.5, 100)").as("approx")).head
    assert(math.abs(r.getDouble(0) - r.getDouble(1)) <= 2.0,
      s"exact=${r.getDouble(0)} approx=${r.getDouble(1)}")
  }

  test("AsOfJoin.backward: latest at-or-before per key, equal ts matches, no match -> null") {
    val left = Seq((1, 10L, "p1"), (1, 20L, "p2"), (1, 5L, "p0"), (2, 7L, "p3"))
      .toDF("k", "t", "name")
    val right = Seq((1, 10L, "r10"), (1, 15L, "r15"), (3, 1L, "rX"))
      .toDF("k", "rt", "tag")
    val got = graft.ops.AsOfJoin.backward(left, right, Seq("k"), "t", "rt", Seq("tag"))
      .select("k", "t", "name", "tag").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getString(3))).toSet
    assert(got == Set(
      (1, 10L, "p1", "r10"),  // equal timestamp: right row matches
      (1, 20L, "p2", "r15"),  // latest at-or-before
      (1, 5L, "p0", null),    // before any right row
      (2, 7L, "p3", null)))   // key with no right rows
  }

  test("MisraGries: guarantee holds on a skewed multi-partition stream") {
    graft.engine.expressions.MisraGries.register(spark)
    val items = Seq.fill(500)("a") ++ Seq.fill(300)("b") ++ Seq.fill(150)("c") ++
      (0 until 200).map(i => s"x$i")
    val n = items.size
    val k = 5
    val df = spark.createDataset(scala.util.Random.shuffle(items))(
      org.apache.spark.sql.Encoders.STRING).repartition(7).toDF("item")
    val sketch = df.agg(graft.engine.expressions.MisraGries.sketch(col("item"), k).as("mg"))
      .select(explode(col("mg")).as("s"))
      .select(col("s.item"), col("s.count_lo")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val slack = n / (k + 1)
    // guarantee: every item with true count > n/(k+1) survives, with
    // count_lo in [true - n/(k+1), true]
    for ((item, truth) <- Seq("a" -> 500L, "b" -> 300L) if truth > slack) {
      assert(sketch.contains(item), s"$item missing from sketch $sketch")
      assert(sketch(item) <= truth && sketch(item) >= truth - slack,
        s"$item count ${sketch(item)} outside [${truth - slack}, $truth]")
    }
    assert(sketch.size <= k)
  }

  test("Sampling.weightedSample: deterministic across partitionings, weight-sensitive") {
    val df = (0 until 1000).map(i => (i.toLong, if (i < 500) 1000.0 else 1.0))
      .toDF("id", "wt")
    val s1 = graft.ops.Sampling.weightedSample(df.repartition(3), "id", col("wt"), 200)
      .select("id").as[Long].collect().toSet
    val s2 = graft.ops.Sampling.weightedSample(df.repartition(11), "id", col("wt"), 200)
      .select("id").as[Long].collect().toSet
    assert(s1 == s2 && s1.size == 200)
    // ids 0-499 carry 1000x the weight: they should dominate the sample
    assert(s1.count(_ < 500) > 150)
  }

  test("Sampling.weightedSampleByStratum: exact quota per stratum, equals the per-stratum global sampler, partitioning-independent") {
    val df = (0 until 600).map(i =>
        (i.toLong, s"s${i % 3}", if (i % 10 == 0) 100.0 else 1.0))
      .toDF("id", "src", "wt")
    def ids(d: org.apache.spark.sql.DataFrame) =
      d.select("id").as[Long].collect().toSet
    val out = graft.ops.Sampling.weightedSampleByStratum(
      df.repartition(7), "id", "src", col("wt"), 20)
    val bySrc = out.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc == Map("s0" -> 20L, "s1" -> 20L, "s2" -> 20L), s"got $bySrc")
    // stratum independence: each stratum's winners are exactly what the
    // GLOBAL sampler picks when run on that stratum alone
    (0 until 3).foreach { s =>
      val alone = ids(graft.ops.Sampling.weightedSample(
        df.filter(col("src") === s"s$s"), "id", col("wt"), 20))
      val inStrat = ids(out.filter(col("src") === s"s$s"))
      assert(inStrat == alone, s"stratum s$s diverged from global sampler")
    }
    assert(ids(out) == ids(graft.ops.Sampling.weightedSampleByStratum(
      df.repartition(1), "id", "src", col("wt"), 20)),
      "sample depends on partitioning")
  }

  test("Sampling.leakageSafeSplit: near-dup clusters never straddle the split") {
    val docs = (0L until 300L).toDF("id")
    // chain 10-11-12, pair 40-41, big clique 100..104, singletons elsewhere
    val edges = Seq((10L, 11L), (11L, 12L), (40L, 41L),
      (100L, 101L), (101L, 102L), (102L, 103L), (103L, 104L), (100L, 104L))
      .toDF("a", "b")
    val s = graft.ops.Sampling.leakageSafeSplit(docs, "id", edges, "a", "b", 0.2)
      .cache()
    // THE invariant: both endpoints of every edge share root AND split
    val viol = edges
      .join(s.select(col("id").as("a"), col("root").as("ra"), col("split").as("sa")), "a")
      .join(s.select(col("id").as("b"), col("root").as("rb"), col("split").as("sb")), "b")
      .filter(col("ra") =!= col("rb") || col("sa") =!= col("sb"))
    assert(viol.count() == 0, "a near-dup edge straddles the split")
    // cluster roots are the component minima; singletons are their own root
    assert(s.filter(col("id") === 12L).head.getAs[Long]("root") == 10L)
    assert(s.filter(col("id") === 7L).head.getAs[Long]("root") == 7L)
    // deterministic across partitionings, and the eval share is sane
    val s2 = graft.ops.Sampling.leakageSafeSplit(
      docs.repartition(7), "id", edges, "a", "b", 0.2)
    assert(s2.collect().map(_.toSeq).toSet == s.collect().map(_.toSeq).toSet)
    val evalN = s.filter(col("split") === "eval").count()
    assert(evalN > 20 && evalN < 120, s"eval share $evalN/300 implausible for 0.2")
    s.unpersist()
  }

  /** The naive canonical enumeration (a<b<c three-way join), the
    * oracle [[graft.ops.Triangles.perNode]] must agree with exactly. Not
    * a scale path: its wedge join pays the Σ d(v)² hub fanout the
    * orientation avoids.
    */
  private def perNodeNaive(edges: org.apache.spark.sql.DataFrame, srcCol: String,
                           dstCol: String): org.apache.spark.sql.DataFrame = {
    val e = edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .cache()
    val deg = e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val tri = e.select(col("a").as("x"), col("b").as("y"))
      .join(e.select(col("a").as("y"), col("b").as("z")), "y")
      .join(e.select(col("a").as("x"), col("b").as("z")), Seq("x", "z"))
    val corners = tri.select(col("x").as("node"))
      .unionAll(tri.select(col("y").as("node")))
      .unionAll(tri.select(col("z").as("node")))
    corners.groupBy("node").agg(count(lit(1)).as("n_tri"))
      .join(deg, "node")
      .select(col("node"), col("n_tri"),
        round(lit(2.0) * col("n_tri") / (col("d") * (col("d") - 1)), 6)
          .as("clustering"))
  }

  test("Triangles: oriented enumeration == naive; clique/known fixtures exact") {
    // 4-clique {1,2,3,4} + pendant 5 + disjoint path 6-7-8 (no triangle)
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (6L, 7L), (7L, 8L)).toDF("s", "d")
    val got = graft.ops.Triangles.perNode(edges, "s", "d")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // each clique node sits in C(3,2)=3 triangles; node 4 has degree 4
    assert(got == Set((1L, 3L, 1.0), (2L, 3L, 1.0), (3L, 3L, 1.0),
      (4L, 3L, 0.5)), s"clique fixture mismatch: $got")
    // random graphs: oriented == naive, including duplicate/reversed
    // input edges (canonicalization) — seeds chosen deterministically
    val rnd = new scala.util.Random(11)
    (1 to 3).foreach { _ =>
      val es = (1 to 120).map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      val df = (es ++ es.map(_.swap)).toDF("s", "d")
      def img(x: org.apache.spark.sql.DataFrame) =
        x.collect().map(_.toSeq).toSet
      assert(img(graft.ops.Triangles.perNode(df, "s", "d")) ==
        img(perNodeNaive(df, "s", "d")))
    }
  }

  test("ConnectedComponents: chains, cliques, isolated pairs; dedup keeps min id") {
    // components: {1,2,3,4} (chain), {10,11,12} (triangle), {20,21}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("s", "d")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L)
    // driver union-find path (default threshold)
    val comps = graft.ops.ConnectedComponents.labelPropagation(edges, "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps == expected)
    // distributed label-propagation path (threshold forced to 0)
    val compsDist = graft.ops.ConnectedComponents
      .labelPropagation(edges, "s", "d", driverThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(compsDist == expected)
    val docs = (1L to 25L).toDF("id")
    val kept = graft.ops.ConnectedComponents
      .dedupByComponents(docs, "id", edges, "s", "d")
      .as[Long].collect().toSet
    // losers 2,3,4,11,12,21 dropped; reps 1,10,20 + untouched rows stay
    assert(kept == (1L to 25L).toSet -- Set(2L, 3L, 4L, 11L, 12L, 21L))
  }

  test("ConnectedComponents.alternatingStar: 63-diameter chain in O(log d) rounds, output == propagation") {
    import spark.implicits._
    val cc = graft.ops.ConnectedComponents
    // a 64-node path (diameter 63, the adversarial case for O(d)
    // propagation), a clique, an isolated edge, and a self-loop node
    val chain = (0L until 63L).map(i => (i, i + 1))
    val clique = for (a <- 100L to 104L; b <- 100L to 104L if a < b) yield (a, b)
    val edges = (chain ++ clique ++ Seq((200L, 201L), (300L, 300L))).toDF("s", "d")
    val expected = ((0L to 63L).map(_ -> 0L) ++ (100L to 104L).map(_ -> 100L) ++
      Seq(200L -> 200L, 201L -> 200L, 300L -> 300L)).toMap
    val star = cc.alternatingStar(edges, "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star == expected)
    // O(log d), not O(d): the 63-hop chain must converge in far fewer
    // than 63 alternations (log2(63) ≈ 6; the bound leaves headroom for
    // the fixpoint-confirmation round and constant factors)
    assert(cc.lastAlternations.get() <= 12,
      s"${cc.lastAlternations.get()} alternations for a 63-chain — not O(log d)")
    // ground truth: the driver union-find path agrees
    val lp = cc.labelPropagation(edges, "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star == lp)
    // the observed-diameter switch: distributed propagation capped at 4
    // rounds hands off to the star path and still converges exactly
    val switched = cc.labelPropagation(edges, "s", "d", maxIter = 50,
        driverThreshold = 0L, starSwitchAfter = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(switched == expected)
  }

  test("ConnectedComponents.alternatingStar: self-loop-only nodes, looped edge nodes and isolated pairs, output == propagation") {
    import spark.implicits._
    val cc = graft.ops.ConnectedComponents
    // 7 and 9 appear only in self-loops (9 twice); 1 and 5 carry a
    // self-loop AND edges; {20,21} and {30,31} are isolated pairs
    val edges = Seq((7L, 7L), (9L, 9L), (9L, 9L), (1L, 1L), (1L, 2L), (2L, 3L),
      (5L, 5L), (4L, 5L), (20L, 21L), (31L, 30L)).toDF("s", "d")
    val expected = Map(7L -> 7L, 9L -> 9L, 1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 20L -> 20L, 21L -> 20L, 30L -> 30L, 31L -> 30L)
    val star = cc.alternatingStar(edges, "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(star.length == expected.size, s"one row per node: ${star.toSeq}")
    assert(star.toMap == expected)
    val lp = cc.labelPropagation(edges, "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star.toMap == lp)
    // without self-loops the labels come from the star alone
    val noLoops = edges.filter($"s" =!= $"d")
    assert(cc.alternatingStar(noLoops, "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      expected -- Seq(7L, 9L))
  }

  test("GlobalRank: two-pass row_number and ntile match the window forms") {
    import org.apache.spark.sql.expressions.Window
    val cust = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey"), col("c_acctbal"))
    val order = Seq(col("c_acctbal"), col("c_custkey"))
    val viaWindow = cust
      .withColumn("rn_w", row_number().over(Window.orderBy(order: _*)))
      .withColumn("nt_w", ntile(7).over(Window.orderBy(order: _*)))
    val viaTwoPass = graft.ops.GlobalRank.withNtile(
      graft.ops.GlobalRank.withRowNumber(cust, "rn_g", order), "nt_g", 7, order)
    val joined = viaWindow.join(viaTwoPass, "c_custkey")
    assert(joined.filter(col("rn_w") =!= col("rn_g") ||
      col("nt_w") =!= col("nt_g")).count() == 0)
    assert(joined.count() == cust.count())
    // descending + NULLS LAST order carries through range partitioning
    val withNulls = cust.withColumn("bal",
      when(col("c_custkey") % 11 === 0, lit(null).cast("double"))
        .otherwise(col("c_acctbal")))
    val ord2 = Seq(col("bal").desc_nulls_last, col("c_custkey"))
    val parity = withNulls
      .withColumn("rn_w", row_number().over(Window.orderBy(ord2: _*)))
      .join(graft.ops.GlobalRank.withRowNumber(withNulls, "rn_g", ord2)
        .select("c_custkey", "rn_g"), "c_custkey")
    assert(parity.filter(col("rn_w") =!= col("rn_g")).count() == 0)
    // fewer rows than tiles: ntile's one-row-per-bucket degenerate case
    val tiny = Seq((1L, 5.0), (2L, 1.0), (3L, 9.0)).toDF("id", "v")
    val ordT = Seq(col("v"), col("id"))
    val tinyParity = tiny
      .withColumn("nt_w", ntile(10).over(Window.orderBy(ordT: _*)))
      .join(graft.ops.GlobalRank.withNtile(tiny, "nt_g", 10, ordT)
        .select("id", "nt_g"), "id")
    assert(tinyParity.filter(col("nt_w") =!= col("nt_g")).count() == 0)
  }

  test("IncrementalAgg.merge over any partition of the input equals the direct aggregate") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_returnflag").as("k"), col("l_quantity").as("q"),
        col("l_extendedprice").as("p"))
    val direct = li.groupBy("k")
      .agg(sum("q").as("q"), min("p").as("p_min"), max("p").as("p_max"))
    // three uneven daily "partitions", each pre-aggregated
    val parts = Seq(col("p") < 20000, col("p") >= 20000 && col("p") < 40000,
      col("p") >= 40000).map { pred =>
      li.filter(pred).groupBy("k")
        .agg(sum("q").as("q"), min("p").as("p_min"), max("p").as("p_max"))
    }
    val merged = graft.ops.IncrementalAgg.merge(parts, Seq("k"),
      sumCols = Seq("q"), minCols = Seq("p_min"), maxCols = Seq("p_max"))
    val joined = direct.alias("d").join(merged.alias("m"), "k")
    assert(joined.count() == direct.count())
    assert(joined.filter(abs(col("d.q") - col("m.q")) > 1e-6 ||
      col("d.p_min") =!= col("m.p_min") || col("d.p_max") =!= col("m.p_max"))
      .count() == 0)
  }

  test("Scd2: insert/change/no-op per batch; asOf slices reconstruct each version") {
    import graft.ops.Scd2
    val v0 = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("k", "seg", "bal")
    val h0 = Scd2.init(v0, 0L)
    // v1: key 1 changes, key 2 arrives unchanged (no-op), key 4 is new
    val u1 = Seq((1L, "a", 11.0), (2L, "b", 20.0), (4L, "d", 40.0)).toDF("k", "seg", "bal")
    val h1 = Scd2(h0, u1, "k", Seq("seg", "bal"), 1L).cache()
    assert(h1.count() == 5) // 3 originals + closed-and-reopened 1 + new 4
    val cur = h1.filter(col("is_current")).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    assert(cur == Map(1L -> ("a", 11.0), 2L -> ("b", 20.0),
      3L -> ("c", 30.0), 4L -> ("d", 40.0)))
    val closedRow = h1.filter(col("k") === 1 && !col("is_current")).head
    assert(closedRow.getDouble(2) == 10.0 &&
      closedRow.getAs[Long]("valid_to") == 1L)
    // v2: key 1 changes again -> three versions of key 1 in history
    val u2 = Seq((1L, "z", 11.0)).toDF("k", "seg", "bal")
    val h2 = Scd2(h1, u2, "k", Seq("seg", "bal"), 2L).cache()
    assert(h2.filter(col("k") === 1).count() == 3)
    // as-of slices (validity-interval filters) reproduce each point-in-time image
    def asOf(history: org.apache.spark.sql.DataFrame, version: Long) =
      history.filter(col("valid_from") <= version &&
        (col("valid_to").isNull || col("valid_to") > version))
    def img(df: org.apache.spark.sql.DataFrame) = df.select("k", "seg", "bal")
      .collect().map(_.toSeq).toSet
    assert(img(asOf(h2, 0)) == v0.collect().map(_.toSeq).toSet)
    assert(img(asOf(h2, 1)) == Set(Seq(1L, "a", 11.0), Seq(2L, "b", 20.0),
      Seq(3L, "c", 30.0), Seq(4L, "d", 40.0)))
    assert(img(asOf(h2, 2)) == Set(Seq(1L, "z", 11.0), Seq(2L, "b", 20.0),
      Seq(3L, "c", 30.0), Seq(4L, "d", 40.0)))
    // null-safe change detection: null -> value IS a change
    val hn = Scd2.init(Seq((9L, null.asInstanceOf[String], 1.0)).toDF("k", "seg", "bal"), 0L)
    val hn1 = Scd2(hn, Seq((9L, "x", 1.0)).toDF("k", "seg", "bal"), "k", Seq("seg", "bal"), 1L)
    assert(hn1.count() == 2)
  }

  test("JoinEstimate.keyOverlap: exact below k, bounded error above, partition-independent") {
    val a = (1 to 2000).map(_.toLong).toDF("k")
    val b = (1001 to 3000).map(_.toLong).toDF("k")
    // sketches smaller than the key sets: estimates, bounded error
    val est = graft.ops.JoinEstimate.keyOverlap(
      a.repartition(7), col("k"), b.repartition(3), col("k"), 256).head
    assert(math.abs(est.getDouble(1) - 3000) / 3000 < 0.2, s"union ${est.getDouble(1)}")
    assert(math.abs(est.getDouble(2) - 1000) / 1000 < 0.3, s"inter ${est.getDouble(2)}")
    // identical under any partitioning (pure function of the data)
    val est2 = graft.ops.JoinEstimate.keyOverlap(a.repartition(2), col("k"), b, col("k"), 256).head
    assert(est.toSeq == est2.toSeq)
    // k above both cardinalities: everything exact
    val sm = graft.ops.JoinEstimate.keyOverlap(
      (1 to 50).map(_.toLong).toDF("k"), col("k"),
      (1 to 80).map(_.toLong).toDF("k"), col("k"), 256).head
    assert(sm.getDouble(1) == 80.0 && sm.getDouble(2) == 50.0)
  }

  test("Quality.kAnonymize: sparse QI groups suppressed, others released intact") {
    val df = Seq((1L, "x", 10), (2L, "x", 10), (3L, "x", 10),
      (4L, "y", 20), (5L, "y", 20)).toDF("id", "seg", "band")
    val out = graft.ops.Quality.kAnonymize(df, Seq("seg", "band"), k = 3)
      .collect().map(r => (r.getLong(0),
        Option(r.get(1)), Option(r.get(2)), r.getLong(3), r.getBoolean(4))).toSet
    assert(out == Set(
      (1L, Some("x"), Some(10), 3L, false), (2L, Some("x"), Some(10), 3L, false),
      (3L, Some("x"), Some(10), 3L, false),
      (4L, None, None, 2L, true), (5L, None, None, 2L, true)))
  }

  test("Quality.benford: log-uniform population conforms, capped population flags digit 1") {
    // geometric ladder 10^(i/1000) for i in [3000, 6000): first-digit
    // mass converges to log10(1+1/d) by equidistribution — every
    // chi2 term should be small. Deterministic (integer powers).
    val ladder = (3000 until 6000)
      .map(i => math.pow(10.0, i / 1000.0).toLong).toDF("v")
    val conform = graft.ops.Quality.benford(ladder, "v")
      .collect().map(r => r.getAs[Int]("digit") -> r.getAs[Double]("chi2_term"))
    assert(conform.map(_._1).toSeq == (1 to 9), "all nine digits present")
    assert(conform.map(_._2).sum < 15.51,
      s"log-uniform data should pass the df=8 5% gate: ${conform.toSeq}")
    // uniform [10000, 99999]: each first digit gets 1/9 of the mass —
    // digit 1 alone (expected 30.1%, observed 11.1%) blows the gate
    val uniform = (0 until 9000).map(i => 10000L + i * 10L).toDF("v")
    val flagged = graft.ops.Quality.benford(uniform, "v")
      .collect().map(r => r.getAs[Int]("digit") -> r.getAs[Double]("chi2_term"))
      .toMap
    assert(flagged.values.sum > 15.51 * 10,
      s"uniform data must fail the Benford gate decisively: $flagged")
    // exact count bookkeeping: observed sums to n; expected_fp to n*1e9
    // within the frozen constants' rounding residue
    val obs = graft.ops.Quality.benford(uniform, "v").collect()
    assert(obs.map(_.getAs[Long]("observed")).sum == 9000L)
    val expSum = obs.map(_.getAs[Long]("expected_fp")).sum
    assert(math.abs(expSum - 9000L * 1000000000L) <= 9000L,
      s"expected mass drifted: $expSum")
  }

  test("Quality.benford: an ABSENT digit still emits its full expected-mass term") {
    // every value starts with 1..4 — digits 5..9 never occur. A zero
    // count is the strongest fraud signal (its whole n*p_d mass lands
    // in the chi-square); the fixed digit spine must emit all 9 rows
    // with observed = 0 rather than dropping the term (r17 advice).
    val vals = (1 to 400).map(i => (i % 4 + 1).toLong).toDF("v")
    val rows = graft.ops.Quality.benford(vals, "v").collect()
    assert(rows.map(_.getAs[Int]("digit")).toSeq == (1 to 9),
      "all nine digits must emit")
    val byDigit = rows.map(r => r.getAs[Int]("digit") ->
      (r.getAs[Long]("observed"), r.getAs[Double]("chi2_term"))).toMap
    (5 to 9).foreach { d =>
      val (obs, term) = byDigit(d)
      assert(obs == 0L, s"digit $d should be unobserved")
      // (0 - n*p)^2 / (n*p) = n*p exactly (up to the frozen-constant
      // rounding residue): digit 9's 400 * 0.045757... ≈ 18.3
      val np = 400.0 * graft.ops.Quality.BenfordP9(d - 1) / 1e9
      assert(math.abs(term - np) < 1e-3,
        s"digit $d term $term should be its full expected mass $np")
    }
  }

  test("EntityResolution: blocked pairs find exactly the in-block fuzzy matches") {
    val names = Seq("jon's pizza", "jons pizza", "jonas pizzeria",
      "burger barn", "burger bern", "zebra cafe").toDF("name")
    val pairs = graft.ops.EntityResolution.blockedFuzzyPairs(
      names, "name", substring(col("name"), 1, 1), 0.93)
    val got = pairs.select("name_a", "name_b").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // j-block: jon's/jons are near-identical (0.979); jonas pizzeria is
    // below 0.93 to both (0.912 / len-banded out). b-block: barn/bern
    // differ by one vowel (0.964). zebra is alone in its block.
    assert(got == Set(("jon's pizza", "jons pizza"), ("burger barn", "burger bern")))
    // every emitted pair carries its raw score >= threshold
    assert(pairs.filter(col("jw_sim") < 0.93).count() == 0)
  }

  test("EntityResolution.sortedNeighborhoodPairs: reversed-sort window catches the first-letter typo prefix blocking misses") {
    // "kurger barn" is a FIRST-letter typo of "burger barn": first-letter
    // blocking can never pair them (different blocks); sorting by
    // reversed name makes the shared "...urger barn" suffix adjacent.
    val names = Seq("burger barn", "kurger barn", "zebra cafe",
      "jon's pizza", "mango hut").toDF("name")
    val prefixBlocked = graft.ops.EntityResolution.blockedFuzzyPairs(
        names, "name", substring(col("name"), 1, 1), 0.85)
      .select("name_a", "name_b").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(!prefixBlocked.contains(("burger barn", "kurger barn")),
      "fixture broken: prefix blocking found the cross-block pair")
    val snm = graft.ops.EntityResolution.sortedNeighborhoodPairs(
        names, "name", reverse(col("name")), window = 3, 0.85)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    assert(snm.map(p => (p._1, p._2)).contains(("burger barn", "kurger barn")),
      s"SNM missed the planted pair, got ${snm.toSeq}")
    snm.foreach(p => assert(p._3 >= 0.85))
    // window math: n entities emit at most (window-1) candidates each;
    // each unordered pair appears exactly once
    val pairs = snm.map(p => (p._1, p._2)).toSeq
    assert(pairs.size == pairs.distinct.size)
    // duplicate input names sort adjacent (unique ranks, equal keys) —
    // the strict name_a < name_b guard must drop the (x, x) self-pair
    // rather than emit it at jw 1.0
    val withDup = names.union(Seq("burger barn").toDF("name"))
    val dupPairs = graft.ops.EntityResolution.sortedNeighborhoodPairs(
        withDup, "name", reverse(col("name")), window = 3, 0.85)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(dupPairs.forall(p => p._1 < p._2),
      s"self-pair leaked from duplicate names: ${dupPairs.toSeq}")
  }

  test("Bfs.hopCounts: min-hop labels on a chain, isolated seeds kept at 0, directed mode one-way") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L)).toDF("s", "t")
    val seeds = Seq(1L, 9L).toDF("seed")
    val out = graft.ops.Bfs.hopCounts(edges, "s", "t", seeds, "seed", maxHops = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // 4 is 3 hops out -> beyond maxHops; 9 is an isolated seed at 0
    assert(out == Map(1L -> 0, 2L -> 1, 3L -> 2, 9L -> 0))
    // a node reachable two ways keeps the MINIMUM hop count
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("s", "t")
    val out2 = graft.ops.Bfs.hopCounts(tri, "s", "t", Seq(1L).toDF("seed"),
      "seed", maxHops = 3).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out2 == Map(1L -> 0, 2L -> 1, 3L -> 1))
    // directed: edges only expand forward
    val dir = graft.ops.Bfs.hopCounts(Seq((2L, 1L)).toDF("s", "t"),
        "s", "t", Seq(1L).toDF("seed"), "seed", maxHops = 2, undirected = false)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(dir == Map(1L -> 0), s"directed BFS crossed a reverse edge: $dir")
  }

  test("Hits.bipartite: mutual reinforcement ranks the aimed buyer over the stray; sides sum to 1") {
    import spark.implicits._
    // c1 buys from both suppliers, c2 only from s2 -> s2 out-ranks s1
    // (two buyers), c1 out-ranks c2 (broader + aimed at the winner)
    val e = Seq((10L, 100L, 1.0), (10L, 200L, 1.0), (20L, 200L, 1.0))
      .toDF("c", "s", "w")
    val out = graft.ops.Hits.bipartite(e, "c", "s", "w", iters = 5)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out(("auth", 200L)) > out(("auth", 100L)))
    assert(out(("hub", 10L)) > out(("hub", 20L)))
    val hubSum = out.collect { case (("hub", _), v) => v }.sum
    val authSum = out.collect { case (("auth", _), v) => v }.sum
    assert(math.abs(hubSum - 1.0) < 1e-8 && math.abs(authSum - 1.0) < 1e-8)
  }

  test("LabelProp.communities: two bridged triangles split into their cliques; ties break to the min label") {
    import spark.implicits._
    // triangles {1,2,3} and {4,5,6} joined by the bridge 3-4: after 3
    // synchronous rounds each clique consolidates on its own side of
    // the bridge (hand-traced: round 3 = {1,2,3}->1, {4,5,6}->3)
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L)).toDF("s", "t")
    val out = graft.ops.LabelProp.communities(edges, "s", "t", rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1, 2L -> 1, 3L -> 1, 4L -> 3, 5L -> 3, 6L -> 3))
    // rounds = 0 is the identity labeling
    val id = graft.ops.LabelProp.communities(edges, "s", "t", rounds = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(id == Map(1L -> 1, 2L -> 2, 3L -> 3, 4L -> 4, 5L -> 5, 6L -> 6))
    // directed: a node votes only over its OUT-neighbors; a source with
    // no out-edges keeps its own label
    val dir = graft.ops.LabelProp.communities(
        Seq((1L, 2L)).toDF("s", "t"), "s", "t", rounds = 1, undirected = false)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dir == Map(1L -> 2, 2L -> 2), s"directed vote wrong: $dir")
  }

  test("ShortestPaths.bellmanFord: a cheap 2-hop path undercuts a direct edge; labels improve after discovery") {
    import spark.implicits._
    // 1-3 direct costs 10; 1-2-3 costs 2 — round 1 labels node 3 with
    // 10 (discovery), round 2 IMPROVES it to 2 (the relaxation BFS
    // never does); node 4 is 3 edges out, beyond rounds = 2
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 10L), (3L, 4L, 1L))
      .toDF("s", "t", "w")
    val seeds = Seq(1L).toDF("seed")
    val r1 = graft.ops.ShortestPaths.bellmanFord(edges, "s", "t", "w",
        seeds, "seed", rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 == Map(1L -> 0, 2L -> 1, 3L -> 10))
    val r2 = graft.ops.ShortestPaths.bellmanFord(edges, "s", "t", "w",
        seeds, "seed", rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r2 == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 11))
    // directed: the reverse edge does not relax
    val dir = graft.ops.ShortestPaths.bellmanFord(
        Seq((2L, 1L, 5L)).toDF("s", "t", "w"), "s", "t", "w",
        seeds, "seed", rounds = 2, undirected = false)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dir == Map(1L -> 0), s"directed relaxation crossed a reverse edge: $dir")
  }

  test("Landmarks.hopDistances: per-landmark distances stay separate where Bfs would merge") {
    import spark.implicits._
    // path 1-2-3-4-5, landmarks {1, 5}: node 3 is 2 hops from BOTH —
    // two sketch rows, where Bfs.hopCounts would keep a single min
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("s", "t")
    val sk = graft.ops.Landmarks.hopDistances(edges, "s", "t",
      Seq(1L, 5L).toDF("lm"), "lm", maxHops = 2)
    val rows = sk.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(rows == Map((1L, 1L) -> 0, (2L, 1L) -> 1, (3L, 1L) -> 2,
      (5L, 5L) -> 0, (4L, 5L) -> 1, (3L, 5L) -> 2))
  }

  test("Landmarks.eccentricity: chain bound exact at full hops, star truncation keeps a valid lower bound") {
    import spark.implicits._
    // chain 1-2-3-4-5, landmarks {1, 5}, maxHops = 4 covers the whole
    // chain: true ecc is max(d to 1, d to 5) = {4,3,2,3,4} and the
    // sketch sees every distance, so the bound is EXACT and
    // diameter_lb = 4 on every row.
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("s", "t")
    val full = graft.ops.Landmarks.eccentricity(
      graft.ops.Landmarks.hopDistances(chain, "s", "t",
        Seq(1L, 5L).toDF("lm"), "lm", maxHops = 4))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3)))).toMap
    assert(full == Map(
      1L -> ((1, 4, 4)), 2L -> ((2, 3, 4)), 3L -> ((2, 2, 4)),
      4L -> ((2, 3, 4)), 5L -> ((1, 4, 4))), s"got $full")
    // star center 0 with leaves 1..4, landmark {1}, maxHops = 1: leaf
    // 2..4 are 2 hops away and fall outside the sketch — the bound
    // degrades to the seen radius (diameter_lb = 1 ≤ true 2), never
    // overshoots.
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)).toDF("s", "t")
    val trunc = graft.ops.Landmarks.eccentricity(
      graft.ops.Landmarks.hopDistances(star, "s", "t",
        Seq(1L).toDF("lm"), "lm", maxHops = 1))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3)))).toMap
    assert(trunc == Map(1L -> ((0, 0, 1)), 0L -> ((1, 1, 1))), s"got $trunc")
  }

  test("KCore.coreness: matches hand peeling on clique+tail+ring; degree is NOT coreness; budget fails fast") {
    import spark.implicits._
    // K4 {1,2,3,4} (coreness 3) with a tail 4-5-6 (coreness 1) and a
    // separate ring 7-8-9-7 (coreness 2). Node 4 has DEGREE 4 but
    // coreness 3, and node 5 has degree 2 but coreness 1 — the two
    // standard "degree lies" cases h-index iteration must fix.
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L), (7L, 8L), (8L, 9L), (9L, 7L))
      .toDF("s", "t")
    val out = graft.ops.KCore.coreness(edges, "s", "t")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == Map(1L -> 3, 2L -> 3, 3L -> 3, 4L -> 3,
      5L -> 1, 6L -> 1, 7L -> 2, 8L -> 2, 9L -> 2), s"got $out")
    // an exhausted round budget must refuse (values would be upper
    // bounds, not corenesses)
    val ex = intercept[IllegalArgumentException] {
      graft.ops.KCore.coreness(edges, "s", "t", maxIter = 1)
    }
    assert(ex.getMessage.contains("fixed point"))
    // an edgeless input returns the empty frame, not an NPE
    assert(graft.ops.KCore.coreness(
      edges.filter(col("s") < 0), "s", "t").count() == 0L)
  }

  test("Dbscan.cluster: co-located collapse, core/border/noise roles, two separated clusters") {
    import spark.implicits._
    // equator points, 1 deg lon = 111.2 km; eps = 150 km, minPts = 3.
    // Cluster 1: triple-duplicate site {1,2,3} at lon 10 (each sees 2
    // co-located + point 4 -> core), point 4 at lon 11 (sees mult-3
    // site -> core), point 5 at lon 12 (sees only 4 -> border).
    // Cluster 2: chain 6..9 at lon 20/20.5/21/21.5 — inner pair {7,8}
    // see 3 each (core), ends {6,9} see 2 (border). Point 10 at lon 50
    // is noise. Labels = min core SITE id per component: 1 and 7.
    val pts = Seq((1L, 10.0), (2L, 10.0), (3L, 10.0), (4L, 11.0),
      (5L, 12.0), (6L, 20.0), (7L, 20.5), (8L, 21.0), (9L, 21.5),
      (10L, 50.0)).map { case (id, lon) => (id, 0.0, lon) }
      .toDF("id", "lat", "lon")
    val out = graft.ops.Dbscan.cluster(pts, "id", "lat", "lon",
        epsKm = 150.0, minPts = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    assert(out == Map(
      1L -> (("core", 1L)), 2L -> (("core", 1L)), 3L -> (("core", 1L)),
      4L -> (("core", 1L)), 5L -> (("border", 1L)),
      6L -> (("border", 7L)), 7L -> (("core", 7L)), 8L -> (("core", 7L)),
      9L -> (("border", 7L)), 10L -> (("noise", -1L))), s"got $out")
  }

  test("Robust.winsorizedStats: bounds at the exact p-ranks, clamp counted, singleton group self-bounded") {
    import spark.implicits._
    // group A: 1..10 at (0.2, 0.8) -> lo = rank ceil(2) = 2, hi = rank
    // ceil(8) = 8; clipped {1, 9, 10}; sum = 2+2+3+4+5+6+7+8+8+8
    val df = ((1L to 10L).map(("A", _)) :+ (("B", 100L))).toDF("g", "v")
    val out = graft.ops.Robust.winsorizedStats(df, "g", "v", 0.2, 0.8)
      .collect().map(r => r.getString(0) ->
        ((r.getInt(1), r.getLong(2), r.getLong(3), r.getInt(4), r.getLong(5)))).toMap
    assert(out("A") == ((10, 2L, 8L, 3, 53L)), s"got ${out("A")}")
    // a singleton group clamps to itself: lo = hi = the value, nothing clipped
    assert(out("B") == ((1, 100L, 100L, 0, 100L)), s"got ${out("B")}")
  }

  test("Robust.madOutliers: the spike can't widen its own threshold; zero-MAD group flags every off-median row") {
    import spark.implicits._
    // A: 1,2,3,100 -> lower median 2, devs {1,0,1,98} -> MAD 1; only
    // the 100 clears 3·MAD (mean±3σ would have been dragged to ~26±...
    // by the spike itself and missed nothing smaller)
    val df = Seq(("A", 1L, 1L), ("A", 2L, 2L), ("A", 3L, 3L), ("A", 4L, 100L),
      ("B", 1L, 5L), ("B", 2L, 5L), ("B", 3L, 5L), ("B", 4L, 9L))
      .toDF("g", "t", "v")
    val out = graft.ops.Robust.madOutliers(df, "g", "t", "v", k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out.keySet == Set(("A", 4L), ("B", 4L)), s"flags: ${out.keySet}")
    assert(out(("A", 4L)) == ((100L, 2L, 1L)))
    // B: median 5, devs {0,0,0,4} -> MAD 0 (the documented degenerate
    // contract): any deviation flags
    assert(out(("B", 4L)) == ((9L, 5L, 0L)))
  }

  test("Mis.luby: independent every round, maximal at convergence, bit-deterministic, partial rounds honest") {
    import spark.implicits._
    // 20-node lattice: path edges + skip-5 chords
    val epairs = (1L to 19L).map(i => (i, i + 1)) ++ (1L to 15L).map(i => (i, i + 5))
    val edges = epairs.toDF("s", "t")
    def run(r: Int) = graft.ops.Mis.luby(edges, "s", "t", rounds = r)
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    val out = run(8)
    assert(out.size == 20 && !out.values.exists(_ == "undecided"),
      s"unconverged at 8 rounds: $out")
    val inSet = out.collect { case (n, "in") => n }.toSet
    // independence: no edge joins two members
    assert(!epairs.exists { case (a, b) => inSet(a) && inSet(b) },
      s"adjacent members: $inSet")
    // maximality: every excluded node has a member neighbor
    val nbrs = epairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    out.collect { case (n, "out") => n }.foreach { n =>
      assert(nbrs(n).exists(inSet), s"node $n excluded with no member neighbor")
    }
    // hash priorities, not coin flips: a re-run is bit-identical
    assert(run(8) == out)
    // a partial run reports undecided nodes instead of dropping them,
    // and members are monotone: a round-1 winner never un-wins
    val one = run(1)
    assert(one.size == 20, s"round-1 output lost nodes: ${one.size}")
    assert(one.collect { case (n, "in") => n }.toSet.subsetOf(inSet))
  }

  test("RandomWalk.walks: every hop follows an edge, walks run full length, and hash seeding makes re-runs identical") {
    import spark.implicits._
    // 5-cycle: every node has degree 2, no dead ends
    val ring = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 1L))
    val edges = ring.toDF("s", "t")
    val seeds = Seq(1L, 3L).toDF("seed")
    def run() = graft.ops.RandomWalk.walks(edges, "s", "t", seeds, "seed", steps = 3)
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    val out = run()
    // 2 walkers × steps 0..3, none lost
    assert(out.size == 8, s"expected 8 (walker, step) rows, got ${out.size}")
    assert(out((1L, 0)) == 1L && out((3L, 0)) == 3L)
    // every consecutive pair is a real (symmetrized) edge
    val adj = ring.flatMap { case (a, b) => Seq(a -> b, b -> a) }.toSet
    for (w <- Seq(1L, 3L); i <- 0 to 2)
      assert(adj(out((w, i)) -> out((w, i + 1))),
        s"walker $w hopped ${out((w, i))} -> ${out((w, i + 1))}, not an edge")
    // derandomized: a second run is bit-identical
    assert(run() == out)
  }

  test("Truss.ktruss: clique survives, pendant triangles/edges peel by k, cascades drain to empty") {
    import spark.implicits._
    // 5-clique {1..5} + pendant triangle {5,6,7} + pendant edge 7-8
    val clique = for (i <- 1L to 5L; j <- (i + 1) to 5L) yield (i, j)
    val g = clique ++ Seq((5L, 6L), (5L, 7L), (6L, 7L), (7L, 8L))
    def truss(k: Int, edges: Seq[(Long, Long)]) =
      graft.ops.Truss.ktruss(edges.toDF("s", "t"), "s", "t", k)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // 4-truss: every clique edge closes 3 triangles among survivors;
    // the pendant triangle (support 1) and edge (0) peel in round one
    val t4 = truss(4, g)
    assert(t4.keySet == clique.toSet && t4.values.forall(_ == 3L), s"got $t4")
    // 3-truss keeps the pendant triangle (support 1), not the edge
    val t3 = truss(3, g)
    assert(t3.keySet == clique.toSet ++ Set((5L, 6L), (5L, 7L), (6L, 7L)))
    // 2-truss is the whole simple graph, support-0 edges included
    assert(truss(2, g).get((7L, 8L)).contains(0L))
    // cascade: a triangle strip where the two support-2 edges lose
    // their triangles once the support-1 edges peel -> empty 4-truss
    val strip = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (3L, 5L), (4L, 5L))
    assert(truss(4, strip).isEmpty, "cascade did not drain")
  }

  test("RandomWalk.biasedWalks: p/q steer returns vs ventures; hops valid; deterministic; non-pow2 rejected") {
    import spark.implicits._
    // path 0-1-2-...-30: every interior step-2+ hop is a binary choice
    // between RETURNING to prev (weight 1/p) and VENTURING on (the far
    // neighbor is at distance 2 from prev -> weight 1/q)
    val path = (0L until 30L).map(i => (i, i + 1)).toDF("s", "t")
    val seeds = Seq(5L, 10L, 15L, 20L, 25L).toDF("seed")
    def runWalk(p: Double, q: Double) =
      graft.ops.RandomWalk.biasedWalks(path, "s", "t", seeds, "seed",
          steps = 4, returnP = p, inoutQ = q)
        .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    def returnFraction(out: Map[(Long, Int), Long]): Double = {
      val moves = for (w <- Seq(5L, 10L, 15L, 20L, 25L); i <- 2 to 4)
        yield out((w, i)) == out((w, i - 2)) // hopped back where it came from
      moves.count(identity).toDouble / moves.size
    }
    // outward bias (p high, q low): weight ratio venture/return = 2^20 —
    // with 15 binary choices the deterministic md5 coins all go outward
    val dfs = runWalk(1024.0, 1.0 / 1024.0)
    assert(dfs.size == 25, s"expected 5 walkers x steps 0..4, got ${dfs.size}")
    val adj = (0L until 30L).flatMap(i => Seq((i, i + 1), (i + 1, i))).toSet
    for (w <- Seq(5L, 10L, 15L, 20L, 25L); i <- 0 to 3)
      assert(adj((dfs((w, i)), dfs((w, i + 1)))),
        s"walker $w hopped ${dfs((w, i))} -> ${dfs((w, i + 1))}, not an edge")
    assert(returnFraction(dfs) == 0.0, "outward bias still returned")
    // return bias (p low, q high): every binary choice snaps back
    val bfs = runWalk(1.0 / 1024.0, 1024.0)
    assert(returnFraction(bfs) == 1.0, "return bias still ventured")
    // derandomized: bit-identical re-run
    assert(runWalk(1024.0, 1.0 / 1024.0) == dfs)
    // float discipline is enforced, not advisory
    intercept[IllegalArgumentException] {
      graft.ops.RandomWalk.biasedWalks(path, "s", "t", seeds, "seed",
        steps = 1, returnP = 3.0, inoutQ = 0.5)
    }
  }

  test("Forecast.holtBacktest: hand-traced level/trend on a linear ramp; singleton key scores zero") {
    import spark.implicits._
    // y = 10,12,14,16 at alpha = beta = 0.5 (all state binary-exact):
    // l: 10 -> 11 -> 12.75 -> 14.9375; b: 0 -> 0.5 -> 1.125 -> 1.65625
    // one-step errors 2, 2.5, 2.125 -> mae = 6.625/3
    val df = Seq(("a", 0L, 10L), ("a", 1L, 12L), ("a", 2L, 14L),
      ("a", 3L, 16L), ("b", 0L, 7L)).toDF("k", "t", "v")
    val out = graft.ops.Forecast.holtBacktest(df, Seq("k"), "t", "v", 0.5, 0.5)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(out("a") == ((4L, 2.208333, 14.9375, 1.65625)), s"got ${out("a")}")
    // a single observation: no forecast to score, state = (y0, 0)
    assert(out("b") == ((1L, 0.0, 7.0, 0.0)), s"got ${out("b")}")
  }

  test("Forecast.holtWintersBacktest: pure alternating season is predicted exactly; short keys drop") {
    import spark.implicits._
    // season = 2, y = 10,20,10,20,10,20: l0 = 15, s = [-5, 5], b = 0.
    // Every one-step forecast l+b+s_head hits the truth exactly, so the
    // state is a fixpoint: mae 0, level 15, trend 0; after the last
    // (even-index) observation the queue is [-5, 5] -> seasonal_next -5.
    val df = ((0 until 6).map(t => ("a", t.toLong, if (t % 2 == 0) 10L else 20L)) :+
      (("b", 0L, 7L)) :+ (("b", 1L, 9L))).toDF("k", "t", "v")
    val out = graft.ops.Forecast.holtWintersBacktest(
        df, Seq("k"), "t", "v", 0.5, 0.3, 0.2, season = 2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5)))).toMap
    assert(out("a") == ((6L, 0.0, 15.0, 0.0, -5.0)), s"got ${out.get("a")}")
    // "b" has exactly season observations: nothing to forecast -> dropped
    assert(!out.contains("b"), s"short key survived: ${out.get("b")}")
  }

  test("Forecast.seasonalNaiveBacktest: perfect season scores zero; gaps drop honestly instead of misaligning") {
    import spark.implicits._
    val perfect = (0L until 72L).map(t => ("a", t, (t % 24) + 1))
    val out = graft.ops.Forecast.seasonalNaiveBacktest(
      perfect.toDF("k", "t", "v"), Seq("k"), "t", "v", season = 24L).head
    // hours 24..71 each have a day-ago twin with the identical value
    assert(out.getLong(1) == 48 && out.getDouble(2) == 0.0 && out.getDouble(3) == 0.0)
    // remove hour 30: a ROW-lag would misalign every later hour by one
    // and score spurious error; the join drops exactly hour 30 (no
    // current row) and hour 54 (no predictor) and still scores 0
    val gapped = perfect.filterNot(_._2 == 30L)
    val g = graft.ops.Forecast.seasonalNaiveBacktest(
      gapped.toDF("k", "t", "v"), Seq("k"), "t", "v", season = 24L).head
    assert(g.getLong(1) == 46, s"n_eval ${g.getLong(1)}")
    assert(g.getDouble(2) == 0.0, s"gap misaligned the season: mape ${g.getDouble(2)}")
  }

  test("Forecast.ar2Backtest: alternating series fits phi=(-10/11,-1/11) closed-form; degenerates to the mean model") {
    import spark.implicits._
    // y = 10,20,10,20,10,20 (n=6, mean 15). Exact integer moments:
    //   c0 = 25, c1 = -125/6, c2 = 100/6, d = 6875/36
    //   phi1 = -10/11, phi2 = -1/11; every scored row errs by 10/11.
    val alt = (0 until 6).map(t => ("a", t.toLong, if (t % 2 == 0) 10L else 20L))
    // constant series: c0 = 0 -> degenerate -> mean model, zero error
    val const = (0 until 5).map(t => ("c", t.toLong, 7L))
    // two points: no lag-2 pair row -> inner moment join drops the key
    val short = Seq(("s", 0L, 1L), ("s", 1L, 2L))
    val out = graft.ops.Forecast.ar2Backtest(
        (alt ++ const ++ short).toDF("k", "t", "v"), Seq("k"), "t", "v")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5)))).toMap
    assert(out("a") == ((6L, 4L, -0.909091, -0.090909, 0.909091)),
      s"got ${out.get("a")}")
    assert(out("c") == ((5L, 3L, 0.0, 0.0, 0.0)), s"got ${out.get("c")}")
    assert(!out.contains("s"), s"keyless-of-lag2 key survived: ${out.get("s")}")
  }

  test("Forecast.decompose: linear trend + alternating season recovered exactly; a gap drops windows, never misaligns") {
    import spark.implicits._
    // y_t = 10t + s_t with s = +3 (even t) / -3 (odd t), season m = 2:
    // the 2x2 centered MA cancels the season exactly -> trend 10t,
    // seasonal +-3 after centering, remainder 0 on every full window.
    def y(t: Long) = 10L * t + (if (t % 2 == 0) 3L else -3L)
    val full = (0L until 10L).map(t => ("a", t, y(t))).toDF("k", "t", "v")
    val out = graft.ops.Forecast.decompose(full, Seq("k"), "t", "v", 2)
      .collect().map(r => r.getLong(1) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(out.keySet == (1L to 8L).toSet, s"full-window rows: ${out.keySet}")
    (1L to 8L).foreach { t =>
      val exp = ((y(t), 10.0 * t, if (t % 2 == 0) 3.0 else -3.0, 0.0))
      assert(out(t) == exp, s"t=$t got ${out(t)} want $exp")
    }
    // remove t=5: rows 4,5,6 lose their window (wcnt < m+1) and are
    // DROPPED; survivors keep exact trend/seasonal (no row-lag slip)
    val gapped = (0L until 10L).filterNot(_ == 5L).map(t => ("a", t, y(t)))
      .toDF("k", "t", "v")
    val g = graft.ops.Forecast.decompose(gapped, Seq("k"), "t", "v", 2)
      .collect().map(r => r.getLong(1) ->
        ((r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(g.keySet == Set(1L, 2L, 3L, 7L, 8L), s"gap survivors: ${g.keySet}")
    g.foreach { case (t, got) =>
      val exp = ((10.0 * t, if (t % 2 == 0) 3.0 else -3.0, 0.0))
      assert(got == exp, s"gapped t=$t got $got want $exp")
    }
  }

  test("Markov.firstOrderBacktest: temporal split, argmax with lexicographic tie, unseen state drops") {
    import spark.implicits._
    // user 1: A,B alternate through t=6 then A->C, C->A, A->B; pair
    // times span [0,8] -> integer cutoff 0 + (8*4) div 5 = 6.
    val u1 = Seq((1L, 0L, 10L, "A"), (1L, 1L, 11L, "B"), (1L, 2L, 12L, "A"),
      (1L, 3L, 13L, "B"), (1L, 4L, 14L, "A"), (1L, 5L, 15L, "B"),
      (1L, 6L, 16L, "A"), (1L, 7L, 17L, "C"), (1L, 8L, 18L, "A"),
      (1L, 9L, 19L, "B"))
    // user 2 (all train): D->A and D->B tie at 1 -> lexicographic "A"
    val u2 = Seq((2L, 0L, 20L, "D"), (2L, 1L, 21L, "A"), (2L, 2L, 22L, "D"),
      (2L, 3L, 23L, "B"))
    // user 3: equal-time rows ordered by the unique tie column
    val u3 = Seq((3L, 5L, 31L, "X"), (3L, 5L, 32L, "Y"))
    val out = graft.ops.Markov.firstOrderBacktest(
        (u1 ++ u2 ++ u3).toDF("user_id", "t", "event_id", "event_type"),
        "user_id", "t", "event_id", "event_type")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4)))).toMap
    // A trains B x3 + D x1 -> top B; test pairs A@6->C (miss), A@8->B (hit)
    assert(out("A") == ((4L, 2L, "B", 0.5)), s"got ${out.get("A")}")
    assert(out("B") == ((3L, 0L, "A", 0.0)), s"got ${out.get("B")}")
    assert(out("D") == ((2L, 0L, "A", 0.0)), s"tie-break: ${out.get("D")}")
    assert(out("X") == ((1L, 0L, "Y", 0.0)), s"got ${out.get("X")}")
    // C appears as "current" only in the test window: no model row
    assert(!out.contains("C"), s"unseen-in-train state scored: ${out.get("C")}")
  }

  test("Betweenness.truncatedBrandes: diamond splits dependency dyadically; horizon truncates; sources sum") {
    import spark.implicits._
    // diamond + tail: s->a, s->b, a->t, b->t, t->u (sigma(t) = 2)
    val dia = Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
      .toDF("s", "t")
    val bc = graft.ops.Betweenness.truncatedBrandes(
        dia, "s", "t", Seq(0L).toDF("n"), "n", maxDepth = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // delta(t) = 2/2·(1+0) = 1; delta(a) = delta(b) = 1/2·(1+1) = 1
    assert(bc == Map(1L -> 1.0, 2L -> 1.0, 3L -> 1.0, 4L -> 0.0), s"got $bc")
    // chain 0->1->...->5, horizon 3: delta(pos p) = 3 - p; 4,5 unreached
    val chain = (0L until 5L).map(i => (i, i + 1)).toDF("s", "t")
    val one = graft.ops.Betweenness.truncatedBrandes(
        chain, "s", "t", Seq(0L).toDF("n"), "n", maxDepth = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(one == Map(1L -> 2.0, 2L -> 1.0, 3L -> 0.0), s"got $one")
    // a second source contributes additively from its own sweep
    val two = graft.ops.Betweenness.truncatedBrandes(
        chain, "s", "t", Seq(0L, 2L).toDF("n"), "n", maxDepth = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(two == Map(1L -> 2.0, 2L -> 1.0, 3L -> 2.0, 4L -> 1.0, 5L -> 0.0),
      s"got $two")
  }

  test("Centrality.harmonicFromSources: fixed-point 1/d sums exactly across sources; horizon bounds reach") {
    import spark.implicits._
    val dia = Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
      .toDF("s", "t")
    val one = graft.ops.Centrality.harmonicFromSources(
        dia, "s", "t", Seq(0L).toDF("n"), "n", maxDepth = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    // dists from 0: {1:1, 2:1, 3:2, 4:3}; 1/3 quantizes to 0.333333
    assert(one == Map(1L -> ((1L, 1.0)), 2L -> ((1L, 1.0)),
      3L -> ((1L, 0.5)), 4L -> ((1L, 0.333333))), s"got $one")
    // a second source: node 3 = 1/1 + 1/2, node 4 = 1/2 + 1/3 (exact
    // integer sum of the quantized weights: 833333 -> 0.833333)
    val two = graft.ops.Centrality.harmonicFromSources(
        dia, "s", "t", Seq(0L, 1L).toDF("n"), "n", maxDepth = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(two(3L) == ((2L, 1.5)) && two(4L) == ((2L, 0.833333)), s"got $two")
    // horizon 1: only direct successors remain
    val h1 = graft.ops.Centrality.harmonicFromSources(
        dia, "s", "t", Seq(0L).toDF("n"), "n", maxDepth = 1)
      .collect().map(r => r.getLong(0)).toSet
    assert(h1 == Set(1L, 2L), s"horizon leak: $h1")
  }

  test("EntityResolution.blockingQuality: trivial block -> completeness 1, no reduction") {
    val names = Seq("abc", "abd", "xbd", "qqq").toDF("name")
    // one global block, wide band: every pair is a candidate
    val r = graft.ops.EntityResolution.blockingQuality(
      names, "name", lit(1), 0.8, maxLenDiff = 99).head
    assert(r.getLong(0) == 6)                  // C(4,2)
    assert(r.getLong(1) == 6)                  // all candidates
    assert(r.getLong(2) == r.getLong(3))       // every true pair retained
    assert(r.getDouble(4) == 1.0)              // pair completeness
    assert(r.getDouble(5) == 0.0)              // no reduction
    // first-char blocking splits abc/abd from xbd: completeness drops, reduction rises
    val b = graft.ops.EntityResolution.blockingQuality(
      names, "name", substring(col("name"), 1, 1), 0.8).head
    assert(b.getLong(1) < 6 && b.getDouble(5) > 0.0)
    assert(b.getDouble(4) <= 1.0)
  }

  test("EntityResolution.blockingQuality: fact-table-scale input fails fast, never launches n²") {
    val wide = spark.range(10).select(concat(lit("n"), col("id")).as("name"))
    val ex = intercept[IllegalArgumentException] {
      graft.ops.EntityResolution.blockingQuality(
        wide, "name", lit(1), 0.8, maxEntities = 5L)
    }
    assert(ex.getMessage.contains("all-pairs") &&
      ex.getMessage.contains("cap 5"), ex.getMessage)
    // at the cap it still runs
    val ok = graft.ops.EntityResolution.blockingQuality(
      wide.limit(5), "name", lit(1), 0.8, maxEntities = 5L).head
    assert(ok.getLong(0) == 10)                // C(5,2)
  }

  test("EntityResolution.canonicalize: min name per component, singletons self") {
    val names = Seq("aa", "ab", "ac", "zz", "qq").toDF("name")
    val pairs = Seq(("aa", "ab"), ("ab", "ac")).toDF("name_a", "name_b")
      .withColumn("jw_sim", lit(1.0))
    val m = graft.ops.EntityResolution.canonicalize(names, "name", pairs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m == Map("aa" -> "aa", "ab" -> "aa", "ac" -> "aa",
      "zz" -> "zz", "qq" -> "qq"))
  }

  test("RangeJoin.pointInInterval matches the naive BETWEEN join") {
    val pts = (0 until 200).map(i => (i, i * 7.3 % 100)).toDF("pid", "x")
    val iv = (0 until 30).map(i => (i, i * 3.1, i * 3.1 + 12.5)).toDF("iid", "lo", "hi")
    val binned = graft.ops.RangeJoin.pointInInterval(pts, "x", iv, "lo", "hi", 10.0)
      .select("pid", "iid").collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    val naive = pts.join(iv, col("x") >= col("lo") && col("x") <= col("hi"))
      .select("pid", "iid").collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(binned == naive && binned.nonEmpty)
  }

  /** The plain ordered self-join: one (group, pa, pb) row per pair of
    * rows of one group with `d`(a) strictly before `d`(b) and distinct
    * items — the reference [[graft.ops.Cooccur.spanGroupPairs]] must
    * equal after a DISTINCT.
    */
  private def orderedGroupPairs(df: org.apache.spark.sql.DataFrame) =
    df.select(col("o"), col("d").as("da"), col("p").as("pa"))
      .join(df.select(col("o"), col("d").as("db"), col("p").as("pb")), "o")
      .filter(col("da") < col("db") && col("pa") =!= col("pb"))
      .select("o", "pa", "pb")

  test("Cooccur.spanGroupPairs: equals orderedGroupPairs.distinct on repeats and through the hub path") {
    import spark.implicits._
    // repeated purchases of the same item (multiple dates per (g, p))
    // are the case the span reduction exists for
    val normal = (0 until 12).flatMap(g => (0 until 6).map(i =>
      (g.toLong, (i % 3).toLong, (g * 10 + i % 4).toLong)))
    val hub = (0 until 120).map(i => (999L, (i % 5).toLong, 10000L + i % 40))
    val df = (normal ++ hub).toDF("o", "d", "p").repartition(8)
    def img(x: org.apache.spark.sql.DataFrame) =
      x.collect().map(_.toSeq).sortBy(_.toString).toSeq
    val span = graft.ops.Cooccur.spanGroupPairs(df, "o", "d", "p",
      hubThreshold = 30, salts = 8)
    val ref = orderedGroupPairs(df).distinct()
    assert(img(span) == img(ref), "span reduction changed the pair set")
    // and each pair really is emitted exactly once (no distinct needed)
    assert(span.count() == span.distinct().count(), "duplicate emissions")
  }

  test("Allocate.largestRemainder: sums to budget exactly, each within one of its quota") {
    import spark.implicits._
    val w = Seq(("a", 372L), ("b", 415L), ("c", 213L), ("d", 1L)).toDF("k", "w")
    val budget = 1000L
    val out = graft.ops.Allocate.largestRemainder(w, "k", "w", budget)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.map(_._3).sum == budget)
    val tw = out.map(_._2).sum.toDouble
    out.foreach { case (k, wi, a) =>
      val quota = budget * wi / tw
      assert(math.abs(a - quota) < 1.0, s"$k: alloc $a vs quota $quota")
    }
    // zero-weight keys get zero; budget smaller than #keys still sums
    val tiny = graft.ops.Allocate.largestRemainder(
      Seq(("a", 5L), ("b", 5L), ("c", 0L)).toDF("k", "w"), "k", "w", 1L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(tiny.values.sum == 1L && tiny("c") == 0L)
  }

  test("KCore: converged peel equals the true k-core fixpoint; monotone in rounds") {
    import spark.implicits._
    // planted structure: a K5 clique (5 nodes, deg 4), a path of 6
    // (interior deg 2), and a pendant chain off the clique
    val clique = for (a <- 0 to 4; b <- 0 to 4 if a < b) yield (a.toLong, b.toLong)
    val path = (10L to 14L).map(i => (i, i + 1))
    val pendant = Seq((4L, 20L), (20L, 21L))
    val edges = (clique ++ path ++ pendant).toDF("s", "d")
    def core(k: Int, rounds: Int) = graft.ops.KCore.kCore(edges, "s", "d", k, rounds)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // 3-core = exactly the K5 clique, every member at in-core degree 4
    assert(core(3, 5) == (0L to 4L).map(_ -> 4).toMap)
    // 2-core: clique only again (the path/pendant peel away end-first)
    assert(core(2, 8).keySet == (0L to 4L).toSet)
    // fixpoint: more rounds past convergence change nothing
    assert(core(3, 5) == core(3, 10))
    // monotone: survivors can only shrink as rounds increase
    val r1 = core(2, 1).keySet
    val r3 = core(2, 3).keySet
    assert(r3.subsetOf(r1))
  }

  test("Cooccur.groupPairs: hub groups route to the fragment-replicate path, pairs identical") {
    import spark.implicits._
    // 30 normal groups of 4 items + one pathological hub of 120 items
    val normal = (0 until 30).flatMap(g => (0 until 4).map(i => (g.toLong, (g * 10 + i).toLong)))
    val hub = (0 until 120).map(i => (999L, 10000L + i))
    val df = (normal ++ hub).toDF("o", "p").repartition(8)
    val guarded = graft.ops.Cooccur.groupPairs(df, "o", "p",
      hubThreshold = 50, salts = 8)
    val naive = df.select(col("o"), col("p").as("pa"))
      .join(df.select(col("o"), col("p").as("pb")), "o")
      .filter(col("pa") < col("pb"))
    def img(d: org.apache.spark.sql.DataFrame) = d.select("o", "pa", "pb")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(img(guarded) == img(naive))
    // the hub's 120·119/2 pairs really are produced across MANY tasks —
    // the plain self-join keys them all to ONE reducer. (AQE's
    // small-partition coalescing re-merges them at this toy scale, so
    // switch it off to observe the distribution the exchange creates.)
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(coalesceKey)
    try {
      spark.conf.set(coalesceKey, "false")
      val hubParts = graft.ops.Cooccur.groupPairs(df, "o", "p",
          hubThreshold = 50, salts = 8)
        .filter(col("o") === 999L)
        .select(org.apache.spark.sql.functions.spark_partition_id()).distinct().count()
      assert(hubParts > 1, s"hub pairs came from $hubParts task(s) — guard never engaged")
      // the unguarded contrast: a SHUFFLED self-join on the group key
      // (what real-scale stats force) hot-spots the hub on ONE reducer
      val shuffledNaive = df.select(col("o"), col("p").as("pa")).hint("shuffle_hash")
        .join(df.select(col("o"), col("p").as("pb")), "o")
        .filter(col("pa") < col("pb"))
      val plainParts = shuffledNaive.filter(col("o") === 999L)
        .select(org.apache.spark.sql.functions.spark_partition_id()).distinct().count()
      assert(plainParts == 1, s"expected the unguarded join to hot-spot one task, saw $plainParts")
    } finally spark.conf.set(coalesceKey, prev)
    // below the threshold the plain path runs: small groups' pairs exist
    assert(guarded.filter(col("o") === 0L).count() == 6)
  }

  test("SkewProfile: one computed pass per (relation, key, threshold); independent reads share it") {
    import spark.implicits._
    val sp = graft.ops.SkewProfile
    sp.invalidate()
    // 5 groups of 10 rows each; threshold 8 makes every group a "hub"
    val data = (0 until 50).map(i => (i.toLong % 5, i.toLong))
    val c0 = sp.computes.get()
    val a = sp.hubIds(data.toDF("o", "p"), "o", 8)
    assert(sp.computes.get() == c0 + 1)
    // an identically-constructed FRESH frame must hit the cache
    val b = sp.hubIds(data.toDF("o", "p"), "o", 8)
    assert(sp.computes.get() == c0 + 1, "second identical construction recomputed the profile")
    assert(a.toSet == b.toSet && a.toSet == (0L until 5L).map(x => x: Any).toSet)
    // a different threshold is a different profile
    assert(sp.hubIds(data.toDF("o", "p"), "o", 20).isEmpty)
    assert(sp.computes.get() == c0 + 2)
    // different DATA with the same shape must NOT alias
    val other = (0 until 50).map(i => (i.toLong % 2, i.toLong))
    assert(sp.hubIds(other.toDF("o", "p"), "o", 8).toSet == Set[Any](0L, 1L))
    assert(sp.computes.get() == c0 + 3)

    // the production path: two INDEPENDENT parquet reads of the same
    // path (separate FileIndex objects — plan-object equality fails,
    // the structural fingerprint must not)
    val dir = GraftSession.scratchDir("graft-skew").toString
    try {
      data.toDF("o", "p").write.mode("overwrite").parquet(dir)
      val c1 = sp.computes.get()
      val r1 = sp.hubIds(spark.read.parquet(dir).select("o", "p"), "o", 8)
      val r2 = sp.hubIds(spark.read.parquet(dir).select("o", "p"), "o", 8)
      assert(sp.computes.get() == c1 + 1, "independent reads of one path recomputed the profile")
      assert(r1.toSet == r2.toSet && r1.size == 5)
      // Cooccur output is identical whether the profile is cached or
      // fresh (the guard is advisory): pin end-to-end through the cache
      val viaCache = graft.ops.Cooccur.groupPairs(
        spark.read.parquet(dir), "o", "p", hubThreshold = 8, salts = 4)
      sp.invalidate()
      val fresh = graft.ops.Cooccur.groupPairs(
        spark.read.parquet(dir), "o", "p", hubThreshold = 8, salts = 4)
      def img(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(_.toSeq).sortBy(_.toString).toSeq
      assert(img(viaCache) == img(fresh))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("RangeJoin.intervalOverlap == naive quadratic overlap join; each pair exactly once") {
    import spark.implicits._
    // intervals spanning MANY bins (width 10 vs spans up to 40) so the
    // emit-only-at-overlap-left-edge dedup is actually exercised, plus
    // touching endpoints (closed-bound overlap) and separated keys
    val left = Seq((1L, "k1", 0, 40), (2L, "k1", 35, 36), (3L, "k2", 0, 5),
      (4L, "k1", 50, 60)).toDF("id_a", "k", "lo_a", "hi_a")
    val right = Seq((10L, "k1", 5, 45), (11L, "k1", 40, 55), (12L, "k2", 5, 9),
      (13L, "k3", 0, 100)).toDF("id_b", "k", "lo_b", "hi_b")
    val got = graft.ops.RangeJoin.intervalOverlap(left, "lo_a", "hi_a",
        right, "lo_b", "hi_b", Seq("k"), binWidth = 10.0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    val naive = left.join(right, "k")
      .filter(col("lo_a") <= col("hi_b") && col("lo_b") <= col("hi_a"))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(got.sorted == naive.sorted, s"got ${got.sorted} vs ${naive.sorted}")
    assert(got.size == got.distinct.size, "a pair was emitted in more than one bin")
    // the fixture really covers the corners: touching endpoints (3,12)
    // overlap at exactly one day; k3 never pairs (no shared key)
    assert(got.contains((3L, 12L)) && !got.exists(_._2 == 13L))
  }

  test("Quality.dpGroupCounts: seeded determinism, bounded noise, seed rotation changes the release") {
    import spark.implicits._
    val df = (0 until 300).map(i => (i, s"g${i % 5}")).toDF("id", "g")
    def release(seed: Long) = graft.ops.Quality
      .dpGroupCounts(df, Seq("g"), epsilon = 0.5, seed = seed)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val r1 = release(7L)
    // deterministic: the same (data, seed) releases identical doubles
    assert(release(7L) == r1)
    // unbiased-release shape: every noisy count is the exact count (60)
    // plus Laplace(1/eps) noise — bounded by the md5-uniform floor
    // (u >= 1/1000004 -> |noise| <= 2*ln(500002) ~ 26.3)
    r1.values.foreach(v => assert(math.abs(v - 60.0) <= 27.0, s"noise out of range: $v"))
    // at least one group actually noised (not the exact count)
    assert(r1.values.exists(v => v != 60.0))
    // seed rotation IS a fresh release
    assert(release(8L) != r1)
    intercept[IllegalArgumentException] {
      graft.ops.Quality.dpGroupCounts(df, Seq("g"), epsilon = 0.0, seed = 1L)
    }
  }

  test("Allocate.largestRemainder: budget*totalWeight overflow fails fast instead of wrapping") {
    import spark.implicits._
    val huge = Seq(("a", 1L << 40), ("b", 1L << 40)).toDF("k", "w")
    val ex = intercept[IllegalArgumentException] {
      graft.ops.Allocate.largestRemainder(huge, "k", "w", 1L << 40)
    }
    assert(ex.getMessage.contains("overflows"))
    // the same weights with a sane budget still allocate exactly
    val ok = graft.ops.Allocate.largestRemainder(huge, "k", "w", 11L)
      .collect().map(_.getLong(2)).sum
    assert(ok == 11L)
  }
}
