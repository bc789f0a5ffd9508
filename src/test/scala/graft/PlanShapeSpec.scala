package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Plan-shape regression guards for the engine's load-bearing physical
  * choices. The oracle gate proves VALUES; these prove the PLANS — a
  * lost broadcast hint, a WindowGroupLimit that stops firing, or a
  * filter that no longer reaches the scan all stay value-correct while
  * silently reintroducing the scale pathologies the round notes document
  * (single-task pair stages, full-corpus shuffles, unpruned scans).
  */
class PlanShapeSpec extends SparkSuite with AdaptiveSparkPlanHelper {

  private def planOf(df: DataFrame): String = {
    // Execute THIS dataset's QueryExecution (df.count() would build and run
    // a separate derived plan, leaving df's own adaptive plan un-finalized)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"),
      s"adaptive plan not finalized — assertions below would test the initial plan:\n${p.take(500)}")
    p
  }

  private def q(name: String): DataFrame = SparkEntry.queries(name)(spark, sf)

  test("q01 scan carries pushed filters and a pruned schema") {
    val p = q("q01_pricing_summary").queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p.take(2000))
    assert(!p.contains("l_comment"), "scan reads columns the query never uses")
  }

  test("per-group top-K plans as WindowGroupLimit (no full-group sort-rank)") {
    Seq("q12_topk_customers", "q13_confidence", "q22_peer_search").foreach { name =>
      val p = planOf(q(name))
      assert(p.contains("WindowGroupLimit"), s"$name lost its group-limit:\n${p.take(2000)}")
    }
  }

  test("q262 A-ES sample plans as TakeOrderedAndProject (per-partition heaps, no corpus sort)") {
    // No planOf here: this plan contains no exchange, so AQE never wraps
    // it and there is no isFinalPlan marker — the absence is the point
    val df = q("q262_quality_corpus_sample")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"q262 lost its top-N heap path:\n${p.take(2000)}")
    // a global Sort node would mean the whole corpus shuffles to rank
    assert(!p.contains("Sort ["),
      s"q262 sorts the corpus instead of heap-selecting:\n${p.take(2000)}")
    assert(!p.contains("Exchange"),
      s"q262 shuffles — the sampler should be one scan + heaps:\n${p.take(2000)}")
  }

  test("q268 per-stratum quota plans as WindowGroupLimit; q264 HLL aggregates with a map-side partial") {
    val p268 = planOf(q("q268_stratified_quality_sample"))
    assert(p268.contains("WindowGroupLimit"),
      s"q268 lost its group-limit:\n${p268.take(2000)}")
    val p264 = planOf(q("q264_hll_distinct"))
    // TypedImperativeAggregate rides ObjectHashAggregate with a partial
    // pass before the exchange — registers merge map-side, so the
    // shuffle carries one 256-register row per (group, partition), not
    // the corpus
    assert(p264.contains("ObjectHashAggregate"),
      s"q264 lost the object-hash aggregate path:\n${p264.take(2000)}")
    assert("partial_graft_hll|partial hll|hll".r.findFirstIn(p264.toLowerCase).isDefined,
      s"q264 plan no longer shows the hll aggregate:\n${p264.take(2000)}")
  }

  test("pair-scoring joins broadcast the candidate side and spread the probe") {
    Seq("q76_media_fingerprint", "q20_haversine", "q31_token_jaccard").foreach { name =>
      val p = planOf(q(name))
      // q20/q31 no longer force the broadcast — at test scale AQE must
      // still pick it (candidate side ≪ threshold); at 100× the same plan
      // degrades to the salted exchange instead of a driver OOM
      assert(p.contains("BroadcastHashJoin"), s"$name lost its broadcast:\n${p.take(2000)}")
      // the probe-side round-robin exchange must survive AQE coalescing —
      // without it the O(pairs) stage inherits the filtered scan's 1-2
      // partitions (the round-7 q76 pathology)
      assert(p.contains("RoundRobinPartitioning"),
        s"$name lost its probe-side repartition:\n${p.take(2000)}")
    }
  }

  test("salted pair join beats the 25-value nation-key cap with broadcast off") {
    // The one graded-weak plan of round 7: with the candidate side too big
    // to broadcast, the peerPairs fallback shuffled on c_nationkey (25
    // values) and the O(pairs) blend ran on ≤25 tasks regardless of
    // cluster width. The salted join keys on (nation, salt); this pins
    // >25 non-empty partitions at the pair stage under forced-shuffle.
    val conf = spark.conf
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.shuffle.partitions").map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      // coalescing would legitimately shrink the tiny test shuffle; the
      // assertion is about KEY CARDINALITY, which AQE cannot widen
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      conf.set("spark.sql.shuffle.partitions", "32")
      val pairs = graft.queries.Reports.peerPairs(spark, "/root/testdata/sf0.01")
      val p = planOf(pairs)
      assert(!p.contains("BroadcastHashJoin"), "broadcast disable did not take")
      val width = pairs
        .select(org.apache.spark.sql.functions.spark_partition_id().as("pid"))
        .distinct().count()
      assert(width > 25, s"pair stage ran on only $width partitions — salt lost")
      // exchange-reuse: the candidate side's explicit (key, salt) hash
      // repartition IS the exchange the sort-merge fallback needs —
      // exactly 3 exchanges total (probe round-robin, probe hash,
      // candidate hash); a 4th would mean EnsureRequirements stopped
      // reusing it and the fallback pays a double shuffle
      // count in the final-plan section only (toString appends the
      // initial plan below it, which would double every node)
      val finalSection = p.split("== Initial Plan ==").head
      val exchanges = "\\+- Exchange ".r.findAllIn(finalSection).size
      assert(exchanges == 3, s"expected 3 exchanges in the salted fallback, got $exchanges:\n${p.take(3000)}")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("report join-backs survive with broadcast disabled (no forced unbounded broadcast)") {
    // Round-8 weak item: q22/q44/q40/q06 forced broadcast() of full,
    // scale-growing tables (customer, part) — past the 8 GB driver
    // ceiling those queries hard-fail instead of degrading. The hints
    // are gone; with every broadcast path disabled the plans must still
    // build and execute (sort-merge fallback), proving no plan REQUIRES
    // an unbounded broadcast. Hashes are pinned by the oracle gate.
    val conf = spark.conf
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold").map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      Seq("q22_peer_search", "q06_broadcast_join").foreach { name =>
        val p = planOf(q(name))
        assert(!p.split("== Initial Plan ==").head.contains("BroadcastHashJoin"),
          s"$name still broadcasts with the threshold off — a forced hint survives:\n${p.take(2000)}")
      }
      // the flow join-back (q44 path) and the ALS usage builder (q40 path)
      assert(graft.flows.PeerSearchFlow.run(spark, sf).count() > 0)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("q44 plans linear: no nested-loop join, no global window, customer read at most twice, at most 12 jobs") {
    // The flow's scalars (median, min-max bounds) come from one eager
    // pass baked in as literals. A lazy stats aggregate cross-joined back
    // shows as a BroadcastNestedLoopJoin and re-runs the customer prefix
    // once per branch; a surrogate row index shows as a Window with no
    // partition spec, every customer through one task.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    val df = q("q44_peer_search_flow")
    val p = planOf(df)
    val plan = df.queryExecution.executedPlan
    val nestedLoops = collectWithSubqueries(plan) { case j: BroadcastNestedLoopJoinExec => j }
    assert(nestedLoops.isEmpty, s"q44 cross-joins a stats row back:\n${p.take(3000)}")
    val globalWindows = collectWithSubqueries(plan) {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty, s"q44 windows over one partition:\n${p.take(3000)}")
    val customerScans = collectWithSubqueries(plan) {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.getName == "customer.parquet") => s
    }.size
    assert(customerScans <= 2, s"q44 scans customer $customerScans times:\n${p.take(3000)}")
    val jobs = Profile.recording(spark) { rec =>
      rec.reset()
      q("q44_peer_search_flow").count()
      rec.drain()
      rec.counters.jobs
    }
    info(s"q44 count(): $jobs jobs")
    assert(jobs <= 12, s"q44 ran $jobs jobs")
  }

  test("bloom-pruned join filters the fact scan below the join") {
    // the resolved expression renders as might_contain(<sketch literal>)
    val p = planOf(q("q95_bloom_join"))
    assert(p.contains("might_contain("),
      s"bloom filter missing from the plan:\n${p.take(2000)}")
  }

  test("bm25 top-k is a TakeOrdered, not a global sort") {
    val p = planOf(q("q93_bm25"))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("token-stream packing and budget selection never use a global window") {
    // The concat-and-chunk packers and the budget selector run the
    // distributed prefix scan (per-partition sums, one driver row per
    // partition) — a WindowExec with an empty partition spec would mean
    // the whole corpus funneled through ONE task.
    Seq("q108_pack_concat", "q113_pack_text", "q127_budget_selection").foreach { name =>
      // no planOf here: the prefix-scan output is RDD-rooted, so the
      // final frame may contain no exchange for AQE to finalize
      val df = q(name)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Window ["),
        s"$name reintroduced a window — global spec would single-task the corpus:\n${p.take(2000)}")
    }
  }

  test("global-order builders run the distributed rank, not a global window") {
    // q148/q151 derive a GLOBAL position (training order, batch id) —
    // through GlobalRank's range-sort + zipWithIndex. An unpartitioned
    // WindowExec here would funnel every upsampled copy through one task.
    Seq("q148_epoch_order", "q151_padding_waste").foreach { name =>
      val df = q(name)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Window ["),
        s"$name reintroduced a window — global spec would single-task the corpus:\n${p.take(2000)}")
    }
  }

  test("KMV sketch paths aggregate without a distinct pre-shuffle") {
    // The sketch dedups by hash inside its k-long state; a
    // HashAggregate(keys=[source, g]) feeding it would mean the full
    // distinct exchange the sketch exists to avoid. Build the
    // sketch-only branch (the registered q144/q150 also carry the exact
    // twin, which legitimately runs distinct at test scale).
    import org.apache.spark.sql.functions._
    import graft.engine.expressions.KmvDistinct
    KmvDistinct.register(spark)
    val grams = graft.queries.T(spark, sf, "documents")
      .select(col("source"),
        explode(graft.llm.TextOps.shingles(
          graft.llm.TextOps.tokenize(col("text")), 3)).as("g"))
    val sk = grams.groupBy("source")
      .agg(KmvDistinct.sketch(KmvDistinct.hash60(col("g")), 64).as("s"))
    sk.collect()
    val p = sk.queryExecution.executedPlan.toString
    // exactly one aggregation pair (partial + final) keyed on source —
    // no (source, g) keyed pre-aggregation anywhere in the plan
    assert(!p.contains("keys=[source#") || !p.contains(", g#"),
      s"sketch path grew a distinct pre-shuffle:\n${p.take(2000)}")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 2, s"sketch path shuffles more than once:\n${p.take(2000)}")
  }

  test("q216 perceptual near-dup: image payloads never enter a shuffle; no cartesian") {
    // aHashNearDups extracts cell sums partition-wise; from there only
    // (id, bits, band blocks) travel. An exchange carrying `payload`
    // would ship image bytes across the cluster — the multimodal
    // discipline (SCALE.md) is features-move-payloads-don't.
    val df = q("q216_phash_neardup")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val exchangeBlocks = p.split("\\(\\d+\\) ").toSeq
      .filter(b => b.startsWith("Exchange") || b.startsWith("ShuffleExchange"))
    assert(!p.contains("CartesianProduct"), s"q216 all-pairs:\n${p.take(2000)}")
    assert(exchangeBlocks.forall(b => !b.contains("payload")),
      s"image payload leaked into a shuffle:\n${p.take(3000)}")
  }

  test("iterative graph ops keep their lineage truncated (checkpoint-RDD plan roots)") {
    // The r12 frontier family (BFS / LPA / Bellman-Ford / landmarks)
    // localCheckpoints every round — without it the per-round plans
    // nest 2-3^R-fold and the ANALYZER dies before execution (the KCore
    // lesson). Each round's SQL plan is compiled at checkpoint time, so
    // the final frame's executed plan reduces to (a projection over)
    // the last checkpoint's RDD scan — that collapse IS the observable
    // form of the truncation, and it is also why there's no AQE
    // isFinalPlan marker to wait for here (planOf would reject these).
    // Per-round join shapes are equi-joins pinned by the ops' specs.
    // q94/q204/q243 (PageRank family) and q226 (HITS) joined the list in
    // r13: their edge/transition frames moved from a never-serving
    // cache()+unpersist pair to lazy localCheckpoints, so a checkpoint
    // RDD scan in the executed plan is now the observable proof that
    // the iterations share one materialized edge build.
    // q249 (Brandes sweeps) and q251 (harmonic BFS) joined late in
    // r13: both run on the shared perSourceBfs frontier loop, same
    // per-round truncation contract.
    Seq("q225_bfs_hops", "q227_label_prop", "q228_sssp",
        "q229_landmark_centrality", "q94_pagerank",
        "q204_personalized_pagerank", "q226_hits",
        "q243_textrank_keywords", "q249_betweenness",
        "q251_harmonic_centrality").foreach { name =>
      val df = q(name)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("Scan ExistingRDD"),
        s"$name lost its lineage truncation:\n${p.take(2000)}")
    }
  }

  test("posting-join pair generators never plan a cartesian product") {
    // q120/q124/q126 bound their pair space through shared-gram joins
    // (Σ_g df(g)²); a CartesianProduct would mean the |docs|² explosion
    // the df cap exists to prevent. (q120's one-row scalar broadcast
    // cross join is a bounded BroadcastNestedLoopJoin — allowed.)
    Seq("q120_sparse_sim_join", "q124_repeated_ngrams",
        "q126_contamination_evidence").foreach { name =>
      val p = planOf(q(name))
      assert(!p.contains("CartesianProduct"),
        s"$name pairs outside the gram join:\n${p.take(2000)}")
    }
  }

  test("q271 quantile sketch: map-side partial grid, pruned scan, broadcast cross-check") {
    val p = planOf(q("q271_quantile_sketch"))
    // the grid merges map-side (one 160KB buffer per partition crosses
    // the wire, not the corpus), like q264's registers
    assert(p.contains("ObjectHashAggregate") &&
      p.toLowerCase.contains("partial_dyadic_quantile"),
      s"q271 lost the map-side partial grid:\n${p.take(2000)}")
    // the exact-rank cross-check joins the 3-row per-phi frame as the
    // BROADCAST side of the cross join — the corpus scan streams
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"q271 cross-check no longer broadcasts the tiny side:\n${p.take(2000)}")
    assert(p.contains("ReadSchema: struct<n_chars:bigint>") &&
      !p.contains("text:string"),
      s"q271 reads columns beyond n_chars:\n${p.take(2000)}")
  }

  test("q273/q277 window rollups fold sketch rows, never rescanning base data for the day grain") {
    // the day aggregate's input must be the HOURLY aggregate's output:
    // a plan that recomputed day grids from events would carry TWO
    // partial passes over the events scan for the same grid function
    val p273 = planOf(q("q273_quantile_window_rollup"))
    assert(p273.toLowerCase.contains("partial_dyadic_quantile_merge"),
      s"q273 day rollup no longer merges hourly sketch rows:\n${p273.take(2000)}")
    val p275 = planOf(q("q275_log_histogram_quantiles"))
    // LogHistogram.quantiles broadcasts the per-(group, phi) target
    // frame onto the cumulative histogram — bucket rows stream
    assert(p275.contains("BroadcastHashJoin") || p275.contains("BroadcastExchange"),
      s"q275 target join lost its broadcast:\n${p275.take(2000)}")
    // q277's day histogram folds HOURLY HISTOGRAM ROWS (groupBy(day,
    // bucket).sum(cnt)): the whole query touches the events parquet
    // exactly twice — the hourly-grain histogram build plus the
    // exact-rank vals branch. A day grain that recomputed its buckets
    // from base data would add a third scan.
    // Counted as PHYSICAL nodes (the plan string repeats subtrees per
    // AQE stage): exactly 2 events scans — the hourly histogram build
    // and the exact-rank vals branch — plus a ReusedExchange where the
    // quantile read's n-branch re-consumes the daily histogram's
    // shuffle output instead of recomputing it from base data.
    val df277 = q("q277_loghist_window_rollup")
    df277.collect()
    val plan277 = df277.queryExecution.executedPlan
    val scans277 = collectWithSubqueries(plan277) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.size
    val reused277 = collectWithSubqueries(plan277) {
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r
    }.size
    assert(scans277 == 2,
      s"q277 expected exactly 2 events scans (hourly histogram + exact-rank" +
        s" vals), saw $scans277:\n${plan277.toString.take(2000)}")
    assert(reused277 >= 1,
      s"q277 quantile n-branch no longer reuses the daily histogram" +
        s" exchange:\n${plan277.toString.take(2000)}")
  }

  test("q281 bootstrap replicates partial-aggregate map-side after the explode") {
    val p = planOf(q("q281_bootstrap_ci"))
    assert(p.contains("Generate explode"),
      s"q281 lost its replicate generator:\n${p.take(2000)}")
    // the replicate sums must combine BEFORE the shuffle on __b — a plan
    // that shuffles the exploded rows moves reps× the data
    val partial = p.indexOf("partial_sum")
    val exchange = p.indexOf("Exchange hashpartitioning(__b")
    assert(partial >= 0 && exchange >= 0 && partial > exchange,
      s"q281 replicate sums no longer map-side combine (partial at $partial, " +
        s"exchange at $exchange — executedPlan prints consumers above " +
        s"producers, so partial must index AFTER its exchange):\n${p.take(3000)}")
  }

  test("q282 sliding window folds daily sketch rows, never rescanning events for the grid") {
    val df = q("q282_sliding_hll")
    df.collect()
    val plan = df.queryExecution.executedPlan
    // exactly 1 events file scan in the main plan (the exact-count
    // witness branch); the sketch branch AND the day grid both consume
    // the lazily-checkpointed daily sketch frame
    val scans = collectWithSubqueries(plan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.size
    assert(scans == 1,
      s"q282 expected 1 events scan (exact witness), saw $scans:\n" +
        plan.toString.take(2000))
    val p = plan.toString
    assert(p.contains("partial_hll_merge"),
      s"q282 window fold lost its map-side partial:\n${p.take(2000)}")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"q282 day-grid join no longer broadcasts the tiny grid:\n${p.take(2000)}")
  }

  test("r17 experiment family: one corpus scan each, map-side partials, broadcast scalar joins") {
    // q290 mSPRT / q293 CUSUM / q296 jackknife: the ONLY corpus-sized
    // stage is one events aggregate (map-side combined); everything
    // downstream runs on days/buckets. Two scans would mean the
    // checkpoint/window chain re-reads the corpus; a missing partial_
    // means the groupBy ships raw rows.
    Seq("q290_msprt" -> 1, "q293_cusum" -> 1, "q296_jackknife_ratio" -> 1,
        "q297_funnel" -> 1, "q298_kaplan_meier" -> 1, "q299_ks_test" -> 1,
        "q302_psi" -> 1)
      .foreach { case (name, maxScans) =>
        val df = q(name)
        df.collect()
        val plan = df.queryExecution.executedPlan
        val scans = collectWithSubqueries(plan) {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => s
        }.size
        assert(scans <= maxScans,
          s"$name reads the corpus $scans times (max $maxScans):\n" +
            plan.toString.take(2000))
        assert(plan.toString.contains("partial_"),
          s"$name lost its map-side partial aggregate:\n" +
            plan.toString.take(2000))
      }
    // q291 SRM: the decision is a pure aggregate — no join, no window,
    // one customer scan plus the broadcast nation dim
    val p291 = planOf(q("q291_srm_check"))
    assert(p291.contains("BroadcastHashJoin"),
      s"q291 nation dim no longer broadcasts:\n${p291.take(2000)}")
    assert(!p291.contains("Window"),
      s"q291 grew a window it never needed:\n${p291.take(2000)}")
  }

  test("r18 additions: one corpus scan each; q306's quantile never windows; q43 assignment never shuffles") {
    // q304/q305/q307 share the r17 family shape: ONE corpus-sized
    // aggregate (map-side combined), tiny tails
    Seq("q304_funnel_windowed" -> 1, "q305_km_greenwood" -> 1,
        "q307_mde" -> 1, "q308_logrank" -> 1)
      .foreach { case (name, maxScans) =>
        val df = q(name)
        df.collect()
        val plan = df.queryExecution.executedPlan
        val scans = collectWithSubqueries(plan) {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => s
        }.size
        assert(scans <= maxScans,
          s"$name reads the corpus $scans times (max $maxScans):\n" +
            plan.toString.take(2000))
        assert(plan.toString.contains("partial_"),
          s"$name lost its map-side partial aggregate:\n" +
            plan.toString.take(2000))
      }
    // q306's grouped quantile rides the PrefixSum scan: the ONLY
    // window allowed is the per-step offset cumulative over the `off`
    // frame (|steps|−1 rows); a second Window node would mean the
    // per-(step,delta) single-task funnel came back
    val df306 = q("q306_funnel_durations"); df306.collect()
    val w306 = collectWithSubqueries(df306.queryExecution.executedPlan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.size
    assert(w306 <= 1,
      s"q306 quantile grew a second window ($w306):\n" +
        df306.queryExecution.executedPlan.toString.take(2000))
    // q43's corpus bucket assignment is the flattened-codebook codegen
    // argmax (r19: NearestCentroid — one narrow projection per
    // assignment pass, constant generated-code size at any codebook);
    // losing it means the crossJoin+window shape came back
    val df43 = q("q43_ivf_ann"); df43.collect()
    val p43 = df43.queryExecution.executedPlan.toString
    assert(p43.contains("nearest_centroid"),
      s"q43 lost the flattened-codebook argmax assignment:\n${p43.take(2000)}")
  }

  test("HITS broadcast half-step plans no exchange over the edge checkpoint") {
    import graft.ops.Checkpoints.TruncateOps
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import spark.implicits._
    val e0 = (1 to 200).map(i => (i.toLong % 13, 100L + i % 17, 1.0 + i % 3))
      .toDF("__c", "__s", "__w").truncated(eager = true)
    val scores = (0L until 13L).map(n => (n, 1.0 / 13)).toDF("node", "score")
    // every shuffle must sit over the aggregation: an exchange of the
    // edge checkpoint (or of the sliver) would be a per-half-step |E|
    // (or |V|) shuffle the broadcast exists to remove
    def sliverAndEdgeShuffles(edges: graft.ops.Hits.Edges) = {
      val half = edges.half(scores, Some(13L), "__c", "__s")
      val p = planOf(half)
      (p, collect(half.queryExecution.executedPlan) {
        case x: ShuffleExchangeExec if !x.child.exists(_.isInstanceOf[BaseAggregateExec]) => x
      })
    }
    val (p, viaBroadcast) = sliverAndEdgeShuffles(new graft.ops.Hits.Edges(e0))
    assert(p.contains("BroadcastHashJoin"), s"the 13-row sliver did not broadcast:\n${p.take(2000)}")
    assert(viaBroadcast.isEmpty, s"broadcast half-step shuffles its inputs:\n${p.take(3000)}")
    // threshold -1 forces the keyed path, which does shuffle them
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try assert(sliverAndEdgeShuffles(new graft.ops.Hits.Edges(e0))._2.nonEmpty)
    finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }
}
