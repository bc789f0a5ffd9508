package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.engine.expressions.DotProduct.dot
import graft.ops.{ExactSum, TopK}

/** Approximate-nearest-neighbor search over an embedding array column.
  *
  * Kernel design: embeddings are unit-normalized ONCE per side (O(n·d)),
  * then every pair costs a single codegen'd dot product
  * (`engine.expressions.DotProduct` — compiled loop, not interpreted
  * higher-order lambdas; measured ~10× on the pair stage). Cosine of
  * unit vectors == dot product.
  *
  * Two search paths:
  *  - [[bruteForceTopK]]: exact — broadcast the (small) query set against
  *    the corpus, one distributed pass, per-query top-K via group-limit.
  *    Right shape whenever queries ≪ corpus; linear in corpus size, no
  *    corpus shuffle.
  *  - [[ivfTopKLloyd]]: IVF-style — deterministic learned centroids,
  *    corpus bucketed by nearest centroid, queries probe only `nProbe`
  *    buckets. Sub-linear scan cost at large n.
  */
object SimSearch {

  /** Project `idOut` + unit-normalized double embedding `embOut`. */
  private[graft] def unitized(df: DataFrame, idCol: String, embCol: String,
                       idOut: String, embOut: String): DataFrame = {
    graft.engine.expressions.DotProduct.register(df.sparkSession)
    df.withColumn("__d", col(embCol).cast("array<double>"))
      .withColumn("__n", sqrt(dot(col("__d"), col("__d"))))
      .select(col(idCol).as(idOut),
        when(col("__n") === 0.0, col("__d"))
          .otherwise(transform(col("__d"), x => x / col("__n"))).as(embOut))
  }

  /** Exact top-K cosine neighbors per query. `queries` must be small
    * enough to broadcast.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     embCol: String, k: Int): DataFrame = {
    val c = unitized(corpus, idCol, embCol, idCol, "__ne")
    val q = unitized(queries, idCol, embCol, "query_id", "__qe")
    val pairs = c.join(broadcast(q), col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol),
        round(dot(col("__qe"), col("__ne")), 6).as("cos_sim"))
    TopK.exactPerKey(pairs, Seq("query_id"),
      Seq(col("cos_sim").desc, col(idCol).asc), k, "rnk")
      .withColumn("rnk", col("rnk").cast("int"))
  }

  /** Matryoshka-style truncated-prefix retrieval (Kusupati et al.,
    * NeurIPS'22): score candidates on the RENORMALIZED first
    * `prefixDim` coordinates of the unit embeddings — an MRL-trained
    * model packs coarse similarity into the prefix — keep
    * `k·candFactor` per query, then rerank exactly on the full vector.
    * Any true neighbor the candidate set contains is guaranteed into
    * the final top-k (exact scores are global), so recall only
    * improves over the prefix ranking.
    *
    * THE 100 TB shape: the corpus-wide stage touches `prefixDim`/dim
    * of the floats (store the prefix as its own column/file and the
    * scan reads ⅛ of the bytes at prefixDim = dim/8); the full-width
    * vectors are fetched for only |Q|·k·candFactor rows. Same
    * candidates-then-exact discipline as [[pqTopKRerank]], with
    * truncation instead of codes — no training loop at all.
    */
  def matryoshkaTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     embCol: String, k: Int, prefixDim: Int,
                     candFactor: Int = 4): DataFrame = {
    import graft.engine.functions.let
    def prefixUnit(e: Column): Column =
      let(slice(e, 1, prefixDim)) { p =>
        let(sqrt(dot(p, p))) { n =>
          when(n === 0.0, p).otherwise(transform(p, x => x / n))
        }
      }
    val c = unitized(corpus, idCol, embCol, idCol, "__ne")
    val q = unitized(queries, idCol, embCol, "query_id", "__qe")
      .select(col("query_id"), col("__qe"), prefixUnit(col("__qe")).as("__qp"))
    val cand = TopK.exactPerKey(
      c.select(col(idCol), col("__ne"), prefixUnit(col("__ne")).as("__pe"))
        .join(broadcast(q.select(col("query_id"), col("__qp"))),
          col(idCol) =!= col("query_id"))
        .select(col("query_id"), col(idCol), col("__ne"),
          round(dot(col("__pe"), col("__qp")), 6).as("pre_sim")),
      Seq("query_id"), Seq(col("pre_sim").desc, col(idCol).asc),
      k * candFactor, "__pr")
    val exact = cand
      .join(broadcast(q.select(col("query_id"), col("__qe"))), "query_id")
      .select(col("query_id"), col(idCol),
        round(dot(col("__qe"), col("__ne")), 6).as("cos_sim"))
    TopK.exactPerKey(exact, Seq("query_id"),
      Seq(col("cos_sim").desc, col(idCol).asc), k, "rnk")
      .withColumn("rnk", col("rnk").cast("int"))
  }

  /** Binary (1-bit) quantization retrieval: each unit vector compresses
    * to its SIGN PATTERN — one 32-bit word per 32 dims, packed into an
    * array of longs sized by the embedding dimension — candidates rank
    * by Hamming distance (popcount of XOR, a
    * few machine instructions per pair), and the k·candFactor
    * survivors rerank on exact full-precision cosine. For vectors on
    * the unit sphere, Hamming distance of sign patterns estimates
    * angular distance (Goemans–Williamson / SimHash bound:
    * P[sign differs] = θ/π per dim), which is what makes the 1-bit
    * code a usable prefilter at 512× compression of a 64-dim double
    * vector.
    *
    * The cheapest tier of the compression ladder (BQ → PQ → SQ8 →
    * Matryoshka → full): the corpus-wide stage scans 16 BYTES per
    * vector with integer-only math — at 100 TB the code table for a
    * billion vectors is ~16 GB, cacheable cluster-wide. Bit packing is
    * a SEQUENTIAL acc·2+bit fold per 32-dim word, so an external
    * engine replays the exact codes, and Hamming scores are integers —
    * no float discipline anywhere until the exact rerank (q208).
    */
  def binaryHammingTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                        embCol: String, k: Int, candFactor: Int = 4): DataFrame = {
    def packBits(e: Column, from: Column): Column =
      aggregate(
        transform(slice(e, from, lit(32)), x => when(x > 0, 1L).otherwise(0L)),
        lit(0L), (acc, b) => acc * 2 + b)
    // One 32-bit word per 32 dims, the LAST word shorter when
    // dim % 32 != 0 — the code length FOLLOWS the embedding dimension,
    // so a 256-dim corpus prefilters on all 256 sign bits instead of
    // silently truncating to the first 64 (the fixed two-word packing
    // this replaces). Corpus and query dims must match (they share the
    // embedding space by construction); packing order per word is the
    // same sequential acc·2+bit fold, so dim=64 codes are bit-identical
    // to the previous (__lo, __hi) pair.
    def withCodes(df: DataFrame, emb: String): DataFrame =
      df.withColumn("__code",
        transform(
          sequence(lit(0), greatest(lit(0),
            floor((size(col(emb)) - 1) / 32).cast("int"))),
          w => packBits(col(emb), w * 32 + 1)))
    val c = withCodes(unitized(corpus, idCol, embCol, idCol, "__ne"), "__ne")
    val q = withCodes(unitized(queries, idCol, embCol, "query_id", "__qe"), "__qe")
    val cand = TopK.exactPerKey(
      c.join(broadcast(q.select(col("query_id"), col("__qe"),
          col("__code").as("__qcode"))),
        col(idCol) =!= col("query_id"))
        .select(col("query_id"), col(idCol), col("__ne"), col("__qe"),
          aggregate(
            zip_with(col("__code"), col("__qcode"),
              (a, b) => bit_count(a.bitwiseXOR(b))),
            lit(0L), (acc, h) => acc + h).as("hamming")),
      Seq("query_id"), Seq(col("hamming").asc, col(idCol).asc),
      k * candFactor, "__hr")
    val exact = cand.select(col("query_id"), col(idCol),
      round(dot(col("__qe"), col("__ne")), 6).as("cos_sim"))
    TopK.exactPerKey(exact, Seq("query_id"),
      Seq(col("cos_sim").desc, col(idCol).asc), k, "rnk")
      .withColumn("rnk", col("rnk").cast("int"))
  }

  /** Per-vector int8 scalar quantization (SQ8) of the unit embeddings:
    * codes[i] = floor((ne[i] - minv) / step + 0.5) - 128 stored as
    * TINYINT, with per-vector (minv, step = (max - min) / 255). The
    * persistable compressed corpus shape — 1 byte/dimension vs 8
    * (double) or 4 (float32): an 8× smaller scan than the raw
    * embeddings with far higher fidelity than PQ's 64× (reconstruction
    * error ≤ step/2 per component). Encode is one narrow projection —
    * no shuffle, no UDF; array_min/array_max/transform are codegen'd
    * collection ops.
    */
  private[graft] def sq8Encode(corpus: DataFrame, idCol: String, embCol: String): DataFrame =
    unitized(corpus, idCol, embCol, idCol, "__ne")
      .withColumn("minv", array_min(col("__ne")))
      .withColumn("step", (array_max(col("__ne")) - col("minv")) / lit(255.0))
      .select(col(idCol), col("minv"), col("step"),
        transform(col("__ne"), x =>
          (when(col("step") === 0.0, lit(0L))
            .otherwise(floor((x - col("minv")) / col("step") + lit(0.5)))
            - 128).cast("tinyint")).as("codes"))

  /** Approximate top-K over an SQ8-encoded corpus ([[sq8Encode]] output,
    * typically persisted): for unit query q,
    * ⟨x, q⟩ ≈ minv·Σq[i] + step·⟨codes+128, q⟩, so each pair costs one
    * integer-valued dot product against the 1-byte codes plus two
    * multiplies — the corpus-side scan touches only the compressed
    * representation. Queries broadcast exactly like [[bruteForceTopK]];
    * the code→double decode is projected ONCE per corpus row below the
    * join (a Join blocks CollapseProject, so it cannot be re-evaluated
    * per pair). Every fold is ordered left-to-right — the score replays
    * bit-identically in the DuckDB twin (q118 full hash oracle).
    */
  private def sq8TopKEncoded(encoded: DataFrame, queries: DataFrame, idCol: String,
                             embCol: String, k: Int): DataFrame =
    TopK.exactPerKey(sq8ScoresEncoded(encoded, queries, idCol, embCol),
      Seq("query_id"), Seq(col("sq_sim").desc, col(idCol).asc), k, "rnk")
      .withColumn("rnk", col("rnk").cast("int"))

  /** Every (query, corpus) SQ8 ADC score — the full approximate ranking
    * the evaluation queries (q137 recall, q153 MRR) measure against.
    * Same pair space as the top-k scan; no rank cut.
    */
  private def sq8ScoresEncoded(encoded: DataFrame, queries: DataFrame, idCol: String,
                               embCol: String): DataFrame = {
    val q = unitized(queries, idCol, embCol, "query_id", "__qe")
      .withColumn("__qsum", aggregate(col("__qe"), lit(0.0), (a, x) => a + x))
    val decoded = encoded.withColumn("__cd",
      transform(col("codes"), x => (x.cast("int") + 128).cast("double")))
    decoded.join(broadcast(q), col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol),
        round(col("minv") * col("__qsum") + col("step") * dot(col("__cd"), col("__qe")),
          6).as("sq_sim"))
  }

  /** [[sq8ScoresEncoded]] with the encode step inlined. */
  def sq8Scores(corpus: DataFrame, queries: DataFrame, idCol: String,
                embCol: String): DataFrame =
    sq8ScoresEncoded(sq8Encode(corpus, idCol, embCol), queries, idCol, embCol)

  /** [[sq8Encode]] + [[sq8TopKEncoded]] in one call (encode-at-query;
    * real deployments persist the encoded corpus once and reuse it).
    */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              embCol: String, k: Int): DataFrame =
    sq8TopKEncoded(sq8Encode(corpus, idCol, embCol), queries, idCol, embCol, k)

  /** IVF-bucketed approximate top-K with LEARNED centroids and a FULL
    * HASH ORACLE: every corpus vector goes to its nearest of
    * `nCentroids` centroids, and a query scans only its `nProbe`
    * nearest buckets. The centroids are id-order seeds (the first
    * vectors under id order) refined by `iters` deterministic
    * spherical-Lloyd steps.
    * Every arithmetic step is exact across engines — assignment by the
    * left-to-right dot product, per-bucket mean as exact scaled-integer
    * sums ([[bucketMeans]]), then L2-renormalized —
    * so a SQL twin replays the exact double bits and the bucket
    * decisions can never diverge at float boundaries. Empty buckets
    * keep their previous centroid. [[kmeansParRows]] seeding is the
    * data-dependent alternative: its centroids depend on the data in a
    * way no static SQL literal can mirror.
    */
  def ivfTopKLloyd(corpus: DataFrame, queries: DataFrame, idCol: String,
                   embCol: String, k: Int, nCentroids: Int = 16, nProbe: Int = 4,
                   iters: Int = 2): DataFrame = {
    // Cached: feeds every Lloyd assignment pass plus the final bucket +
    // probe stages. Lazy-return cache — resident sessions release it via
    // GraftSession.withQueryCaches.
    val c = unitized(corpus, idCol, embCol, idCol, "__ne").cache()
    val cents = lloydCentroids(c, idCol, nCentroids, iters)
    ivfWithCentroids(c, queries, cents, idCol, embCol, k, nProbe)
  }

  /** Metadata-FILTERED IVF ANN — vector search with a WHERE clause,
    * the regime every production retrieval stack hits (tenant, language,
    * date-range, permission filters). Semantics are PRE-FILTERED: the
    * top-K ranks only corpus rows satisfying `predicate`, so a query is
    * never starved of results by post-filtering an unfiltered top-K.
    *
    * The index is FILTER-AGNOSTIC: centroids are learned on the FULL
    * corpus ([[ivfTopKLloyd]]'s exact-sum Lloyd discipline), exactly
    * as a prebuilt index would be shared across every filter. Bucket
    * assignment is per-row (a row's cell depends only on its own
    * embedding and the centroids), so filtering before assignment is
    * row-identical to slicing a prebuilt assignment — and pushes the
    * predicate all the way into the corpus scan (`PushedFilters`,
    * spec-asserted) instead of materializing buckets first.
    *
    * Scale note: probing still reads `nProbe`/`nCentroids` of the
    * (filtered) corpus. When the predicate is so selective that the
    * survivors are ~k-scale, [[bruteForceTopK]] over
    * `corpus.filter(predicate)` is exact at the same cost — the
    * crossover mirrors the brute/LSH switch points in SCALE.md. Recall
    * caveat of every pre-filtered IVF: a probed cell may hold few
    * surviving rows; raise `nProbe` under selective filters (the
    * spec's recall floor is measured at the default).
    */
  def filteredIvfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                      embCol: String, predicate: Column, k: Int,
                      nCentroids: Int = 16, nProbe: Int = 4,
                      iters: Int = 2): DataFrame = {
    val c = unitized(corpus, idCol, embCol, idCol, "__ne").cache()
    val cents = lloydCentroids(c, idCol, nCentroids, iters)
    val q = unitized(queries, idCol, embCol, "query_id", "__qe")
    val bucketed = nearestBuckets(
      unitized(corpus.filter(predicate), idCol, embCol, idCol, "__ne"),
      cents, idCol, "__ne", 1)
    val probed = nearestBuckets(q, cents, "query_id", "__qe", nProbe)
    probeRank(probed, bucketed, idCol, k)
  }

  /** [[filteredIvfTopK]] where the allowed corpus is an ID SET (semi-join
    * membership) instead of a column predicate — the shape of
    * split-aware retrieval: restrict search to the train side of a
    * [[graft.ops.Sampling.leakageSafeSplit]] so a RAG training loop can
    * never surface an eval document (q165 composes exactly this).
    * Same filter-agnostic index discipline: full-corpus centroids,
    * per-row assignment of the allowed rows only; the membership join
    * is an id-only left-semi against the unitized scan.
    */
  def filteredIvfTopKByIds(corpus: DataFrame, allowedIds: DataFrame,
                           queries: DataFrame, idCol: String, embCol: String,
                           k: Int, nCentroids: Int = 16, nProbe: Int = 4,
                           iters: Int = 2): DataFrame = {
    val c = unitized(corpus, idCol, embCol, idCol, "__ne").cache()
    val cents = lloydCentroids(c, idCol, nCentroids, iters)
    val q = unitized(queries, idCol, embCol, "query_id", "__qe")
    val bucketed = nearestBuckets(
      c.join(allowedIds.select(idCol), Seq(idCol), "left_semi"),
      cents, idCol, "__ne", 1)
    val probed = nearestBuckets(q, cents, "query_id", "__qe", nProbe)
    probeRank(probed, bucketed, idCol, k)
  }

  /** Id-order seeds refined by `iters` deterministic spherical-Lloyd
    * steps over a unitized corpus `c` (`idCol`, `__ne`) — the
    * [[ivfTopKLloyd]] centroid discipline, shared with [[ivfPqTopK]]'s
    * coarse quantizer. Returns (cent_id, cent_emb), materialized.
    */
  private def lloydCentroids(c: DataFrame, idCol: String,
                             nCentroids: Int, iters: Int): DataFrame = {
    var cents = c.orderBy(col(idCol)).limit(nCentroids)
      .select(col(idCol).as("cent_id"), col("__ne").as("cent_emb"))
    for (_ <- 0 until iters) {
      val assigned = nearestBuckets(c, cents, idCol, "__ne", 1)
      val refined = bucketMeans(assigned)
      // Materialize each refined centroid set (nCentroids rows — tiny).
      // Unmaterialized, iteration i+1's assignment AND the final bucket
      // + probe stages each re-run every prior iteration's |corpus|
      // assignment join from scratch (the q101 codebook lesson); with
      // the eager cache each Lloyd pass executes exactly once.
      val next = cents.join(refined, Seq("cent_id"), "left")
        .select(col("cent_id"), coalesce(col("__new"), col("cent_emb")).as("cent_emb"))
        .cache()
      next.count()
      cents = next
    }
    cents
  }
  /** KMeans‖ seeding (Bahmani et al., "Scalable K-Means++", VLDB'12
    * §3.3) over the unit sphere — the distributed, weighted seeding
    * that replaces id-order seeds at real scale. Id-order seeding
    * reads the k lowest-id rows: when ids correlate with ingestion
    * order or cluster membership (they usually do), every seed can
    * land in ONE dense region and nProbe buckets then tile that region
    * while the rest of the corpus crowds into few huge buckets — the
    * recall cliff KMeansParSpec reproduces. KMeans‖ instead samples
    * each round with probability ∝ d²(x, C) (distance to the current
    * candidate set), oversampled ℓ = `oversample`·k per round, so far
    * regions are found with high probability in O(log φ) rounds; the
    * O(ℓ·rounds) candidates are then weighted by the size of their
    * Voronoi cell and reduced to k on the driver with weighted
    * k-means++ + weighted spherical Lloyd.
    *
    * Fully DETERMINISTIC (data + seed + params): sampling coins are
    * [[graft.ops.Sampling.hashUniform]] folds of (seed, round, id) —
    * pure per-row functions, independent of partitioning — collected
    * candidates are re-sorted by id before any order-sensitive step,
    * and the driver reduction draws from an md5 stream keyed
    * (seed, step). Same discipline as the id-order paths, so runs
    * reproduce across cluster sizes; unlike them the RESULT depends on
    * the data distribution, which is the point and also why the
    * DuckDB-oracled queries keep the id-order twins.
    *
    * Scale shape: 2 passes over the corpus per round (φ aggregate +
    * sample filter) and one weighting pass — all map-side against a
    * broadcast candidate literal (≤ ℓ·rounds + 1 ≈ 150 vectors at the
    * defaults), no shuffle wider than the candidate collect, driver
    * state O(candidates·dim). The per-pass cost is |corpus|·|C| dot
    * products; with bounded |C| that is the same O(n·k·rounds) as the
    * Lloyd iterations that follow.
    *
    * @param c unitized corpus (`idCol`, `__ne`)
    * @return (cent_id ∈ [0, k), cent_emb) — k unit-normalized seeds,
    *         ready for [[ivfWithCentroids]]
    */
  private[graft] def kmeansParRows(c: DataFrame, idCol: String, k: Int,
                                   rounds: Int = 4, oversample: Double = 2.0,
                                   seed: Long = 42L): DataFrame = {
    require(k >= 1, s"k must be at least 1, got $k")
    require(rounds >= 1, s"rounds must be at least 1, got $rounds")
    val ell = oversample * k
    // candidate cap: E[sample] = ℓ per round; 8ℓ per round is far past
    // any Chernoff tail, so a breach means degenerate inputs (e.g. a
    // corpus of one repeated vector plus one outlier), not bad luck —
    // surfaced, never silently truncated
    val roundCap = math.max(16, (8 * ell).toInt)
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5u(tag: String): Double = {
      val h = md.digest(s"$seed|$tag".getBytes("UTF-8"))
        .take(8).foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL))
      (h >>> 4).toDouble / (1L << 60).toDouble // 60 uniform bits
    }
    def dotLocal(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def rowsOf(df: DataFrame): Seq[(String, Array[Double])] =
      df.collect().toSeq
        .map(r => (String.valueOf(r.get(0)),
          r.getSeq[Double](1).toArray))
        .sortBy(_._1) // collect order is partition order — re-sort
    // first candidate: deterministic pseudo-random row (hash-min),
    // never id-min — id order is exactly the bias this seeding exists
    // to escape
    var cands = rowsOf(c
      .orderBy(xxhash64(col(idCol).cast("string"), lit(seed)), col(idCol))
      .limit(1).select(col(idCol).cast("string"), col("__ne")))
    if (cands.isEmpty) { // empty corpus: empty centroid set, typed
      val session = c.sparkSession
      import session.implicits._
      return Seq.empty[(Long, Seq[Double])].toDF("cent_id", "cent_emb")
    }
    for (r <- 1 to rounds) {
      val candLit = typedLit(cands.map(_._2.toSeq))
      val bestDot = aggregate(candLit, lit(-2.0),
        (acc, ce) => greatest(acc, dot(col("__ne"), ce)))
      // unit vectors: d² = ‖x − c‖² = 2 − 2⟨x, c⟩, clamped at float edge
      val d2 = greatest(lit(0.0), lit(2.0) - lit(2.0) * bestDot)
      val phi = c.agg(sum(d2)).head.getDouble(0)
      if (phi > 0) {
        val coin = graft.ops.Sampling.hashUniform(
          concat_ws("|", lit(seed.toString), lit(r.toString), col(idCol).cast("string")))
        val picked = rowsOf(c
          .filter(coin < lit(ell) * d2 / lit(phi))
          .select(col(idCol).cast("string"), col("__ne"))
          .limit(roundCap + 1))
        require(picked.size <= roundCap,
          s"KMeans|| round $r sampled more than $roundCap candidates " +
            s"(expected ~${ell.toInt}) — degenerate distance mass; inspect the corpus")
        val seen = cands.map(_._1).toSet
        cands = cands ++ picked.filterNot(p => seen.contains(p._1))
      }
    }
    // Voronoi weights: corpus points per candidate (one map-side pass)
    val candIdx = typedLit(cands.indices.map(i => (i.toDouble, cands(i)._2.toSeq)))
    val weights = scala.collection.mutable.HashMap.empty[Int, Long]
    c.select(
        aggregate(candIdx, struct(lit(-2.0).as("s"), lit(-1.0).as("i")),
          (acc, ce) => {
            val s = dot(col("__ne"), ce.getField("_2"))
            when(s > acc.getField("s"),
              struct(s.as("s"), ce.getField("_1").as("i"))).otherwise(acc)
          }).getField("i").cast("int").as("__b"))
      .groupBy("__b").agg(count(lit(1)).as("__w"))
      .collect().foreach(r => weights(r.getInt(0)) = r.getLong(1))
    val w = cands.indices.map(i => weights.getOrElse(i, 0L).toDouble).toArray
    // ---- driver-side weighted k-means++ reduction to k ----
    val emb = cands.map(_._2).toArray
    val chosen = scala.collection.mutable.ArrayBuffer.empty[Int]
    def pickWeighted(mass: Array[Double], step: Int): Int = {
      val total = mass.sum
      if (total <= 0) // all residual mass zero: fall back to heaviest unchosen
        mass.indices.filterNot(chosen.contains)
          .maxBy(i => (w(i), cands(i)._1))
      else {
        val u = md5u(s"pick|$step") * total
        var acc = 0.0; var i = 0
        while (i < mass.length && acc + mass(i) <= u) { acc += mass(i); i += 1 }
        math.min(i, mass.length - 1)
      }
    }
    chosen += pickWeighted(w.clone(), 0)
    while (chosen.size < math.min(k, emb.length)) {
      val mass = emb.indices.map { i =>
        if (chosen.contains(i)) 0.0
        else {
          val d2 = chosen.map(j => math.max(0.0, 2.0 - 2.0 * dotLocal(emb(i), emb(j)))).min
          w(i) * d2
        }
      }.toArray
      chosen += pickWeighted(mass, chosen.size)
    }
    // weighted spherical Lloyd over the candidate set (driver, tiny)
    var centers = chosen.map(emb(_).clone()).toArray
    for (_ <- 1 to 5) {
      val sums = Array.fill(centers.length)(new Array[Double](centers(0).length))
      val mass = new Array[Double](centers.length)
      emb.indices.foreach { i =>
        val j = centers.indices.maxBy(j => dotLocal(emb(i), centers(j)))
        val s = sums(j); val e = emb(i)
        var d = 0; while (d < e.length) { s(d) += w(i) * e(d); d += 1 }
        mass(j) += w(i)
      }
      centers = centers.indices.map { j =>
        if (mass(j) <= 0) centers(j)
        else {
          val s = sums(j)
          val n = math.sqrt(dotLocal(s, s))
          if (n == 0) centers(j) else s.map(_ / n)
        }
      }.toArray
    }
    val session = c.sparkSession
    import session.implicits._
    centers.toSeq.zipWithIndex
      .map { case (v, i) => (i.toLong, v.toSeq) }
      .toDF("cent_id", "cent_emb")
  }

  /** Per-bucket unit-normalized means of an assignment frame
    * (id, __ne, bucket) → (cent_id, __new): per-component
    * [[graft.ops.ExactSum]] sums divided by the exact integer count,
    * renormalized to the unit sphere. posexplode keys the partial
    * aggregation on (bucket, component) — fixed-width state, map-side
    * combine, nCentroids·dim groups — and the dim-bounded components
    * then reassemble into the mean array. The sums are exact integers,
    * so the mean does not depend on row order or partitioning, and the
    * oracle's per-component sums (`Vector.meanSql`) match bit for bit.
    */
  private[graft] def bucketMeans(assigned: DataFrame): DataFrame =
    assigned
      .select(col("bucket"), posexplode(col("__ne")).as(Seq("__i", "__x")))
      .groupBy(col("bucket"), col("__i"))
      .agg((ExactSum(col("__x")) / count(lit(1))).as("__m"))
      .groupBy(col("bucket"))
      .agg(array_sort(collect_list(struct(col("__i"), col("__m")))).as("__ms"))
      .select(col("bucket").as("cent_id"),
        transform(col("__ms"), m => m.getField("__m")).as("__mean"))
      .select(col("cent_id"),
        transform(col("__mean"), x => x / sqrt(dot(col("__mean"), col("__mean"))))
          .as("__new"))

  /** Per-(m, code) means of the `dim`-long subvectors `sv` → (m, code,
    * __new): one aggregation of `dim` [[graft.ops.ExactSum]] sums and
    * the integer count (fixed-width state, map-side combine), each sum
    * divided by the count, no renorm — PQ codewords are plain subspace
    * means. The oracle's `Vector.meanSql` computes the same integers.
    */
  private def codeMeans(assigned: DataFrame, dim: Int): DataFrame =
    assigned.groupBy(col("m"), col("code"))
      .agg(count(lit(1)).as("__cnt"),
        array((0 until dim).map(i => ExactSum.sumOf(element_at(col("sv"), i + 1))): _*)
          .as("__sum"))
      .select(col("m"), col("code"),
        transform(col("__sum"), s => ExactSum.value(s) / col("__cnt")).as("__new"))

  /** Doubles cap on the flattened-codebook plan literal of the n = 1
    * fast path (nCentroids · dim). The default (2²² = 4.19 M doubles,
    * 32 MB — a 65k-centroid 64-dim production codebook exactly) bounds
    * what rides the plan/task-binary broadcast; past it the assignment
    * reverts to the broadcast-join + group-limit form, whose centroid
    * payload ships via torrent broadcast instead. Session-overridable:
    * `spark.graft.ivf.maxCodebookLiteralDoubles`.
    */
  private val MaxCodebookLiteralDoubles = 1L << 22

  /** Nearest-`n` centroid assignment of (`id`, `emb`) rows.
    *
    * n = 1 (the corpus-assignment path, also every Lloyd iteration) is
    * a SHUFFLE-FREE argmax: the bounded centroid set (known small — it
    * is broadcast either way) is collected once, flattened row-major
    * into ONE `array<double>` literal, and scanned by the codegen'd
    * [[graft.engine.expressions.NearestCentroid]] two-level loop — a
    * corpus assignment is ONE narrow map over the scan: no
    * row×centroid crossJoin blow-up, no per-id exchange, no window
    * sort. The old window shape shuffled |corpus|·nCentroids rows per
    * assignment pass; at 3 assignment passes (2 Lloyd + final) that
    * dominated q43's floor. The r18 intermediate (one expression node
    * per centroid: `array(dot…)` + array_max/array_position) generated
    * O(nCentroids) code — fine at 16 centroids, JIT-hostile at a
    * production 4k–64k codebook; the flattened literal keeps generated
    * code CONSTANT-size at any codebook scale. Selection semantics are
    * identical across all three forms: highest dot wins, ties to the
    * smallest cent_id (strict Double.compare over the cent_id-asc
    * flattening = first-max-wins), NaN ranks greatest — so every
    * oracle replay is unchanged (IvfCodebookSpec pins bit-identity
    * against the join+window form at 4096 centroids).
    *
    * n > 1 (query probing — a few hundred rows) keeps the join+window
    * form; an empty centroid frame, a ragged/oversized codebook (>
    * [[MaxCodebookLiteralDoubles]], conf-overridable) also fall back so
    * result semantics stay exactly the join's.
    */
  private[graft] def nearestBuckets(df: DataFrame, cents: DataFrame,
                             id: String, emb: String, n: Int): DataFrame = {
    val centRows = if (n == 1)
      cents.select(col("cent_id"), col("cent_emb")).collect()
    else Array.empty[org.apache.spark.sql.Row]
    val dim = if (centRows.nonEmpty) centRows.head.getSeq[Double](1).length else 0
    val maxDoubles = df.sparkSession.conf
      .getOption("spark.graft.ivf.maxCodebookLiteralDoubles")
      .map(_.toLong).getOrElse(MaxCodebookLiteralDoubles)
    val literalFits = dim > 0 &&
      centRows.forall(_.getSeq[Double](1).length == dim) &&
      centRows.length.toLong * dim <= maxDoubles
    if (n == 1 && centRows.nonEmpty && literalFits) {
      // the SAME asc order the window form used: integral ids sort by
      // exact long value, fractional ids by double (Number.longValue
      // would TRUNCATE 1.5 and 1.9 to the same key and the argmax tie
      // order could diverge from the window's native numeric asc),
      // anything else by string form
      val byId = centRows.head.get(0) match {
        case _: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
             _: java.lang.Byte =>
          centRows.sortBy(_.getAs[Number](0).longValue())
        case _: java.lang.Number =>
          centRows.sortBy(_.getAs[Number](0).doubleValue())
        case _ => centRows.sortBy(r => String.valueOf(r.get(0)))
      }
      val flat = new Array[Double](byId.length * dim)
      byId.iterator.zipWithIndex.foreach { case (r, j) =>
        val e = r.getSeq[Double](1)
        var i = 0
        while (i < dim) { flat(j * dim + i) = e(i); i += 1 }
      }
      graft.engine.expressions.NearestCentroid.register(df.sparkSession)
      // cidArr is all-literal CreateArray → constant-folded to ONE
      // array literal by the optimizer; element_at is 1-based
      val cidArr = array(byId.map(r => lit(r.get(0))).toIndexedSeq: _*)
      df.select(col(id), col(emb),
        element_at(cidArr,
          graft.engine.expressions.NearestCentroid
            .nearest(col(emb), flat, dim) + 1)
          .as("bucket"))
    } else
      TopK.exactPerKey(
        df.crossJoin(broadcast(cents))
          .select(col(id), col(emb), col("cent_id"),
            dot(col(emb), col("cent_emb")).as("__c")),
        Seq(id), Seq(col("__c").desc, col("cent_id").asc), n, "__cr")
        .select(col(id), col(emb), col("cent_id").as("bucket"))
  }

  /** Probe the bucketed corpus with probed queries, rank exact cosine. */
  private def probeRank(probed: DataFrame, bucketed: DataFrame,
                        idCol: String, k: Int): DataFrame = {
    val pairs = probed.join(bucketed, Seq("bucket"))
      .filter(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol),
        round(dot(col("__qe"), col("__ne")), 6).as("cos_sim"))
    TopK.exactPerKey(pairs.dropDuplicates("query_id", idCol), Seq("query_id"),
      Seq(col("cos_sim").desc, col(idCol).asc), k, "rnk")
      .withColumn("rnk", col("rnk").cast("int"))
  }

  private[graft] def ivfWithCentroids(c: DataFrame, queries: DataFrame, cents: DataFrame,
                                      idCol: String, embCol: String, k: Int,
                                      nProbe: Int): DataFrame = {
    val q = unitized(queries, idCol, embCol, "query_id", "__qe")
    val bucketed = nearestBuckets(c, cents, idCol, "__ne", 1)
    val probed = nearestBuckets(q, cents, "query_id", "__qe", nProbe)
    probeRank(probed, bucketed, idCol, k)
  }

  /** ORACLE-replayable BUILD of the build-once / probe-many serving
    * shape (r18 verdict item 4): learned centroids plus
    * bucket-PARTITIONED postings parquet, one partition directory per
    * posting list, so probes prune to `nProbe` posting directories.
    * The centroids are [[ivfTopKLloyd]]'s exact-sum Lloyd ones, so a
    * [[queryIvfIndex]] probe over the PERSISTED index is bit-identical
    * to the in-memory [[ivfTopKLloyd]] answer and a SQL twin can
    * hash-gate both halves (q313 gates the on-disk assignment, q314's
    * oracle is literally q43's SQL). [[ivfTopKLloyd]] retrains inside every call — right
    * for a one-shot, wrong for serving, where build cost must amortize
    * across query batches.
    */
  def buildIvfIndexLloyd(corpus: DataFrame, idCol: String, embCol: String,
                         path: String, nCentroids: Int = 16,
                         iters: Int = 2): Unit = {
    val c = unitized(corpus, idCol, embCol, idCol, "__ne").cache()
    val cents = lloydCentroids(c, idCol, nCentroids, iters)
    cents.write.mode("overwrite").parquet(s"$path/centroids")
    nearestBuckets(c, cents, idCol, "__ne", 1)
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$path/postings")
    c.unpersist()
  }

  /** Product-quantization ANN (the FAISS-PQ shape, dot-product variant):
    * each unit vector splits into `nSub` subvectors; per subspace a
    * `nCodes`-entry codebook is learned (id-order seeds + `iters`
    * deterministic Lloyd steps, every mean an exact scaled-integer sum — the same
    * oracle discipline as [[ivfTopKLloyd]]); the corpus is ENCODED as
    * `nSub` small code ids per vector. Search is an asymmetric-distance
    * scan: per query, dot each subvector against every codeword (a
    * `|Q|·nSub·nCodes` lookup table, broadcast-sized), then score every
    * corpus vector as the m-ordered sum of its codes' partials.
    *
    * THE 100 TB feature is the storage shape: a 64-dim double vector
    * (512 B) becomes `nSub` = 8 code bytes — 64× less state to scan,
    * shuffle, or cache, with the full-precision corpus needed only at
    * encode time. Accuracy is the PQ trade (recall pinned in
    * LlmOpsSpec); exact rerank of the PQ top-k against stored vectors
    * is the standard follow-up when needed.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             embCol: String, k: Int, dim: Int, nSub: Int = 8, nCodes: Int = 16,
             iters: Int = 1): DataFrame = {
    require(dim % nSub == 0, s"dim $dim must split evenly into $nSub subspaces")
    val subDim = dim / nSub
    val c = unitized(corpus, idCol, embCol, idCol, "__ne").cache()
    // Cached: read once per Lloyd pass plus the final encode — same
    // total floats as the corpus, split into nSub rows per vector.
    val subs = pqSubSplit(c, idCol, "__ne", nSub, subDim).cache()
    val books = pqTrainBooks(c, subs, idCol, nSub, subDim, nCodes, iters)
    // the compressed corpus: nSub code ids per vector
    val codes = pqNearestCode(subs, books, idCol)
      .select(col(idCol), col("m"), col("code"))
    pqAdcTopK(codes, books, queries, idCol, embCol, k, nSub, subDim)
  }

  /** One row per (id, subspace m): the m-th `subDim` slice of `emb`. */
  private[graft] def pqSubSplit(df: DataFrame, id: String, emb: String,
                                nSub: Int, subDim: Int): DataFrame =
    df.select(col(id), posexplode(array((0 until nSub).map(m =>
      slice(col(emb), m * subDim + 1, subDim)): _*)).as(Seq("m", "sv")))

  /** Top-1 codeword per (id, m) row, max-dot metric: ONE codegen
    * argmax map against per-subspace flattened codebook literals —
    * see [[assignNearestCode]].
    */
  private def pqNearestCode(points: DataFrame, books: DataFrame,
                            id: String): DataFrame =
    assignNearestCode(points, books, id, l2 = false)

  /** Top-1 codeword per (id, m) row of `points` (id, m, sv) against the
    * materialized codebook `books` (m, code, ce) — max-dot (`l2=false`,
    * the PQ cosine discipline) or min-squared-L2 (`l2=true`, residual
    * codebooks whose codewords are plain means).
    *
    * The codebook is tiny (nSub·nCodes rows) and always materialized,
    * so the assignment is ONE narrow codegen map: per subspace m the
    * codewords flatten code-asc into a literal scanned by
    * [[graft.engine.expressions.NearestCentroid]] /
    * [[graft.engine.expressions.NearestCodeL2]], and the winner index
    * maps back to its code id through a bounded array literal. The
    * join + max_by/min_by reference form this replaces generated
    * |points|·nCodes rows AND could not hash-aggregate them (the winner
    * buffer carries the sv array — not a mutable fixed-width buffer
    * type — so Spark planned SortAggregate and SORTED the full join
    * output on every pass): the dominant stage of q101/q102/q159.
    * Selection is bit-identical to the reference form — the literal
    * scan accumulates dots/distances in the same index order as
    * DotProduct/the l2sq fold, and first-win over the code-asc
    * flattening replicates the (score, code) struct ordering
    * (PqCodeAssignSpec pins both metrics against the reference forms,
    * planted exact ties included). An empty, ragged, oversized
    * (> [[MaxCodebookLiteralDoubles]], conf-overridable) or
    * non-long-coded codebook falls back to the reference join form —
    * the [[nearestBuckets]] discipline.
    */
  private[graft] def assignNearestCode(points: DataFrame, books: DataFrame,
                                       id: String, l2: Boolean): DataFrame = {
    val spark = points.sparkSession
    val maxDoubles = spark.conf
      .getOption("spark.graft.ivf.maxCodebookLiteralDoubles")
      .map(_.toLong).getOrElse(MaxCodebookLiteralDoubles)
    val longCode =
      books.schema("code").dataType == org.apache.spark.sql.types.LongType
    val byM: Seq[(Int, Array[(Long, Array[Double])])] =
      if (longCode)
        books.select(col("m"), col("code"), col("ce")).collect()
          .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
          .map { case (m, rs) =>
            (m, rs.map(r => (r.getLong(1), r.getSeq[Double](2).toArray))
              .sortBy(_._1))
          }
      else Seq.empty
    val shapeOk = byM.nonEmpty && byM.forall { case (_, rs) =>
      rs.nonEmpty && rs.head._2.nonEmpty &&
        rs.forall(_._2.length == rs.head._2.length)
    }
    val totalDoubles =
      if (shapeOk) byM.map { case (_, rs) =>
        rs.length.toLong * rs.head._2.length }.sum
      else Long.MaxValue
    if (shapeOk && totalDoubles <= maxDoubles) {
      graft.engine.expressions.NearestCentroid.register(spark)
      graft.engine.expressions.NearestCodeL2.register(spark)
      val codeCol = byM.map { case (m, rs) =>
        val subDim = rs.head._2.length
        val flat = rs.flatMap(_._2).toArray
        val idx =
          if (l2) graft.engine.expressions.NearestCodeL2
            .nearest(col("sv"), flat, subDim)
          else graft.engine.expressions.NearestCentroid
            .nearest(col("sv"), flat, subDim)
        (m, element_at(lit(rs.map(_._1)), idx + 1))
      }.foldLeft(lit(null).cast("long")) {
        case (acc, (m, e)) => when(col("m") === m, e).otherwise(acc)
      }
      points.select(col(id), col("m"), col("sv"), codeCol.as("code"))
    } else if (l2) {
      def l2sq(a: Column, b: Column): Column =
        aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, v) => acc + v)
      points.join(books, Seq("m"))
        .select(col(id), col("m"), col("sv"), col("code"),
          l2sq(col("sv"), col("ce")).as("__d"))
        .groupBy(col(id), col("m"))
        .agg(min_by(struct(col("code"), col("sv")),
          struct(col("__d"), col("code"))).as("__w"))
        .select(col(id), col("m"), col("__w.sv").as("sv"),
          col("__w.code").as("code"))
    } else {
      points.join(books, Seq("m"))
        .select(col(id), col("m"), col("sv"), col("code"),
          dot(col("sv"), col("ce")).as("__c"))
        .groupBy(col(id), col("m"))
        .agg(max_by(struct(col("code"), col("sv")),
          struct(col("__c"), -col("code"))).as("__w"))
        .select(col(id), col("m"), col("__w.sv").as("sv"),
          col("__w.code").as("code"))
    }
  }

  /** PQ codebook training: id-order seeds (subvectors of the nCodes
    * lowest ids, code = seed id) refined by `iters` subspace Lloyd
    * passes of exact per-(m, code) means ([[codeMeans]]) — the
    * [[pqTopK]] discipline. `c` is the unitized (id, __ne) corpus,
    * `subs` its [[pqSubSplit]] (cached by the caller — read once per
    * pass).
    *
    * @return (m, code, ce) codebook rows, materialized (tiny)
    */
  private[graft] def pqTrainBooks(c: DataFrame, subs: DataFrame, idCol: String,
                                  nSub: Int, subDim: Int, nCodes: Int,
                                  iters: Int,
                                  kmeansParSeed: Option[Long] = None): DataFrame = {
    // Seeding: lowest-id rows (the q101-oracled batch discipline), a
    // distributed partial top-k (orderBy+limit), never a sort.
    // `kmeansParSeed` upgrades to the [[kmeansParRows]] weighted sample
    // (one full-vector KMeans‖ run shared by all nSub subspaces — rows
    // diverse in the full space are diverse in each slice, at 1/nSub
    // the cost of per-subspace seeding); codes are the 0-based seed
    // ranks instead of seed-row ids, which downstream never interprets.
    val seedRows = kmeansParSeed match {
      case Some(s) => kmeansParRows(c, idCol, nCodes, seed = s)
        .select(col("cent_id").as("code"), col("cent_emb").as("__ne"))
      case None =>
        c.orderBy(col(idCol)).limit(nCodes).withColumnRenamed(idCol, "code")
    }
    var books = pqSubSplit(
      seedRows,
      "code", "__ne", nSub, subDim).withColumnRenamed("sv", "ce")
    for (_ <- 0 until iters) {
      // per-(m, code) exact mean; empty codes keep their previous codeword
      val refined = codeMeans(pqNearestCode(subs, books, idCol), subDim)
      // Materialize each refined codebook (nSub·nCodes rows — tiny).
      // Unmaterialized, the codebook's lineage re-runs EVERY prior
      // iteration's |corpus|·nSub assignment join each time it is read —
      // and it is read twice downstream (final encode + ADC table). With
      // the eager cache, each Lloyd pass's assignment executes exactly once.
      val next = books.join(refined, Seq("m", "code"), "left")
        .select(col("m"), col("code"), coalesce(col("__new"), col("ce")).as("ce"))
        .cache()
      next.count()
      books = next
    }
    books
  }

  /** ADC top-K over an already-encoded corpus: `codes` is (id, m, code),
    * the compressed representation [[pqTopK]] just built.
    */
  private def pqAdcTopK(codes: DataFrame, books: DataFrame,
                        queries: DataFrame, idCol: String,
                        embCol: String, k: Int, nSub: Int,
                        subDim: Int): DataFrame = {
    val qsubs = pqSubSplit(unitized(queries, idCol, embCol, "query_id", "__qe"),
      "query_id", "__qe", nSub, subDim)
    // ADC lookup table — bounded by |queries|·nSub·nCodes, broadcast it
    val qtab = qsubs.join(books, Seq("m"))
      .select(col("query_id"), col("m"), col("code"),
        dot(col("sv"), col("ce")).as("__p"))
    // m-ordered partial sum via pivot: each (query, vector) group has
    // exactly one partial per m, so first() is exact, and the explicit
    // p0+p1+…+p7 left fold is the same addition order as the oracle's
    // list(partial ORDER BY m) sum — with plain fixed-width agg state
    // instead of a collect_list/sort/fold chain per pair.
    val scored = codes.join(broadcast(qtab), Seq("m", "code"))
      .filter(col(idCol) =!= col("query_id"))
      .groupBy(col("query_id"), col(idCol))
      .pivot("m", (0 until nSub).map(m => m: Any))
      .agg(first(col("__p")))
      .select(col("query_id"), col(idCol),
        round((0 until nSub).map(m => col(s"`$m`")).reduceLeft(_ + _), 6).as("adc_sim"))
    TopK.exactPerKey(scored, Seq("query_id"),
      Seq(col("adc_sim").desc, col(idCol).asc), k, "rnk")
      .withColumn("rnk", col("rnk").cast("int"))
  }

  /** Two-stage PQ retrieval: [[pqTopK]] candidates (k·`rerankFactor` per
    * query by ADC score), exact-dot rescore against the stored
    * full-precision vectors, final top-k by exact cosine. The standard
    * accuracy recovery for PQ's quantization loss: the compressed scan
    * bounds the candidate set, so the exact stage touches only
    * |Q|·k·factor vectors instead of the corpus — any true neighbor the
    * candidates contain is guaranteed into the final top-k (exact
    * scores are global), so recall can only improve over raw ADC.
    */
  def pqTopKRerank(corpus: DataFrame, queries: DataFrame, idCol: String,
                   embCol: String, k: Int, dim: Int, nSub: Int = 8,
                   nCodes: Int = 16, iters: Int = 1,
                   rerankFactor: Int = 4): DataFrame = {
    val cand = pqTopK(corpus, queries, idCol, embCol, k * rerankFactor,
      dim, nSub, nCodes, iters).select(col("query_id"), col(idCol))
    val cv = unitized(corpus, idCol, embCol, idCol, "__ne")
    val qv = unitized(queries, idCol, embCol, "query_id", "__qe")
    val exact = cand.join(cv, idCol)
      .join(broadcast(qv), "query_id")
      .select(col("query_id"), col(idCol),
        round(dot(col("__qe"), col("__ne")), 6).as("cos_sim"))
    TopK.exactPerKey(exact, Seq("query_id"),
      Seq(col("cos_sim").desc, col(idCol).asc), k, "rnk")
      .withColumn("rnk", col("rnk").cast("int"))
  }

  /** IVF×PQ composition — the standard billion-scale ANN layout
    * (coarse inverted file + product-quantized residuals, the FAISS
    * `IVFx,PQy` shape): coarse Lloyd cells bucket the corpus with
    * [[lloydCentroids]]' oracle discipline; each vector then stores
    * ONLY its cell id plus `nSub` code ids of its RESIDUAL
    * (vector − cell centroid); a query probes its `nProbe` nearest
    * cells and scores their members from codes alone, as
    * `<q, centroid> + Σ_m <q_m, codeword_m>` (exact inner product of
    * the reconstruction `centroid + codewords`).
    *
    * Why residuals: within a cell, vectors cluster around the
    * centroid, so residuals have far smaller spread than raw vectors
    * and the same code budget quantizes them with less error —
    * composed recall ≥ PQ-alone recall at equal bytes (pinned in
    * LlmOpsSpec). Codeword assignment is by MINIMUM L2 distance
    * (dist asc, code asc — the quantization objective; [[pqTopK]]'s
    * max-dot assignment is only sound for near-unit inputs, which
    * residuals are not).
    *
    * THE 100 TB shape on both axes: storage is cell id + `nSub` bytes
    * per vector (the full-precision corpus is touched only at
    * build), and a query batch SCANS only `nProbe`/`nCent` of those
    * codes — IVF bounds what is read, PQ bounds the bytes per row
    * read. Every arithmetic step keeps the exact-sum oracle
    * discipline of [[ivfTopKLloyd]]/[[pqTopK]], so the q159 DuckDB
    * twin replays the exact double bits.
    *
    * Reference scope: completes `src/search_ranking_peers.py`'s
    * similarity-ranking intent at corpus sizes where neither the
    * brute-force dot (q23) nor single-level IVF/PQ suffices.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                embCol: String, k: Int, dim: Int, nCent: Int = 8,
                nProbe: Int = 2, cIters: Int = 1, nSub: Int = 8,
                nCodes: Int = 16, pIters: Int = 1,
                opq: Boolean = false): DataFrame = {
    require(dim % nSub == 0, s"dim $dim must split evenly into $nSub subspaces")
    val subDim = dim / nSub
    // Lazy-return caches throughout — released via withQueryCaches.
    val c = unitized(corpus, idCol, embCol, idCol, "__ne").cache()
    val cents = lloydCentroids(c, idCol, nCent, cIters)
    val bucketed = nearestBuckets(c, cents, idCol, "__ne", 1)
    // Residual = vector − its cell centroid (element-wise, no renorm).
    val resid0 = bucketed
      .join(cents.select(col("cent_id").as("bucket"), col("cent_emb")), "bucket")
      .select(col(idCol), col("bucket"),
        zip_with(col("__ne"), col("cent_emb"), (a, b) => a - b).as("__r"))
      .cache()
    // OPQ-lite: a learned variance-balancing coordinate PERMUTATION
    // applied to residuals (and, below, to the query subvector side)
    // before codebook learning. A permutation is orthogonal, so every
    // inner product is bit-preserved — only the subspace GROUPING
    // changes, spreading high-variance coordinates across codebooks so
    // no single subspace eats the quantization budget (the
    // eigenvalue-allocation idea of Ge et al.'s OPQ, CVPR'13, without
    // the rotation matrix). Zero extra bytes per code.
    val perm = if (opq) Some(varianceBalancedPerm(resid0, "__r", dim, nSub)) else None
    def maybePerm(e: Column): Column =
      perm.map(p => array(p.map(i => element_at(e, i + 1)).toSeq: _*)).getOrElse(e)
    val resid =
      if (opq) resid0.withColumn("__r", maybePerm(col("__r"))) else resid0
    def subSplit(df: DataFrame, id: String, emb: String): DataFrame =
      df.select(col(id), posexplode(array((0 until nSub).map(m =>
        slice(col(emb), m * subDim + 1, subDim)): _*)).as(Seq("m", "sv")))
    val rsubs = subSplit(resid, idCol, "__r").cache()
    // id-order seeds: residual subvectors of the nCodes lowest ids.
    var books = subSplit(
      resid.orderBy(col(idCol)).limit(nCodes).withColumnRenamed(idCol, "code"),
      "code", "__r").withColumnRenamed("sv", "ce")
    // Argmin-L2 codeword per (id, m): one codegen literal-scan map
    // (assignNearestCode — replicates ORDER BY dist ASC, code ASC bit
    // for bit; see its doc for the SortAggregate it avoids).
    def nearestCodeL2(points: DataFrame, id: String): DataFrame =
      assignNearestCode(points, books, id, l2 = true)
    for (_ <- 0 until pIters) {
      // per-(m, code) exact mean; empty codes keep their codeword
      val refined = codeMeans(nearestCodeL2(rsubs, idCol), subDim)
      val next = books.join(refined, Seq("m", "code"), "left")
        .select(col("m"), col("code"), coalesce(col("__new"), col("ce")).as("ce"))
        .cache()
      next.count()
      books = next
    }
    // The compressed corpus: cell id + nSub residual codes per vector.
    val codes = nearestCodeL2(rsubs, idCol).select(col(idCol), col("m"), col("code"))
      .join(bucketed.select(col(idCol), col("bucket")), Seq(idCol))
    // Query side: probe nProbe cells; the centroid term <q, c> plus the
    // per-(query, m, code) ADC partials — both bounded by the query
    // batch, so the broadcasts are bounded (|Q|·nProbe, |Q|·nSub·nCodes).
    val q = unitized(queries, idCol, embCol, "query_id", "__qe")
    val probedC = nearestBuckets(q, cents, "query_id", "__qe", nProbe)
      .join(cents.select(col("cent_id").as("bucket"), col("cent_emb")), "bucket")
      .select(col("query_id"), col("__qe"), col("bucket"),
        dot(col("__qe"), col("cent_emb")).as("__qc"))
    // ADC partials pair PERMUTED query subvectors with the permuted-
    // residual codebooks (same perm ⇒ <q, r̂> is exactly preserved);
    // the centroid term above stays in the original coordinates.
    val qtab = subSplit(q.withColumn("__qe", maybePerm(col("__qe"))),
        "query_id", "__qe").join(books, Seq("m"))
      .select(col("query_id"), col("m"), col("code"),
        dot(col("sv"), col("ce")).as("__p"))
    // m-ordered partial sum via pivot (one partial per m per pair —
    // first() exact), plus the probed cell's centroid term; the explicit
    // qc + (p0+…+p7) left fold is the oracle's addition order.
    val scored = codes
      .join(broadcast(probedC.select(col("query_id"), col("bucket"), col("__qc"))), Seq("bucket"))
      .filter(col(idCol) =!= col("query_id"))
      .join(broadcast(qtab), Seq("query_id", "m", "code"))
      .groupBy(col("query_id"), col(idCol), col("__qc"))
      .pivot("m", (0 until nSub).map(m => m: Any))
      .agg(first(col("__p")))
      .select(col("query_id"), col(idCol),
        round(col("__qc") + (0 until nSub).map(m => col(s"`$m`")).reduceLeft(_ + _), 6)
          .as("adc_sim"))
    TopK.exactPerKey(scored, Seq("query_id"),
      Seq(col("adc_sim").desc, col(idCol).asc), k, "rnk")
      .withColumn("rnk", col("rnk").cast("int"))
  }

  /** Variance-balancing coordinate permutation for PQ subspace
    * assignment (the OPQ-lite of [[ivfPqTopK]]): per-coordinate
    * variance of `embCol` (one exploded aggregation — dim rows reach
    * the driver, never data), then greedy balanced assignment —
    * coordinates in descending variance order, each to the currently
    * lightest non-full subspace (longest-processing-time scheduling,
    * ≤ 4/3·OPT imbalance). Returned as the permutation array p where
    * permuted[j] = original[p(j)], subspace m owning positions
    * m·subDim until (m+1)·subDim.
    */
  private[graft] def varianceBalancedPerm(df: DataFrame, embCol: String,
                                          dim: Int, nSub: Int): Array[Int] = {
    val subDim = dim / nSub
    val vars = df.select(posexplode(col(embCol)).as(Seq("i", "x")))
      .groupBy("i")
      .agg(avg(col("x") * col("x")).as("ex2"), avg(col("x")).as("mu"))
      .select(col("i"), (col("ex2") - col("mu") * col("mu")).as("v"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val order = (0 until dim).sortBy(i => (-vars.getOrElse(i, 0.0), i))
    val binSum = Array.fill(nSub)(0.0)
    val bins = Array.fill(nSub)(Vector.empty[Int])
    for (i <- order) {
      val b = (0 until nSub).filter(bins(_).size < subDim)
        .minBy(b => (binSum(b), b))
      bins(b) :+= i
      binSum(b) += vars.getOrElse(i, 0.0)
    }
    bins.flatten.toArray
  }

  /** Query a [[buildIvfIndexLloyd]] layout: probe `nProbe` buckets,
    * rank exact cosine within them. Identical results to
    * [[ivfTopKLloyd]] with the same centroid config (q314's oracle) —
    * minus the per-batch assignment pass, plus posting-file pruning.
    */
  def queryIvfIndex(queries: DataFrame, idCol: String, embCol: String,
                    path: String, k: Int, nProbe: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    val cents = spark.read.parquet(s"$path/centroids")
    val bucketed = spark.read.parquet(s"$path/postings")
    val probed = nearestBuckets(
      unitized(queries, idCol, embCol, "query_id", "__qe"), cents,
      "query_id", "__qe", nProbe)
    probeRank(probed, bucketed, idCol, k)
  }

  /** The ±1 sign of projection row `j`, dimension `i` — EXACTLY the
    * hyperplane family of [[hyperplaneLshPairs]] (XxHash64(j, i), seed
    * 42, parity): LSH signature bit j IS the sign of [[randomProject]]
    * output dim j (spec-pinned), so the projection and the LSH index
    * share one implicit matrix.
    */
  private def jlSign(j: Int, i: Int): Double = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val h = XxHash64(Seq(Literal(j), Literal(i)), 42L).eval(null).asInstanceOf[Long]
    if (((h % 2) + 2) % 2 == 0) 1.0 else -1.0
  }

  /** Johnson–Lindenstrauss sparse-sign random projection (Achlioptas,
    * JCSS'03 density-1 variant): y_j = Σ_i x_i · s(j,i) / √outDim with
    * s = ±1 derived from xxhash64 — no RNG state, no trained model, the
    * projection is a pure function of (j, i) reproduced as a LITERAL
    * matrix by the SQL twin (the q53 discipline). Dimensionality
    * reduction BEFORE the expensive stages: at 100 TB, projecting
    * 1024-dim float vectors to 64 dims cuts every downstream shuffle,
    * scan, and cache 16× while the JL lemma bounds pairwise-dot
    * distortion; compose with SQ8/PQ for further byte cuts.
    *
    * One narrow projection per row — `outDim` codegen'd literal-array
    * dots, no shuffle, no UDF; each dot is the left-to-right fold the
    * oracle replays. Output is (id, j, y) long form, y rounded to 6 dp.
    */
  /** The rounded projection array of `v` — shared by [[randomProject]]
    * (raw vectors, long-form output) and [[rpTopK]] (unit vectors,
    * compressed search space).
    */
  private def jlProjArray(v: Column, dim: Int, outDim: Int): Column = {
    val scale = math.sqrt(outDim.toDouble)
    array((0 until outDim).map { j =>
      val sv = array((0 until dim).map(i => lit(jlSign(j, i))): _*)
      round(dot(v, sv) / scale, 6)
    }: _*)
  }

  def randomProject(df: DataFrame, idCol: String, embCol: String,
                    dim: Int, outDim: Int): DataFrame = {
    graft.engine.expressions.DotProduct.register(df.sparkSession)
    df.withColumn("__d", col(embCol).cast("array<double>"))
      .select(col(idCol),
        posexplode(jlProjArray(col("__d"), dim, outDim)).as(Seq("j", "y")))
  }

  /** JL-compressed brute-force ANN with exact rerank: both sides project
    * to `outDim` dims ([[jlProjArray]] over UNIT vectors, so projected
    * dots approximate cosine), the candidate scan ranks the CHEAP
    * projected dot (outDim/dim of the arithmetic and broadcast bytes —
    * 16× at 1024→64), and the top `k·rerankFactor` candidates rerank
    * against the full-precision vectors. The [[sq8TopK]] shape with JL
    * instead of quantization as the compressor: any true neighbor the
    * candidate stage retains is guaranteed into the exact top-k.
    */
  def rpTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             embCol: String, k: Int, dim: Int = 64, outDim: Int = 16,
             rerankFactor: Int = 4): DataFrame = {
    val c = unitized(corpus, idCol, embCol, idCol, "__ne").cache()
    val q = unitized(queries, idCol, embCol, "query_id", "__qe")
    val cp = c.select(col(idCol), jlProjArray(col("__ne"), dim, outDim).as("__p"))
    val qp = q.select(col("query_id"), jlProjArray(col("__qe"), dim, outDim).as("__qp"))
    val rp = cp.join(broadcast(qp), col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol),
        round(dot(col("__qp"), col("__p")), 6).as("rp_sim"))
    val cand = TopK.exactPerKey(rp, Seq("query_id"),
      Seq(col("rp_sim").desc, col(idCol).asc), k * rerankFactor, "__r")
      .select("query_id", idCol)
    val exact = cand
      .join(c.select(col(idCol), col("__ne")), idCol)
      .join(broadcast(q), "query_id")
      .select(col("query_id"), col(idCol),
        round(dot(col("__qe"), col("__ne")), 6).as("cos_sim"))
    TopK.exactPerKey(exact, Seq("query_id"),
      Seq(col("cos_sim").desc, col(idCol).asc), k, "rnk")
      .withColumn("rnk", col("rnk").cast("int"))
  }

  /** Random-hyperplane LSH near-dup over cosine similarity: signature
    * bit j = sign(<x, h_j>) for `nBits` deterministic pseudo-random ±1
    * hyperplanes (seeded per (bit, dim) via Spark's xxhash64 — no RNG
    * state, fully reproducible). Vectors agreeing on the whole signature
    * become candidate pairs; candidates are verified with the exact
    * codegen dot. P[bit collision] = 1 - θ/π, so nBits tunes
    * precision/recall.
    *
    * This is the 100 TB shape for embedding near-dup: one narrow
    * projection per vector, one shuffle on the signature, exact dots
    * only inside buckets — no quadratic join ever materializes
    * (replaces [[thresholdPairs]] beyond small filtered sets).
    */
  def hyperplaneLshPairs(corpus: DataFrame, idCol: String, embCol: String,
                         minCos: Double, nBits: Int = 12): DataFrame = {
    val c = unitized(corpus, idCol, embCol, idCol, "__ne")
    // signature: for bit j, sum_i ne[i] * (±1 from xxhash64(j, i)) > 0 —
    // computed by the one-pass HyperplaneProbes expression (cached sign
    // matrix + compiled loop; bit-identical to the per-bit HOF fold).
    graft.engine.expressions.HyperplaneProbes.register(corpus.sparkSession)
    // Only (id, sig) enters the collision shuffle — at real embedding
    // widths (1024-dim, ~8 KB/vector) shuffling vectors through the
    // signature join would dominate; candidates join back to the vector
    // scan for the exact-dot verify instead (same shape as
    // DedupOps.lshCandidates). No forced broadcast hint: with few bits
    // (coarse buckets) the candidate set is quadratic-per-bucket and can
    // outgrow a broadcast — AQE picks broadcast vs shuffle from the
    // runtime size, so the plan degrades to an exchange instead of an
    // executor OOM. Cache lifetime: the returned frame is lazy, so the
    // cache outlives this call — resident sessions release it via
    // GraftSession.withQueryCaches.
    val sig = c.select(col(idCol),
      graft.engine.expressions.HyperplaneProbes.signature(col("__ne"), nBits)
        .as("__sig")).cache()
    val cand = sig.select(col("__sig"), col(idCol).as("id_a"))
      .join(sig.select(col("__sig"), col(idCol).as("id_b")), Seq("__sig"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    c.select(col(idCol).as("id_a"), col("__ne").as("__ea"))
      .join(cand, "id_a")
      .join(c.select(col(idCol).as("id_b"), col("__ne").as("__eb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(dot(col("__ea"), col("__eb")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= minCos)
  }

  /** Multi-probe variant of [[hyperplaneLshPairs]] (Lv et al., VLDB'07
    * "Multi-Probe LSH", adapted to sign-random-projection): each vector
    * additionally probes the `nProbe` signatures obtained by flipping
    * its lowest-|margin| bits — the bits whose hyperplane the vector
    * sits closest to, i.e. exactly the bits most likely to differ
    * across a true near-dup pair. Recall rises toward multi-table LSH
    * recall at the cost of (1 + nProbe) signature rows per vector,
    * WITHOUT extra hash tables or a second pass over the vectors.
    *
    * Same scale shape as the single-probe form: only (id, sig) rows
    * enter the collision shuffle, candidates dedupe before the exact
    * verify, vectors never shuffle. Candidate set is a superset of the
    * single-probe candidates (probe 0 is the unflipped signature), so
    * recall is monotone in nProbe; results remain exact-verified and
    * fully deterministic.
    */
  def hyperplaneLshPairsMultiProbe(corpus: DataFrame, idCol: String, embCol: String,
                                   minCos: Double, nBits: Int = 12,
                                   nProbe: Int = 2): DataFrame = {
    require(nProbe >= 0 && nProbe <= nBits, s"nProbe must be in [0, $nBits]")
    val c = unitized(corpus, idCol, embCol, idCol, "__ne")
    graft.engine.expressions.HyperplaneProbes.register(corpus.sparkSession)
    // Base signature + the nProbe lowest-|margin| 1-bit flips, all from
    // ONE pass over the vector (HyperplaneProbes; bit-identical to the
    // per-bit HOF folds + array_sort flip ranking it replaces). The
    // probe signatures of a row are provably pairwise-distinct (each
    // flips a different bit of the same base), so no per-row dedup is
    // needed; cross-probe pair duplicates are removed by the candidate
    // distinct below. Cached for the two-sided self-join; released by
    // the caller's GraftSession.withQueryCaches scope in resident
    // sessions.
    val sigs = c.select(col(idCol),
      explode(graft.engine.expressions.HyperplaneProbes.probes(
        col("__ne"), nBits, nProbe)).as("__sig"))
      .cache()
    val cand = sigs.select(col("__sig"), col(idCol).as("id_a"))
      .join(sigs.select(col("__sig"), col(idCol).as("id_b")), Seq("__sig"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    c.select(col(idCol).as("id_a"), col("__ne").as("__ea"))
      .join(cand, "id_a")
      .join(c.select(col(idCol).as("id_b"), col("__ne").as("__eb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(dot(col("__ea"), col("__eb")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= minCos)
  }

  /** All pairs above a cosine threshold within a (filtered) corpus —
    * embedding near-dup detection. Quadratic in the filtered size; the
    * scale path buckets first ([[ivfTopKLloyd]] or [[hyperplaneLshPairs]]).
    */
  def thresholdPairs(corpus: DataFrame, idCol: String, embCol: String,
                     minCos: Double): DataFrame = {
    val a = unitized(corpus, idCol, embCol, "id_a", "__ea")
    val b = unitized(corpus, idCol, embCol, "id_b", "__eb")
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(dot(col("__ea"), col("__eb")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= minCos)
  }

  /** Maximal-Marginal-Relevance diversified top-K (Carbonell & Goldstein
    * 1998 — the RAG reranking step): greedily select `k` results per
    * query maximizing `λ·rel(d,q) − (1−λ)·max_{s∈selected} sim(d,s)`,
    * so near-duplicate hits cannot crowd the result list.
    *
    * Scale shape: relevance + top-`poolSize` pooling is exactly the
    * brute-force path (broadcast queries, group-limit); everything
    * after is bounded by the POOL, not the corpus — each query's ≤
    * `poolSize` pool rows are gathered with one `collect_list`
    * aggregation and the greedy selection (inherently sequential in
    * `step`) runs locally inside that row's task: O(k·pool²) dot
    * products over ≤ poolSize 64-dim vectors. One shuffle total, no
    * per-step job, no driver pull — queries distribute, pools bound
    * memory. (A previous formulation ran the k−1 greedy steps as
    * anti-join + max-aggregation jobs; correct, but it paid ~k
    * scheduler round-trips of fixed latency for pool-sized data.)
    * Both engines compute relevance and pair similarity as the same
    * left-to-right dot ([[graft.engine.expressions.DotProduct]]'s loop,
    * mirrored verbatim here), and ties break (score desc, id asc), so
    * the greedy choices are bit-identical (q133 full hash oracle).
    */
  def mmrTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              embCol: String, k: Int, poolSize: Int = 20,
              lambda: Double = 0.7): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val spark = corpus.sparkSession
    val c = unitized(corpus, idCol, embCol, idCol, "__ne")
    val q = unitized(queries, idCol, embCol, "query_id", "__qe")
    val rel = c.join(broadcast(q), col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol), col("__ne"),
        dot(col("__qe"), col("__ne")).as("rel"))
    val pool = TopK.exactPerKey(rel, Seq("query_id"),
      Seq(col("rel").desc, col(idCol).asc), poolSize, "__r").drop("__r")
    val grouped = pool.groupBy("query_id")
      .agg(collect_list(struct(col(idCol), col("__ne"), col("rel"))).as("__pool"))
    val outSchema = StructType(Seq(
      StructField("query_id", pool.schema("query_id").dataType),
      StructField("step", IntegerType, nullable = false),
      StructField(idCol, pool.schema(idCol).dataType),
      StructField("score", DoubleType)))
    val (lam, oneMinusLam, kk) = (lambda, 1 - lambda, k)
    // Tiebreak ordering derived from the id column's Catalyst type at
    // plan-build time: integral ids compare as Long (no double round-trip —
    // ids above 2^53 would collide there and break greedy-choice parity
    // with the SQL twin), and an unsupported id type fails here, before
    // any task runs.
    val idLt: (Any, Any) => Boolean = pool.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        (a, b) => a.asInstanceOf[Number].longValue < b.asInstanceOf[Number].longValue
      case FloatType | DoubleType =>
        (a, b) => a.asInstanceOf[Number].doubleValue < b.asInstanceOf[Number].doubleValue
      case StringType =>
        (a, b) => a.asInstanceOf[String].compareTo(b.asInstanceOf[String]) < 0
      case _: DecimalType =>
        (a, b) => a.asInstanceOf[java.math.BigDecimal]
          .compareTo(b.asInstanceOf[java.math.BigDecimal]) < 0
      case other => throw new IllegalArgumentException(
        s"mmrTopK: unsupported id column type $other (need integral, floating, string, or decimal)")
    }
    val outRdd = grouped.rdd.flatMap { row =>
      val qid = row.get(0)
      val items = row.getSeq[Row](1)
      val n = items.length
      val ids = items.map(_.get(0)).toArray
      val nes = items.map(_.getSeq[Double](1).toArray).toArray
      val rels = items.map(_.getDouble(2)).toArray
      // DotProduct.nullSafeEval's exact loop: left-to-right, index order
      def dotLocal(a: Array[Double], b: Array[Double]): Double = {
        val m = math.min(a.length, b.length)
        var s = 0.0; var i = 0
        while (i < m) { s += a(i) * b(i); i += 1 }
        s
      }
      val sel = new scala.collection.mutable.ArrayBuffer[Int](kk)
      val out = new scala.collection.mutable.ArrayBuffer[Row](kk)
      // step 1 is pure relevance: max rel, tie -> smaller id
      var best = -1
      var i = 0
      while (i < n) {
        if (best < 0 || rels(i) > rels(best) ||
          (rels(i) == rels(best) && idLt(ids(i), ids(best)))) best = i
        i += 1
      }
      if (best >= 0) { sel += best; out += Row(qid, 1, ids(best), rels(best)) }
      var step = 2
      while (step <= kk && sel.length == step - 1 && sel.length < n) {
        var bi = -1
        var bs = 0.0
        var j = 0
        while (j < n) {
          if (!sel.contains(j)) {
            var ms = Double.NegativeInfinity
            sel.foreach { s =>
              val v = dotLocal(nes(j), nes(s)); if (v > ms) ms = v
            }
            val sc = lam * rels(j) - oneMinusLam * ms
            if (bi < 0 || sc > bs || (sc == bs && idLt(ids(j), ids(bi)))) {
              bi = j; bs = sc
            }
          }
          j += 1
        }
        if (bi >= 0) { sel += bi; out += Row(qid, step, ids(bi), bs) }
        step += 1
      }
      out
    }
    spark.createDataFrame(outRdd, outSchema)
      .withColumn("score", round(col("score"), 6))
  }

  // -- PCA rotation (energy compaction) ------------------------------

  // -- ANN tier auto-selection ---------------------------------------

  /** A resolved retrieval plan: which tier [[autoTopK]] will run and
    * with which knobs. `tier` names match the underlying functions.
    */
  sealed abstract class AnnPlan(val tier: String)
  case object BrutePlan extends AnnPlan("brute")
  final case class IvfPlan(nCentroids: Int, nProbe: Int) extends AnnPlan("ivf")
  case object Sq8Plan extends AnnPlan("sq8")
  final case class BqPlan(candFactor: Int) extends AnnPlan("bq")
  final case class PqRerankPlan(nSub: Int, nCodes: Int,
                                rerankFactor: Int) extends AnnPlan("pq")

  /** Below this corpus size no index amortizes: one broadcast scan is
    * cheaper than any tier's build + probe.
    */
  val BruteForceCutoff = 10000L

  /** Pure tier selection — the planner behind [[autoTopK]], exposed so
    * the choice logic is testable without data.
    *
    * The decision walks the compression ladder CHEAPEST-SCAN-FIRST and
    * takes the first tier whose (a) spec-pinned conservative recall
    * meets `recallTarget` and (b) resident bytes/vector fit
    * `bytesPerVector`:
    *
    * | tier         | bytes/vector      | recall floor (specs)      |
    * |--------------|-------------------|---------------------------|
    * | BQ + rerank  | ceil(dim/32)·8    | 0.60 (LlmOpsSpec BQ)      |
    * | PQ + rerank  | nSub codes        | 0.70 (q102/q137 family)   |
    * | SQ8 + rerank | dim + 16          | 0.90 (q137 recall audit)  |
    * | IVF (Lloyd)  | 8·dim (probed /2) | 0.95 (q43-family, p=c/2)  |
    * | brute        | 8·dim             | 1.00 (exact)              |
    *
    * The floors are deliberately conservative lower bounds from the
    * measured planted-structure specs, not optimistic averages — the
    * planner promises only what the suite pins. A budget too tight for
    * the target fails fast instead of silently under-delivering.
    * recallTarget ≥ 0.999 or a sub-cutoff corpus short-circuits to
    * brute (the only tier that GUARANTEES its recall).
    */
  private[graft] def choosePlan(n: Long, dim: Int, recallTarget: Double,
                                bytesPerVector: Long = Long.MaxValue): AnnPlan = {
    require(recallTarget > 0.0 && recallTarget <= 1.0,
      s"recallTarget must be in (0, 1], got $recallTarget")
    require(dim > 0, s"embedding dim must be positive, got $dim")
    if (recallTarget >= 0.999 || n <= BruteForceCutoff) {
      require(bytesPerVector >= 8L * dim,
        s"exact search needs the full 8*dim=${8L * dim} bytes/vector (budget $bytesPerVector)")
      return BrutePlan
    }
    val nSub = Seq(8, 4, 2, 1).find(dim % _ == 0).get
    val bqBytes = (dim + 31) / 32 * 8L
    val pqBytes = nSub.toLong
    val sq8Bytes = dim + 16L
    val fullBytes = 8L * dim
    if (recallTarget <= 0.60 && bqBytes <= bytesPerVector)
      BqPlan(candFactor = 8)
    else if (recallTarget <= 0.70 && pqBytes <= bytesPerVector)
      // rerankFactor 8 (not the function default 4) is the measured
      // 0.70-floor operating point on the planted-cluster fixture
      PqRerankPlan(nSub, nCodes = 16, rerankFactor = 8)
    else if (recallTarget <= 0.90 && sq8Bytes <= bytesPerVector)
      Sq8Plan
    else if (recallTarget <= 0.95 && fullBytes <= bytesPerVector) {
      // cells ~ sqrt(n) balances centroid-scan vs cell-scan; probing
      // half of them is the spec-pinned 0.95 operating point
      val nCent = math.max(8, math.min(4096, math.sqrt(n.toDouble).toInt))
      IvfPlan(nCent, nProbe = math.max(2, nCent / 2))
    } else {
      require(fullBytes <= bytesPerVector,
        s"no tier reaches recall $recallTarget within $bytesPerVector bytes/vector " +
          s"(BQ=$bqBytes@0.60, PQ=$pqBytes@0.70, SQ8=$sq8Bytes@0.90, full=$fullBytes)")
      BrutePlan
    }
  }

  /** The plan the last [[autoTopK]] call executed (spec observability). */
  private[graft] val lastPlan =
    new java.util.concurrent.atomic.AtomicReference[AnnPlan](BrutePlan)

  /** Auto-selected top-K: measure the corpus (one count + one head for
    * n and dim — bounded planner statistics, the [[graft.ops.SkewProfile]]
    * discipline), pick the tier with [[choosePlan]], run it. Pass
    * `knownN` when the caller already has the count (at 100 TB a count
    * job is real planning cost; catalog stats or a prior pass usually
    * have it).
    *
    * @return (query_id, idCol, cos_sim, rnk) — the common contract of
    *         every tier
    */
  def autoTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
               embCol: String, k: Int, recallTarget: Double = 0.9,
               bytesPerVector: Long = Long.MaxValue,
               knownN: Long = -1L): DataFrame = {
    val n = if (knownN >= 0) knownN else corpus.count()
    val dim = corpus.select(size(col(embCol)).as("__d")).head.getInt(0)
    val plan = choosePlan(n, dim, recallTarget, bytesPerVector)
    lastPlan.set(plan)
    plan match {
      case BrutePlan => bruteForceTopK(corpus, queries, idCol, embCol, k)
      case IvfPlan(nc, np) =>
        ivfTopKLloyd(corpus, queries, idCol, embCol, k, nc, np, iters = 2)
      case Sq8Plan => sq8TopK(corpus, queries, idCol, embCol, k)
      case BqPlan(cf) =>
        binaryHammingTopK(corpus, queries, idCol, embCol, k, cf)
      case PqRerankPlan(ns, ncodes, rf) =>
        pqTopKRerank(corpus, queries, idCol, embCol, k, dim, ns, ncodes,
          iters = 2, rerankFactor = rf)
    }
  }
}
