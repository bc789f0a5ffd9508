package graft.queries

import org.apache.spark.sql.functions._
import graft.llm.TextOps
import graft.ops.ExactSum

/** Retrieval-index construction and distributional statistics over the
  * documents table: a segment-sharded inverted index and token
  * co-occurrence PMI — the artifacts a retrieval stack and an
  * embedding-training pipeline precompute from a 100 TB corpus.
  */
object Retrieval {

  /** Documents per index segment (q110). Sharding bounds every posting
    * list at the segment size, so no single term — however frequent —
    * produces an unmergeable array at corpus scale; segments also give
    * readers partition-pruned access by doc range.
    */
  val SegmentDocs = 100

  /** Minimum pair document frequency for q111 (noise floor; at corpus
    * scale this threshold is what keeps the pair space sparse).
    */
  val MinPairCount = 5

  /** Frequency-cutoff vocabulary size for q112. */
  val VocabSize = 20

  /** KMV sketch size for q116 — 64 longs of aggregation state per
    * group, expected relative error ≈ 1/√(k−2) ≈ 13%.
    */
  val KmvK = 64

  /** BPE merge steps learned by q115. */
  val BpeSteps = 8

  /** q120 sparse-similarity parameters: shingle width, the document-
    * frequency cap that bounds every posting's pair fan-out (the
    * boilerplate guard — a gram in more than MaxDf docs generates no
    * pairs, exactly like MinHash banding never compares across buckets),
    * and the reported-similarity floor.
    */
  val SimGramN = 3
  val SimMaxDf = 100
  val SimMinSim = 0.5

  /** The q115 oracle: [[graft.llm.Bpe.learnMerges]] unrolled — per step
    * an occurrence-weighted adjacent-pair count over the word table, a
    * deterministic argmax (count desc, pair lexicographic), and a
    * literal paren-delimited replace, exactly the runtime's semantics
    * (see the Bpe Scaladoc for why plain `replace` is greedy BPE here).
    */
  /** The unrolled BPE merge chain shared by the q115 (rules) and q128
    * (encoded vocabulary) oracles: w0 = the symbolized word table, then
    * per step an occurrence-weighted adjacent-pair count, deterministic
    * argmax, and a literal replace — the word key carried through so
    * the final table can be emitted.
    */
  private def bpeCtes(steps: Int): String = {
    val iter = (1 to steps).map { i =>
      s"""
      p$i AS (SELECT a[j] AS lhs, a[j + 1] AS rhs, sum(cnt) AS c
              FROM (SELECT cnt, regexp_extract_all(s, '\\(([^()]+)\\)', 1) AS a FROM w${i - 1}),
                   unnest(generate_series(1, len(a) - 1)) AS u(j)
              GROUP BY a[j], a[j + 1]),
      m$i AS (SELECT lhs, rhs, c FROM p$i ORDER BY c DESC, lhs, rhs LIMIT 1),
      w$i AS (SELECT w, cnt, replace(s, '(' || lhs || ')(' || rhs || ')', '(' || lhs || rhs || ')') AS s
              FROM w${i - 1} CROSS JOIN m$i)"""
    }.mkString(",")
    s"""
      WITH w0 AS (
        SELECT w, CAST(count(*) AS BIGINT) AS cnt,
               array_to_string(list_transform(range(1, length(w) + 1),
                 i -> '(' || w[i] || ')'), '') AS s
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE w NOT LIKE '%(%' AND w NOT LIKE '%)%'
        GROUP BY w),$iter"""
  }

  private def bpeSql(steps: Int): String = {
    val out = (1 to steps).map(i =>
      s"SELECT $i AS step, lhs, rhs, CAST(c AS INTEGER) AS pair_count FROM m$i")
      .mkString("\n      UNION ALL ")
    s"""${bpeCtes(steps)}
      $out"""
  }

  private def bpeEncodeSql(steps: Int): String =
    s"""${bpeCtes(steps)}
      SELECT w AS word, cnt, s AS encoded,
             CAST(len(regexp_extract_all(s, '\\(([^()]+)\\)', 1)) AS INTEGER) AS n_bpe_tokens
      FROM w$steps"""

  val defs: Seq[QueryDef] = Seq(

    // Segment-sharded inverted index: (term, shard) -> delta-encoded
    // posting list + segment document frequency. One explode + one
    // groupBy shuffle of (term, doc_id) pairs; postings are sorted and
    // delta-encoded inside the aggregation's output projection.
    QueryDef("q110_inverted_index", Some(s"""
      WITH tr AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term FROM documents),
      g AS (SELECT term, doc_id // $SegmentDocs AS shard, list(doc_id ORDER BY doc_id) AS p,
                   CAST(count(*) AS INTEGER) AS df
            FROM tr GROUP BY term, doc_id // $SegmentDocs)
      SELECT term, CAST(shard AS INTEGER) AS shard, df,
             array_to_string(list_transform(generate_series(1, len(p)),
               i -> CASE WHEN i = 1 THEN p[1] ELSE p[i] - p[i-1] END), '-') AS deltas
      FROM g"""),
      (spark, dir) => {
        val seg = SegmentDocs
        T(spark, dir, "documents")
          .select(col("doc_id"),
            explode(array_distinct(TextOps.tokenize(col("text")))).as("term"))
          .groupBy(col("term"), expr(s"doc_id div $seg").cast("int").as("shard"))
          .agg(sort_array(collect_list(col("doc_id"))).as("p"),
            count(lit(1)).cast("int").as("df"))
          .select(col("term"), col("shard"), col("df"),
            // Delimited string, not array<long>: the correctness harness
            // hashes rows via pandas, which cannot hash array cells — the
            // delta-encoded posting list is equally compact either way.
            array_join(graft.engine.functions.let(col("p")) { p =>
              transform(sequence(lit(1), size(p)),
                i => when(i === 1, element_at(p, 1))
                  .otherwise(element_at(p, i) - element_at(p, i - 1)))
            }.cast("array<string>"), "-").as("deltas"))
      }),

    // Token co-occurrence PMI over per-document distinct tokens: the
    // pair space (each doc contributes m·(m-1)/2 pairs — bounded by
    // document length, not corpus size) is generated NARROWLY from the
    // sorted per-doc token array — no self-join, so the only wide ops
    // are the two groupBy shuffles (unigram + pair counts), then the
    // pair counts are scored against the unigram counts. round(·,6)
    // pins the single ln() across engines (q93's BM25 precedent).
    QueryDef("q111_cooccur_pmi", Some(s"""
      WITH tr AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t FROM documents),
      n AS (SELECT count(*) AS total FROM documents),
      uni AS (SELECT t, count(*) AS c FROM tr GROUP BY t),
      pairs AS (SELECT a.t AS t_a, b.t AS t_b, count(*) AS c_ab
                FROM tr a JOIN tr b ON a.doc_id = b.doc_id AND a.t < b.t
                GROUP BY a.t, b.t)
      SELECT t_a, t_b, CAST(c_ab AS INTEGER) AS n_ab,
             round(ln(CAST(c_ab AS DOUBLE) * total / (ua.c * ub.c)), 6) AS pmi
      FROM pairs JOIN uni ua ON pairs.t_a = ua.t
                 JOIN uni ub ON pairs.t_b = ub.t
                 CROSS JOIN n
      WHERE c_ab >= $MinPairCount"""),
      (spark, dir) => {
        val docs = T(spark, dir, "documents")
        val toks = docs.select(col("doc_id"),
          array_sort(array_distinct(TextOps.tokenize(col("text")))).as("ts"))
        // Corpus size as a broadcast one-row aggregate (q67's pattern),
        // not an eager docs.count() — no driver action fires at
        // DataFrame-construction time.
        val n = docs.agg(count(lit(1)).as("total"))
        val uni = toks.select(explode(col("ts")).as("t"))
          .groupBy("t").agg(count(lit(1)).as("c"))
        // Per-row pair generation: for the sorted array ts, every
        // (ts[i], ts[j]) with i < j — a flatten of per-element suffix
        // slices. Narrow (no exchange) until the pair groupBy.
        val pairs = toks
          .select(explode(graft.engine.functions.let(col("ts")) { ts =>
            flatten(transform(ts, (x, i) =>
              transform(slice(ts, i + lit(2), size(ts)),
                y => struct(x.as("t_a"), y.as("t_b")))))
          }).as("p"))
          .groupBy(col("p.t_a").as("t_a"), col("p.t_b").as("t_b"))
          .agg(count(lit(1)).as("c_ab"))
          .filter(col("c_ab") >= MinPairCount)
        // No forced broadcast of the unigram side: vocabulary grows with
        // the corpus (sublinearly, but unboundedly) — AQE broadcasts it
        // while small and degrades to a hash join past the threshold.
        pairs
          .join(uni.select(col("t").as("t_a"), col("c").as("c_a")), "t_a")
          .join(uni.select(col("t").as("t_b"), col("c").as("c_b")), "t_b")
          .crossJoin(broadcast(n))
          .select(col("t_a"), col("t_b"), col("c_ab").cast("int").as("n_ab"),
            round(log(col("c_ab").cast("double") * col("total") / (col("c_a") * col("c_b"))), 6)
              .as("pmi"))
      }),

    // Tokenizer-prep coverage: build a frequency-cutoff vocabulary (one
    // groupBy + distributed TakeOrdered — the vocab never exists as an
    // unbounded driver structure) and measure each document's
    // out-of-vocabulary rate via a broadcast anti-join. The single
    // int/int division is IEEE-identical on both engines (q28 note).
    QueryDef("q112_vocab_coverage", Some(s"""
      WITH tr AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
      vocab AS (SELECT t FROM (SELECT t, count(*) AS c FROM tr GROUP BY t ORDER BY c DESC, t LIMIT $VocabSize)),
      tot AS (SELECT doc_id, count(*) AS n FROM tr GROUP BY doc_id),
      oov AS (SELECT doc_id, count(*) AS k FROM tr WHERE t NOT IN (SELECT t FROM vocab) GROUP BY doc_id)
      SELECT tot.doc_id, CAST(coalesce(k, 0) AS INTEGER) AS n_oov, CAST(n AS INTEGER) AS n_tokens,
             CAST(coalesce(k, 0) AS DOUBLE) / n AS oov_rate
      FROM tot LEFT JOIN oov USING (doc_id)"""),
      (spark, dir) => {
        val tr = T(spark, dir, "documents")
          .select(col("doc_id"), explode(TextOps.tokenize(col("text"))).as("t"))
        val vocab = tr.groupBy("t").agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("t")).limit(VocabSize).select("t")
        val tot = tr.groupBy("doc_id").agg(count(lit(1)).as("n"))
        val oov = tr.join(vocab, Seq("t"), "left_anti")
          .groupBy("doc_id").agg(count(lit(1)).as("k"))
        tot.join(oov, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("k"), lit(0L)).cast("int").as("n_oov"),
            col("n").cast("int").as("n_tokens"),
            (coalesce(col("k"), lit(0L)).cast("double") / col("n")).as("oov_rate"))
      }),

    // Sparse IDF-weighted cosine similarity join over distinct
    // 3-shingles (binary tf — shingles() dedups within a doc, mirrored
    // by list_distinct in the oracle): lexical near-dup scoring WITHOUT
    // a dense all-pairs pass. Pairs are generated only
    // through shared grams (inverted-posting join), so the pair space is
    // Σ_g df(g)², bounded by the SimMaxDf cap — the same
    // rare-feature-blocking idea as MinHash banding, but with an exact
    // cosine on the surviving pairs. Both float reductions are
    // ExactSum scaled-integer sums, partial-aggregated and independent
    // of summation order, so the hash oracle is exact.
    QueryDef("q120_sparse_sim_join", Some(s"""
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
               i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]))) AS g
             FROM tok),
      tf AS (SELECT doc_id, g, count(*) AS tf FROM sh GROUP BY doc_id, g),
      df AS (SELECT g, count(*) AS df FROM tf GROUP BY g),
      n AS (SELECT count(*) AS n_docs FROM documents),
      w AS (SELECT doc_id, g, tf * ln(CAST(n_docs AS DOUBLE) / df) AS w
            FROM tf JOIN df USING (g) CROSS JOIN n WHERE df <= $SimMaxDf),
      nrm AS (SELECT doc_id, sqrt(${ExactSum.sql("w * w")}) AS nrm
              FROM w GROUP BY doc_id),
      pp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.g, a.w * b.w AS p
             FROM w a JOIN w b ON a.g = b.g AND a.doc_id < b.doc_id),
      dots AS (SELECT doc_a, doc_b, CAST(count(*) AS INTEGER) AS n_shared,
                      ${ExactSum.sql("p")} AS dot
               FROM pp GROUP BY doc_a, doc_b)
      SELECT doc_a, doc_b, n_shared,
             round(dot / (na.nrm * nb.nrm), 6) AS sim
      FROM dots JOIN nrm na ON doc_a = na.doc_id
                JOIN nrm nb ON doc_b = nb.doc_id
      WHERE dot / (na.nrm * nb.nrm) >= $SimMinSim"""),
      (spark, dir) =>
        graft.llm.SparseSim.idfCosineJoin(T(spark, dir, "documents"),
          "doc_id", "text", SimGramN, SimMaxDf, SimMinSim)),

    // Tokenizer training: learn BPE merge rules from the corpus word
    // counts — ONE corpus pass for the frequency table, then every
    // Lloyd-style merge step runs over the vocabulary-sized word table
    // (graft.llm.Bpe; oracle unrolled like the q101 PQ codebooks).
    QueryDef("q115_bpe_merges", Some(bpeSql(BpeSteps)),
      (spark, dir) => {
        val words = T(spark, dir, "documents")
          .select(explode(TextOps.tokenize(col("text"))).as("w"))
          .groupBy("w").agg(count(lit(1)).as("cnt"))
        graft.llm.Bpe.learnMerges(words, "w", "cnt", BpeSteps)
      }),

    // Tokenizer APPLICATION (q115's companion): the vocabulary after
    // the learned merges — every word with its greedy-BPE token string
    // and token count. Corpus text then encodes by word lookup into
    // this vocabulary-sized table (broadcast / key join), never by
    // re-running merges per document — the same train-once/apply-
    // everywhere split a production tokenizer ships with. Shares the
    // literal merge loop with q115 (Bpe.mergeLoop), so rules and
    // encoding can never drift apart.
    QueryDef("q128_bpe_encode", Some(bpeEncodeSql(BpeSteps)),
      (spark, dir) => {
        val words = T(spark, dir, "documents")
          .select(explode(TextOps.tokenize(col("text"))).as("w"))
          .groupBy("w").agg(count(lit(1)).as("cnt"))
        graft.llm.Bpe.encodeWords(words, "w", "cnt", BpeSteps)
          .withColumnRenamed("w", "word")
      }),

    // Per-source distinct 3-shingle cardinality: exact count vs the KMV
    // bottom-k sketch ([[graft.engine.expressions.KmvDistinct]]). The
    // sketch side is the 100 TB path — k longs of mergeable state per
    // source instead of shuffling every distinct shingle; the exact
    // side exists for the side-by-side (and the oracle pins BOTH,
    // because the md5-prefix hash makes the estimate deterministic).
    QueryDef("q116_kmv_cardinality", Some(s"""
      WITH tok AS (SELECT source, string_split(text, ' ') AS t FROM documents),
      sh AS (SELECT source, unnest(list_distinct(list_transform(range(1, len(t) - 1),
               i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]))) AS g
             FROM tok),
      ex AS (SELECT source, count(DISTINCT g) AS nd FROM sh GROUP BY source),
      h AS (SELECT DISTINCT source, ('0x' || substr(md5(g), 1, 15))::BIGINT AS hv FROM sh),
      r AS (SELECT source, hv, row_number() OVER (PARTITION BY source ORDER BY hv) AS rn,
                   count(*) OVER (PARTITION BY source) AS nh FROM h),
      kmv AS (SELECT source,
                CASE WHEN nh < $KmvK THEN CAST(nh AS DOUBLE)
                     ELSE ${KmvK - 1} / (hv / 1152921504606846976.0) END AS est
              FROM r WHERE rn = least(nh, $KmvK))
      SELECT ex.source, CAST(ex.nd AS INTEGER) AS n_exact,
             round(kmv.est, 6) AS kmv_est,
             round(abs(kmv.est - ex.nd) / ex.nd, 6) AS rel_err
      FROM ex JOIN kmv USING (source)"""),
      (spark, dir) => {
        import graft.engine.expressions.KmvDistinct
        KmvDistinct.register(spark)
        val grams = T(spark, dir, "documents")
          .select(col("source"),
            explode(TextOps.shingles(TextOps.tokenize(col("text")), 3)).as("g"))
        val sk = grams.groupBy("source")
          .agg(KmvDistinct.sketch(KmvDistinct.hash60(col("g")), KmvK).as("s"))
          .select(col("source"), col("s.est").as("est"))
        val ex = grams.groupBy("source").agg(countDistinct(col("g")).as("nd"))
        ex.join(sk, "source")
          .select(col("source"), col("nd").cast("int").as("n_exact"),
            round(col("est"), 6).as("kmv_est"),
            round(abs(col("est") - col("nd")) / col("nd"), 6).as("rel_err"))
      }),

    // KMV set operations across sources: pairwise union cardinality,
    // intersection and Jaccard estimated ENTIRELY from the per-source
    // bottom-k sketches ([[graft.engine.expressions.KmvDistinct]]'s
    // `values` field) — union = bottom-k of the two merged value sets,
    // Jaccard = fraction of the merged bottom-k present in both sides
    // (Bar-Yossef et al.; the ρ·est_union intersection estimator). The
    // 100 TB shape: each source's summary is k longs of MERGEABLE
    // aggregation state built in one pass with map-side partials (no
    // distinct shuffle — the sketch dedups by hash), and every pairwise
    // set operation is then array arithmetic on ≤k-element arrays. The
    // exact twin (distinct + gram self-join) exists for the side-by-side
    // and drops at scale. Deterministic (md5-prefix hash), so the full
    // hash oracle pins both the exact and the estimated columns.
    QueryDef("q144_kmv_set_ops", Some(s"""
      WITH tok AS (SELECT source, string_split(text, ' ') AS t FROM documents),
      sh AS (SELECT source, unnest(list_distinct(list_transform(range(1, len(t) - 1),
               i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]))) AS g
             FROM tok),
      dg AS (SELECT DISTINCT source, g FROM sh),
      ex AS (SELECT source, count(*) AS nd FROM dg GROUP BY source),
      inter AS (SELECT a.source AS sa, b.source AS sb, count(*) AS ni
                FROM dg a JOIN dg b ON a.g = b.g AND a.source < b.source
                GROUP BY a.source, b.source),
      hv AS (SELECT DISTINCT source, ('0x' || substr(md5(g), 1, 15))::BIGINT AS hv FROM sh),
      r AS (SELECT source, hv, row_number() OVER (PARTITION BY source ORDER BY hv) AS rn FROM hv),
      kv AS (SELECT source, list(hv ORDER BY hv) AS vals FROM r WHERE rn <= $KmvK GROUP BY source),
      p0 AS (SELECT a.source AS sa, b.source AS sb, a.nd AS na, b.nd AS nb
             FROM ex a JOIN ex b ON a.source < b.source),
      p1 AS (SELECT p0.*, coalesce(i.ni, 0) AS ni
             FROM p0 LEFT JOIN inter i ON p0.sa = i.sa AND p0.sb = i.sb),
      p2 AS (SELECT p1.*, ka.vals AS va, kb.vals AS vb
             FROM p1 JOIN kv ka ON p1.sa = ka.source JOIN kv kb ON p1.sb = kb.source),
      p3 AS (SELECT *, list_sort(list_distinct(list_concat(va, vb))) AS uu FROM p2),
      p4 AS (SELECT *, uu[1:least(len(uu), $KmvK)] AS u FROM p3),
      p5 AS (SELECT *, len(u) AS nm,
                    len(list_filter(u, x -> list_contains(va, x) AND list_contains(vb, x))) AS mi
             FROM p4),
      p6 AS (SELECT *,
                    CASE WHEN nm < $KmvK THEN CAST(nm AS DOUBLE)
                         ELSE ${KmvK - 1} / (u[nm] / 1152921504606846976.0) END AS union_est,
                    CAST(mi AS DOUBLE) / nm AS kmv_jaccard
             FROM p5)
      SELECT sa AS source_a, sb AS source_b,
             CAST(na AS INTEGER) AS n_exact_a, CAST(nb AS INTEGER) AS n_exact_b,
             CAST(ni AS INTEGER) AS n_inter,
             round(CAST(ni AS DOUBLE) / (na + nb - ni), 6) AS exact_jaccard,
             round(union_est, 6) AS kmv_union_est,
             round(kmv_jaccard, 6) AS kmv_jaccard,
             round(kmv_jaccard * union_est, 6) AS kmv_inter_est
      FROM p6"""),
      (spark, dir) => {
        import graft.engine.expressions.KmvDistinct
        KmvDistinct.register(spark)
        val k = KmvK
        val grams = T(spark, dir, "documents")
          .select(col("source"),
            explode(TextOps.shingles(TextOps.tokenize(col("text")), 3)).as("g"))
        // sketch path: no distinct — the aggregate dedups by hash inside
        // its k-long state, so only sketches cross the exchange
        val kv = grams.groupBy("source")
          .agg(KmvDistinct.sketch(KmvDistinct.hash60(col("g")), k).as("s"))
          .select(col("source"), col("s.values").as("vals"))
        // exact twin — test-scale reference only
        val dg = grams.distinct()
        val ex = dg.groupBy("source").agg(count(lit(1)).as("nd"))
        val inter = dg.select(col("source").as("sa"), col("g"))
          .join(dg.select(col("source").as("sb"), col("g")), "g")
          .filter(col("sa") < col("sb"))
          .groupBy("sa", "sb").agg(count(lit(1)).as("ni"))
        val pairs = ex.select(col("source").as("sa"), col("nd").as("na"))
          .join(ex.select(col("source").as("sb"), col("nd").as("nb")),
            col("sa") < col("sb"))
          .join(inter, Seq("sa", "sb"), "left").na.fill(0L, Seq("ni"))
          .join(kv.select(col("source").as("sa"), col("vals").as("va")), "sa")
          .join(kv.select(col("source").as("sb"), col("vals").as("vb")), "sb")
        pairs
          .withColumn("u", slice(array_sort(array_distinct(concat(col("va"), col("vb")))), 1, k))
          .withColumn("nm", size(col("u")))
          .withColumn("mi", size(filter(col("u"),
            x => array_contains(col("va"), x) && array_contains(col("vb"), x))))
          // mirrors KmvDistinct.eval exactly: (k-1) / (h_k / 2^60)
          .withColumn("union_est",
            when(col("nm") < k, col("nm").cast("double"))
              .otherwise(lit((k - 1).toDouble) /
                (element_at(col("u"), col("nm")).cast("double") / lit(KmvDistinct.Norm))))
          .withColumn("kmv_jac", col("mi").cast("double") / col("nm"))
          .select(col("sa").as("source_a"), col("sb").as("source_b"),
            col("na").cast("int").as("n_exact_a"), col("nb").cast("int").as("n_exact_b"),
            col("ni").cast("int").as("n_inter"),
            round(col("ni").cast("double") / (col("na") + col("nb") - col("ni")), 6)
              .as("exact_jaccard"),
            round(col("union_est"), 6).as("kmv_union_est"),
            round(col("kmv_jac"), 6).as("kmv_jaccard"),
            round(col("kmv_jac") * col("union_est"), 6).as("kmv_inter_est"))
      }),

    // Boolean retrieval THROUGH the index: the engine answers "docs
    // containing both of the corpus's two highest-df terms" by posting-
    // list intersection (term-keyed groupBy → two bounded posting sets →
    // doc-keyed join), while the oracle answers it by naive full scan —
    // two different algorithms whose results must agree exactly, which
    // is precisely what an index correctness gate should test. The term
    // pick (df desc, term asc) is deterministic on both sides. At scale
    // the posting join touches only the two terms' postings (partition-
    // pruned in a real index layout — SimSearch.buildIvfIndexLloyd shows
    // the same idea for vectors); the scan side grows with the corpus.
    QueryDef("q154_boolean_retrieval", Some("""
      WITH tr AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term
                  FROM documents),
      df AS (SELECT term, count(*) AS df FROM tr GROUP BY term),
      top2 AS (SELECT term, row_number() OVER (ORDER BY df DESC, term) AS r
               FROM df QUALIFY r <= 2),
      t1 AS (SELECT term FROM top2 WHERE r = 1),
      t2 AS (SELECT term FROM top2 WHERE r = 2)
      SELECT d.doc_id,
             CAST(len(list_filter(string_split(d.text, ' '), x -> x = t1.term)) AS INTEGER) AS tf_1,
             CAST(len(list_filter(string_split(d.text, ' '), x -> x = t2.term)) AS INTEGER) AS tf_2
      FROM documents d CROSS JOIN t1 CROSS JOIN t2
      WHERE list_contains(string_split(d.text, ' '), t1.term)
        AND list_contains(string_split(d.text, ' '), t2.term)"""),
      (spark, dir) => {
        // index side: postings with term frequencies, one term-keyed agg
        val tf = T(spark, dir, "documents")
          .select(col("doc_id"), explode(TextOps.tokenize(col("text"))).as("term"))
          .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val top2 = dfreq.orderBy(col("df").desc, col("term")).limit(2)
          .select(col("term"),
            row_number().over(org.apache.spark.sql.expressions.Window
              .orderBy(col("df").desc, col("term"))).as("r"))
        val p1 = tf.join(broadcast(top2.filter(col("r") === 1)), "term")
          .select(col("doc_id"), col("tf").cast("int").as("tf_1"))
        val p2 = tf.join(broadcast(top2.filter(col("r") === 2)), "term")
          .select(col("doc_id"), col("tf").cast("int").as("tf_2"))
        p1.join(p2, "doc_id")
      }),

    // Tokenizer-fertility evaluation per language — the acceptance
    // metric of a trained tokenizer (tokens/word and chars/token by
    // language; a vocabulary trained on a skewed mix over-fragments the
    // under-represented languages). Reuses the q115/q128 BPE chain on
    // the WORD VOCABULARY (the merge loop never touches the corpus
    // twice); the corpus-side cost is one (lang, word) count and a
    // vocabulary-sized broadcast join back.
    QueryDef("q177_tokenizer_fertility", Some(s"""
      ${bpeCtes(BpeSteps)},
      enc AS (SELECT w, CAST(len(regexp_extract_all(s, '\\(([^()]+)\\)', 1)) AS BIGINT) AS nt
              FROM w$BpeSteps),
      lw AS (SELECT lang, w, count(*) AS n_occ
             FROM (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents)
             GROUP BY lang, w)
      SELECT lang, CAST(sum(n_occ) AS BIGINT) AS n_words,
             CAST(sum(n_occ * nt) AS BIGINT) AS n_tokens,
             CAST(sum(n_occ * length(w)) AS BIGINT) AS n_chars,
             round(CAST(sum(n_occ * nt) AS DOUBLE) / sum(n_occ), 6) AS fertility,
             round(CAST(sum(n_occ * length(w)) AS DOUBLE) / sum(n_occ * nt), 6) AS chars_per_token
      FROM lw JOIN enc USING (w) GROUP BY lang"""),
      (spark, dir) => {
        val docs = T(spark, dir, "documents")
        val words = docs.select(explode(TextOps.tokenize(col("text"))).as("w"))
          .groupBy("w").agg(count(lit(1)).as("cnt"))
        val enc = graft.llm.Bpe.encodeWords(words, "w", "cnt", BpeSteps)
          .select(col("w"), col("n_bpe_tokens").cast("long").as("nt"))
        val lw = docs
          .select(col("lang"), explode(TextOps.tokenize(col("text"))).as("w"))
          .groupBy("lang", "w").agg(count(lit(1)).as("n_occ"))
        lw.join(broadcast(enc), "w")
          .groupBy("lang")
          .agg(sum(col("n_occ")).as("n_words"),
            sum(col("n_occ") * col("nt")).as("n_tokens"),
            sum(col("n_occ") * length(col("w"))).as("n_chars"))
          .select(col("lang"), col("n_words"), col("n_tokens"), col("n_chars"),
            round(col("n_tokens").cast("double") / col("n_words"), 6).as("fertility"),
            round(col("n_chars").cast("double") / col("n_tokens"), 6)
              .as("chars_per_token"))
      })
  )
}
