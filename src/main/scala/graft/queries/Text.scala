package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.llm.TextOps
import graft.ops.TopK

/** Text-analysis pipeline over the documents table: token statistics,
  * quality scoring, token frequency, fingerprinting, corpus-driven
  * language ID. All single-projection column math until the explicit
  * aggregations — the shape that scales to a 100 TB corpus.
  */
object Text {

  /** Stopword list shared by Spark and oracle sides. */
  val Stop: Seq[String] = Seq("a", "the", "of", "and", "to")

  /** q155 histogram bucket width (chars) — the quantile error bound. */
  val HistWidth = 32
  private val stopSqlList = Stop.map(s => s"'$s'").mkString(", ")


  /** Count-Min oracle shared verbatim by q252 (one-shot sketch) and
    * q253 (incremental store): CM counters are commutative integer
    * sums, so the 3-batch store is bit-identical to the one-shot grid
    * and both gate against the same counter-rebuild SQL.
    */
  private val countMinOracleSql: String = """
      WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token
                   FROM documents),
      cnt AS (SELECT token, CAST(count(*) AS BIGINT) AS exact
              FROM tok GROUP BY 1),
      rws AS (SELECT unnest(range(0, 4)) AS r),
      bkt AS (SELECT rws.r, cnt.token, cnt.exact,
                ('0x' || substr(md5(CAST(rws.r AS VARCHAR) || ':' || token),
                                1, 15))::BIGINT % 1024 AS b
              FROM cnt CROSS JOIN rws),
      ctr AS (SELECT r, b, CAST(sum(exact) AS BIGINT) AS v
              FROM bkt GROUP BY 1, 2),
      top AS (SELECT token, exact,
                row_number() OVER (ORDER BY exact DESC, token) AS rnk
              FROM cnt)
      SELECT t.token, t.exact, CAST(min(ctr.v) AS BIGINT) AS est,
             CAST(t.rnk AS INTEGER) AS rnk
      FROM top t
      JOIN bkt ON bkt.token = t.token
      JOIN ctr ON ctr.r = bkt.r AND ctr.b = bkt.b
      WHERE t.rnk <= 20
      GROUP BY 1, 2, 4"""


  /** HyperLogLog oracle shared verbatim by q264 (one-shot sketch) and
    * q265 (incremental store): registers are elementwise maxes of a
    * pure per-item function — commutative AND row-idempotent — so the
    * 3-batch store is bit-identical to the one-shot grid and both gate
    * against the same register-rebuild SQL. rho is trailing-zeros+1
    * via `log2(w & -w)` (exact: the lowest set bit is a power of two);
    * the estimator is the FFGM alpha_m·m²/Σ2^(−M_j) with the 2^53
    * scaling that keeps the harmonic sum an exact BIGINT, plus linear
    * counting below 2.5m (see engine/expressions/Hll.scala).
    */
  private val hllOracleSql: String = """
      WITH src AS (
        SELECT l_returnflag AS g, 'orders' AS kind,
               CAST(l_orderkey AS VARCHAR) AS item FROM lineitem
        UNION ALL
        SELECT l_returnflag AS g, 'supp' AS kind,
               CAST(l_suppkey AS VARCHAR) AS item FROM lineitem),
      d AS (SELECT DISTINCT g, kind, item FROM src),
      h AS (SELECT g, kind,
              ('0x' || substr(md5(item), 1, 15))::BIGINT AS hv FROM d),
      r AS (SELECT g, kind, hv % 256 AS j,
              CASE WHEN hv // 256 = 0 THEN 53
                   ELSE CAST(round(log2((hv // 256) & (-(hv // 256))))
                        AS INTEGER) + 1
              END AS rho
            FROM h),
      reg AS (SELECT g, kind, j, max(rho) AS mj FROM r GROUP BY 1, 2, 3),
      grid AS (SELECT gk.g, gk.kind, b.j, coalesce(reg.mj, 0) AS mj
               FROM (SELECT DISTINCT g, kind FROM d) gk
               CROSS JOIN (SELECT unnest(range(0, 256)) AS j) b
               LEFT JOIN reg ON reg.g = gk.g AND reg.kind = gk.kind
                            AND reg.j = b.j),
      s AS (SELECT g, kind,
              CAST(sum(CAST(1 AS BIGINT) << (53 - mj)) AS BIGINT) AS s2,
              CAST(sum(CASE WHEN mj = 0 THEN 1 ELSE 0 END) AS INTEGER) AS v
            FROM grid GROUP BY 1, 2),
      e AS (SELECT g, kind, v,
              0.7213 / (1 + 1.079 / 256) * 65536 * 9007199254740992
                / CAST(s2 AS DOUBLE) AS raw
            FROM s),
      ex AS (SELECT g, kind, CAST(count(DISTINCT item) AS BIGINT) AS n_exact
             FROM src GROUP BY 1, 2)
      SELECT ex.g AS grp, ex.kind, ex.n_exact,
             round(CASE WHEN e.raw <= 640.0 AND e.v > 0
                        THEN 256 * ln(256 / CAST(e.v AS DOUBLE))
                        ELSE e.raw END, 4) AS est
      FROM ex JOIN e ON ex.g = e.g AND ex.kind = e.kind"""


  /** Dyadic-quantile oracle shared verbatim by q271 (one-shot sketch)
    * and q272 (incremental store): grid cells are commutative integer
    * sums, so the 3-batch store is bit-identical to the one-shot grid
    * and both gate against the same cell-rebuild + unrolled-descent
    * SQL (QuantileOracle). n_chars is clamped with the identical
    * least/greatest the sketch applies internally.
    */
  private val docQuantileOracleSql: String = s"""
      WITH vals AS (SELECT least(greatest(CAST(n_chars AS BIGINT), 0), 65535) AS v
                    FROM documents),
      ${QuantileOracle.ctes(Nil, Seq(50, 90, 99))}
      SELECT phi_pct, n, t AS target_rank, s AS est_q,
             (SELECT CAST(count(*) AS BIGINT) FROM vals
              WHERE vals.v <= st0.s) AS exact_rank_at_est
      FROM st0"""

  /** nDCG position discounts as FIXED-POINT INTEGER LITERALS:
    * floor(10⁹ / log2(i+1)) for positions 1..20, precomputed once and
    * inlined verbatim on BOTH engine and oracle sides — so no libm
    * log2 call ever crosses the engine boundary (the one place a
    * textbook nDCG would risk a 1-ulp disagreement). Gains are the
    * standard 2^rel − 1 over the planted graded relevance. q274 reads
    * the first 10 (k=10), q279 all 20 (k=20).
    */
  val NdcgDiscFp: Seq[Long] = Seq(1000000000L, 630929753L, 500000000L,
    430676558L, 386852807L, 356207187L, 333333333L, 315464876L,
    301029995L, 289064826L, 278942945L, 270238154L, 262649535L,
    255958024L, 250000000L, 244650542L, 239812466L, 235408913L,
    231378213L, 227670248L)

  /** q274's planted graded relevance: total query-term tf thresholds
    * (≥14 → rel 3, ≥11 → rel 2, ≥8 → rel 1) — fixed constants of the
    * eval definition, selective at every test SF (44 of 500 docs reach
    * rel ≥ 2 at sf0.01).
    */
  val RelT3 = 14
  val RelT2 = 11
  val RelT1 = 8

  /** Hybrid-retrieval quality gate SQL (q274/q279): recall@k and
    * fixed-point nDCG@k of BM25-only, hashed-bag-cosine-only ("ann"),
    * and their RRF fusion against the planted graded relevance. Every
    * ranked list, the relevance grades, the DCG sums and IDCG are
    * exact integers; the only floats are the two final divisions
    * (rounded 6) and BM25's own scores (the established q134 float
    * contract). Parameterized over terms/k/thresholds/dims so a second
    * configuration (q279) proves the metric machinery isn't tuned to
    * one fixture.
    */
  private def retrievalEvalSql(terms: Seq[String], k: Int,
                               t3: Int, t2: Int, t1: Int,
                               dims: Int): String = {
    val discRows = NdcgDiscFp.take(k).zipWithIndex
      .map { case (d, i) => s"(${i + 1}, $d)" }.mkString(", ")
    val is = terms.indices
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(toks, x -> x = '$t')) AS tf$i" }.mkString(",\n                      ")
    val tfSum = is.map(i => s"tf$i").mkString(" + ")
    val dfCols = is.map(i =>
      s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i")
      .mkString(",\n                       ")
    val bmSum = is.map(i =>
      s"ln(1.0 + (n - df$i + 0.5) / (df$i + 0.5)) * (tf$i * 2.2) / (tf$i + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))")
      .mkString("\n                        + ")
    val termList = terms.map(t => s"'$t'").mkString(", ")
    s"""
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      base AS (SELECT doc_id, len(toks) AS dl,
                      $tfCols
               FROM tok),
      rel AS (SELECT doc_id,
                     CASE WHEN $tfSum >= $t3 THEN 3
                          WHEN $tfSum >= $t2 THEN 2
                          WHEN $tfSum >= $t1 THEN 1
                          ELSE 0 END AS rel
              FROM base),
      stats AS (SELECT count(*) AS n, avg(dl) AS avgdl,
                       $dfCols
                FROM base),
      bm AS (SELECT doc_id,
                    round($bmSum, 6) AS score
             FROM base CROSS JOIN stats),
      abm AS (SELECT doc_id, rnk FROM (
                SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk FROM bm)
              WHERE rnk <= $k),
      tb AS (SELECT doc_id, unnest(toks) AS t FROM tok),
      hbk AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT % $dims AS b,
                     CAST(count(*) AS BIGINT) AS a
              FROM tb GROUP BY 1, 2),
      qbk AS (SELECT ('0x' || substr(md5(t), 1, 15))::BIGINT % $dims AS b,
                     CAST(count(*) AS BIGINT) AS q
              FROM (SELECT unnest([$termList]) AS t)
              GROUP BY 1),
      nqv AS (SELECT CAST(sum(q * q) AS BIGINT) AS nq FROM qbk),
      nav AS (SELECT doc_id, CAST(sum(a * a) AS BIGINT) AS na FROM hbk GROUP BY 1),
      dp AS (SELECT hbk.doc_id, CAST(sum(hbk.a * qbk.q) AS BIGINT) AS dot
             FROM hbk JOIN qbk USING (b) GROUP BY 1),
      anns AS (SELECT nav.doc_id,
                      (CAST(coalesce(dp.dot, 0) AS HUGEINT) * coalesce(dp.dot, 0) * 1000000)
                        // (CAST(nav.na AS HUGEINT) * nqv.nq) AS score
               FROM nav CROSS JOIN nqv LEFT JOIN dp ON nav.doc_id = dp.doc_id),
      aann AS (SELECT doc_id, rnk FROM (
                 SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk FROM anns)
               WHERE rnk <= $k),
      fus AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
                     coalesce(1.0 / (60 + a.rnk), 0.0) + coalesce(1.0 / (60 + b.rnk), 0.0) AS s
              FROM abm a FULL OUTER JOIN aann b ON a.doc_id = b.doc_id),
      afus AS (SELECT doc_id, rnk FROM (
                 SELECT doc_id, row_number() OVER (ORDER BY round(s, 6) DESC, doc_id) AS rnk FROM fus)
               WHERE rnk <= $k),
      lists AS (SELECT 'bm25' AS system, doc_id, rnk FROM abm
                UNION ALL SELECT 'ann', doc_id, rnk FROM aann
                UNION ALL SELECT 'rrf_fused', doc_id, rnk FROM afus),
      disc AS (SELECT pos, CAST(d AS BIGINT) AS d
               FROM (VALUES $discRows) AS t(pos, d)),
      nrel AS (SELECT CAST(sum(CASE WHEN rel >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rel FROM rel),
      ideal AS (SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id) AS pos FROM rel),
      idcg AS (SELECT CAST(sum(disc.d * (CASE ideal.rel WHEN 3 THEN 7 WHEN 2 THEN 3 WHEN 1 THEN 1 ELSE 0 END)) AS BIGINT) AS idcg_fp
               FROM ideal JOIN disc ON ideal.pos = disc.pos),
      met AS (SELECT l.system,
                     CAST(sum(CASE WHEN r.rel >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS hits,
                     CAST(sum(disc.d * (CASE r.rel WHEN 3 THEN 7 WHEN 2 THEN 3 WHEN 1 THEN 1 ELSE 0 END)) AS BIGINT) AS dcg_fp
              FROM lists l JOIN rel r ON l.doc_id = r.doc_id
              JOIN disc ON l.rnk = disc.pos
              GROUP BY 1)
      SELECT m.system, nrel.n_rel, m.hits,
             round(CAST(m.hits AS DOUBLE) / nrel.n_rel, 6) AS recall,
             m.dcg_fp, idcg.idcg_fp,
             round(CAST(m.dcg_fp AS DOUBLE) / idcg.idcg_fp, 6) AS ndcg
      FROM met m CROSS JOIN nrel CROSS JOIN idcg"""
  }

  /** Engine side of the hybrid-retrieval quality gate (q274/q279):
    * recall@k + fixed-point nDCG@k of BM25, hashed-bag cosine, and
    * their RRF fusion against planted graded relevance (query-term tf
    * thresholds t3/t2/t1). All ranked lists and DCG/IDCG sums are
    * exact integers (gains 2^rel−1, discounts from [[NdcgDiscFp]]);
    * the only floats are the two final one-division ratios.
    */
  private def retrievalEval(spark: SparkSession, dir: String,
                            terms: Seq[String], k: Int,
                            t3: Int, t2: Int, t1: Int,
                            dims: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k <= NdcgDiscFp.size,
      s"k=$k exceeds the ${NdcgDiscFp.size}-entry precomputed discount table")
    // Shared-frame caches (the KCore family contract — released by the
    // caller's withQueryCaches scope). Uncached, the tokenize scan of
    // the full corpus re-ran ~8x per action: rel feeds THREE consumers
    // (met / nrel / ideal), the bm25 subtree appears twice (lists +
    // fusion) and ends in TakeOrderedAndProject — no exchange, so
    // nothing for reuse to dedup — and bm25 itself reads the corpus
    // twice by design (stats pass + scoring pass). One tokenize pass
    // fills `docs`; the k-row bm/ann caches stop the retrieval reruns.
    val docs = T(spark, dir, "documents")
      .select(col("doc_id"), TextOps.tokenize(col("text")).as("toks"))
      .cache()
    val rel = docs.select(col("doc_id"),
        terms.map(t => size(filter(col("toks"), x => x === t)))
          .reduce(_ + _).as("tfs"))
      .select(col("doc_id"),
        when(col("tfs") >= t3, 3).when(col("tfs") >= t2, 2)
          .when(col("tfs") >= t1, 1).otherwise(0).as("rel"))
      .cache()
    val bm = graft.llm.Bm25.topK(docs, "doc_id", "toks", terms, k)
      .select("doc_id", "rnk").cache()
    val ann = graft.llm.HashedCosine.topK(docs, "doc_id", "toks", terms, dims, k)
      .select("doc_id", "rnk").cache()
    val fused = graft.llm.Fusion.rrf(Seq(bm, ann), "doc_id", "rnk", 60, k)
      .select("doc_id", "rnk")
    val lists = bm.withColumn("system", lit("bm25"))
      .unionByName(ann.withColumn("system", lit("ann")))
      .unionByName(fused.withColumn("system", lit("rrf_fused")))
    val dtab = spark.range(1)
      .select(posexplode(array(NdcgDiscFp.take(k).map(lit): _*)))
      .select((col("pos") + 1).cast("int").as("pos"), col("col").as("d"))
    def gain(r: org.apache.spark.sql.Column) =
      when(r === 3, 7L).when(r === 2, 3L).when(r === 1, 1L).otherwise(0L)
    val met = lists.join(rel, "doc_id")
      .join(broadcast(dtab), col("rnk") === col("pos"))
      .groupBy("system")
      .agg(sum(when(col("rel") >= 2, 1L).otherwise(0L)).as("hits"),
        sum(gain(col("rel")) * col("d")).as("dcg_fp"))
    val nrel = rel.agg(
      sum(when(col("rel") >= 2, 1L).otherwise(0L)).as("n_rel"))
    // ideal ranking: TakeOrderedAndProject + k-row window (the
    // Bm25.rankTop bounded pattern), never a corpus-wide window
    val ideal = rel.orderBy(col("rel").desc, col("doc_id").asc).limit(k)
      .withColumn("pos", row_number()
        .over(Window.orderBy(col("rel").desc, col("doc_id").asc)).cast("int"))
    val idcg = ideal.join(broadcast(dtab), "pos")
      .agg(sum(gain(col("rel")) * col("d")).as("idcg_fp"))
    met.crossJoin(broadcast(nrel)).crossJoin(broadcast(idcg))
      .select(col("system"), col("n_rel"), col("hits"),
        round(col("hits").cast("double") / col("n_rel"), 6).as("recall"),
        col("dcg_fp"), col("idcg_fp"),
        round(col("dcg_fp").cast("double") / col("idcg_fp"), 6).as("ndcg"))
  }


  /** Log-histogram quantile oracle shared verbatim by q275 (one-shot)
    * and q276 (incremental store): bucket counts are commutative
    * integer sums, so the 3-batch store is bit-identical to the
    * one-shot histogram and both gate against the same bucket-rebuild
    * + cumsum + lower-bound SQL.
    */
  private val logHistQuantileOracleSql: String = """
      WITH vals AS (SELECT source, greatest(CAST(n_chars AS BIGINT), 0) AS v
                    FROM documents),
      bk AS (SELECT source, sh * 32 + (v >> sh) AS bucket
             FROM (SELECT source, v,
                          greatest(length(bin(v)) - 1 - 5, 0) AS sh
                   FROM vals)),
      h AS (SELECT source, bucket, CAST(count(*) AS BIGINT) AS cnt
            FROM bk GROUP BY 1, 2),
      cum AS (SELECT source, bucket,
                     sum(cnt) OVER (PARTITION BY source ORDER BY bucket) AS cum
              FROM h),
      nn AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n FROM h GROUP BY 1),
      tgt AS (SELECT nn.source, ph.phi_pct, nn.n,
                     (ph.phi_pct * nn.n + 99) // 100 AS t
              FROM nn CROSS JOIN (SELECT unnest([50, 90, 99]) AS phi_pct) ph),
      sel AS (SELECT t.source, t.phi_pct, t.n, t.t, min(c.bucket) AS b
              FROM tgt t JOIN cum c ON c.source = t.source AND c.cum >= t.t
              GROUP BY 1, 2, 3, 4),
      est AS (SELECT source, phi_pct, n, t AS target_rank,
                     CASE WHEN greatest((b >> 5) - 1, 0) = 0 THEN b
                          ELSE (b - ((b >> 5) - 1) * 32) << ((b >> 5) - 1)
                     END AS est_q
              FROM sel)
      SELECT e.source, e.phi_pct, e.n, e.target_rank, e.est_q,
             (SELECT CAST(count(*) AS BIGINT) FROM vals
              WHERE vals.source = e.source AND vals.v <= e.est_q)
               AS exact_rank_at_est
      FROM est e"""

  /** q278's fixed rank probes — spanning the committed n_chars
    * envelope [44, 577] plus one point below and one above it.
    * Declared BEFORE defs (eager-interpolation discipline).
    */
  val RankProbes: Seq[Long] = Seq(30L, 64L, 256L, 300L, 600L)

  val defs: Seq[QueryDef] = Seq(

    // Token counting: whitespace tokens, distinct tokens, stopword hits.
    QueryDef("q27_token_stats", Some(s"""
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
             CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct,
             CAST(len(list_filter(string_split(text, ' '), x -> x IN ($stopSqlList))) AS INTEGER) AS n_stop,
             CAST(len(regexp_extract_all(text, '${TextOps.BpePattern}')) AS INTEGER) AS n_tokens_bpe,
             n_chars
      FROM documents"""),
      (spark, dir) => {
        val toks = TextOps.tokenize(col("text"))
        T(spark, dir, "documents").select(col("doc_id"), col("lang"),
          size(toks).as("n_tokens"),
          size(array_distinct(toks)).as("n_distinct"),
          TextOps.stopCount(toks, Stop).as("n_stop"),
          size(TextOps.tokenizeBpe(col("text"))).as("n_tokens_bpe"),
          col("n_chars"))
      }),

    // Quality scoring: stopword ratio, short-token ratio, mean token
    // length — integer-exact per-row arithmetic, then a blended score.
    // Deliberately NOT rounded: the whole chain is IEEE-identical on
    // both engines (integer counts, one division each, same op order),
    // so the raw doubles compare bit-for-bit — while round(x, 6) can
    // DISAGREE when a ratio of small integers lands exactly on a
    // .5e-6 boundary (Spark rounds the exact binary value via
    // BigDecimal, DuckDB via float multiply; observed at sf0.1).
    // Calibration report for the quality scorer read as P(lang = en) —
    // the reliability-diagram table (Guo et al. 2017) next to q135's
    // AUC: 10 fixed confidence bins, per bin the exact count, exact
    // integer accuracy, and the mean confidence over per-doc scores
    // QUANTIZED to 1e-6 before summing. The quantization is the scale
    // move: floor(conf·10⁶) is bit-identical in both engines (conf is
    // IEEE-identical), so the per-bin mean is an exact INTEGER sum with
    // map-side partial aggregation — no per-bin collect_list whose
    // buffer would hold ~a tenth of the corpus (the q120 ordered-fold
    // tax is affordable per PAIR, not per TENTH-OF-CORPUS bin). ECE is
    // the reader's n-weighted gap sum over these 10 rows.
    QueryDef("q212_calibration_ece", Some(s"""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
                        CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
                 FROM documents),
      q AS (SELECT doc_id, label,
              0.5 * (1.0 - CAST(len(list_filter(toks, x -> x IN ($stopSqlList))) AS DOUBLE) / len(toks))
              + 0.3 * (1.0 - CAST(len(list_filter(toks, x -> length(x) <= 2)) AS DOUBLE) / len(toks))
              + 0.2 * least(CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS DOUBLE)
                              / len(toks) / 10.0, 1.0) AS conf
            FROM t),
      b AS (SELECT doc_id, label,
                   CAST(floor(conf * 1000000) AS BIGINT) AS confq,
                   CAST(least(floor(conf * 10), 9) AS INTEGER) AS bin FROM q)
      SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
             round(CAST(sum(label) AS DOUBLE) / count(*), 6) AS accuracy,
             round(CAST(sum(confq) AS DOUBLE) / count(*) / 1000000, 6) AS confidence,
             round(abs(CAST(sum(label) AS DOUBLE) / count(*)
                       - CAST(sum(confq) AS DOUBLE) / count(*) / 1000000), 6) AS gap
      FROM b GROUP BY bin"""),
      (spark, dir) => {
        val toks = TextOps.tokenize(col("text"))
        val scored = T(spark, dir, "documents").select(
          when(col("lang") === "en", 1L).otherwise(0L).as("label"),
          TextOps.qualityScore(toks, Text.Stop).as("conf"))
          .select(col("label"),
            floor(col("conf") * 1000000).cast("long").as("confq"),
            least(floor(col("conf") * 10), lit(9)).cast("int").as("bin"))
        val agg = scored.groupBy("bin")
          .agg(count(lit(1)).as("n_docs"), sum(col("label")).as("np"),
            sum(col("confq")).as("__cq"))
        val acc = col("np").cast("double") / col("n_docs")
        val conf = (col("__cq").cast("double") / col("n_docs")) / 1000000
        agg.select(col("bin"), col("n_docs"),
          round(acc, 6).as("accuracy"), round(conf, 6).as("confidence"),
          round(abs(acc - conf), 6).as("gap"))
      }),

    // Inter-rater agreement between two independent quality gates —
    // the label-audit a curation team runs before trusting a filter:
    // rater A = the q28 blended heuristic at threshold 0.85, rater B =
    // the q106 repetition gate. Confusion counts are exact integers;
    // Cohen's kappa corrects raw agreement for chance (po − pe)/(1 − pe).
    // One corpus scan, one four-cell aggregate — no shuffle beyond it.
    QueryDef("q207_rater_agreement", Some(s"""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      a AS (SELECT doc_id,
              (0.5 * (1.0 - CAST(len(list_filter(toks, x -> x IN ($stopSqlList))) AS DOUBLE) / len(toks))
               + 0.3 * (1.0 - CAST(len(list_filter(toks, x -> length(x) <= 2)) AS DOUBLE) / len(toks))
               + 0.2 * least(CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS DOUBLE)
                               / len(toks) / 10.0, 1.0)) >= 0.85 AS ra
            FROM t),
      m AS (SELECT doc_id, len(toks) AS n,
              list_max(list_transform(list_distinct(toks),
                x -> len(list_filter(toks, y -> y = x)))) AS max_tf,
              list_transform(generate_series(1, greatest(len(toks)-1, 0)),
                i -> toks[i] || ' ' || toks[i+1]) AS bi
            FROM t),
      b AS (SELECT doc_id,
              NOT (CAST(max_tf AS DOUBLE) / n > 0.2
                   OR 1.0 - CAST(len(list_distinct(bi)) AS DOUBLE) / greatest(len(bi), 1) > 0.1) AS rb
            FROM m),
      c AS (SELECT CAST(count(*) FILTER (ra AND rb) AS BIGINT) AS n11,
                   CAST(count(*) FILTER (ra AND NOT rb) AS BIGINT) AS n10,
                   CAST(count(*) FILTER (NOT ra AND rb) AS BIGINT) AS n01,
                   CAST(count(*) FILTER (NOT ra AND NOT rb) AS BIGINT) AS n00,
                   CAST(count(*) AS BIGINT) AS n
            FROM a JOIN b USING (doc_id))
      SELECT n11, n10, n01, n00,
             round(CAST(n11 + n00 AS DOUBLE) / n, 6) AS po,
             round((CAST(n11 + n10 AS DOUBLE) * (n11 + n01)
                    + CAST(n01 + n00 AS DOUBLE) * (n10 + n00)) / n / n, 6) AS pe,
             round((CAST(n11 + n00 AS DOUBLE) / n
                    - (CAST(n11 + n10 AS DOUBLE) * (n11 + n01)
                       + CAST(n01 + n00 AS DOUBLE) * (n10 + n00)) / n / n)
                   / (1.0 - (CAST(n11 + n10 AS DOUBLE) * (n11 + n01)
                             + CAST(n01 + n00 AS DOUBLE) * (n10 + n00)) / n / n), 6) AS kappa
      FROM c"""),
      (spark, dir) => {
        val toks = TextOps.tokenize(col("text"))
        val n = size(toks)
        val quality =
          lit(0.5) * (lit(1.0) - TextOps.stopCount(toks, Stop).cast("double") / n) +
          lit(0.3) * (lit(1.0) - size(filter(toks, t => length(t) <= 2)).cast("double") / n) +
          lit(0.2) * least(aggregate(transform(toks, t => length(t)), lit(0),
            (acc, x) => acc + x).cast("double") / n / 10.0, lit(1.0))
        val maxTf = TextOps.maxTokenFreq(toks)
        val bi = TextOps.ngramsAll(toks, 2)
        val repetitive = (maxTf.cast("double") / n > 0.2) ||
          (lit(1.0) - size(array_distinct(bi)).cast("double")
            / greatest(size(bi), lit(1)) > 0.1)
        val flagged = T(spark, dir, "documents").select(
          (quality >= 0.85).as("ra"), (!repetitive).as("rb"))
        val c = flagged.agg(
          sum(when(col("ra") && col("rb"), 1L).otherwise(0L)).as("n11"),
          sum(when(col("ra") && !col("rb"), 1L).otherwise(0L)).as("n10"),
          sum(when(!col("ra") && col("rb"), 1L).otherwise(0L)).as("n01"),
          sum(when(!col("ra") && !col("rb"), 1L).otherwise(0L)).as("n00"),
          count(lit(1)).as("n"))
        val po = (col("n11") + col("n00")).cast("double") / col("n")
        val pe = (((col("n11") + col("n10")).cast("double") * (col("n11") + col("n01"))
          + (col("n01") + col("n00")).cast("double") * (col("n10") + col("n00")))
          / col("n")) / col("n")
        c.select(col("n11"), col("n10"), col("n01"), col("n00"),
          round(po, 6).as("po"), round(pe, 6).as("pe"),
          round((po - pe) / (lit(1.0) - pe), 6).as("kappa"))
      }),

    QueryDef("q28_quality_score", Some(s"""
      WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      m AS (
        SELECT doc_id,
               CAST(len(list_filter(toks, x -> x IN ($stopSqlList))) AS DOUBLE) / len(toks) AS stop_ratio,
               CAST(len(list_filter(toks, x -> length(x) <= 2)) AS DOUBLE) / len(toks) AS short_ratio,
               CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS DOUBLE) / len(toks) AS mean_len
        FROM t)
      SELECT doc_id, stop_ratio, short_ratio, mean_len,
             0.5 * (1.0 - stop_ratio) + 0.3 * (1.0 - short_ratio)
                   + 0.2 * least(mean_len / 10.0, 1.0) AS quality
      FROM m"""),
      (spark, dir) => {
        val toks = TextOps.tokenize(col("text"))
        val n = size(toks)
        val stopRatio = TextOps.stopCount(toks, Stop).cast("double") / n
        val shortRatio = size(filter(toks, t => length(t) <= 2)).cast("double") / n
        val meanLen = aggregate(transform(toks, t => length(t)), lit(0),
          (acc, x) => acc + x).cast("double") / n
        T(spark, dir, "documents").select(col("doc_id"),
          stopRatio.as("stop_ratio"),
          shortRatio.as("short_ratio"),
          meanLen.as("mean_len"),
          (lit(0.5) * (lit(1.0) - stopRatio) + lit(0.3) * (lit(1.0) - shortRatio)
            + lit(0.2) * least(meanLen / lit(10.0), lit(1.0))).as("quality"))
      }),

    // F12-shaped generator: explode tokens -> global top-20 frequency.
    QueryDef("q29_token_freq", Some("""
      SELECT token, n, CAST(rnk AS INTEGER) AS rnk
      FROM (SELECT token, count(*) AS n,
                   row_number() OVER (ORDER BY count(*) DESC, token) AS rnk
            FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
            GROUP BY token)
      WHERE rnk <= 20"""),
      (spark, dir) => {
        val counts = T(spark, dir, "documents")
          .select(explode(TextOps.tokenize(col("text"))).as("token"))
          .groupBy("token").agg(count(lit(1)).as("n"))
        TopK.exactPerKey(counts, Seq.empty, Seq(col("n").desc, col("token").asc), 20, "rnk")
          .withColumn("rnk", col("rnk").cast("int"))
          .select("token", "n", "rnk")
      }),

    // Document fingerprinting: md5 content hash + 2-hex shard key (the
    // exact-dedup + routing key of a 100 TB dedup pipeline).
    QueryDef("q30_fingerprint", Some("""
      SELECT doc_id, md5(text) AS fp, substr(md5(text), 1, 2) AS shard
      FROM documents"""),
      (spark, dir) =>
        T(spark, dir, "documents").select(col("doc_id"),
          TextOps.fingerprint(col("text")).as("fp"),
          substring(TextOps.fingerprint(col("text")), 1, 2).as("shard"))),

    // Rolling polynomial fingerprint: tokens -> int codes -> left fold
    // (acc*31 + code) mod 1e9+7. Exact int64 arithmetic on both engines
    // (max intermediate ~3.1e10 << 2^63), so no rounding needed.
    QueryDef("q52_rolling_hash", Some("""
      WITH codes AS (
        SELECT doc_id,
               list_transform(string_split(text, ' '),
                 t -> CAST(length(t) * 17 + ascii(substr(t, 1, 1)) AS BIGINT)) AS cs
        FROM documents)
      SELECT doc_id,
             list_reduce(list_prepend(CAST(0 AS BIGINT), cs),
               (a, x) -> (a * 31 + x) % 1000000007) AS rhash
      FROM codes"""),
      (spark, dir) => {
        val codes = transform(TextOps.tokenize(col("text")),
          t => (length(t) * 17 + ascii(substring(t, 1, 1))).cast("long"))
        T(spark, dir, "documents").select(col("doc_id"),
          aggregate(codes, lit(0L),
            (acc, x) => (acc * 31 + x) % 1000000007L).as("rhash"))
      }),

    // Unigram token-set Jaccard near-dup: targets (doc_id % 25 = 0) vs
    // same-lang docs, keep pairs >= 0.7.
    QueryDef("q31_token_jaccard", Some("""
      WITH s AS (SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS t FROM documents)
      SELECT a.doc_id AS a_doc, b.doc_id AS b_doc,
             CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
                   / len(list_distinct(list_concat(a.t, b.t))) AS jaccard
      FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE a.doc_id % 25 = 0
        AND CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
            / len(list_distinct(list_concat(a.t, b.t))) >= 0.7"""),
      (spark, dir) => {
        val s = T(spark, dir, "documents")
          .select(col("doc_id"), col("lang"),
            array_distinct(TextOps.tokenize(col("text"))).as("t"))
        // Probe-side repartition + salted pair join (the Reports.q20
        // pattern): `lang` has a handful of values, so a shuffled join
        // would cap the per-pair set-intersection stage at that
        // cardinality, and the filtered probe scan arrives in 1-2 splits.
        // The salt keeps the non-broadcast fallback at cluster width.
        val n = spark.sessionState.conf.numShufflePartitions
        val a = s.select(col("doc_id").as("a_doc"), col("lang").as("a_lang"), col("t").as("t_a"))
        val b = s.select(col("doc_id").as("b_doc"), col("lang").as("b_lang"), col("t").as("t_b"))
        val jac = graft.llm.DedupOps.jaccard(col("t_a"), col("t_b"))
        graft.ops.Salt.saltedPairJoin(
            a.filter(col("a_doc") % 25 === 0).repartition(n), b,
            "a_lang", "b_lang", "b_doc",
            graft.ops.Salt.widthSalts(spark, keyCardinality = 8),
            col("a_doc") < col("b_doc"))
          .filter(jac >= 0.7)
          .select(col("a_doc"), col("b_doc"), jac.as("jaccard"))
      }),

    // TF-IDF: term frequency per doc × inverse document frequency over
    // the corpus, top-5 terms per doc. Corpus size reaches the score
    // via a broadcast one-row aggregate (no driver-side count).
    QueryDef("q67_tfidf", Some("""
      WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
      df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      n AS (SELECT count(*) AS n_docs FROM documents),
      scored AS (
        SELECT tf.doc_id, tf.term,
               round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
        FROM tf JOIN df ON tf.term = df.term CROSS JOIN n)
      SELECT doc_id, term, tfidf, CAST(rnk AS INTEGER) AS rnk
      FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
            FROM scored)
      WHERE rnk <= 5"""),
      (spark, dir) => {
        val docs = T(spark, dir, "documents")
        val tf = docs.select(col("doc_id"), explode(TextOps.tokenize(col("text"))).as("term"))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val n = docs.agg(count(lit(1)).as("n_docs"))
        val scored = tf.join(dfreq, "term").crossJoin(broadcast(n))
          .select(col("doc_id"), col("term"),
            round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6).as("tfidf"))
        TopK.exactPerKey(scored, Seq("doc_id"),
            Seq(col("tfidf").desc, col("term").asc), 5, "rnk", prepartition = true)
          .withColumn("rnk", col("rnk").cast("int"))
          .select("doc_id", "term", "tfidf", "rnk")
      }),

    // Heavy hitters, sketch + verify: a 40-counter Misra-Gries pass
    // produces candidates (bounded state — no full-vocabulary groupBy at
    // corpus scale), then only the candidates are exactly counted and
    // thresholded at n/(k+1). The MG guarantee (no item above the
    // threshold is ever dropped; spec-checked on a skewed stream) makes
    // the two-pass result EQUAL to the exact HAVING query the oracle runs.
    QueryDef("q72_heavy_hitters", Some("""
      WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      SELECT token, count(*) AS n
      FROM tok GROUP BY token
      HAVING count(*) * 41 > (SELECT count(*) FROM tok)"""),
      (spark, dir) => {
        graft.engine.expressions.MisraGries.register(spark)
        val toks = T(spark, dir, "documents")
          .select(explode(TextOps.tokenize(col("text"))).as("token"))
        val candidates = toks
          .agg(graft.engine.expressions.MisraGries.sketch(col("token"), 40).as("mg"))
          .select(explode(col("mg")).as("s")).select(col("s.item").as("token"))
        val total = toks.agg(count(lit(1)).as("n_tok"))
        toks.join(broadcast(candidates), "token")
          .groupBy("token").agg(count(lit(1)).as("n"))
          .crossJoin(broadcast(total))
          .filter(col("n") * 41 > col("n_tok"))
          .select("token", "n")
      }),

    // Token-distribution Shannon entropy per document (natural log):
    // high entropy ≈ diverse vocabulary, a standard quality signal.
    QueryDef("q71_entropy", Some("""
      WITH tf AS (
        SELECT doc_id, term, count(*) AS c
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        GROUP BY doc_id, term),
      tot AS (SELECT doc_id, sum(c) AS n FROM tf GROUP BY doc_id)
      SELECT tf.doc_id,
             round(-sum((CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n)), 6) AS entropy,
             CAST(count(*) AS INTEGER) AS n_terms
      FROM tf JOIN tot ON tf.doc_id = tot.doc_id
      GROUP BY tf.doc_id"""),
      (spark, dir) => {
        val tf = T(spark, dir, "documents")
          .select(col("doc_id"), explode(TextOps.tokenize(col("text"))).as("term"))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
        val tot = tf.groupBy("doc_id").agg(sum(col("c")).as("n"))
        val p = col("c").cast("double") / col("n")
        tf.join(tot, "doc_id")
          .groupBy("doc_id")
          .agg(round(-sum(p * log(p)), 6).as("entropy"),
            count(lit(1)).cast("int").as("n_terms"))
      }),

    // Corpus-driven language ID: build top-5 token profiles per lang,
    // then classify each doc as the best-matching profile (hit count,
    // lang-name tiebreak). A self-contained n-gram-profile LID pipeline.
    QueryDef("q32_lang_id", Some(s"""
      WITH $LangIdCtes
      SELECT doc_id, true_lang, guessed_lang FROM lid"""),
      (spark, dir) => langIdFrame(spark, dir)),

    // BM25 keyword retrieval (llm.Bm25): corpus stats (N, avgdl, df per
    // term) in ONE broadcast row, per-doc tf in the scoring scan, top-20
    // via TakeOrderedAndProject. The oracle replays the identical
    // IEEE chain (same op order, same folded constants).
    QueryDef("q93_bm25", Some("""
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      base AS (SELECT doc_id, len(toks) AS dl,
                      len(list_filter(toks, x -> x = 'spark')) AS tf0,
                      len(list_filter(toks, x -> x = 'vector')) AS tf1,
                      len(list_filter(toks, x -> x = 'stream')) AS tf2
               FROM tok),
      stats AS (SELECT count(*) AS n, avg(dl) AS avgdl,
                       CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
                       CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
                       CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
                FROM base),
      scored AS (
        SELECT doc_id, dl,
               round(ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * (tf0 * 2.2) / (tf0 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
                   + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * (tf1 * 2.2) / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
                   + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * (tf2 * 2.2) / (tf2 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)), 6) AS score
        FROM base CROSS JOIN stats)
      SELECT doc_id, dl, score, CAST(rnk AS INTEGER) AS rnk
      FROM (SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk FROM scored)
      WHERE rnk <= 20"""),
      (spark, dir) =>
        graft.llm.Bm25.topK(
          T(spark, dir, "documents")
            .select(col("doc_id"), TextOps.tokenize(col("text")).as("toks")),
          "doc_id", "toks", Seq("spark", "vector", "stream"), 20)),

    // Per-source length-distribution profile: exact interpolated
    // percentiles of document length — the curation dashboard numbers a
    // corpus intake computes per domain. Spark's `percentile` and
    // DuckDB's `quantile_cont` share the (n-1)·p rank + linear
    // interpolation definition, so the values are comparable directly;
    // one hash-shuffle groupBy, state per group is the sorted length
    // sample (at true scale, swap in the engine's own mergeable
    // fixed-size sketch — q271's QuantileSketch, same plan shape).
    QueryDef("q121_length_percentiles", Some("""
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             round(quantile_cont(n_chars, 0.25), 6) AS p25,
             round(quantile_cont(n_chars, 0.50), 6) AS p50,
             round(quantile_cont(n_chars, 0.75), 6) AS p75,
             round(quantile_cont(n_chars, 0.95), 6) AS p95
      FROM documents GROUP BY source"""),
      (spark, dir) =>
        T(spark, dir, "documents")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            round(expr("percentile(n_chars, 0.25)"), 6).as("p25"),
            round(expr("percentile(n_chars, 0.50)"), 6).as("p50"),
            round(expr("percentile(n_chars, 0.75)"), 6).as("p75"),
            round(expr("percentile(n_chars, 0.95)"), 6).as("p95"))),

    // Corpus-trained bigram LM perplexity scoring: add-k-smoothed
    // bigram probabilities learned from the corpus itself, then each
    // document scored by its average negative log-likelihood — the
    // classic cheap fluency/quality filter (high avg-NLL = text unlike
    // the corpus: boilerplate, garbled OCR, wrong language). Count
    // tables shuffle on gram/token keys only; the per-doc score joins
    // doc bigrams to the (vocab-sized) probability tables on those same
    // keys — no driver-side model object, so the "LM" scales with the
    // corpus. The per-doc float sum is an ordered fold (by gram; equal
    // grams carry equal logp, so tie order cannot change the sequence
    // of addends) making the hash oracle exact.
    QueryDef("q123_bigram_lm", Some(s"""
      WITH $BigramNllCtes
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             round(-list_reduce(list(logp ORDER BY g), (x, y) -> x + y) / count(*), 6) AS avg_nll
      FROM lp GROUP BY doc_id"""),
      (spark, dir) => bigramAvgNll(T(spark, dir, "documents"))),

    // Interpolated Kneser-Ney perplexity gate (llm.LanguageModel — the
    // smoothing KenLM/CCNet actually filter with, vs q123's add-k):
    // a KN bigram model trained on the % 7 != 0 slice scores the
    // HELD-OUT % 7 == 0 docs — unseen bigrams exercise the
    // continuation backoff, unseen histories the Pcont fallback, and
    // every model quantity is an integer count, so the oracle replays
    // the exact doubles. Lower avg_nll = more in-distribution.
    QueryDef("q221_kn_perplexity", Some("""
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      trb AS (SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS g
              FROM tok WHERE doc_id % 7 <> 0 AND len(t) >= 2),
      trs AS (SELECT string_split(g, ' ')[1] AS w1, string_split(g, ' ')[2] AS w2 FROM trb),
      c2 AS (SELECT w1, w2, count(*) AS c FROM trs GROUP BY 1, 2),
      hist AS (SELECT w1, sum(c) AS ch, count(*) AS n1f FROM c2 GROUP BY 1),
      cont AS (SELECT w2, count(*) AS n1b FROM c2 GROUP BY 1),
      tot AS (SELECT count(*) AS tt FROM c2),
      voc AS (SELECT count(DISTINCT w) AS v
              FROM (SELECT unnest(t) AS w FROM tok WHERE doc_id % 7 <> 0)),
      evb AS (SELECT doc_id,
                     unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS g
              FROM tok WHERE doc_id % 7 = 0 AND len(t) >= 2),
      evs AS (SELECT doc_id, g, string_split(g, ' ')[1] AS w1,
                     string_split(g, ' ')[2] AS w2 FROM evb),
      lp AS (SELECT e.doc_id, e.g,
                    ln(CASE WHEN h.ch IS NULL
                            THEN (coalesce(co.n1b, 0) + 0.5) / (tot.tt + 0.5 * voc.v)
                            ELSE greatest(coalesce(c2.c, 0) - 0.75, 0) / h.ch
                                 + 0.75 * h.n1f / h.ch *
                                   ((coalesce(co.n1b, 0) + 0.5) / (tot.tt + 0.5 * voc.v))
                       END) AS logp
             FROM evs e
             LEFT JOIN c2 ON e.w1 = c2.w1 AND e.w2 = c2.w2
             LEFT JOIN hist h ON e.w1 = h.w1
             LEFT JOIN cont co ON e.w2 = co.w2
             CROSS JOIN tot CROSS JOIN voc)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             round(-list_reduce(list(logp ORDER BY g), (x, y) -> x + y) / count(*), 6) AS avg_nll
      FROM lp GROUP BY doc_id"""),
      (spark, dir) => {
        val docs = T(spark, dir, "documents")
        graft.llm.LanguageModel.knBigramNll(
          docs.filter(col("doc_id") % 7 =!= 0),
          docs.filter(col("doc_id") % 7 === 0),
          "doc_id", "text")
      }),

    // Exact-substring dedup as a TRANSFORM (llm.DedupOps
    // .maskDuplicateSpans — Lee et al.'s cleaning step, where q124 only
    // measures): every corpus-duplicated 5-gram keeps its globally
    // first occurrence (min doc·2^32+pos) and all other occurrences'
    // spans are masked out of the text. Gram-keyed detection, bounded
    // ×5 position explode, one doc-keyed reconstruction; winner choice
    // and coverage rule are pure integer arithmetic, so the oracle
    // replays the cleaned strings byte for byte.
    QueryDef("q222_span_dedup", Some("""
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      tp AS (SELECT doc_id, unnest(range(0, len(t))) AS p, unnest(t) AS w FROM tok),
      gr AS (SELECT doc_id,
                    unnest(range(0, greatest(len(t) - 4, 0))) AS gp,
                    unnest(list_transform(range(1, greatest(len(t) - 3, 1)),
                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])) AS g
             FROM tok WHERE len(t) >= 5),
      ds AS (SELECT g, count(*) AS cnt, min(doc_id * 4294967296 + gp) AS win
             FROM gr GROUP BY g HAVING count(*) >= 2),
      cov AS (SELECT DISTINCT gr.doc_id, gp + j.j AS p
              FROM gr JOIN ds USING (g), range(0, 5) j(j)
              WHERE gr.doc_id * 4294967296 + gr.gp <> ds.win)
      SELECT tp.doc_id, CAST(count(*) AS INTEGER) AS n_tokens,
             CAST(sum(CASE WHEN cov.p IS NOT NULL THEN 1 ELSE 0 END) AS INTEGER) AS n_masked,
             coalesce(string_agg(CASE WHEN cov.p IS NULL THEN tp.w END, ' ' ORDER BY tp.p), '') AS cleaned
      FROM tp LEFT JOIN cov ON tp.doc_id = cov.doc_id AND tp.p = cov.p
      GROUP BY tp.doc_id"""),
      (spark, dir) =>
        graft.llm.DedupOps.maskDuplicateSpans(
          T(spark, dir, "documents"), "doc_id", "text", n = 5)),

    // Repeated-n-gram duplication signal (the exact-substring dedup
    // measure of Lee et al., "Deduplicating Training Data Makes
    // Language Models Better", at 5-gram granularity): per document,
    // how many of its 5-gram occurrences appear ≥2 times ANYWHERE in
    // the corpus. One explode + one gram-keyed count + one gram-keyed
    // join-back — never an all-pairs comparison; at 100 TB the join key
    // swaps for xxhash64(gram) so only 8-byte keys shuffle (counts
    // identical modulo 64-bit collisions). Docs shorter than 5 tokens
    // have no grams and drop out on both sides. dup_frac is one
    // integer division — IEEE-identical on both engines, no rounding
    // needed (the q28 rationale).
    QueryDef("q124_repeated_ngrams", Some("""
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      gr AS (SELECT doc_id,
                    unnest(list_transform(range(1, len(t) - 3),
                      i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3] || ' ' || t[i + 4])) AS g
             FROM tok WHERE len(t) >= 5),
      cnt AS (SELECT g, count(*) AS n_occ FROM gr GROUP BY g)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
             CAST(sum(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
             CAST(sum(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS dup_frac
      FROM gr JOIN cnt USING (g) GROUP BY doc_id"""),
      (spark, dir) => {
        val docs = T(spark, dir, "documents")
        val g = docs.select(col("doc_id"),
          explode(TextOps.ngramsAll(TextOps.tokenize(col("text")), 5)).as("g"))
        val c = g.groupBy("g").agg(count(lit(1)).as("n_occ"))
        g.join(c, "g").groupBy("doc_id")
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("n_occ") >= 2, 1L).otherwise(0L)).as("n_dup"))
          .select(col("doc_id"), col("n_grams"), col("n_dup"),
            (col("n_dup").cast("double") / col("n_grams")).as("dup_frac"))
      }),

    // Winnowing span-overlap (the MOSS fingerprint shape): min-hash of
    // each 4-window of word-4-gram md5 integers, distinct per doc, df
    // cap on boilerplate fingerprints, then pairs sharing >= 2. Catches
    // SPAN-level duplication (template reuse, quotation) that whole-doc
    // Jaccard dilutes away; the guarantee is any shared run of >= n+w-1
    // tokens contributes a shared fingerprint.
    QueryDef("q162_winnowing_overlap", Some("""
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      gr AS (SELECT doc_id, unnest(range(1, len(t) - 2)) AS i, t
             FROM tok WHERE len(t) >= 4),
      gh AS (SELECT doc_id, i - 1 AS pos,
                    ('0x' || substr(md5(array_to_string(t[i:i+3], ' ')), 1, 15))::BIGINT AS gh
             FROM gr),
      winnowed AS (SELECT DISTINCT doc_id,
                          min(gh) OVER (PARTITION BY doc_id ORDER BY pos
                                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
                   FROM gh),
      kept AS (SELECT fp FROM winnowed GROUP BY fp
               HAVING count(*) >= 2 AND count(*) <= 50)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_shared
      FROM winnowed a JOIN kept USING (fp) JOIN winnowed b USING (fp)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING count(*) >= 2"""),
      (spark, dir) =>
        graft.llm.DedupOps.winnowingOverlap(T(spark, dir, "documents"),
          "doc_id", "text", n = 4, w = 4, maxDf = 50, minShared = 2)),

    // Per-source token-distribution drift: KL(source ‖ corpus) over the
    // unigram distributions — the intake diagnostic that flags a domain
    // whose text is statistically unlike the blend it feeds (high KL =
    // candidate for re-weighting in the q107 mixer). ONE explode pass
    // builds the (source, token) count table; the source totals, corpus
    // totals and grand total are all reaggregations of that vocab-sized
    // table, never a second corpus scan. The per-source sum is an
    // ordered fold over the (unique) token key for hash-oracle
    // exactness; at 100 TB swap it for a plain sum (order-tolerant
    // within double precision) — same single-shuffle plan shape.
    QueryDef("q125_source_kl", Some("""
      WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
      sc AS (SELECT source, w, count(*) AS c FROM tok GROUP BY source, w),
      st AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM sc GROUP BY source),
      cc AS (SELECT w, CAST(sum(c) AS BIGINT) AS cw FROM sc GROUP BY w),
      nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM sc),
      term AS (SELECT source, ns, w,
                      (CAST(c AS DOUBLE) / ns)
                        * ln((CAST(c AS DOUBLE) / ns) / (CAST(cw AS DOUBLE) / n)) AS v
               FROM sc JOIN st USING (source) JOIN cc USING (w) CROSS JOIN nn)
      SELECT source, ns AS n_tokens,
             round(list_reduce(list(v ORDER BY w), (x, y) -> x + y), 6) AS kl
      FROM term GROUP BY source, ns"""),
      (spark, dir) => {
        val sc = T(spark, dir, "documents")
          .select(col("source"), explode(TextOps.tokenize(col("text"))).as("w"))
          .groupBy("source", "w").agg(count(lit(1)).as("c"))
        val st = sc.groupBy("source").agg(sum("c").as("ns"))
        val cc = sc.groupBy("w").agg(sum("c").as("cw"))
        val nn = sc.agg(sum("c").as("n"))
        val p = col("c").cast("double") / col("ns")
        val q = col("cw").cast("double") / col("n")
        sc.join(st, "source").join(cc, "w").crossJoin(broadcast(nn))
          .select(col("source"), col("ns"), struct(col("w"), (p * log(p / q)).as("v")).as("e"))
          .groupBy("source", "ns")
          .agg(array_sort(collect_list(col("e"))).as("__s"))
          .select(col("source"), col("ns").as("n_tokens"),
            round(orderedSum("v"), 6).as("kl"))
      }),

    // Source × language independence diagnostic: the χ² contingency
    // cells over the (source, lang) document counts — which domains are
    // language-skewed relative to the corpus. All per-cell arithmetic
    // (expected count = row·col/N, contribution = (obs−exp)²/exp) — the
    // marginals are reaggregations of the contingency table (|sources|
    // × |langs| rows), never a second corpus scan, and no float SUM
    // crosses rows, so only per-cell round() is needed.
    QueryDef("q130_source_lang_chisq", Some("""
      WITH obs AS (SELECT source, lang, count(*) AS n FROM documents GROUP BY source, lang),
      rs AS (SELECT source, CAST(sum(n) AS BIGINT) AS r FROM obs GROUP BY source),
      cs AS (SELECT lang, CAST(sum(n) AS BIGINT) AS c FROM obs GROUP BY lang),
      nn AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM obs)
      SELECT source, lang, CAST(n AS BIGINT) AS n_obs,
             round(CAST(r AS DOUBLE) * c / t, 6) AS expected,
             round(pow(n - CAST(r AS DOUBLE) * c / t, 2) / (CAST(r AS DOUBLE) * c / t), 6) AS contrib
      FROM obs JOIN rs USING (source) JOIN cs USING (lang) CROSS JOIN nn"""),
      (spark, dir) => {
        val obs = T(spark, dir, "documents")
          .groupBy("source", "lang").agg(count(lit(1)).as("n"))
        val rs = obs.groupBy("source").agg(sum("n").as("r"))
        val cs = obs.groupBy("lang").agg(sum("n").as("c"))
        val nn = obs.agg(sum("n").as("t"))
        val e = col("r").cast("double") * col("c") / col("t")
        obs.join(rs, "source").join(cs, "lang").crossJoin(broadcast(nn))
          .select(col("source"), col("lang"), col("n").as("n_obs"),
            round(e, 6).as("expected"),
            round(pow(col("n") - e, 2) / e, 6).as("contrib"))
      }),

    // Zipf-slope per source: closed-form OLS of ln(freq) on ln(rank)
    // over each source's top-100 tokens — the power-law health check a
    // corpus intake runs (natural text ≈ −1; synthetic/boilerplate
    // text flattens or cliffs). Per-source rank is a group-limit
    // (WindowGroupLimit after TopK.exactPerKey, never a global sort);
    // the four OLS sums are rank-ordered folds over one ≤100-element
    // sorted array per source, so the slope replays bit-identically in
    // the DuckDB twin.
    QueryDef("q132_zipf_slope", Some("""
      WITH tc AS (SELECT source, w, count(*) AS c
                  FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
                  GROUP BY source, w),
      rk AS (SELECT * FROM (
               SELECT source, c,
                      row_number() OVER (PARTITION BY source ORDER BY c DESC, w) AS rnk
               FROM tc) WHERE rnk <= 100),
      xy AS (SELECT source, rnk, ln(CAST(rnk AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y
             FROM rk),
      s AS (SELECT source, CAST(count(*) AS DOUBLE) AS n,
                   list_reduce(list(x ORDER BY rnk), (a, b) -> a + b) AS sx,
                   list_reduce(list(y ORDER BY rnk), (a, b) -> a + b) AS sy,
                   list_reduce(list(x * y ORDER BY rnk), (a, b) -> a + b) AS sxy,
                   list_reduce(list(x * x ORDER BY rnk), (a, b) -> a + b) AS sxx
            FROM xy GROUP BY source)
      SELECT source, CAST(n AS BIGINT) AS n_terms,
             round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
             round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6) AS intercept
      FROM s"""),
      (spark, dir) => {
        val tc = T(spark, dir, "documents")
          .select(col("source"), explode(TextOps.tokenize(col("text"))).as("w"))
          .groupBy("source", "w").agg(count(lit(1)).as("c"))
        val rk = graft.ops.TopK.exactPerKey(tc, Seq("source"),
          Seq(col("c").desc, col("w")), 100, "rnk")
        val xy = rk.select(col("source"), col("rnk"),
          log(col("rnk").cast("double")).as("x"), log(col("c").cast("double")).as("y"))
        val s = xy
          .select(col("source"), struct(col("rnk"),
            col("x"), col("y"), (col("x") * col("y")).as("xy"), (col("x") * col("x")).as("xx")).as("e"))
          .groupBy("source")
          .agg(count(lit(1)).cast("double").as("n"),
            array_sort(collect_list(col("e"))).as("__s"))
        def fold(f: String) = aggregate(expr("slice(__s, 2, size(__s) - 1)"),
          element_at(col("__s"), 1).getField(f), (acc, v) => acc + v.getField(f))
        val slope = (col("n") * fold("xy") - fold("x") * fold("y")) /
          (col("n") * fold("xx") - fold("x") * fold("x"))
        s.select(col("source"), col("n").cast("long").as("n_terms"),
          round(slope, 6).as("slope"),
          round((fold("y") - slope * fold("x")) / col("n"), 6).as("intercept"))
      }),

    // Hybrid retrieval: reciprocal-rank fusion (Cormack et al. 2009) of
    // two DIFFERENT lexical ranking families for the same query — BM25
    // (q93's scorer) and ltc log-tf·idf — each top-20, fused by
    // Σ 1/(60+rank) and re-ranked top-10. Only RANKS cross the fusion
    // boundary (no score calibration), the full-outer fusion join is
    // bounded by the two 20-row lists, and both scorers share the same
    // one-row broadcast stats subtree. The same Fusion.rrf takes an ANN
    // cosine list for lexical+vector hybrid search at deployment.
    QueryDef("q134_rrf_hybrid", Some("""
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      base AS (SELECT doc_id, len(toks) AS dl,
                      len(list_filter(toks, x -> x = 'spark')) AS tf0,
                      len(list_filter(toks, x -> x = 'vector')) AS tf1,
                      len(list_filter(toks, x -> x = 'stream')) AS tf2
               FROM tok),
      stats AS (SELECT count(*) AS n, avg(dl) AS avgdl,
                       CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
                       CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
                       CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
                FROM base),
      bm AS (SELECT doc_id,
                    round(ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * (tf0 * 2.2) / (tf0 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
                        + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * (tf1 * 2.2) / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
                        + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * (tf2 * 2.2) / (tf2 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)), 6) AS score
             FROM base CROSS JOIN stats),
      abm AS (SELECT doc_id, rnk FROM (
                SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk FROM bm)
              WHERE rnk <= 20),
      lt AS (SELECT doc_id,
                    round(CASE WHEN tf0 > 0 THEN (1.0 + ln(tf0)) * ln(CAST(n AS DOUBLE) / df0) ELSE 0.0 END
                        + CASE WHEN tf1 > 0 THEN (1.0 + ln(tf1)) * ln(CAST(n AS DOUBLE) / df1) ELSE 0.0 END
                        + CASE WHEN tf2 > 0 THEN (1.0 + ln(tf2)) * ln(CAST(n AS DOUBLE) / df2) ELSE 0.0 END, 6) AS score
             FROM base CROSS JOIN stats),
      alt AS (SELECT doc_id, rnk FROM (
                SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk FROM lt)
              WHERE rnk <= 20),
      fused AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
                       coalesce(1.0 / (60 + a.rnk), 0.0) + coalesce(1.0 / (60 + b.rnk), 0.0) AS s
                FROM abm a FULL OUTER JOIN alt b ON a.doc_id = b.doc_id)
      SELECT doc_id, round(s, 6) AS rrf_score, CAST(rnk AS INTEGER) AS rnk
      FROM (SELECT *, row_number() OVER (ORDER BY round(s, 6) DESC, doc_id) AS rnk FROM fused)
      WHERE rnk <= 10"""),
      (spark, dir) => {
        val docs = T(spark, dir, "documents")
          .select(col("doc_id"), TextOps.tokenize(col("text")).as("toks"))
        val terms = Seq("spark", "vector", "stream")
        graft.llm.Fusion.rrf(Seq(
            graft.llm.Bm25.topK(docs, "doc_id", "toks", terms, 20),
            graft.llm.Bm25.ltcTopK(docs, "doc_id", "toks", terms, 20)),
          "doc_id", "rnk", c = 60, k = 10)
      }),

    // Classifier-evaluation metric: ROC-AUC of the q28 quality score as
    // a predictor of lang='en', via the Mann-Whitney rank statistic
    // AUC = (Σ ranks(pos) − nPos(nPos+1)/2) / (nPos·nNeg) — the exact
    // global-rank formulation, with the tie order made total by doc_id
    // (deterministic tie-broken AUC, documented; midrank correction is
    // a trivial variant). The global row_number is ops.GlobalRank — a
    // distributed range sort + zipWithIndex, NEVER a single-partition
    // window — and everything after is integer arithmetic until the one
    // final division, so no rounding is needed (q28 rationale).
    QueryDef("q135_quality_auc", Some(s"""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
                        CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
                 FROM documents),
      m AS (SELECT doc_id, label,
                   CAST(len(list_filter(toks, x -> x IN ($stopSqlList))) AS DOUBLE) / len(toks) AS stop_ratio,
                   CAST(len(list_filter(toks, x -> length(x) <= 2)) AS DOUBLE) / len(toks) AS short_ratio,
                   CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS DOUBLE) / len(toks) AS mean_len
            FROM t),
      q AS (SELECT doc_id, label,
                   0.5 * (1.0 - stop_ratio) + 0.3 * (1.0 - short_ratio)
                     + 0.2 * least(mean_len / 10.0, 1.0) AS quality FROM m),
      r AS (SELECT *, row_number() OVER (ORDER BY quality, doc_id) AS r FROM q)
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(label) AS BIGINT) AS n_pos,
             CAST(count(*) - sum(label) AS BIGINT) AS n_neg,
             (CAST(sum(CASE WHEN label = 1 THEN r ELSE 0 END) AS DOUBLE)
                - CAST(sum(label) AS DOUBLE) * (sum(label) + 1) / 2)
               / (CAST(sum(label) AS DOUBLE) * (count(*) - sum(label))) AS auc
      FROM r"""),
      (spark, dir) => {
        val toks = TextOps.tokenize(col("text"))
        val scored = T(spark, dir, "documents")
          .select(col("doc_id"),
            when(col("lang") === "en", 1L).otherwise(0L).as("label"),
            TextOps.qualityScore(toks, Text.Stop).as("quality"))
        graft.ops.GlobalRank.withRowNumber(scored, "r",
            Seq(col("quality").asc, col("doc_id").asc))
          .agg(count(lit(1)).as("n"), sum(col("label")).as("np"),
            sum(when(col("label") === 1, col("r")).otherwise(0L)).as("spr"))
          .select(col("n"), col("np").as("n_pos"), (col("n") - col("np")).as("n_neg"),
            ((col("spr").cast("double") - col("np").cast("double") * (col("np") + 1) / 2)
              / (col("np").cast("double") * (col("n") - col("np")))).as("auc"))
      }),

    // Histogram-sketch quantiles — the concrete 100 TB path q121's note
    // promises: per source, p50/p95 estimated from a fixed-width bucket
    // histogram whose state is pure integer counts — exactly mergeable,
    // partition-order-INDEPENDENT (unlike Greenwald-Khanna summaries,
    // whose merge order shifts the result and makes them un-oracle-able)
    // — with the exact interpolated percentile alongside and the error
    // bounded by the bucket width. The cumulative window partitions by
    // source over the bucket-count table (≤ range/width rows per
    // source), never the corpus.
    QueryDef("q155_hist_quantiles", Some(s"""
      WITH b AS (SELECT source, n_chars // $HistWidth AS b, count(*) AS c
                 FROM documents GROUP BY source, n_chars // $HistWidth),
      cum AS (SELECT source, b, sum(c) OVER (PARTITION BY source ORDER BY b) AS cum FROM b),
      n AS (SELECT source, sum(c) AS n FROM b GROUP BY source),
      s50 AS (SELECT cum.source, min(b) AS b50 FROM cum JOIN n USING (source)
              WHERE cum >= 0.5 * n GROUP BY cum.source),
      s95 AS (SELECT cum.source, min(b) AS b95 FROM cum JOIN n USING (source)
              WHERE cum >= 0.95 * n GROUP BY cum.source)
      SELECT n.source, CAST(n.n AS BIGINT) AS n_docs,
             CAST(b50 * $HistWidth + ${HistWidth / 2} AS INTEGER) AS p50_est,
             CAST(b95 * $HistWidth + ${HistWidth / 2} AS INTEGER) AS p95_est,
             round(quantile_cont(d.n_chars, 0.50), 6) AS p50_exact,
             round(quantile_cont(d.n_chars, 0.95), 6) AS p95_exact
      FROM documents d JOIN n ON d.source = n.source
        JOIN s50 ON d.source = s50.source JOIN s95 ON d.source = s95.source
      GROUP BY n.source, n.n, b50, b95"""),
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = HistWidth
        val docs = T(spark, dir, "documents")
        val b = docs.groupBy(col("source"),
            (col("n_chars") / w).cast("long").as("b"))
          .agg(count(lit(1)).as("c"))
        val cum = b.withColumn("cum",
          sum("c").over(Window.partitionBy("source").orderBy("b")))
        val n = b.groupBy("source").agg(sum("c").as("n"))
        def sel(frac: Double, out: String) = cum.join(n, "source")
          .filter(col("cum") >= lit(frac) * col("n"))
          .groupBy("source").agg(min("b").as(out))
        val ex = docs.groupBy("source")
          .agg(round(expr("percentile(n_chars, 0.50)"), 6).as("p50_exact"),
            round(expr("percentile(n_chars, 0.95)"), 6).as("p95_exact"))
        n.join(sel(0.5, "b50"), "source").join(sel(0.95, "b95"), "source")
          .join(ex, "source")
          .select(col("source"), col("n").as("n_docs"),
            (col("b50") * w + w / 2).cast("int").as("p50_est"),
            (col("b95") * w + w / 2).cast("int").as("p95_est"),
            col("p50_exact"), col("p95_exact"))
      }),

    // CCNet-style head/middle/tail bucketing (Wenzek et al. 2020): the
    // q123 bigram-LM perplexity score cut into PER-LANGUAGE tertiles —
    // quality thresholds must be relative to each language's own score
    // distribution, or low-resource languages (systematically higher
    // NLL under a shared model) would be filtered wholesale. Total
    // order inside a language = (avg_nll, doc_id), so ntile is
    // deterministic on both engines. Per-language windows are the
    // natural partitioning (parallelism = languages; a giant
    // single-language corpus would use GlobalRank.withNtile per
    // stratum instead — same numbers, two-pass, cluster-wide).
    QueryDef("q173_ccnet_buckets", Some(s"""
      WITH $BigramNllCtes,
      ppl AS (SELECT doc_id,
                     round(-list_reduce(list(logp ORDER BY g), (x, y) -> x + y)
                           / count(*), 6) AS avg_nll
              FROM lp GROUP BY doc_id),
      nt AS (SELECT p.doc_id, d.lang, p.avg_nll,
                    ntile(3) OVER (PARTITION BY d.lang
                                   ORDER BY p.avg_nll, p.doc_id) AS t
             FROM ppl p JOIN documents d USING (doc_id))
      SELECT doc_id, lang, avg_nll,
             CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
      FROM nt"""),
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = T(spark, dir, "documents")
        val scored = bigramAvgNll(docs)
          .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        val t = ntile(3).over(Window.partitionBy("lang")
          .orderBy(col("avg_nll"), col("doc_id")))
        scored.withColumn("t", t)
          .select(col("doc_id"), col("lang"), col("avg_nll"),
            when(col("t") === 1, "head").when(col("t") === 2, "middle")
              .otherwise("tail").as("bucket"))
      }),

    // Classifier evaluation of the q32 language identifier: per-language
    // precision / recall / F1 from the confusion counts (support = true
    // docs, predicted = guessed docs, tp = both). Integer counts with
    // single rounded divisions; the CTE chain is shared with q32 so the
    // classifier under evaluation cannot drift from the one registered.
    QueryDef("q189_langid_eval", Some(s"""
      WITH $LangIdCtes,
      t AS (SELECT true_lang AS lang, CAST(count(*) AS BIGINT) AS support FROM lid GROUP BY 1),
      g AS (SELECT guessed_lang AS lang, CAST(count(*) AS BIGINT) AS predicted FROM lid GROUP BY 1),
      c AS (SELECT true_lang AS lang, CAST(count(*) AS BIGINT) AS tp
            FROM lid WHERE true_lang = guessed_lang GROUP BY 1)
      SELECT t.lang, t.support, coalesce(g.predicted, 0) AS predicted,
             coalesce(c.tp, 0) AS tp,
             round(CAST(coalesce(c.tp, 0) AS DOUBLE) / greatest(coalesce(g.predicted, 0), 1), 6) AS precision,
             round(CAST(coalesce(c.tp, 0) AS DOUBLE) / t.support, 6) AS recall,
             round(2.0 * coalesce(c.tp, 0)
                   / greatest(coalesce(g.predicted, 0) + t.support, 1), 6) AS f1
      FROM t LEFT JOIN g ON t.lang = g.lang LEFT JOIN c ON t.lang = c.lang"""),
      (spark, dir) => {
        val lid = langIdFrame(spark, dir)
        val t = lid.groupBy(col("true_lang").as("lang"))
          .agg(count(lit(1)).as("support"))
        val g = lid.groupBy(col("guessed_lang").as("lang"))
          .agg(count(lit(1)).as("predicted"))
        val c = lid.filter(col("true_lang") === col("guessed_lang"))
          .groupBy(col("true_lang").as("lang")).agg(count(lit(1)).as("tp"))
        t.join(g, Seq("lang"), "left").join(c, Seq("lang"), "left")
          .select(col("lang"), col("support"),
            coalesce(col("predicted"), lit(0L)).as("predicted"),
            coalesce(col("tp"), lit(0L)).as("tp"),
            round(coalesce(col("tp"), lit(0L)).cast("double")
              / greatest(coalesce(col("predicted"), lit(0L)), lit(1L)), 6).as("precision"),
            round(coalesce(col("tp"), lit(0L)).cast("double") / col("support"), 6)
              .as("recall"),
            round(lit(2.0) * coalesce(col("tp"), lit(0L))
              / greatest(coalesce(col("predicted"), lit(0L)) + col("support"), lit(1L)), 6)
              .as("f1"))
      }),

    // One-row classifier report over the q32/q189 language-ID frame:
    // the cross-class summary q189's per-class table doesn't give —
    // accuracy, macro-F1, and Cohen's kappa (the chance-corrected
    // agreement a skewed class mix demands; Cohen 1960). All three are
    // engine-exact: per-class F1 is quantized to integer micro-units
    // via INTEGER division (floor(2·tp·10⁶/(pred+sup)) — the q212
    // fixed-point move, so the macro sum is exact with map-side
    // partials, no ordered float fold), and kappa reduces to ONE
    // division of exact integers via
    // (n·correct − Σ sup·pred) / (n² − Σ sup·pred), every count
    // product carried in decimal(38,0) (the ops.Eval idiom) so nothing
    // wraps past ~3e9 rows. The per-class F1 division is HUGEINT on
    // the oracle side: DuckDB's `//` between DECIMAL operands degrades
    // to double floor-division (exact only below 2^53), while HUGEINT
    // `//` is exact 128-bit integer division — the twin of the
    // engine's decimal `div`.
    QueryDef("q270_classifier_report", Some(s"""
      WITH $LangIdCtes,
      t AS (SELECT true_lang AS lang, count(*) AS sup FROM lid GROUP BY 1),
      g AS (SELECT guessed_lang AS lang, count(*) AS pred FROM lid GROUP BY 1),
      c AS (SELECT true_lang AS lang, count(*) AS tp
            FROM lid WHERE true_lang = guessed_lang GROUP BY 1),
      per AS (SELECT t.lang, t.sup, coalesce(g.pred, 0) AS pred,
                     coalesce(c.tp, 0) AS tp
              FROM t LEFT JOIN g USING (lang) LEFT JOIN c USING (lang)),
      agg AS (SELECT CAST(sum(sup) AS BIGINT) AS n,
                     CAST(count(*) AS INTEGER) AS n_classes,
                     CAST(sum(tp) AS BIGINT) AS correct,
                     CAST(sum(CAST(sup AS DECIMAL(38,0)) * pred) AS DECIMAL(38,0)) AS stg,
                     CAST(sum((2 * CAST(tp AS HUGEINT) * 1000000) // (pred + sup)) AS DECIMAL(38,0)) AS f1fp
              FROM per)
      SELECT n, n_classes,
             round(CAST(correct AS DOUBLE) / n, 6) AS accuracy,
             round(CAST(f1fp AS DOUBLE) / n_classes / 1000000, 6) AS macro_f1,
             round(CAST(CAST(n AS DECIMAL(38,0)) * correct - stg AS DOUBLE)
                   / CAST(CAST(n AS DECIMAL(38,0)) * n - stg AS DOUBLE), 6) AS kappa
      FROM agg"""),
      (spark, dir) => {
        val lid = langIdFrame(spark, dir)
        val t = lid.groupBy(col("true_lang").as("lang"))
          .agg(count(lit(1)).as("sup"))
        val g = lid.groupBy(col("guessed_lang").as("lang"))
          .agg(count(lit(1)).as("pred"))
        val c = lid.filter(col("true_lang") === col("guessed_lang"))
          .groupBy(col("true_lang").as("lang")).agg(count(lit(1)).as("tp"))
        val per = t.join(g, Seq("lang"), "left").join(c, Seq("lang"), "left")
          .select(col("lang"), col("sup"),
            coalesce(col("pred"), lit(0L)).as("pred"),
            coalesce(col("tp"), lit(0L)).as("tp"))
        // decimal(38,0) for every product of row counts (the ops.Eval
        // idiom): n·n, Σ sup·pred and 2·tp·10⁶ all wrap a silent Long
        // past ~3e9 rows — the one overflow class a 100 TB corpus
        // actually reaches — and DuckDB's BIGINT errors rather than
        // wraps, so without the casts the engines would also diverge
        // in FAILURE MODE at scale.
        per.agg(
            sum(col("sup")).as("n"),
            count(lit(1)).cast("int").as("n_classes"),
            sum(col("tp")).as("correct"),
            sum(col("sup").cast("decimal(38,0)") * col("pred"))
              .cast("decimal(38,0)").as("stg"),
            sum(expr("(2 * cast(tp as decimal(38,0)) * 1000000) div (pred + sup)"))
              .cast("decimal(38,0)").as("f1fp"))
          .select(col("n"), col("n_classes"),
            round(col("correct").cast("double") / col("n"), 6).as("accuracy"),
            round(col("f1fp").cast("double") / col("n_classes") / 1000000, 6)
              .as("macro_f1"),
            round((col("n").cast("decimal(38,0)") * col("correct") - col("stg")).cast("double")
              / (col("n").cast("decimal(38,0)") * col("n") - col("stg")).cast("double"), 6)
              .as("kappa"))
      }),

    // Flesch reading ease (llm.TextOps.fleschEase) — the readability
    // axis q28's lexical ratios don't measure: sentence structure and
    // syllable weight. On this punctuation-free synthetic corpus every
    // doc scores as one long sentence (the documented floor); the
    // sentence-splitting path is pinned by the TextOps spec on
    // punctuated fixtures. Counts are regex-run integers and the score
    // is a fixed IEEE chain over their ratios — bit-replayable.
    QueryDef("q234_readability", Some("""
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '\S+')) AS INTEGER) AS n_words,
             CAST(len(regexp_extract_all(text, '[.!?]+')) AS INTEGER) AS n_sentences,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS INTEGER) AS n_syllables,
             round(206.835
                   - 1.015 * (CAST(greatest(1, len(regexp_extract_all(text, '\S+'))) AS DOUBLE)
                              / greatest(1, len(regexp_extract_all(text, '[.!?]+'))))
                   - 84.6 * (CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE)
                             / greatest(1, len(regexp_extract_all(text, '\S+')))), 4)
               AS flesch
      FROM documents"""),
      (spark, dir) =>
        T(spark, dir, "documents").select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
            .as("n_words"),
          size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0)))
            .as("n_sentences"),
          size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0)))
            .as("n_syllables"),
          round(TextOps.fleschEase(col("text")), 4).as("flesch"))),

    // Zipf's-law fit over the whole vocabulary (llm.CorpusStats
    // .zipfFit) — the post-curation health check: natural text slopes
    // near -1; boilerplate flattens the head, over-dedup starves the
    // tail. Determinism: ln(rank)/ln(freq) are QUANTIZED to 1e6
    // fixed-point longs per row (ln of an exact integer, forgiving
    // sub-1e-6 libm disagreement), then every OLS moment is an exact
    // 128-bit integer sum — order-free, partial-aggregated — and
    // slope/intercept are fixed float expressions over those exact
    // integers, rounded once. Ranks via GlobalRank (sort +
    // zipWithIndex), not a single-task unpartitioned window.
    QueryDef("q247_zipf_fit", Some("""
      WITH c AS (SELECT token, CAST(count(*) AS BIGINT) AS n
                 FROM (SELECT unnest(string_split(text, ' ')) AS token
                       FROM documents)
                 GROUP BY token),
      r AS (SELECT n, row_number() OVER (ORDER BY n DESC, token) AS rnk
            FROM c),
      f AS (SELECT CAST(round(ln(CAST(rnk AS DOUBLE)) * 1000000.0) AS BIGINT) AS x,
                   CAST(round(ln(CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT) AS y,
                   n
            FROM r),
      s AS (SELECT CAST(count(*) AS BIGINT) AS n_types,
                   CAST(sum(n) AS BIGINT) AS n_tokens,
                   sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
                   sum(x::HUGEINT * y::HUGEINT) AS sxy,
                   sum(x::HUGEINT * x::HUGEINT) AS sxx
            FROM f),
      k AS (SELECT *,
              CAST(n_types * sxy - sx * sy AS DOUBLE) AS num,
              CAST(n_types * sxx - sx * sx AS DOUBLE) AS den
            FROM s)
      SELECT n_types, n_tokens,
             round(CASE WHEN den = 0.0::DOUBLE THEN 0.0::DOUBLE
                        ELSE num / den END, 6) AS slope,
             round((CAST(sy AS DOUBLE)
                    - (CASE WHEN den = 0.0::DOUBLE THEN 0.0::DOUBLE
                            ELSE num / den END) * CAST(sx AS DOUBLE))
                   / (CAST(n_types AS DOUBLE) * 1000000.0::DOUBLE), 6)
               AS intercept
      FROM k"""),
      (spark, dir) =>
        graft.llm.CorpusStats.zipfFit(T(spark, dir, "documents"), "text")),

    // Heaps'-law fit over the doc-id-ordered prefix curve
    // (llm.CorpusStats.heapsFit) — q247's companion: V ≈ K·N^β with
    // β ≈ 0.4-0.6 for natural text; slope near 1 after curation means
    // the corpus is still absorbing noise vocabularies, near 0 means
    // dedup collapsed its sources. The prefix curve is built
    // distributed: each type's FIRST document (one min-agg), new-type
    // counts per doc, cumulative sums via the two-phase PrefixSum scan
    // (never an unpartitioned running-sum window); the fit reuses
    // q247's fixed-point-log exact-moment OLS, so both sums below are
    // plain integer window sums the engines replay exactly.
    QueryDef("q250_heaps_fit", Some("""
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
                   FROM documents),
      n AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tok FROM tok),
      ft AS (SELECT tok, min(doc_id) AS fd
             FROM (SELECT doc_id, unnest(t) AS tok FROM tok) GROUP BY tok),
      nv AS (SELECT fd AS doc_id, CAST(count(*) AS BIGINT) AS n_new
             FROM ft GROUP BY fd),
      c AS (SELECT n.doc_id,
              CAST(sum(n.n_tok) OVER (ORDER BY n.doc_id) AS BIGINT) AS cn,
              CAST(sum(coalesce(nv.n_new, 0)) OVER (ORDER BY n.doc_id)
                   AS BIGINT) AS cv
            FROM n LEFT JOIN nv USING (doc_id)),
      f AS (SELECT
              CAST(round(ln(CAST(cn AS DOUBLE)) * 1000000.0) AS BIGINT) AS x,
              CAST(round(ln(CAST(cv AS DOUBLE)) * 1000000.0) AS BIGINT) AS y
            FROM c WHERE cn >= 1 AND cv >= 1),
      s AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
                   sum(x::HUGEINT * y::HUGEINT) AS sxy,
                   sum(x::HUGEINT * x::HUGEINT) AS sxx
            FROM f),
      k AS (SELECT *,
              CAST(n_docs * sxy - sx * sy AS DOUBLE) AS num,
              CAST(n_docs * sxx - sx * sx AS DOUBLE) AS den
            FROM s)
      SELECT n_docs,
             round(CASE WHEN den = 0.0::DOUBLE THEN 0.0::DOUBLE
                        ELSE num / den END, 6) AS slope,
             round((CAST(sy AS DOUBLE)
                    - (CASE WHEN den = 0.0::DOUBLE THEN 0.0::DOUBLE
                            ELSE num / den END) * CAST(sx AS DOUBLE))
                   / (CAST(n_docs AS DOUBLE) * 1000000.0::DOUBLE), 6)
               AS intercept
      FROM k"""),
      (spark, dir) =>
        graft.llm.CorpusStats.heapsFit(
          T(spark, dir, "documents"), "doc_id", "text")),

    // Count-Min sketch frequency estimation (engine.expressions
    // .CountMin, a TypedImperativeAggregate next to MisraGries/
    // KmvDistinct): depth×width integer counters in ONE mergeable
    // pass, est = min over rows of the md5-bucketed counter —
    // overestimate-only by construction (est >= exact always; the
    // oracle enforces it by matching values). Counters are plain
    // sums, so the sketch is partition-order-independent
    // (spec-pinned), and the hashRank md5 bucket recipe replays
    // verbatim in SQL: the oracle rebuilds all 4×1024 counters with a
    // GROUP BY and takes the same min for the q29-parity top-20.
    QueryDef("q252_countmin_freq", Some(countMinOracleSql),
      (spark, dir) => {
        import graft.engine.expressions.CountMin
        CountMin.register(spark)
        val toks = T(spark, dir, "documents")
          .select(explode(TextOps.tokenize(col("text"))).as("token"))
        val sk = toks.agg(CountMin.sketch(col("token"), 4, 1024).as("__sk"))
        val counts = toks.groupBy("token").agg(count(lit(1)).as("exact"))
        val top = graft.ops.TopK.exactPerKey(counts, Seq.empty,
          Seq(col("exact").desc, col("token").asc), 20, "rnk")
        top.crossJoin(broadcast(sk))
          .select(col("token"), col("exact"),
            CountMin.estimate(col("__sk"), col("token"), 4, 1024).as("est"),
            col("rnk").cast("int").as("rnk"))
      }),

    // Incremental Count-Min store (streaming.IncrementalCountMin):
    // the corpus arrives as 3 UNORDERED doc_id-mod batches — counters
    // are commutative integer sums, so unlike the order-guarded
    // forecast store ANY batch interleaving commits the bit-identical
    // grid, and the 3-batch store gates against q252's one-shot
    // oracle VERBATIM. The per-batch cost is one sketch aggregate +
    // one elementwise zip_with add of the 4×1024 grid.
    QueryDef("q253_incremental_countmin", Some(countMinOracleSql),
      (spark, dir) => {
        import graft.engine.expressions.CountMin
        CountMin.register(spark)
        val docs = T(spark, dir, "documents")
        val toks = docs.select(col("doc_id"),
          explode(TextOps.tokenize(col("text"))).as("token"))
        def batch(store: String, i: Long): Unit = {
          graft.streaming.IncrementalCountMin.processBatch(
            toks.filter(pmod(col("doc_id"), lit(3)) === i),
            i, store, "token", 4, 1024): Unit
        }
        val store = graft.GraftSession.steadyStateStore("q253", dir)(batch)
        val sk = spark.read.parquet(s"$store/v=2")
          .select(col("sk").as("__sk"))
        val counts = toks.groupBy("token").agg(count(lit(1)).as("exact"))
        val top = graft.ops.TopK.exactPerKey(counts, Seq.empty,
          Seq(col("exact").desc, col("token").asc), 20, "rnk")
        top.crossJoin(broadcast(sk))
          .select(col("token"), col("exact"),
            CountMin.estimate(col("__sk"), col("token"), 4, 1024).as("est"),
            col("rnk").cast("int").as("rnk"))
      }),

    // HyperLogLog distinct counts (engine/expressions/Hll.scala — the
    // sketch family's cardinality member): per-returnflag distinct
    // orderkeys (~11k at sf0.01, exercises the raw FFGM estimator) and
    // distinct suppkeys (~100, exercises the linear-counting branch)
    // from 256 one-byte registers each, next to the exact
    // count(distinct) the sketch replaces at scale. An exact distinct
    // over 100 TB shuffles every key once; the sketch is one streaming
    // pass with map-side partial merge and a 256-int result. The
    // oracle rebuilds every register with GROUP BY over the same md5
    // recipe and replays the estimator float-op-for-float-op.
    QueryDef("q264_hll_distinct", Some(hllOracleSql),
      (spark, dir) => {
        import graft.engine.expressions.Hll
        Hll.register(spark)
        val li = T(spark, dir, "lineitem")
        val src = li.select(col("l_returnflag").as("grp"),
            lit("orders").as("kind"), col("l_orderkey").cast("string").as("item"))
          .unionByName(li.select(col("l_returnflag").as("grp"),
            lit("supp").as("kind"), col("l_suppkey").cast("string").as("item")))
        val sk = src.groupBy("grp", "kind").agg(Hll.sketch(col("item"), 8).as("__sk"))
        val ex = src.groupBy("grp", "kind").agg(countDistinct(col("item")).as("n_exact"))
        ex.join(sk, Seq("grp", "kind"))
          .select(col("grp"), col("kind"), col("n_exact"),
            round(Hll.estimate(col("__sk"), 8), 4).as("est"))
      }),

    // Incremental HLL store (streaming.IncrementalHll): the lineitem
    // feed arrives as 3 UNORDERED l_orderkey-mod batches — registers
    // are elementwise maxes, commutative AND row-idempotent (even a
    // re-delivered half-batch cannot move one), so any interleaving
    // commits the bit-identical grid and the 3-batch store gates
    // against q264's one-shot oracle VERBATIM. Per-batch cost is one
    // sketch aggregate + one full-outer max-fold of 6 rows × 256
    // registers.
    QueryDef("q265_incremental_hll", Some(hllOracleSql),
      (spark, dir) => {
        import graft.engine.expressions.Hll
        Hll.register(spark)
        val li = T(spark, dir, "lineitem")
        val src = li.select(col("l_orderkey"), col("l_returnflag").as("grp"),
            lit("orders").as("kind"), col("l_orderkey").cast("string").as("item"))
          .unionByName(li.select(col("l_orderkey"), col("l_returnflag").as("grp"),
            lit("supp").as("kind"), col("l_suppkey").cast("string").as("item")))
        def batch(store: String, i: Long): Unit = {
          graft.streaming.IncrementalHll.processBatch(
            src.filter(pmod(col("l_orderkey"), lit(3)) === i),
            i, store, Seq("grp", "kind"), "item", 8): Unit
        }
        val store = graft.GraftSession.steadyStateStore("q265", dir)(batch)
        val sk = spark.read.parquet(s"$store/v=2")
          .withColumnRenamed("sk", "__sk")
        val ex = src.groupBy("grp", "kind").agg(countDistinct(col("item")).as("n_exact"))
        ex.join(sk, Seq("grp", "kind"))
          .select(col("grp"), col("kind"), col("n_exact"),
            round(Hll.estimate(col("__sk"), 8), 4).as("est"))
      }),

    // Mergeable quantile sketch (engine.expressions.QuantileSketch —
    // dyadic Count-Min, Cormode & Muthukrishnan 2005 §4.2): the
    // doc-length distribution monitor the corpus-health suite was
    // missing — p50/p90/p99 from one fixed-size grid where exact
    // percentiles (q58) sort-shuffle the full column. The sketch is
    // LINEAR (cells are sums of a pure per-row function), so unlike a
    // KLL/t-digest compactor its state is partition- and merge-order-
    // invariant and the oracle rebuilds every cell with GROUP BYs over
    // the same md5 recipe, then replays the integer binary descent CTE
    // by CTE (QuantileOracle) — a full hash gate, no floats anywhere.
    // The exact rank of each returned value rides alongside to expose
    // the (one-sided: Count-Min only overcounts) estimator error.
    QueryDef("q271_quantile_sketch", Some(docQuantileOracleSql),
      (spark, dir) => {
        import graft.engine.expressions.QuantileSketch
        QuantileSketch.register(spark)
        val docs = T(spark, dir, "documents")
        docQuantileReport(docs.agg(
          QuantileSketch.sketch(col("n_chars")).as("sk"),
          count(col("n_chars")).as("n")), docs)
      }),

    // Incremental quantile store (streaming.IncrementalQuantile): the
    // documents feed arrives as 3 UNORDERED doc_id-mod batches — grid
    // cells are plain integer sums, commutative across any batch split,
    // so the 3-batch store is bit-identical to the one-shot sketch and
    // gates against q271's oracle VERBATIM (the q264/q265 pairing).
    // Exactly-once comes from the version-overwrite protocol, not
    // row idempotence (sums double-count a re-delivered row; v=N is
    // rebuilt from v=N-1 + the batch, so replays rewrite instead).
    QueryDef("q272_incremental_quantile", Some(docQuantileOracleSql),
      (spark, dir) => {
        import graft.engine.expressions.QuantileSketch
        QuantileSketch.register(spark)
        val docs = T(spark, dir, "documents")
        val feed = docs.select(col("doc_id"), lit("all").as("g"), col("n_chars"))
        def batch(store: String, i: Long): Unit =
          graft.streaming.IncrementalQuantile.processBatch(
            feed.filter(pmod(col("doc_id"), lit(3)) === i),
            i, store, Seq("g"), "n_chars"): Unit
        val store = graft.GraftSession.steadyStateStore("q272", dir)(batch)
        docQuantileReport(
          spark.read.parquet(s"$store/v=2").select("sk", "n"), docs)
      }),

    // Hybrid-retrieval quality gate: recall@10 + nDCG@10 of BM25-only,
    // hashed-bag-cosine-only (llm.HashedCosine — a genuinely different
    // retrieval family: fixed-dimension embedding geometry, integer
    // fixed-point cos², the shape an ANN index serves), and their RRF
    // fusion (llm.Fusion — q134's operator), all against a PLANTED
    // graded relevance (query-term tf thresholds — known ground truth,
    // so the metrics themselves are what's under test). The q270
    // exact-integer discipline: gains 2^rel−1 are ints, position
    // discounts are precomputed floor(1e9/log2(i+1)) LITERALS shared
    // by both engines (no libm crosses the boundary), DCG/IDCG are
    // exact integer sums with map-side partials, and the only floats
    // are the two final one-division ratios (rounded 6) plus BM25's
    // own q134-contract scores.
    QueryDef("q274_retrieval_eval",
      Some(retrievalEvalSql(Seq("spark", "vector", "stream"), 10,
        RelT3, RelT2, RelT1, 64)),
      (spark, dir) => retrievalEval(spark, dir,
        Seq("spark", "vector", "stream"), 10, RelT3, RelT2, RelT1, 64)),

    // The SECOND retrieval-eval configuration (the r15 advice): a
    // disjoint query-term set, k=20 (exercising discount positions
    // 11..20 of the shared literal table), shifted relevance
    // thresholds, and a 128-bucket hashed-cosine space — proving the
    // recall/nDCG machinery is the metric, not a fixture tuned to one
    // term set. Same exact-integer discipline throughout.
    QueryDef("q279_retrieval_eval_k20",
      Some(retrievalEvalSql(Seq("join", "hash", "window"), 20,
        13, 10, 7, 128)),
      (spark, dir) => retrievalEval(spark, dir,
        Seq("join", "hash", "window"), 20, 13, 10, 7, 128)),

    // Relative-error quantiles on an UNBOUNDED domain (ops.LogHistogram
    // — HdrHistogram-style log-scale buckets): per-source doc-length
    // p50/p90/p99 where every bucket spans ≤ 2^-5 relative width and
    // the whole 62-bit range fits ~1.9k EXACT counters per group. The
    // complementary axis to q271's dyadic grid (absolute rank error,
    // bounded domain): latencies/token counts/byte sizes are heavy-
    // tailed and "p99 within 3%" is the contract a 2^16 clamp cannot
    // give. All integer ops — the exponent is length(bin(v))−1, never
    // float log2 — so the gate is a full hash match; the exact rank of
    // each returned value rides alongside (the q271 discipline).
    QueryDef("q275_log_histogram_quantiles", Some(logHistQuantileOracleSql),
      (spark, dir) => {
        import graft.ops.LogHistogram
        val docs = T(spark, dir, "documents")
        val hist = LogHistogram.histogram(docs, Seq("source"), "n_chars", 5)
        logHistQuantileReport(spark, dir, hist)
      }),

    // Incremental log-histogram store (streaming.IncrementalLogHistogram):
    // the documents feed arrives as 3 UNORDERED doc_id-mod batches —
    // bucket counts are commutative integer sums, so the 3-batch store
    // is bit-identical to the one-shot histogram and gates against
    // q275's oracle VERBATIM (the q264/q265 and q271/q272 pairing).
    // Exactly-once from the version-overwrite protocol.
    QueryDef("q276_incremental_log_histogram", Some(logHistQuantileOracleSql),
      (spark, dir) => {
        val docs = T(spark, dir, "documents")
        val feed = docs.select(col("doc_id"), col("source"), col("n_chars"))
        def batch(store: String, i: Long): Unit =
          graft.streaming.IncrementalLogHistogram.processBatch(
            feed.filter(pmod(col("doc_id"), lit(3)) === i),
            i, store, Seq("source"), "n_chars", 5): Unit
        val store = graft.GraftSession.steadyStateStore("q276", dir)(batch)
        logHistQuantileReport(spark, dir,
          spark.read.parquet(s"$store/v=2").select("source", "bucket", "cnt"))
      }),

    // The sketch's RANK read path (q271 gates quantile-by-descent;
    // this gates count-below-by-decomposition): estimated #docs with
    // length ≤ probe for five fixed probes, next to the exact count.
    // Because the probes are literals, the oracle needs NO descent —
    // each probe's canonical dyadic decomposition is precomputed by
    // the generator into literal (level, prefix) cell lookups
    // (QuantileOracle.rankPieces), summed in plain SQL. Estimates are
    // one-sided ≥ exact by construction (identity levels exact,
    // Count-Min overcounts) — visible in the output pairs.
    QueryDef("q278_quantile_rank", Some(s"""
      WITH vals AS (SELECT least(greatest(CAST(n_chars AS BIGINT), 0), 65535) AS v
                    FROM documents),
      ${QuantileOracle.rankCtes(RankProbes)}
      SELECT rk.probe, nn.n, rk.est_rank,
             (SELECT CAST(count(*) AS BIGINT) FROM vals
              WHERE vals.v <= rk.probe) AS exact_rank
      FROM rk CROSS JOIN nn"""),
      (spark, dir) => {
        import graft.engine.expressions.QuantileSketch
        QuantileSketch.register(spark)
        val docs = T(spark, dir, "documents")
        val per = docs
          .agg(QuantileSketch.sketch(col("n_chars")).as("sk"),
            count(col("n_chars")).as("n"))
          .select(col("sk"), col("n"),
            explode(array(RankProbes.map(lit): _*)).as("probe"))
          .select(col("probe"), col("n"),
            QuantileSketch.rank(col("sk"), col("probe"), col("n"))
              .as("est_rank"))
        val vals = docs.select(
          least(greatest(col("n_chars").cast("long"), lit(0L)), lit(65535L))
            .as("v"))
        vals.crossJoin(broadcast(per))
          .groupBy("probe", "n", "est_rank")
          .agg(sum(when(col("v") <= col("probe"), 1L).otherwise(0L))
            .as("exact_rank"))
      })
  )

  /** q275/q276's shared read path: a (source, bucket, cnt) histogram →
    * the three phi targets + integer quantile descent + the exact-rank
    * cross-check over the base values.
    */
  private def logHistQuantileReport(spark: org.apache.spark.sql.SparkSession,
                                    dir: String,
                                    hist: org.apache.spark.sql.DataFrame)
  : org.apache.spark.sql.DataFrame = {
    import graft.ops.LogHistogram
    val q = LogHistogram.quantiles(hist, Seq("source"), Seq(50, 90, 99), 5)
    val vals = T(spark, dir, "documents").select(col("source"),
      greatest(col("n_chars").cast("long"), lit(0L)).as("v"))
    vals.join(broadcast(q), Seq("source"))
      .groupBy("source", "phi_pct", "n", "target_rank", "est_q")
      .agg(sum(when(col("v") <= col("est_q"), 1L).otherwise(0L))
        .as("exact_rank_at_est"))
  }

  /** q271/q272's shared read path: one (sk, n) row → the three phi
    * targets, the integer descent, and the exact-rank cross-check
    * column (one conditional count over the clamped base values — the
    * n_exact discipline of the HLL family).
    */
  private def docQuantileReport(sketchRow: org.apache.spark.sql.DataFrame,
                                docs: org.apache.spark.sql.DataFrame)
  : org.apache.spark.sql.DataFrame = {
    import graft.engine.expressions.QuantileSketch
    val per = sketchRow.select(col("sk"), col("n"),
        explode(array(lit(50), lit(90), lit(99))).as("phi_pct"))
      .withColumn("target_rank", expr("(phi_pct * n + 99) div 100"))
      .withColumn("est_q", QuantileSketch.quantile(col("sk"), col("target_rank")))
      .select("phi_pct", "n", "target_rank", "est_q")
    val vals = docs.select(
      least(greatest(col("n_chars").cast("long"), lit(0L)), lit(65535L)).as("v"))
    vals.crossJoin(broadcast(per))
      .groupBy("phi_pct", "n", "target_rank", "est_q")
      .agg(sum(when(col("v") <= col("est_q"), 1L).otherwise(0L))
        .as("exact_rank_at_est"))
  }

  /** Ordered float fold over a pre-sorted `__s` array of structs — sum
    * the `valCol` field left-to-right so both engines add in the
    * identical sequence (the q101/q120 sorted-aggregate shape).
    */
  private def orderedSum(valCol: String) =
    aggregate(expr("slice(__s, 2, size(__s) - 1)"),
      element_at(col("__s"), 1).getField(valCol),
      (acc, v) => acc + v.getField(valCol))

  /** The q123 oracle's CTE chain (tok→uni→c1→v→bg→c2→lp), shared by
    * the q123 and q173 oracles so the LM definition cannot drift.
    */
  /** The q32 pipeline (doc_id, true_lang, guessed_lang), shared with
    * the q189 evaluation.
    */
  private def langIdFrame(spark: org.apache.spark.sql.SparkSession,
                          dir: String): org.apache.spark.sql.DataFrame = {
    val docs = T(spark, dir, "documents")
    val counts = docs.select(col("lang"), explode(TextOps.tokenize(col("text"))).as("token"))
      .groupBy("lang", "token").agg(count(lit(1)).as("n"))
    val profile = TopK.exactPerKey(counts, Seq("lang"),
      Seq(col("n").desc, col("token").asc), 5).select("lang", "token")
    val dtok = docs.select(col("doc_id"), col("lang").as("true_lang"),
      explode(array_distinct(TextOps.tokenize(col("text")))).as("token"))
    val scores = dtok.join(broadcast(profile.withColumnRenamed("lang", "cand_lang")), "token")
      .groupBy("doc_id", "true_lang", "cand_lang").agg(count(lit(1)).as("hits"))
    TopK.exactPerKey(scores, Seq("doc_id"),
      Seq(col("hits").desc, col("cand_lang").asc), 1)
      .select(col("doc_id"), col("true_lang"), col("cand_lang").as("guessed_lang"))
  }

  /** The q32 oracle's CTE chain ending in `lid(doc_id, true_lang,
    * guessed_lang)` — shared with the q189 classifier evaluation.
    * (`def`: defs initializes first.)
    */
  private def LangIdCtes: String = """ltok AS (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents),
      lcounts AS (SELECT lang, token, count(*) AS n FROM ltok GROUP BY lang, token),
      profile AS (
        SELECT lang, token
        FROM (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY n DESC, token) AS rn FROM lcounts)
        WHERE rn <= 5),
      dtok AS (SELECT doc_id, lang AS true_lang, unnest(list_distinct(string_split(text, ' '))) AS token
               FROM documents),
      lscores AS (SELECT d.doc_id, d.true_lang, p.lang AS cand_lang, count(*) AS hits
                  FROM dtok d JOIN profile p ON d.token = p.token
                  GROUP BY d.doc_id, d.true_lang, p.lang),
      lid AS (SELECT doc_id, true_lang, cand_lang AS guessed_lang
              FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, cand_lang) AS rn
                    FROM lscores)
              WHERE rn = 1)"""

  // `def`, not `val`: defs above initializes first, and a forward `val`
  // reference would interpolate null into the oracle SQL.
  private def BigramNllCtes: String = """tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      uni AS (SELECT unnest(t) AS w FROM tok),
      c1 AS (SELECT w, count(*) AS c1 FROM uni GROUP BY w),
      v AS (SELECT count(*) AS v FROM c1),
      bg AS (SELECT doc_id,
                    unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS g,
                    unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1
             FROM tok WHERE len(t) >= 2),
      c2 AS (SELECT g, count(*) AS c2 FROM bg GROUP BY g),
      lp AS (SELECT doc_id, b.g,
                    ln((c2 + 0.5) / (c1 + 0.5 * v)) AS logp
             FROM bg b JOIN c2 USING (g) JOIN c1 ON b.w1 = c1.w CROSS JOIN v)"""

  /** The q123 pipeline as a reusable scorer: corpus-trained add-k
    * bigram-LM average NLL per document → (doc_id, n_bigrams, avg_nll).
    * Shared by q123 and the q173 CCNet-style bucketer.
    */
  private[queries] def bigramAvgNll(docs: org.apache.spark.sql.DataFrame) = {
    val toks = TextOps.tokenize(col("text"))
    val uni = docs.select(explode(toks).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val bg = docs
      .select(col("doc_id"), explode(TextOps.ngramsAll(toks, 2)).as("g"))
      .withColumn("w1", substring_index(col("g"), " ", 1))
    val c2 = bg.groupBy("g").agg(count(lit(1)).as("c2"))
    val lp = bg.join(c2, "g").join(uni, col("w1") === col("w"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), col("g"),
        log((col("c2") + lit(0.5)) / (col("c1") + lit(0.5) * col("v"))).as("logp"))
    lp.select(col("doc_id"), struct(col("g"), col("logp").as("v")).as("e"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), array_sort(collect_list(col("e"))).as("__s"))
      .select(col("doc_id"), col("n_bigrams"),
        round(-orderedSum("v") / col("n_bigrams"), 6).as("avg_nll"))
  }
}
