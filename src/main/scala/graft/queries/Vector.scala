package graft.queries

import org.apache.spark.sql.functions._
import graft.engine.{functions => F}
import graft.llm.{DedupOps, SimSearch, TextOps}
import graft.ops.ExactSum

/** Embedding similarity search + MinHash-LSH near-dedup over the
  * embeddings/documents tables. Cosine is accumulated in double on both
  * engines (DuckDB's `list_cosine_similarity` built-in accumulates in
  * float32 — measured ~1e-8 off double accumulation, too coarse for
  * hash-compare — so the oracle spells out the same double fold).
  */
object Vector {

  /** CTE producing unit-normalized double embeddings (`un(vec_id, ne)`) —
    * mirrors SimSearch's normalize-once formulation: cast to double,
    * divide by the L2 norm accumulated left-to-right.
    */
  private val unitSql: String = """
    du AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS de
           FROM embeddings),
    un AS (SELECT vec_id,
                  list_transform(de, x -> x / sqrt(list_aggregate(
                      list_transform(de, y -> y * y), 'sum'))) AS ne
           FROM du)"""

  /** Dot product of two unit lists, sequential left-to-right sum. */
  private def dotSql(a: String, b: String): String =
    s"""list_aggregate(list_transform(range(1, len($a) + 1),
        i -> $a[i] * $b[i]), 'sum')"""

  /** SQL twin of `SimSearch.mmrTopK`: relevance pool + candidate pair
    * sims once, then k−1 unrolled greedy steps, each an anti-join
    * against the accumulated selection, a max-sim aggregate, and a
    * deterministic (score desc, id asc) argmax. Scores stay raw doubles
    * until the final round — both engines compute the same dots, so
    * every greedy choice replays bit-identically.
    */
  private def mmrSql(k: Int, pool: Int, lam: Double): String = {
    val steps = (2 to k).map { i =>
      s"""
      cand$i AS (
        SELECT p.query_id, p.vec_id, p.rel, max(pr.sim) AS ms
        FROM poole p
        JOIN mpairs pr ON pr.query_id = p.query_id AND pr.da = p.vec_id
        JOIN cum${i - 1} s ON s.query_id = pr.query_id AND s.vec_id = pr.db
        WHERE NOT EXISTS (SELECT 1 FROM cum${i - 1} x
                          WHERE x.query_id = p.query_id AND x.vec_id = p.vec_id)
        GROUP BY p.query_id, p.vec_id, p.rel),
      pick$i AS (
        SELECT query_id, $i AS step, vec_id, score FROM (
          SELECT query_id, vec_id, $lam * rel - ${1 - lam} * ms AS score,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY $lam * rel - ${1 - lam} * ms DESC, vec_id) AS rn
          FROM cand$i) WHERE rn = 1),
      cum$i AS (SELECT * FROM cum${i - 1} UNION ALL SELECT * FROM pick$i)"""
    }.mkString(",")
    s"""
      WITH $unitSql,
      mq AS (SELECT vec_id AS query_id, ne AS qe FROM un WHERE vec_id % 200 = 0),
      relt AS (SELECT mq.query_id, e.vec_id, e.ne, ${dotSql("mq.qe", "e.ne")} AS rel
               FROM un e JOIN mq ON e.vec_id <> mq.query_id),
      poole AS (SELECT query_id, vec_id, ne, rel FROM (
                  SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY rel DESC, vec_id) AS rn FROM relt) WHERE rn <= $pool),
      mpairs AS (SELECT a.query_id, a.vec_id AS da, b.vec_id AS db,
                        ${dotSql("a.ne", "b.ne")} AS sim
                 FROM poole a JOIN poole b
                   ON a.query_id = b.query_id AND a.vec_id <> b.vec_id),
      cum1 AS (SELECT query_id, 1 AS step, vec_id, rel AS score FROM (
                 SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY rel DESC, vec_id) AS rn FROM poole) WHERE rn = 1),$steps
      SELECT query_id, step, vec_id, round(score, 6) AS score FROM cum$k"""
  }

  /** Per-`keys` component means of the list column `vec` over `src`, as
    * the list `mn`: each component is an exact scaled-integer sum
    * ([[ExactSum]]) divided by the integer count — the SQL side of
    * `SimSearch.bucketMeans` and the PQ codebook means. The two zipped
    * `unnest`s are Spark's `posexplode`.
    */
  private def meanSql(src: String, keys: String, vec: String): String =
    s"""SELECT $keys, list(mj ORDER BY j) AS mn FROM (
          SELECT $keys, j, ${ExactSum.sql("x")} / count(*) AS mj
          FROM (SELECT $keys, unnest(range(1, len($vec) + 1)) AS j, unnest($vec) AS x FROM $src)
          GROUP BY $keys, j)
        GROUP BY $keys"""

  /** CTE chain `cents0 … cents$iters` — id-order seeds + `iters`
    * spherical-Lloyd refinements over `un` (the q43 discipline: assignment
    * by the left-to-right dot, per-bucket [[meanSql]] L2-renormalized,
    * empty buckets keeping the previous centroid), shared by
    * [[ivfLloydSql]] and [[ivfPqSql]].
    */
  private def lloydCentCtes(nCent: Int, iters: Int): String = {
    val lloyd = (1 to iters).map { i =>
      s"""
      assign$i AS (
        SELECT u.vec_id, u.ne, c.cent_id, ${dotSql("u.ne", "c.ce")} AS s
        FROM un u CROSS JOIN cents${i - 1} c),
      b$i AS (
        SELECT vec_id, ne, cent_id AS bucket
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cent_id) AS rn FROM assign$i)
        WHERE rn = 1),
      mean$i AS (${meanSql(s"b$i", "bucket", "ne")}),
      cents$i AS (
        SELECT c.cent_id,
               CASE WHEN n.mn IS NULL THEN c.ce
                    ELSE list_transform(n.mn, x -> x / sqrt(${dotSql("n.mn", "n.mn")})) END AS ce
        FROM cents${i - 1} c LEFT JOIN mean$i n ON c.cent_id = n.bucket)"""
    }.mkString(",")
    s"""cents0 AS (SELECT vec_id AS cent_id, ne AS ce FROM un ORDER BY vec_id LIMIT $nCent),
      ${lloyd.stripPrefix("\n")}"""
  }

  /** SQL twin of `SimSearch.ivfTopKLloyd`: [[lloydCentCtes]] centroids,
    * then the bucket/probe/top-K pipeline.
    *
    * @param filterSql optional corpus predicate over `embeddings e`
    *        (e.g. "e.label = 1"): centroids stay full-corpus (the
    *        filter-agnostic index), only the bucketed side is filtered —
    *        mirrors `SimSearch.filteredIvfTopK` exactly.
    */
  private def ivfLloydSql(nCent: Int, nProbe: Int, k: Int, iters: Int,
                          filterSql: Option[String] = None): String = {
    val bucketFilter = filterSql
      .map(f => s"JOIN embeddings e ON e.vec_id = u.vec_id AND ($f)")
      .getOrElse("")
    s"""
      WITH $unitSql,
      ${lloydCentCtes(nCent, iters)},
      assign AS (
        SELECT u.vec_id, u.ne, c.cent_id, ${dotSql("u.ne", "c.ce")} AS s
        FROM un u $bucketFilter CROSS JOIN cents$iters c),
      bucketed AS (
        SELECT vec_id, ne, cent_id AS bucket
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cent_id) AS rn FROM assign)
        WHERE rn = 1),
      q AS (SELECT vec_id AS query_id, ne AS qe FROM un WHERE vec_id % 50 = 0),
      qassign AS (
        SELECT q.query_id, q.qe, c.cent_id, ${dotSql("q.qe", "c.ce")} AS s
        FROM q CROSS JOIN cents$iters c),
      probed AS (
        SELECT query_id, qe, cent_id AS bucket
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY s DESC, cent_id) AS rn FROM qassign)
        WHERE rn <= $nProbe),
      pairs AS (
        SELECT p.query_id, b.vec_id, round(${dotSql("p.qe", "b.ne")}, 6) AS cos_sim
        FROM probed p JOIN bucketed b ON p.bucket = b.bucket AND b.vec_id <> p.query_id)
      SELECT query_id, vec_id, cos_sim, CAST(rnk AS INTEGER) AS rnk
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rnk
            FROM pairs)
      WHERE rnk <= $k"""
  }

  /** SQL twin of `SimSearch.pqTopK`: subvector rows via slicing, id-order
    * codebook seeds, `iters` unrolled Lloyd refinements per (m, code)
    * with exact-sum means ([[meanSql]]), encode, then the ADC scan —
    * per-(query, vector) score as the m-ordered sum of codeword partials.
    */
  private def pqSql(dim: Int, nSub: Int, nCodes: Int, k: Int, iters: Int): String =
    s"""
      WITH ${pqCtes(dim, nSub, nCodes, iters)}
      SELECT query_id, vec_id, adc_sim, CAST(rnk AS INTEGER) AS rnk
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_sim DESC, vec_id) AS rnk
            FROM scored)
      WHERE rnk <= $k"""

  /** [[pqSql]] chain up to `scored` (per-(query, vector) ADC scores) —
    * shared by the q101 PQ top-K and the q102 exact-rerank twin.
    */
  private def pqCtes(dim: Int, nSub: Int, nCodes: Int, iters: Int): String = {
    val sd = dim / nSub
    val lloyd = (1 to iters).map { i =>
      s"""
      passign$i AS (
        SELECT b.vec_id, b.m, b.sv, c.code, ${dotSql("b.sv", "c.ce")} AS s
        FROM sub b JOIN books${i - 1} c ON b.m = c.m),
      pa$i AS (
        SELECT vec_id, m, sv, code
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY s DESC, code) AS rn FROM passign$i)
        WHERE rn = 1),
      pmean$i AS (${meanSql(s"pa$i", "m, code", "sv")}),
      books$i AS (
        SELECT c.m, c.code, coalesce(n.mn, c.ce) AS ce
        FROM books${i - 1} c LEFT JOIN pmean$i n ON c.m = n.m AND c.code = n.code)"""
    }.mkString(",")
    s"""$unitSql,
      ms AS (SELECT unnest(range($nSub)) AS m),
      sub AS (SELECT vec_id, m, ne[m * $sd + 1 : m * $sd + $sd] AS sv FROM un CROSS JOIN ms),
      seedv AS (SELECT vec_id, ne FROM un ORDER BY vec_id LIMIT $nCodes),
      books0 AS (SELECT s.vec_id AS code, m, s.ne[m * $sd + 1 : m * $sd + $sd] AS ce
                 FROM seedv s CROSS JOIN ms),
      ${lloyd.stripPrefix("\n")},
      cassign AS (
        SELECT b.vec_id, b.m, c.code, ${dotSql("b.sv", "c.ce")} AS s
        FROM sub b JOIN books$iters c ON b.m = c.m),
      codes AS (
        SELECT vec_id, m, code
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY s DESC, code) AS rn FROM cassign)
        WHERE rn = 1),
      qs AS (SELECT vec_id AS query_id, m, sv FROM sub WHERE vec_id % 50 = 0),
      qtab AS (
        SELECT q.query_id, c.m, c.code, ${dotSql("q.sv", "c.ce")} AS p
        FROM qs q JOIN books$iters c ON q.m = c.m),
      scored AS (
        SELECT t.query_id, x.vec_id,
               round(list_aggregate(list(t.p ORDER BY t.m), 'sum'), 6) AS adc_sim
        FROM codes x JOIN qtab t ON x.m = t.m AND x.code = t.code
        WHERE x.vec_id <> t.query_id
        GROUP BY t.query_id, x.vec_id)"""
  }

  /** SQL twin of `SimSearch.pqTopKRerank`: PQ candidates (k·factor per
    * query by ADC score), exact-dot rescore against the full vectors,
    * final top-k by the exact score.
    */
  private def pqRerankSql(dim: Int, nSub: Int, nCodes: Int, k: Int,
                          iters: Int, factor: Int): String =
    s"""
      WITH ${pqCtes(dim, nSub, nCodes, iters)},
      cand AS (
        SELECT query_id, vec_id
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_sim DESC, vec_id) AS crn
              FROM scored)
        WHERE crn <= ${k * factor}),
      exact AS (
        SELECT c.query_id, c.vec_id,
               round(${dotSql("uq.ne", "uv.ne")}, 6) AS cos_sim
        FROM cand c
        JOIN un uq ON uq.vec_id = c.query_id
        JOIN un uv ON uv.vec_id = c.vec_id)
      SELECT query_id, vec_id, cos_sim, CAST(rnk AS INTEGER) AS rnk
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rnk
            FROM exact)
      WHERE rnk <= $k"""

  /** Left-to-right squared-L2 fold between two lists — the codeword
    * assignment metric of the IVF×PQ twin (squares are non-negative, so
    * DuckDB's uninitialized list sum matches Spark's 0.0-seeded fold).
    */
  private def l2sqSql(a: String, b: String): String =
    s"""list_aggregate(list_transform(range(1, len($a) + 1),
        i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), 'sum')"""

  /** SQL twin of `SimSearch.ivfPqTopK`: coarse Lloyd cells
    * ([[lloydCentCtes]]), per-vector residuals, PQ codebooks learned on
    * the residuals with argmin-L2 assignment (dist asc, code asc),
    * encode, then the probed ADC scan — score = centroid dot + m-ordered
    * codeword partial sum, top-k per query.
    */
  private def ivfPqSql(dim: Int, nSub: Int, nCodes: Int, k: Int, nCent: Int,
                       nProbe: Int, cIters: Int, pIters: Int): String = {
    val sd = dim / nSub
    val lloyd = (1 to pIters).map { i =>
      s"""
      rpassign$i AS (
        SELECT b.vec_id, b.m, b.sv, c.code, ${l2sqSql("b.sv", "c.ce")} AS d
        FROM rsub b JOIN rbooks${i - 1} c ON b.m = c.m),
      rpa$i AS (
        SELECT vec_id, m, sv, code
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d ASC, code) AS rn FROM rpassign$i)
        WHERE rn = 1),
      rpmean$i AS (${meanSql(s"rpa$i", "m, code", "sv")}),
      rbooks$i AS (
        SELECT c.m, c.code, coalesce(n.mn, c.ce) AS ce
        FROM rbooks${i - 1} c LEFT JOIN rpmean$i n ON c.m = n.m AND c.code = n.code)"""
    }.mkString(",")
    s"""
      WITH $unitSql,
      ${lloydCentCtes(nCent, cIters)},
      cassn AS (
        SELECT u.vec_id, u.ne, c.cent_id, ${dotSql("u.ne", "c.ce")} AS s
        FROM un u CROSS JOIN cents$cIters c),
      cellof AS (
        SELECT vec_id, ne, cent_id AS bucket
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cent_id) AS rn FROM cassn)
        WHERE rn = 1),
      resid AS (
        SELECT b.vec_id, b.bucket,
               list_transform(range(1, len(b.ne) + 1), i -> b.ne[i] - c.ce[i]) AS r
        FROM cellof b JOIN cents$cIters c ON b.bucket = c.cent_id),
      ms AS (SELECT unnest(range($nSub)) AS m),
      rsub AS (SELECT vec_id, m, r[m * $sd + 1 : m * $sd + $sd] AS sv FROM resid CROSS JOIN ms),
      rseed AS (SELECT vec_id, r FROM resid ORDER BY vec_id LIMIT $nCodes),
      rbooks0 AS (SELECT s.vec_id AS code, m, s.r[m * $sd + 1 : m * $sd + $sd] AS ce
                  FROM rseed s CROSS JOIN ms),
      ${lloyd.stripPrefix("\n")},
      rcassign AS (
        SELECT b.vec_id, b.m, c.code, ${l2sqSql("b.sv", "c.ce")} AS d
        FROM rsub b JOIN rbooks$pIters c ON b.m = c.m),
      codes AS (
        SELECT vec_id, m, code
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d ASC, code) AS rn FROM rcassign)
        WHERE rn = 1),
      q AS (SELECT vec_id AS query_id, ne AS qe FROM un WHERE vec_id % 50 = 0),
      qassn AS (
        SELECT q.query_id, q.qe, c.cent_id, ${dotSql("q.qe", "c.ce")} AS s
        FROM q CROSS JOIN cents$cIters c),
      probed AS (
        SELECT query_id, qe, cent_id AS bucket, s AS qc
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY s DESC, cent_id) AS rn FROM qassn)
        WHERE rn <= $nProbe),
      qsub AS (SELECT query_id, m, qe[m * $sd + 1 : m * $sd + $sd] AS sv FROM q CROSS JOIN ms),
      qtab AS (
        SELECT q.query_id, c.m, c.code, ${dotSql("q.sv", "c.ce")} AS p
        FROM qsub q JOIN rbooks$pIters c ON q.m = c.m),
      scored AS (
        SELECT p.query_id, x.vec_id,
               round(p.qc + list_aggregate(list(t.p ORDER BY t.m), 'sum'), 6) AS adc_sim
        FROM codes x
        JOIN cellof b ON b.vec_id = x.vec_id
        JOIN probed p ON p.bucket = b.bucket AND x.vec_id <> p.query_id
        JOIN qtab t ON t.query_id = p.query_id AND t.m = x.m AND t.code = x.code
        GROUP BY p.query_id, x.vec_id, p.qc)
      SELECT query_id, vec_id, adc_sim, CAST(rnk AS INTEGER) AS rnk
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_sim DESC, vec_id) AS rnk
            FROM scored)
      WHERE rnk <= $k"""
  }

  /** The ±1 hyperplane sign for LSH bit `j`, dimension `i` — evaluated
    * with the same Catalyst XxHash64 (seed 42, int-typed children) that
    * `SimSearch.hyperplaneLshPairs` executes per row, so the oracle's
    * literal sign matrix is bit-identical to the runtime's.
    */
  private def lshSign(j: Int, i: Int): Double = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val h = XxHash64(Seq(Literal(j), Literal(i)), 42L).eval(null).asInstanceOf[Long]
    if (((h % 2) + 2) % 2 == 0) 1.0 else -1.0   // pmod(h, 2) == 0 -> keep x
  }

  /** SQL twin of `SimSearch.hyperplaneLshPairs`: sign matrix as literal
    * rows, per-bit signed sums folded left-to-right, signature string
    * equality for candidates, exact-dot verify at 6 dp.
    */
  /** CTE chain replaying the LSH pipeline up to verified pairs:
    * `du`/`un` (unit vectors), `signs` (literal matrix), `sigbits`/`sig`
    * (per-bit signed sums → signature string), `cand` (signature
    * collisions), `lshpairs` (exact-dot verified at 6 dp).
    */
  private def hyperplaneCtes(nBits: Int, dim: Int, minCos: Double): String = {
    val signRows = (0 until nBits).map { j =>
      (0 until dim).map(i => if (lshSign(j, i) > 0) "1.0" else "-1.0")
        .mkString(s"($j, [", ", ", "])")
    }.mkString(",\n        ")
    s"""$unitSql,
      signs AS (SELECT * FROM (VALUES
        $signRows) AS t(j, sv)),
      sigbits AS (
        SELECT u.vec_id, s.j,
               CASE WHEN list_aggregate(list_transform(range(1, len(u.ne) + 1),
                        i -> u.ne[i] * s.sv[i]), 'sum') > 0
                    THEN '1' ELSE '0' END AS b
        FROM un u CROSS JOIN signs s),
      sig AS (SELECT vec_id, string_agg(b, '' ORDER BY j) AS sg
              FROM sigbits GROUP BY vec_id),
      cand AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
               FROM sig a JOIN sig b ON a.sg = b.sg AND a.vec_id < b.vec_id),
      lshpairs AS (
        SELECT c.id_a, c.id_b, round(${dotSql("a.ne", "b.ne")}, 6) AS cos_sim
        FROM cand c
        JOIN un a ON a.vec_id = c.id_a
        JOIN un b ON b.vec_id = c.id_b
        WHERE round(${dotSql("a.ne", "b.ne")}, 6) >= $minCos)"""
  }

  private def hyperplaneLshSql(nBits: Int, dim: Int, minCos: Double): String =
    s"""
      WITH ${hyperplaneCtes(nBits, dim, minCos)}
      SELECT id_a, id_b, cos_sim FROM lshpairs"""

  /** SQL twin of the multi-probe LSH pairs: per-bit signed sums kept as
    * VALUES (not just signs), flip order = struct sort by (|margin|, j)
    * — identical lexicographic struct ordering on both engines — and
    * each of the `nProbe` single-bit flips emitted as an extra probe
    * signature before the collision join + exact-dot verify.
    */
  private def multiProbeLshSql(nBits: Int, dim: Int, minCos: Double, nProbe: Int): String = {
    val signRows = (0 until nBits).map { j =>
      (0 until dim).map(i => if (lshSign(j, i) > 0) "1.0" else "-1.0")
        .mkString(s"($j, [", ", ", "])")
    }.mkString(",\n        ")
    val flipProbes = (1 to nProbe).map { p =>
      s"""
      SELECT vec_id,
             substr(base, 1, flips[$p]) ||
             (CASE WHEN substr(base, flips[$p] + 1, 1) = '1' THEN '0' ELSE '1' END) ||
             substr(base, flips[$p] + 2) AS sg
      FROM sigfull"""
    }.mkString("\n      UNION ALL")
    s"""
      WITH $unitSql,
      signs AS (SELECT * FROM (VALUES
        $signRows) AS t(j, sv)),
      sums AS (
        SELECT u.vec_id, s.j,
               list_aggregate(list_transform(range(1, len(u.ne) + 1),
                   i -> u.ne[i] * s.sv[i]), 'sum') AS sv
        FROM un u CROSS JOIN signs s),
      sigfull AS (
        SELECT vec_id,
               string_agg(CASE WHEN sv > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS base,
               list_transform(list_sort(list(struct_pack(m := abs(sv), j := j))),
                 x -> x.j) AS flips
        FROM sums GROUP BY vec_id),
      probes AS (
        SELECT DISTINCT vec_id, sg FROM (
          SELECT vec_id, base AS sg FROM sigfull
          UNION ALL$flipProbes)),
      cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
               FROM probes a JOIN probes b ON a.sg = b.sg AND a.vec_id < b.vec_id)
      SELECT c.id_a, c.id_b, round(${dotSql("a.ne", "b.ne")}, 6) AS cos_sim
      FROM cand c
      JOIN un a ON a.vec_id = c.id_a
      JOIN un b ON b.vec_id = c.id_b
      WHERE round(${dotSql("a.ne", "b.ne")}, 6) >= $minCos"""
  }

  /** SQL twin of q99: LSH-verified cosine edges → transitive closure
    * (recursive CTE — tractable at oracle scale; the Spark side's
    * label-propagation/union-find is the one that scales) → drop every
    * node that is not its component's min id.
    */
  private def semanticDedupSql(nBits: Int, dim: Int, minCos: Double): String =
    s"""
      WITH RECURSIVE ${hyperplaneCtes(nBits, dim, minCos)},
      sym AS (SELECT id_a AS a, id_b AS b FROM lshpairs
              UNION SELECT id_b, id_a FROM lshpairs
              UNION SELECT id_a, id_a FROM lshpairs
              UNION SELECT id_b, id_b FROM lshpairs),
      reach(a, b) AS (
        SELECT a, b FROM sym
        UNION
        SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
      comp AS (SELECT a AS node, min(b) AS component FROM reach GROUP BY a),
      losers AS (SELECT node FROM comp WHERE component < node)
      SELECT e.vec_id, e.label
      FROM embeddings e LEFT JOIN losers l ON e.vec_id = l.node
      WHERE l.node IS NULL"""

  /** SQL twin of `Sampling.leakageSafeSplit` over the q99 edge set:
    * recursive-CTE components (min-reachable-id roots, singletons their
    * own root) + the exact md5 integer-rank cluster decision.
    */
  private def leakageSafeSplitSql(nBits: Int, dim: Int, minCos: Double,
                                  evalFraction: Double): String = {
    val threshold = math.floor(evalFraction * 1000003).toLong
    s"""
      WITH RECURSIVE ${hyperplaneCtes(nBits, dim, minCos)},
      sym AS (SELECT id_a AS a, id_b AS b FROM lshpairs
              UNION SELECT id_b, id_a FROM lshpairs
              UNION SELECT id_a, id_a FROM lshpairs
              UNION SELECT id_b, id_b FROM lshpairs),
      reach(a, b) AS (
        SELECT a, b FROM sym
        UNION
        SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
      comp AS (SELECT a AS node, min(b) AS component FROM reach GROUP BY a),
      rooted AS (SELECT e.vec_id, e.label,
                        COALESCE(c.component, e.vec_id) AS root
                 FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.node)
      SELECT vec_id, label, root,
             CASE WHEN ('0x' || substr(md5(CAST(root AS VARCHAR)), 1, 15))::BIGINT
                       % 1000003 + 1 <= $threshold
                  THEN 'eval' ELSE 'train' END AS split
      FROM rooted"""
  }

  /** SQL twin of `SimSearch.randomProject`: the xxhash64-derived ±1
    * matrix as literal VALUES rows (the q53 discipline), one
    * left-to-right fold per output dim, ÷ √outDim, 6 dp.
    */
  private def randomProjectionSql(dim: Int, outDim: Int): String = {
    val signRows = (0 until outDim).map { j =>
      (0 until dim).map(i => if (lshSign(j, i) > 0) "1.0" else "-1.0")
        .mkString(s"($j, [", ", ", "])")
    }.mkString(",\n        ")
    s"""
      WITH du AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS de
                  FROM embeddings),
      signs AS (SELECT * FROM (VALUES
        $signRows) AS t(j, sv))
      SELECT du.vec_id, s.j,
             round(list_aggregate(list_transform(range(1, len(de) + 1),
                 i -> de[i] * s.sv[i]), 'sum') / sqrt($outDim.0), 6) AS y
      FROM du CROSS JOIN signs s"""
  }

  /** SQL twin of `SimSearch.rpTopK`: unit vectors, literal sign matrix,
    * rounded projected arrays on both sides, projected-dot candidate
    * rank (top k·factor, ties by id), exact-cosine rerank (top k).
    */
  private def rpTopKSql(dim: Int, outDim: Int, k: Int, factor: Int): String = {
    val signRows = (0 until outDim).map { j =>
      (0 until dim).map(i => if (lshSign(j, i) > 0) "1.0" else "-1.0")
        .mkString(s"($j, [", ", ", "])")
    }.mkString(",\n        ")
    s"""
      WITH $unitSql,
      signs AS (SELECT * FROM (VALUES
        $signRows) AS t(j, sv)),
      proj AS (
        SELECT u.vec_id,
               list(round(list_aggregate(list_transform(range(1, len(u.ne) + 1),
                   i -> u.ne[i] * s.sv[i]), 'sum') / sqrt($outDim.0), 6)
                 ORDER BY s.j) AS p
        FROM un u CROSS JOIN signs s
        GROUP BY u.vec_id),
      q AS (SELECT vec_id AS query_id, p AS qp FROM proj WHERE vec_id % 50 = 0),
      rp AS (
        SELECT q.query_id, c.vec_id,
               round(${dotSql("q.qp", "c.p")}, 6) AS rp_sim
        FROM proj c JOIN q ON c.vec_id <> q.query_id),
      cand AS (
        SELECT query_id, vec_id
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY rp_sim DESC, vec_id) AS rn FROM rp)
        WHERE rn <= ${k * factor}),
      uq AS (SELECT vec_id AS query_id, ne AS qe FROM un WHERE vec_id % 50 = 0),
      exact AS (
        SELECT c.query_id, c.vec_id,
               round(${dotSql("uq.qe", "e.ne")}, 6) AS cos_sim
        FROM cand c
        JOIN un e ON e.vec_id = c.vec_id
        JOIN uq ON uq.query_id = c.query_id)
      SELECT query_id, vec_id, cos_sim, CAST(rnk AS INTEGER) AS rnk
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cos_sim DESC, vec_id) AS rnk FROM exact)
      WHERE rnk <= $k"""
  }

  /** SQL twin of the q165 composition: q161's recursive-CTE cluster
    * split (train side) feeding q160's filtered Lloyd-IVF — centroids
    * full-corpus, bucketed side train-only.
    */
  private def splitAwareAnnSql(nBits: Int, dim: Int, minCos: Double,
                               evalFraction: Double, nCent: Int,
                               nProbe: Int, k: Int, iters: Int): String = {
    val threshold = math.floor(evalFraction * 1000003).toLong
    s"""
      WITH RECURSIVE ${hyperplaneCtes(nBits, dim, minCos)},
      sym AS (SELECT id_a AS a, id_b AS b FROM lshpairs
              UNION SELECT id_b, id_a FROM lshpairs
              UNION SELECT id_a, id_a FROM lshpairs
              UNION SELECT id_b, id_b FROM lshpairs),
      reach(a, b) AS (
        SELECT a, b FROM sym
        UNION
        SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
      comp AS (SELECT a AS node, min(b) AS component FROM reach GROUP BY a),
      rooted AS (SELECT e.vec_id, COALESCE(c.component, e.vec_id) AS root
                 FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.node),
      train AS (SELECT vec_id FROM rooted
                WHERE ('0x' || substr(md5(CAST(root AS VARCHAR)), 1, 15))::BIGINT
                      % 1000003 + 1 > $threshold),
      ${lloydCentCtes(nCent, iters)},
      assign AS (
        SELECT u.vec_id, u.ne, c.cent_id, ${dotSql("u.ne", "c.ce")} AS s
        FROM un u JOIN train t ON t.vec_id = u.vec_id
        CROSS JOIN cents$iters c),
      bucketed AS (
        SELECT vec_id, ne, cent_id AS bucket
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cent_id) AS rn FROM assign)
        WHERE rn = 1),
      q AS (SELECT vec_id AS query_id, ne AS qe FROM un WHERE vec_id % 50 = 0),
      qassign AS (
        SELECT q.query_id, q.qe, c.cent_id, ${dotSql("q.qe", "c.ce")} AS s
        FROM q CROSS JOIN cents$iters c),
      probed AS (
        SELECT query_id, qe, cent_id AS bucket
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY s DESC, cent_id) AS rn FROM qassign)
        WHERE rn <= $nProbe),
      pairs AS (
        SELECT p.query_id, b.vec_id, round(${dotSql("p.qe", "b.ne")}, 6) AS cos_sim
        FROM probed p JOIN bucketed b ON p.bucket = b.bucket AND b.vec_id <> p.query_id)
      SELECT query_id, vec_id, cos_sim, CAST(rnk AS INTEGER) AS rnk
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rnk
            FROM pairs)
      WHERE rnk <= $k"""
  }

  /** q213 posting-list cap (the q120 SimMaxDf discipline). */
  private val SimMaxDfV = 100

  val defs: Seq[QueryDef] = Seq(

    // Split-aware retrieval - the q161 x q160 composition: ANN search
    // restricted to the TRAIN side of the leakage-safe cluster split,
    // so a RAG training loop can never surface an eval document (the
    // retrieval-side complement of decontamination). Full hash oracle:
    // the recursive-CTE split feeds the filtered Lloyd-IVF twin.
    QueryDef("q165_split_aware_ann",
      Some(splitAwareAnnSql(nBits = 6, dim = 64, minCos = 0.3,
        evalFraction = 0.2, nCent = 16, nProbe = 4, k = 10, iters = 2)),
      (spark, dir) => {
        val emb = T(spark, dir, "embeddings")
        val edges = SimSearch.hyperplaneLshPairs(emb, "vec_id", "embedding",
            minCos = 0.3, nBits = 6)
          .select(col("id_a"), col("id_b"))
        val trainIds = graft.ops.Sampling.leakageSafeSplit(
            emb.select(col("vec_id")), "vec_id", edges, "id_a", "id_b", 0.2)
          .filter(col("split") === "train").select("vec_id")
        SimSearch.filteredIvfTopKByIds(emb, trainIds,
            emb.filter(col("vec_id") % 50 === 0),
            "vec_id", "embedding", 10, nCentroids = 16, nProbe = 4, iters = 2)
          .select("query_id", "vec_id", "cos_sim", "rnk")
      }),

    // JL-compressed brute force + exact rerank: candidates ranked by the
    // 16-dim projected dot (outDim/dim of the arithmetic and broadcast
    // bytes), top k*4 reranked at full precision - the sq8 cheap-scan /
    // exact-rerank shape with JL as the compressor. Full hash oracle.
    QueryDef("q164_rp_ann", Some(rpTopKSql(dim = 64, outDim = 16, k = 10, factor = 4)),
      (spark, dir) => {
        val emb = T(spark, dir, "embeddings")
        SimSearch.rpTopK(emb, emb.filter(col("vec_id") % 50 === 0),
            "vec_id", "embedding", 10, dim = 64, outDim = 16, rerankFactor = 4)
          .select("query_id", "vec_id", "cos_sim", "rnk")
      }),

    // Johnson-Lindenstrauss sparse-sign random projection, 64 -> 16
    // dims: the dimensionality-reduction front of the ANN family (at
    // real widths it cuts every downstream shuffle/scan/cache 16x with
    // JL-bounded dot distortion). The +-1 matrix is xxhash64-derived -
    // the SAME hyperplane family as q53, so LSH signature bit j is the
    // sign of projection dim j - and embeds as literals in the SQL twin.
    QueryDef("q163_random_projection", Some(randomProjectionSql(dim = 64, outDim = 16)),
      (spark, dir) =>
        SimSearch.randomProject(T(spark, dir, "embeddings"),
          "vec_id", "embedding", dim = 64, outDim = 16)),

    // Leakage-safe train/eval split: near-dup CLUSTERS (q99's verified
    // hyperplane-LSH edges -> components) are the unit of assignment,
    // so an eval document can never be a paraphrase of a training one.
    // The decision is the md5 integer rank of the cluster root - exact
    // integer compare, no float boundary, reproduced bit-for-bit by the
    // DuckDB twin's recursive-CTE components.
    QueryDef("q161_leakage_safe_split",
      Some(leakageSafeSplitSql(nBits = 6, dim = 64, minCos = 0.3, evalFraction = 0.2)),
      (spark, dir) => {
        val emb = T(spark, dir, "embeddings")
        val edges = SimSearch.hyperplaneLshPairs(emb, "vec_id", "embedding",
            minCos = 0.3, nBits = 6)
          .select(col("id_a"), col("id_b"))
        graft.ops.Sampling.leakageSafeSplit(
          emb.select(col("vec_id"), col("label")), "vec_id",
          edges, "id_a", "id_b", 0.2)
      }),

    // Brute-force exact ANN baseline: top-10 cosine neighbors for each
    // query vector (vec_id % 50 = 0), broadcast-queries × corpus scan.
    QueryDef("q23_cosine_topk", Some(s"""
      WITH $unitSql,
      q AS (SELECT vec_id AS query_id, ne AS qe FROM un WHERE vec_id % 50 = 0),
      pairs AS (
        SELECT q.query_id, e.vec_id, round(${dotSql("q.qe", "e.ne")}, 6) AS cos_sim
        FROM un e JOIN q ON e.vec_id <> q.query_id)
      SELECT query_id, vec_id, cos_sim, CAST(rnk AS INTEGER) AS rnk
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rnk
            FROM pairs)
      WHERE rnk <= 10"""),
      (spark, dir) => {
        val emb = T(spark, dir, "embeddings")
        SimSearch.bruteForceTopK(emb, emb.filter(col("vec_id") % 50 === 0),
            "vec_id", "embedding", 10)
          .select("query_id", "vec_id", "cos_sim", "rnk")
      }),

    // ANN tier auto-selection, exact tier end to end: recallTarget 1.0
    // routes SimSearch.autoTopK's planner to brute force, so the whole
    // planner + dispatch path is gated by the same oracle as q23, which
    // it must reproduce bit for bit. The approximate tiers are
    // recall-gated in LlmOpsSpec (no SQL twin can replay a recall
    // TARGET — only a tier's exact output).
    QueryDef("q218_auto_topk", Some(s"""
      WITH $unitSql,
      q AS (SELECT vec_id AS query_id, ne AS qe FROM un WHERE vec_id % 50 = 0),
      pairs AS (
        SELECT q.query_id, e.vec_id, round(${dotSql("q.qe", "e.ne")}, 6) AS cos_sim
        FROM un e JOIN q ON e.vec_id <> q.query_id)
      SELECT query_id, vec_id, cos_sim, CAST(rnk AS INTEGER) AS rnk
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rnk
            FROM pairs)
      WHERE rnk <= 10"""),
      (spark, dir) => {
        val emb = T(spark, dir, "embeddings")
        SimSearch.autoTopK(emb, emb.filter(col("vec_id") % 50 === 0),
            "vec_id", "embedding", 10, recallTarget = 1.0)
          .select("query_id", "vec_id", "cos_sim", "rnk")
      }),

    // Embedding near-dup: all pairs >= 0.35 cosine within a sampled slice.
    QueryDef("q24_cosine_pairs", Some(s"""
      WITH $unitSql,
      s AS (SELECT vec_id, ne FROM un WHERE vec_id % 3 = 0)
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(${dotSql("a.ne", "b.ne")}, 6) AS cos_sim
      FROM s a JOIN s b ON a.vec_id < b.vec_id
      WHERE round(${dotSql("a.ne", "b.ne")}, 6) >= 0.35"""),
      (spark, dir) =>
        SimSearch.thresholdPairs(
          T(spark, dir, "embeddings").filter(col("vec_id") % 3 === 0),
          "vec_id", "embedding", 0.35)),

    // L2 normalization audit: norms + first normalized component.
    QueryDef("q25_embedding_norms", Some("""
      SELECT vec_id, label,
             round(sqrt(list_aggregate(list_transform(range(1, len(embedding) + 1),
                 i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), 'sum')), 6) AS l2_norm,
             round(CAST(embedding[1] AS DOUBLE)
                   / sqrt(list_aggregate(list_transform(range(1, len(embedding) + 1),
                       i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), 'sum')), 6) AS first_unit
      FROM embeddings"""),
      (spark, dir) =>
        T(spark, dir, "embeddings").select(col("vec_id"), col("label"),
          round(F.l2Norm(col("embedding")), 6).as("l2_norm"),
          round(element_at(F.l2Normalize(col("embedding")), 1), 6).as("first_unit"))),

    // Random-hyperplane LSH cosine near-dup (the 100 TB replacement for
    // the quadratic q24): signature shuffle + in-bucket exact verify.
    // Full hash oracle: the hyperplanes are xxhash64-derived ±1 signs —
    // a pure function of (bit, dim), no RNG state — so the 6×64 sign
    // matrix is evaluated once here (Catalyst XxHash64, the exact
    // runtime semantics incl. the seed) and embedded as literals in the
    // SQL twin; the signature fold is the same left-to-right double sum
    // the other vector oracles already replay IEEE-identically.
    QueryDef("q53_hyperplane_lsh", Some(hyperplaneLshSql(nBits = 6, dim = 64, minCos = 0.15)),
      (spark, dir) =>
        SimSearch.hyperplaneLshPairs(T(spark, dir, "embeddings"),
          "vec_id", "embedding", minCos = 0.15, nBits = 6)),

    // Multi-probe hyperplane LSH: each vector also probes its nProbe
    // lowest-|margin| bit flips — recall toward multi-table LSH without
    // extra hash tables (Lv et al. VLDB'07 adapted to sign projection).
    // Full hash oracle via the literal sign matrix + identical struct
    // sort for the flip order.
    QueryDef("q100_multiprobe_lsh",
      Some(multiProbeLshSql(nBits = 8, dim = 64, minCos = 0.3, nProbe = 2)),
      (spark, dir) =>
        SimSearch.hyperplaneLshPairsMultiProbe(T(spark, dir, "embeddings"),
          "vec_id", "embedding", minCos = 0.3, nBits = 8, nProbe = 2)),

    // Semantic dedup end-to-end: embedding-cosine near-dup edges (LSH
    // candidates, exact-dot verified) clustered to duplicate groups, one
    // representative (min vec_id) kept per group — the embedding-space
    // counterpart of the q77/q79 text dedup flows, full hash oracle.
    QueryDef("q99_semantic_dedup", Some(semanticDedupSql(nBits = 6, dim = 64, minCos = 0.3)),
      (spark, dir) => {
        val emb = T(spark, dir, "embeddings")
        val edges = SimSearch.hyperplaneLshPairs(emb, "vec_id", "embedding",
            minCos = 0.3, nBits = 6)
          .select(col("id_a"), col("id_b"))
        graft.ops.ConnectedComponents.dedupByComponents(
          emb.select(col("vec_id"), col("label")), "vec_id", edges, "id_a", "id_b")
      }),

    // IVF-bucketed approximate ANN with LEARNED centroids: id-order
    // seeding refined by 2 deterministic spherical-Lloyd iterations
    // (every mean an exact scaled-integer sum, so the SQL twin replays
    // the exact double bits — same trick as the literal LSH sign
    // matrix), corpus bucketed by nearest centroid, queries probe their 4 nearest
    // buckets.
    QueryDef("q43_ivf_ann", Some(ivfLloydSql(nCent = 16, nProbe = 4, k = 10, iters = 2)),
      (spark, dir) => {
        val emb = T(spark, dir, "embeddings")
        SimSearch.ivfTopKLloyd(emb, emb.filter(col("vec_id") % 50 === 0),
            "vec_id", "embedding", 10, nCentroids = 16, nProbe = 4, iters = 2)
          .select("query_id", "vec_id", "cos_sim", "rnk")
      }),

    // BUILD-once half of the IVF serving pair (r18 verdict item 4):
    // train q43's Lloyd centroids ONCE, assign the corpus, persist both
    // frames as parquet — the batch index-build job of a production
    // deployment. The readout (and the hash oracle) is the per-bucket
    // occupancy + id checksum of what landed ON DISK, so the oracle
    // gates the persisted assignment itself, not an in-memory twin.
    QueryDef("q313_ivf_build", Some(s"""
      WITH $unitSql,
      ${lloydCentCtes(16, 2)},
      assign AS (
        SELECT u.vec_id, c.cent_id, ${dotSql("u.ne", "c.ce")} AS s
        FROM un u CROSS JOIN cents2 c),
      bucketed AS (
        SELECT vec_id, cent_id AS bucket
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cent_id) AS rn FROM assign)
        WHERE rn = 1)
      SELECT CAST(bucket AS BIGINT) AS bucket,
             CAST(count(*) AS BIGINT) AS n_vectors,
             CAST(sum(vec_id) AS BIGINT) AS id_sum
      FROM bucketed GROUP BY bucket ORDER BY bucket"""),
      (spark, dir) => {
        val p = buildIvfIndexFiles(spark, dir)
        spark.read.parquet(s"$p/postings")
          .groupBy(col("bucket").cast("long").as("bucket"))
          .agg(count(lit(1)).as("n_vectors"),
            sum(col("vec_id")).as("id_sum"))
          .orderBy("bucket")
      }),

    // PROBE-only half: read the q313 index back from parquet and answer
    // the q43 query batch against it — no centroid training, no corpus
    // assignment, just the per-batch serving cost. The oracle is
    // LITERALLY q43's SQL: the persisted-index path must reproduce the
    // in-memory path bit for bit (builds on miss, so the query is
    // self-contained when run alone).
    QueryDef("q314_ivf_probe", Some(ivfLloydSql(nCent = 16, nProbe = 4, k = 10, iters = 2)),
      (spark, dir) => {
        val p = ensureIvfIndexFiles(spark, dir)
        val emb = T(spark, dir, "embeddings")
        SimSearch.queryIvfIndex(emb.filter(col("vec_id") % 50 === 0),
            "vec_id", "embedding", p, 10, nProbe = 4)
          .select(col("query_id"), col("vec_id"), col("cos_sim"),
            col("rnk").cast("int").as("rnk"))
      }),

    // PRODUCTION-SIZE codebook assignment, hash-oracled: the flat
    // literal-codebook `NearestCentroid` path is exercised by the q43
    // family only at 16 centroids; this query runs the SAME n=1
    // assignment at 256 centroids (the size where the r18 unrolled
    // form collapsed 300x, SCALE.md r19 #1) so the scan-loop argmax is
    // DuckDB-gated at the JIT-cliff size, not just spec-pinned at
    // 4096. Codebook = the first 256 normalized embeddings by id
    // (deterministic, SQL-expressible); readout = integer per-bucket
    // occupancy + id checksum, so the hash gates every assignment
    // decision without floats in the output.
    QueryDef("q315_large_codebook_assign", Some(s"""
      WITH $unitSql,
      cents AS (SELECT vec_id AS cent_id, ne AS ce FROM un ORDER BY vec_id LIMIT 256),
      assign AS (
        SELECT u.vec_id, c.cent_id, ${dotSql("u.ne", "c.ce")} AS s
        FROM un u CROSS JOIN cents c),
      b AS (
        SELECT vec_id, cent_id AS bucket
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cent_id) AS rn FROM assign)
        WHERE rn = 1)
      SELECT CAST(bucket AS BIGINT) AS bucket,
             CAST(count(*) AS BIGINT) AS n_vectors,
             CAST(sum(vec_id) AS BIGINT) AS id_sum
      FROM b GROUP BY bucket ORDER BY bucket"""),
      (spark, dir) => {
        val emb = T(spark, dir, "embeddings")
        val un = SimSearch.unitized(emb, "vec_id", "embedding", "vec_id", "__ne")
        val cents = un.orderBy("vec_id").limit(256)
          .select(col("vec_id").as("cent_id"), col("__ne").as("cent_emb"))
        SimSearch.nearestBuckets(un, cents, "vec_id", "__ne", 1)
          .groupBy(col("bucket").cast("long").as("bucket"))
          .agg(count(lit(1)).as("n_vectors"),
            sum(col("vec_id")).as("id_sum"))
          .orderBy("bucket")
      }),

    // Metadata-FILTERED ANN — vector search with a WHERE clause:
    // pre-filtered semantics (only label=1 rows are ranked, a query is
    // never starved by post-filtering), filter-agnostic index (Lloyd
    // centroids on the FULL corpus, as a shared prebuilt index would
    // be), and the predicate lands on the corpus scan. Full hash
    // oracle: the q43 SQL twin with the bucketed side filtered.
    QueryDef("q160_filtered_ann",
      Some(ivfLloydSql(nCent = 16, nProbe = 4, k = 10, iters = 2,
        filterSql = Some("e.label = 1"))),
      (spark, dir) => {
        val emb = T(spark, dir, "embeddings")
        SimSearch.filteredIvfTopK(emb, emb.filter(col("vec_id") % 50 === 0),
            "vec_id", "embedding", col("label") === 1, 10,
            nCentroids = 16, nProbe = 4, iters = 2)
          .select("query_id", "vec_id", "cos_sim", "rnk")
      }),

    // Product-quantization ANN: per-subspace learned codebooks (id-order
    // seeds + 1 exact-sum Lloyd step), corpus encoded as 8 code ids
    // per vector (the 100 TB storage shape: 512 B of doubles → 8 code
    // bytes), asymmetric-distance scan against the broadcast query
    // lookup table. Full hash oracle — every mean is an exact sum.
    QueryDef("q101_pq_ann", Some(pqSql(dim = 64, nSub = 8, nCodes = 16, k = 10, iters = 1)),
      (spark, dir) => {
        val emb = T(spark, dir, "embeddings")
        SimSearch.pqTopK(emb, emb.filter(col("vec_id") % 50 === 0),
            "vec_id", "embedding", 10, dim = 64, nSub = 8, nCodes = 16, iters = 1)
          .select("query_id", "vec_id", "adc_sim", "rnk")
      }),

    // IVF×PQ composition — the billion-scale ANN layout: coarse Lloyd
    // cells + product-quantized RESIDUAL codes, probed ADC scan over
    // codes only. Storage is cell id + 8 code bytes per vector; a query
    // reads 2/8 of the cells. Full hash oracle: every stage keeps the
    // q43/q101 exact-sum discipline (argmin-L2 codewords, dist asc /
    // code asc; score = centroid dot + m-ordered partial sum).
    QueryDef("q159_ivfpq_ann",
      Some(ivfPqSql(dim = 64, nSub = 8, nCodes = 16, k = 10, nCent = 8,
        nProbe = 2, cIters = 1, pIters = 1)),
      (spark, dir) => {
        val emb = T(spark, dir, "embeddings")
        SimSearch.ivfPqTopK(emb, emb.filter(col("vec_id") % 50 === 0),
            "vec_id", "embedding", 10, dim = 64, nCent = 8, nProbe = 2,
            cIters = 1, nSub = 8, nCodes = 16, pIters = 1)
          .select("query_id", "vec_id", "adc_sim", "rnk")
      }),

    // Two-stage PQ retrieval: compressed ADC scan proposes k·4
    // candidates, exact dot rescore picks the final top-10 — PQ's
    // standard accuracy recovery, exact stage bounded by the candidate
    // set. Full hash oracle (shared PQ CTE chain + exact-dot rerank).
    QueryDef("q102_pq_rerank",
      Some(pqRerankSql(dim = 64, nSub = 8, nCodes = 16, k = 10, iters = 1, factor = 4)),
      (spark, dir) => {
        val emb = T(spark, dir, "embeddings")
        SimSearch.pqTopKRerank(emb, emb.filter(col("vec_id") % 50 === 0),
            "vec_id", "embedding", 10, dim = 64, nSub = 8, nCodes = 16,
            iters = 1, rerankFactor = 4)
          .select("query_id", "vec_id", "cos_sim", "rnk")
      }),

    // Scalar-quantization (SQ8) ANN: per-vector int8 codes + (minv,
    // step) — the 8×-smaller persistable scan (1 byte/dim vs 8), far
    // higher fidelity than PQ's 64×. Score = minv·Σq + step·⟨codes,q⟩,
    // every fold ordered → full hash oracle.
    QueryDef("q118_sq8_ann", Some(s"""
      WITH $unitSql,
      mm AS (SELECT vec_id, ne, list_aggregate(ne, 'min') AS minv,
                    (list_aggregate(ne, 'max') - list_aggregate(ne, 'min')) / 255.0 AS step
             FROM un),
      enc AS (SELECT vec_id, minv, step,
                     list_transform(ne, x -> CASE WHEN step = 0 THEN 0
                         ELSE floor((x - minv) / step + 0.5) END) AS codes
              FROM mm),
      q AS (SELECT vec_id AS query_id, ne AS qe, list_aggregate(ne, 'sum') AS qsum
            FROM un WHERE vec_id % 50 = 0),
      scored AS (
        SELECT q.query_id, e.vec_id,
               round(e.minv * q.qsum + e.step * list_aggregate(
                   list_transform(range(1, len(q.qe) + 1),
                     i -> CAST(e.codes[i] AS DOUBLE) * q.qe[i]), 'sum'), 6) AS sq_sim
        FROM enc e JOIN q ON e.vec_id <> q.query_id)
      SELECT query_id, vec_id, sq_sim, CAST(rnk AS INTEGER) AS rnk
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sq_sim DESC, vec_id) AS rnk
            FROM scored)
      WHERE rnk <= 10"""),
      (spark, dir) => {
        val emb = T(spark, dir, "embeddings")
        SimSearch.sq8TopK(emb, emb.filter(col("vec_id") % 50 === 0),
            "vec_id", "embedding", 10)
          .select("query_id", "vec_id", "sq_sim", "rnk")
      }),

    // MinHash-LSH near-dup candidates over 2-gram shingles: 4 bands × 2
    // universal-hash min-hashes (one md5 per shingle + affine mixes,
    // MinHashBands bit-for-bit), candidates verified with true Jaccard.
    QueryDef("q26_minhash_lsh", Some(s"""
      WITH ${lshCtes("documents")}
      SELECT id_a, id_b, jaccard FROM verified"""),
      (spark, dir) =>
        lshPairs(spark, dir)
          .select(col("id_a"), col("id_b"), col("jaccard"))),

    // SimHash near-dup pairs (hamming <= 3 over 32-bit signatures):
    // 4x8-bit block banding makes the candidate join collision-only
    // (pigeonhole recall guarantee), verify is xor + bit_count. The
    // oracle replays the identical md5-derived bit votes.
    QueryDef("q92_simhash_neardup", Some("""
      WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
      h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 8))::BIGINT AS hv FROM tok),
      bits AS (SELECT doc_id, j, sum(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS votes
               FROM h CROSS JOIN (SELECT unnest(range(32)) AS j) js GROUP BY doc_id, j),
      sig AS (SELECT doc_id, CAST(sum(CASE WHEN votes > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS sh
              FROM bits GROUP BY doc_id),
      blocks AS (SELECT doc_id, sh, b, (sh >> (8 * b)) & 255 AS blk
                 FROM sig CROSS JOIN (SELECT unnest(range(4)) AS b) bs),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sh AS sh_a, b.sh AS sh_b
               FROM blocks a JOIN blocks b ON a.b = b.b AND a.blk = b.blk AND a.doc_id < b.doc_id)
      SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
      FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3"""),
      (spark, dir) =>
        DedupOps.simhashNearDups(
          T(spark, dir, "documents")
            .select(col("doc_id"), TextOps.tokenize(col("text")).as("toks")),
          "doc_id", "toks")),

    // Dedup clustering: strong near-dup pairs (jaccard >= 0.5) become
    // duplicate GROUPS via min-label connected components
    // (ops.ConnectedComponents — O(diameter) label-join rounds). The
    // oracle derives the same components with a recursive-CTE transitive
    // closure (tractable at oracle scale; the Spark side is the one that
    // scales).
    QueryDef("q77_dedup_components", Some(s"""
      WITH RECURSIVE ${lshCtes("documents")},
      strong AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.5),
      sym AS (SELECT id_a AS a, id_b AS b FROM strong
              UNION SELECT id_b, id_a FROM strong
              UNION SELECT id_a, id_a FROM strong
              UNION SELECT id_b, id_b FROM strong),
      reach(a, b) AS (
        SELECT a, b FROM sym
        UNION
        SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a)
      SELECT a AS node, min(b) AS component
      FROM reach GROUP BY a"""),
      (spark, dir) => {
        val strong = lshPairs(spark, dir).filter(col("jaccard") >= 0.5)
        graft.ops.ConnectedComponents.labelPropagation(strong, "id_a", "id_b")
      }),

    // Higher-order array functions as a first-class surface: filter /
    // exists / transform+aggregate / zip_with over the embedding column
    // (the same primitives the similarity kernels build on).
    QueryDef("q91_array_hof", Some("""
      WITH de AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                  FROM embeddings)
      SELECT vec_id,
             CAST(len(list_filter(e, x -> x > 0)) AS INTEGER) AS n_pos,
             CAST(CASE WHEN len(list_filter(e, x -> x > 0.9)) > 0 THEN 1 ELSE 0 END AS INTEGER) AS any_big,
             round(list_aggregate(list_transform(e, x -> greatest(x, 0.0)), 'sum'), 6) AS clipped_sum,
             round(list_aggregate(list_transform(range(1, len(e) + 1),
                 i -> e[i] * e[len(e) - i + 1]), 'sum'), 6) AS rev_dot
      FROM de"""),
      (spark, dir) =>
        T(spark, dir, "embeddings")
          .withColumn("e", transform(col("embedding"), x => x.cast("double")))
          .select(col("vec_id"),
            size(filter(col("e"), x => x > 0)).as("n_pos"),
            when(exists(col("e"), x => x > 0.9), 1).otherwise(0).as("any_big"),
            round(aggregate(transform(col("e"), x => greatest(x, lit(0.0))),
              lit(0.0), (acc, x) => acc + x), 6).as("clipped_sum"),
            round(aggregate(zip_with(col("e"), reverse(col("e")), (a, b) => a * b),
              lit(0.0), (acc, x) => acc + x), 6).as("rev_dot"))),

    // The full training-corpus pipeline (flows.CorpusPipeline): quality
    // filter → exact dedup → LSH near-dup + components dedup →
    // deterministic split. The oracle replays every stage, including
    // the recursive-CTE component closure and the hash-derived split.
    QueryDef("q79_corpus_pipeline", Some {
      val stopList = Text.Stop.map(s => s"'$s'").mkString(", ")
      s"""
      WITH RECURSIVE
      t0 AS (SELECT doc_id, lang, text, string_split(text, ' ') AS toks FROM documents),
      scored AS (
        SELECT doc_id, lang, text, len(toks) AS n_tokens,
               0.5 * (1.0 - CAST(len(list_filter(toks, x -> x IN ($stopList))) AS DOUBLE) / len(toks))
             + 0.3 * (1.0 - CAST(len(list_filter(toks, x -> length(x) <= 2)) AS DOUBLE) / len(toks))
             + 0.2 * least(CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS DOUBLE)
                           / len(toks) / 10.0, 1.0) AS quality
        FROM t0),
      kept1 AS (SELECT * FROM scored WHERE quality >= 0.8),
      kept2 AS (
        SELECT k.* FROM kept1 k
        JOIN (SELECT md5(text) AS fp, min(doc_id) AS keep FROM kept1 GROUP BY 1) d
          ON md5(k.text) = d.fp AND k.doc_id = d.keep),
      ${lshCtes("kept2")},
      strong AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.5),
      sym AS (SELECT id_a AS a, id_b AS b FROM strong
              UNION SELECT id_b, id_a FROM strong
              UNION SELECT id_a, id_a FROM strong
              UNION SELECT id_b, id_b FROM strong),
      reach(a, b) AS (
        SELECT a, b FROM sym
        UNION
        SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
      comp AS (SELECT a AS node, min(b) AS component FROM reach GROUP BY a),
      losers AS (SELECT node FROM comp WHERE node <> component)
      SELECT doc_id, lang, CAST(n_tokens AS INTEGER) AS n_tokens,
             quality,
             CASE WHEN (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                        % 1000003 + 1) / 1000004.0 < 0.9 THEN 'train' ELSE 'val' END AS split
      FROM kept2 WHERE doc_id NOT IN (SELECT node FROM losers)"""
    },
      (spark, dir) =>
        graft.flows.CorpusPipeline.run(T(spark, dir, "documents"),
            graft.flows.CorpusPipeline.Config(stop = Text.Stop))
          .withColumn("n_tokens", col("n_tokens").cast("int"))),

    // Label-centroid confusion map: the per-class mean embedding, then
    // pairwise cosine between class centroids — the embedding-space
    // diagnostic that tells a labeler which classes its encoder cannot
    // separate. The per-class mean is an id-ordered fold (the q101
    // codebook shape) so the float sum is bit-identical across engines;
    // at scale the ordered fold swaps for a plain avg (order-tolerant)
    // with the same one-shuffle plan. The pair stage is |labels|² on
    // centroid rows — bounded by the label space, never by the corpus.
    QueryDef("q122_centroid_similarity", Some(s"""
      WITH du AS (SELECT vec_id, label,
                         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS de
                  FROM embeddings),
      cent AS (
        SELECT label, cnt,
               list_transform(
                 list_reduce(list(de ORDER BY vec_id),
                   (a, b) -> list_transform(range(1, len(a) + 1), i -> a[i] + b[i])),
                 x -> x / cnt) AS ce
        FROM (SELECT label, vec_id, de,
                     count(*) OVER (PARTITION BY label) AS cnt FROM du)
        GROUP BY label, cnt),
      n AS (SELECT label, cnt, ce,
                   sqrt(${dotSql("ce", "ce")}) AS nrm FROM cent)
      SELECT a.label AS label_a, b.label AS label_b,
             CAST(a.cnt AS BIGINT) AS n_a, CAST(b.cnt AS BIGINT) AS n_b,
             round(${dotSql("a.ce", "b.ce")} / (a.nrm * b.nrm), 6) AS cos_sim
      FROM n a JOIN n b ON a.label < b.label"""),
      (spark, dir) => {
        import graft.engine.expressions.DotProduct.dot
        graft.engine.expressions.DotProduct.register(spark)
        val du = T(spark, dir, "embeddings")
          .select(col("vec_id"), col("label"),
            col("embedding").cast("array<double>").as("de"))
        val cent = du
          .groupBy("label")
          .agg(count(lit(1)).as("cnt"),
            array_sort(collect_list(struct(col("vec_id"), col("de")))).as("ms"))
          .select(col("label"), col("cnt"),
            transform(
              aggregate(expr("slice(ms, 2, size(ms) - 1)"),
                element_at(col("ms"), 1).getField("de"),
                (acc, v) => zip_with(acc, v.getField("de"), (a, b) => a + b)),
              x => x / col("cnt")).as("ce"))
        val n = cent.withColumn("nrm", sqrt(dot(col("ce"), col("ce"))))
        val a = n.select(col("label").as("label_a"), col("cnt").as("n_a"),
          col("ce").as("ce_a"), col("nrm").as("na"))
        val b = n.select(col("label").as("label_b"), col("cnt").as("n_b"),
          col("ce").as("ce_b"), col("nrm").as("nb"))
        a.join(b, col("label_a") < col("label_b"))
          .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
            round(dot(col("ce_a"), col("ce_b")) / (col("na") * col("nb")), 6)
              .as("cos_sim"))
      }),

    // Canonical-representative selection: the step AFTER q77's near-dup
    // clustering — per cluster, KEEP the highest-quality member (q28
    // score, doc_id tiebreak) and report cluster size; singleton docs
    // are their own canonical. This is the full dedup decision a corpus
    // intake executes: LSH candidate pairs (banded, never all-pairs) →
    // label-propagation components → one map-side-combine argmax per
    // cluster (max_by on (quality, −doc_id) — no per-cluster window,
    // no sort). Quality doubles are computed identically on both
    // engines and used for selection; unrounded per the q28 rationale.
    QueryDef("q129_canonical_neardup", Some(s"""
      WITH RECURSIVE ${lshCtes("documents")},
      strong AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.5),
      sym AS (SELECT id_a AS a, id_b AS b FROM strong
              UNION SELECT id_b, id_a FROM strong
              UNION SELECT id_a, id_a FROM strong
              UNION SELECT id_b, id_b FROM strong),
      reach(a, b) AS (
        SELECT a, b FROM sym
        UNION
        SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
      comp AS (SELECT a AS node, min(b) AS component FROM reach GROUP BY a),
      m AS (SELECT doc_id,
                   CAST(len(list_filter(toks, x -> x IN (${Text.Stop.map(s => s"'$s'").mkString(", ")}))) AS DOUBLE) / len(toks) AS stop_ratio,
                   CAST(len(list_filter(toks, x -> length(x) <= 2)) AS DOUBLE) / len(toks) AS short_ratio,
                   CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS DOUBLE) / len(toks) AS mean_len
            FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
      q AS (SELECT doc_id, 0.5 * (1.0 - stop_ratio) + 0.3 * (1.0 - short_ratio)
                     + 0.2 * least(mean_len / 10.0, 1.0) AS quality FROM m),
      j AS (SELECT q.doc_id, coalesce(c.component, q.doc_id) AS component, q.quality
            FROM q LEFT JOIN comp c ON q.doc_id = c.node),
      r AS (SELECT *, row_number() OVER (PARTITION BY component ORDER BY quality DESC, doc_id) AS rn,
                   count(*) OVER (PARTITION BY component) AS nm FROM j)
      SELECT component, doc_id AS canonical_id, CAST(nm AS INTEGER) AS n_members, quality
      FROM r WHERE rn = 1"""),
      (spark, dir) => {
        val strong = lshPairs(spark, dir).filter(col("jaccard") >= 0.5)
        val comp = graft.ops.ConnectedComponents.labelPropagation(strong, "id_a", "id_b")
        T(spark, dir, "documents")
          .select(col("doc_id"),
            TextOps.qualityScore(TextOps.tokenize(col("text")), Text.Stop).as("quality"))
          .join(comp, col("doc_id") === col("node"), "left")
          .select(col("doc_id"),
            coalesce(col("component"), col("doc_id")).as("component"), col("quality"))
          .groupBy("component")
          .agg(count(lit(1)).cast("int").as("n_members"),
            max_by(struct(col("doc_id"), col("quality")),
              struct(col("quality"), -col("doc_id"))).as("__w"))
          .select(col("component"), col("__w.doc_id").as("canonical_id"),
            col("n_members"), col("__w.quality").as("quality"))
      }),

    // Cross-source duplication map: which source pairs share near-dup
    // content (who syndicates whom) — verified LSH pairs joined back to
    // each side's source, the pair normalized to (least, greatest) so
    // direction doesn't split counts. The join-back is two id-keyed
    // dimension joins on the PAIR table (already banded-bounded), never
    // a rescan of text; avg similarity is an id-ordered fold for hash
    // exactness (plain avg at true scale — same plan).
    QueryDef("q131_cross_source_dup", Some(s"""
      WITH RECURSIVE ${lshCtes("documents")},
      strong AS (SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= 0.5),
      lab AS (SELECT s.id_a, s.id_b, s.jaccard,
                     least(da.source, db.source) AS source_a,
                     greatest(da.source, db.source) AS source_b
              FROM strong s JOIN documents da ON s.id_a = da.doc_id
                            JOIN documents db ON s.id_b = db.doc_id)
      SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs,
             round(list_reduce(list(jaccard ORDER BY id_a, id_b), (x, y) -> x + y)
                   / count(*), 6) AS avg_jaccard
      FROM lab GROUP BY source_a, source_b"""),
      (spark, dir) => {
        val src = T(spark, dir, "documents").select(col("doc_id"), col("source"))
        val lab = lshPairs(spark, dir).filter(col("jaccard") >= 0.5)
          .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")), "id_a")
          .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")), "id_b")
          .select(col("id_a"), col("id_b"), col("jaccard"),
            least(col("sa"), col("sb")).as("source_a"),
            greatest(col("sa"), col("sb")).as("source_b"))
        lab
          .select(col("source_a"), col("source_b"),
            struct(col("id_a"), col("id_b"), col("jaccard").as("v")).as("e"))
          .groupBy("source_a", "source_b")
          .agg(count(lit(1)).as("n_pairs"), array_sort(collect_list(col("e"))).as("__s"))
          .select(col("source_a"), col("source_b"), col("n_pairs"),
            round(aggregate(expr("slice(__s, 2, size(__s) - 1)"),
              element_at(col("__s"), 1).getField("v"),
              (acc, x) => acc + x.getField("v")) / col("n_pairs"), 6).as("avg_jaccard"))
      }),

    // ANN quality measured UNDER THE ORACLE: recall@10 of the SQ8
    // compressed scan against the exact cosine top-10, per query — the
    // number an ANN deployment monitors. Both rankings are already
    // hash-oracled paths (q118, q23); the overlap count is one bounded
    // join of two 10-row-per-query lists and the recall is a single
    // integer division.
    QueryDef("q137_sq8_recall", Some(s"""
      WITH $unitSql,
      mm AS (SELECT vec_id, ne, list_aggregate(ne, 'min') AS minv,
                    (list_aggregate(ne, 'max') - list_aggregate(ne, 'min')) / 255.0 AS step
             FROM un),
      enc AS (SELECT vec_id, minv, step,
                     list_transform(ne, x -> CASE WHEN step = 0 THEN 0
                         ELSE floor((x - minv) / step + 0.5) END) AS codes
              FROM mm),
      q AS (SELECT vec_id AS query_id, ne AS qe, list_aggregate(ne, 'sum') AS qsum
            FROM un WHERE vec_id % 50 = 0),
      sscored AS (
        SELECT q.query_id, e.vec_id,
               round(e.minv * q.qsum + e.step * list_aggregate(
                   list_transform(range(1, len(q.qe) + 1),
                     i -> CAST(e.codes[i] AS DOUBLE) * q.qe[i]), 'sum'), 6) AS s
        FROM enc e JOIN q ON e.vec_id <> q.query_id),
      ann AS (SELECT query_id, vec_id FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id) AS rnk
                FROM sscored) WHERE rnk <= 10),
      escored AS (
        SELECT q.query_id, e.vec_id, round(${dotSql("q.qe", "e.ne")}, 6) AS s
        FROM un e JOIN q ON e.vec_id <> q.query_id),
      exa AS (SELECT query_id, vec_id FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id) AS rnk
                FROM escored) WHERE rnk <= 10)
      SELECT query_id, CAST(count(*) AS BIGINT) AS n_overlap,
             count(*) / 10.0 AS recall_at_10
      FROM ann JOIN exa USING (query_id, vec_id) GROUP BY query_id"""),
      (spark, dir) => {
        val emb = T(spark, dir, "embeddings")
        val qs = emb.filter(col("vec_id") % 50 === 0)
        val ann = SimSearch.sq8TopK(emb, qs, "vec_id", "embedding", 10)
          .select("query_id", "vec_id")
        val exa = SimSearch.bruteForceTopK(emb, qs, "vec_id", "embedding", 10)
          .select("query_id", "vec_id")
        ann.join(exa, Seq("query_id", "vec_id"))
          .groupBy("query_id").agg(count(lit(1)).as("n_overlap"))
          .select(col("query_id"), col("n_overlap"),
            (col("n_overlap") / lit(10.0)).as("recall_at_10"))
      }),

    // Ranking-quality metric: NDCG@10 of the exact cosine retrieval
    // against same-label relevance — the graded-relevance companion to
    // q135's AUC. DCG folds rel/log2(rank+1) in rank order (unique
    // ranks); IDCG folds the ideal prefix 1/log2(i+1) over the query's
    // relevant count — both ≤10-element ordered folds, so the ratio
    // replays bit-identically; zero-relevant queries emit 0.
    QueryDef("q138_ndcg", Some(s"""
      WITH $unitSql,
      lab AS (SELECT vec_id, label FROM embeddings),
      q AS (SELECT vec_id AS query_id, ne AS qe FROM un WHERE vec_id % 50 = 0),
      scored AS (
        SELECT q.query_id, e.vec_id, round(${dotSql("q.qe", "e.ne")}, 6) AS s
        FROM un e JOIN q ON e.vec_id <> q.query_id),
      topk AS (SELECT query_id, vec_id, rnk FROM (
                 SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id) AS rnk
                 FROM scored) WHERE rnk <= 10),
      rel AS (SELECT t.query_id, t.rnk,
                     CASE WHEN lq.label = lc.label THEN 1 ELSE 0 END AS rel
              FROM topk t JOIN lab lq ON t.query_id = lq.vec_id
                          JOIN lab lc ON t.vec_id = lc.vec_id),
      agg AS (SELECT query_id,
                     CAST(sum(rel) AS BIGINT) AS n_rel,
                     list_aggregate(list(CAST(rel AS DOUBLE) / log2(rnk + 1) ORDER BY rnk), 'sum') AS dcg
              FROM rel GROUP BY query_id),
      ideal AS (SELECT query_id, n_rel, dcg,
                       coalesce(list_aggregate(list_transform(range(1, n_rel + 1),
                         i -> 1.0 / log2(CAST(i AS DOUBLE) + 1)), 'sum'), 0.0) AS idcg
                FROM agg)
      SELECT query_id, n_rel,
             CASE WHEN idcg = 0 THEN 0.0 ELSE round(dcg / idcg, 6) END AS ndcg
      FROM ideal"""),
      (spark, dir) => {
        val emb = T(spark, dir, "embeddings")
        val lab = emb.select(col("vec_id"), col("label"))
        val topk = SimSearch.bruteForceTopK(emb,
          emb.filter(col("vec_id") % 50 === 0), "vec_id", "embedding", 10)
        val rel = topk
          .join(lab.select(col("vec_id").as("query_id"), col("label").as("__lq")), "query_id")
          .join(lab.select(col("vec_id"), col("label").as("__lc")), "vec_id")
          .select(col("query_id"), col("rnk"),
            when(col("__lq") === col("__lc"), 1).otherwise(0).as("rel"))
        val agg = rel
          .select(col("query_id"),
            struct(col("rnk"), (col("rel").cast("double") / log2(col("rnk") + 1)).as("v")).as("e"),
            col("rel"))
          .groupBy("query_id")
          .agg(sum(col("rel")).cast("long").as("n_rel"),
            array_sort(collect_list(col("e"))).as("__s"))
          .select(col("query_id"), col("n_rel"),
            aggregate(expr("slice(__s, 2, size(__s) - 1)"),
              element_at(col("__s"), 1).getField("v"),
              (acc, v) => acc + v.getField("v")).as("dcg"))
        // sequence(1, 0) would generate a DESCENDING [1, 0] — guard the
        // zero-relevant case explicitly (DuckDB's range(1, 1) is empty)
        val ideal = agg.withColumn("idcg",
          when(col("n_rel") === 0, lit(0.0)).otherwise(
            aggregate(transform(sequence(lit(1), col("n_rel").cast("int")),
                i => lit(1.0) / log2(i.cast("double") + 1)),
              lit(0.0), (acc, x) => acc + x)))
        ideal.select(col("query_id"), col("n_rel"),
          when(col("idcg") === 0, lit(0.0))
            .otherwise(round(col("dcg") / col("idcg"), 6)).as("ndcg"))
      }),

    // MMR-diversified retrieval (the RAG reranking step): greedy top-5
    // per query maximizing λ·relevance − (1−λ)·max-similarity-to-
    // already-selected over a top-20 relevance pool — near-duplicate
    // hits cannot crowd a result list. Pooling is the brute-force
    // broadcast+group-limit shape; every later step is bounded by the
    // pool (≤400 pair rows/query), with per-query argmax as map-side
    // max_by. Both engines pick from bit-identical dots, so the greedy
    // trajectory hash-matches end-to-end.
    QueryDef("q133_mmr_rerank", Some(mmrSql(k = 5, pool = 20, lam = 0.7)),
      (spark, dir) => {
        val emb = T(spark, dir, "embeddings")
        SimSearch.mmrTopK(emb, emb.filter(col("vec_id") % 200 === 0),
          "vec_id", "embedding", k = 5, poolSize = 20, lambda = 0.7)
      }),

    // MRR of the compressed scan (q137's recall@10 companion — the other
    // number an ANN deployment monitors): for each query, where does the
    // TRUE nearest neighbor (exact cosine #1) land in the SQ8 ranking?
    // Rank is computed by COUNTING strictly-better (score, id) pairs —
    // one join + one aggregation over the same pair space the SQ8 scan
    // already generates, never a materialized full ranking. rr = 1/rank,
    // identical single divisions on both engines.
    QueryDef("q153_mrr", Some(s"""
      WITH $unitSql,
      mm AS (SELECT vec_id, ne, list_aggregate(ne, 'min') AS minv,
                    (list_aggregate(ne, 'max') - list_aggregate(ne, 'min')) / 255.0 AS step
             FROM un),
      enc AS (SELECT vec_id, minv, step,
                     list_transform(ne, x -> CASE WHEN step = 0 THEN 0
                         ELSE floor((x - minv) / step + 0.5) END) AS codes
              FROM mm),
      q AS (SELECT vec_id AS query_id, ne AS qe, list_aggregate(ne, 'sum') AS qsum
            FROM un WHERE vec_id % 50 = 0),
      sscored AS (
        SELECT q.query_id, e.vec_id,
               round(e.minv * q.qsum + e.step * list_aggregate(
                   list_transform(range(1, len(q.qe) + 1),
                     i -> CAST(e.codes[i] AS DOUBLE) * q.qe[i]), 'sum'), 6) AS s
        FROM enc e JOIN q ON e.vec_id <> q.query_id),
      escored AS (
        SELECT q.query_id, e.vec_id, round(${dotSql("q.qe", "e.ne")}, 6) AS s
        FROM un e JOIN q ON e.vec_id <> q.query_id),
      exa1 AS (SELECT query_id, vec_id FROM (
                 SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id) AS rnk
                 FROM escored) WHERE rnk = 1),
      t AS (SELECT s.query_id, s.vec_id AS true_nn, s.s AS ts
            FROM sscored s JOIN exa1 e ON s.query_id = e.query_id AND s.vec_id = e.vec_id),
      b AS (SELECT t.query_id, count(*) AS n_better
            FROM sscored s JOIN t ON s.query_id = t.query_id
            WHERE s.s > t.ts OR (s.s = t.ts AND s.vec_id < t.true_nn)
            GROUP BY t.query_id)
      SELECT t.query_id, t.true_nn,
             CAST(coalesce(b.n_better, 0) + 1 AS INTEGER) AS ann_rank,
             round(1.0 / (coalesce(b.n_better, 0) + 1), 6) AS rr
      FROM t LEFT JOIN b USING (query_id)"""),
      (spark, dir) => {
        val emb = T(spark, dir, "embeddings")
        val qs = emb.filter(col("vec_id") % 50 === 0)
        val exa1 = SimSearch.bruteForceTopK(emb, qs, "vec_id", "embedding", 1)
          .select(col("query_id"), col("vec_id").as("true_nn"))
        val sq = SimSearch.sq8Scores(emb, qs, "vec_id", "embedding")
        val t = sq.join(exa1,
            sq("query_id") === exa1("query_id") && sq("vec_id") === exa1("true_nn"))
          .select(sq("query_id"), col("true_nn"), col("sq_sim").as("ts"))
        val b = sq.join(t, "query_id")
          .filter(col("sq_sim") > col("ts") ||
            (col("sq_sim") === col("ts") && col("vec_id") < col("true_nn")))
          .groupBy("query_id").agg(count(lit(1)).as("n_better"))
        t.join(b, Seq("query_id"), "left").na.fill(0L, Seq("n_better"))
          .select(col("query_id"), col("true_nn"),
            (col("n_better") + 1).cast("int").as("ann_rank"),
            round(lit(1.0) / (col("n_better") + 1), 6).as("rr"))
      }),

    // Hard-negative mining for retriever training: per query, the
    // top-5 documents the compressed scan scores HIGHEST among those NOT
    // in the exact cosine top-10 — near-misses are exactly the negatives
    // a contrastive embedding model learns most from (random negatives
    // are trivially separable). One anti-join of two already-oracled
    // rankings + a group-limit; the pair space is the SQ8 scan's own.
    QueryDef("q156_hard_negatives", Some(s"""
      WITH $unitSql,
      mm AS (SELECT vec_id, ne, list_aggregate(ne, 'min') AS minv,
                    (list_aggregate(ne, 'max') - list_aggregate(ne, 'min')) / 255.0 AS step
             FROM un),
      enc AS (SELECT vec_id, minv, step,
                     list_transform(ne, x -> CASE WHEN step = 0 THEN 0
                         ELSE floor((x - minv) / step + 0.5) END) AS codes
              FROM mm),
      q AS (SELECT vec_id AS query_id, ne AS qe, list_aggregate(ne, 'sum') AS qsum
            FROM un WHERE vec_id % 50 = 0),
      sscored AS (
        SELECT q.query_id, e.vec_id,
               round(e.minv * q.qsum + e.step * list_aggregate(
                   list_transform(range(1, len(q.qe) + 1),
                     i -> CAST(e.codes[i] AS DOUBLE) * q.qe[i]), 'sum'), 6) AS s
        FROM enc e JOIN q ON e.vec_id <> q.query_id),
      escored AS (
        SELECT q.query_id, e.vec_id, round(${dotSql("q.qe", "e.ne")}, 6) AS s
        FROM un e JOIN q ON e.vec_id <> q.query_id),
      exa AS (SELECT query_id, vec_id FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id) AS rnk
                FROM escored) WHERE rnk <= 10),
      neg AS (SELECT s.* FROM sscored s LEFT JOIN exa e
              ON s.query_id = e.query_id AND s.vec_id = e.vec_id
              WHERE e.vec_id IS NULL)
      SELECT query_id, vec_id, s AS sq_sim, CAST(rnk AS INTEGER) AS rnk FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id) AS rnk
        FROM neg) WHERE rnk <= 5"""),
      (spark, dir) => {
        val emb = T(spark, dir, "embeddings")
        val qs = emb.filter(col("vec_id") % 50 === 0)
        val exa = SimSearch.bruteForceTopK(emb, qs, "vec_id", "embedding", 10)
          .select("query_id", "vec_id")
        val neg = SimSearch.sq8Scores(emb, qs, "vec_id", "embedding")
          .join(exa, Seq("query_id", "vec_id"), "left_anti")
        graft.ops.TopK.exactPerKey(neg, Seq("query_id"),
            Seq(col("sq_sim").desc, col("vec_id").asc), 5, "rnk")
          .withColumn("rnk", col("rnk").cast("int"))
      }),

    // Margin-scored mutual nearest neighbors (Artetxe & Schwenk 2019 —
    // the bitext/embedding-alignment miner): the corpus split into two
    // spaces, each side's k-NN found in the other, pair scores divided
    // by the mean of both endpoints' k-NN similarities (the margin
    // kills hubs that are merely close to everything), and only pairs
    // that are EACH OTHER's best margin survive. k-NN means fold in
    // rank order, so every margin is engine-identical; candidates are
    // the k-NN slivers, never the cross product.
    QueryDef("q183_mutual_nn", Some(s"""
      WITH $unitSql,
      xs AS (SELECT vec_id, ne FROM un WHERE vec_id % 2 = 0),
      ys AS (SELECT vec_id, ne FROM un WHERE vec_id % 2 = 1),
      xy AS (SELECT * FROM (
               SELECT x.vec_id AS xid, y.vec_id AS yid,
                      round(${dotSql("x.ne", "y.ne")}, 6) AS c,
                      row_number() OVER (PARTITION BY x.vec_id
                        ORDER BY round(${dotSql("x.ne", "y.ne")}, 6) DESC, y.vec_id) AS rnk
               FROM xs x JOIN ys y ON true) WHERE rnk <= 4),
      yx AS (SELECT * FROM (
               SELECT y.vec_id AS yid, x.vec_id AS xid,
                      round(${dotSql("y.ne", "x.ne")}, 6) AS c,
                      row_number() OVER (PARTITION BY y.vec_id
                        ORDER BY round(${dotSql("y.ne", "x.ne")}, 6) DESC, x.vec_id) AS rnk
               FROM ys y JOIN xs x ON true) WHERE rnk <= 4),
      ax AS (SELECT xid, list_reduce(list_prepend(0.0, list(c ORDER BY rnk)),
                      (a, v) -> a + v) / 4 AS avgx FROM xy GROUP BY xid),
      ay AS (SELECT yid, list_reduce(list_prepend(0.0, list(c ORDER BY rnk)),
                      (a, v) -> a + v) / 4 AS avgy FROM yx GROUP BY yid),
      cand AS (SELECT xid, yid, c FROM xy
               UNION SELECT xid, yid, c FROM yx),
      m AS (SELECT cand.xid, cand.yid, c,
                   c / ((avgx + avgy) / 2) AS margin
            FROM cand JOIN ax USING (xid) JOIN ay USING (yid)),
      bx AS (SELECT xid, yid, c, margin,
                    row_number() OVER (PARTITION BY xid ORDER BY margin DESC, yid) AS r
             FROM m),
      byy AS (SELECT xid, yid,
                    row_number() OVER (PARTITION BY yid ORDER BY margin DESC, xid) AS r
             FROM m)
      SELECT bx.xid AS x_id, bx.yid AS y_id, bx.c AS cos_sim,
             round(bx.margin, 6) AS margin
      FROM bx JOIN byy ON bx.xid = byy.xid AND bx.yid = byy.yid
      WHERE bx.r = 1 AND byy.r = 1"""),
      (spark, dir) => {
        val emb = T(spark, dir, "embeddings")
        val xs = emb.filter(col("vec_id") % 2 === 0)
        val ys = emb.filter(col("vec_id") % 2 === 1)
        val k = 4
        def knn(corpus: org.apache.spark.sql.DataFrame,
                queries: org.apache.spark.sql.DataFrame) =
          SimSearch.bruteForceTopK(corpus, queries, "vec_id", "embedding", k)
        val xy = knn(ys, xs).select(col("query_id").as("xid"),
          col("vec_id").as("yid"), col("cos_sim").as("c"), col("rnk"))
        val yx = knn(xs, ys).select(col("query_id").as("yid"),
          col("vec_id").as("xid"), col("cos_sim").as("c"), col("rnk"))
        def knnMean(df: org.apache.spark.sql.DataFrame, idc: String, out: String) =
          df.select(col(idc), struct(col("rnk"), col("c").as("v")).as("e"))
            .groupBy(idc)
            .agg(array_sort(collect_list(col("e"))).as("__s"))
            .select(col(idc),
              (aggregate(col("__s"), lit(0.0), (a, x) => a + x.getField("v")) / k)
                .as(out))
        val ax = knnMean(xy, "xid", "avgx")
        val ay = knnMean(yx, "yid", "avgy")
        val cand = xy.select("xid", "yid", "c")
          .unionByName(yx.select("xid", "yid", "c")).distinct()
        val m = cand.join(ax, "xid").join(ay, "yid")
          .withColumn("margin", col("c") / ((col("avgx") + col("avgy")) / 2))
        val bx = graft.ops.TopK.exactPerKey(m, Seq("xid"),
          Seq(col("margin").desc, col("yid").asc), 1, "__rx")
        val by = graft.ops.TopK.exactPerKey(m.select("xid", "yid", "margin"),
          Seq("yid"), Seq(col("margin").desc, col("xid").asc), 1, "__ry")
        bx.join(by.select("xid", "yid"), Seq("xid", "yid"))
          .select(col("xid").as("x_id"), col("yid").as("y_id"),
            col("c").as("cos_sim"), round(col("margin"), 6).as("margin"))
      }),

    // Embedding class-separation report — the retrieval-embedding QA
    // check before an index is trusted: per label, the spherical
    // centroid (exact-sum mean, renormalized — the q43 Lloyd
    // discipline), then each vector's cosine to its OWN centroid vs its
    // best OTHER centroid. mean margin ≈ a centroid silhouette;
    // frac_correct is nearest-centroid classification accuracy. Labels
    // are the parallelism; the per-vector work is |labels| codegen'd
    // dots against a broadcast centroid table — no pairwise anything.
    QueryDef("q186_class_separation", Some(s"""
      WITH $unitSql,
      lb AS (SELECT u.vec_id, u.ne, e.label FROM un u JOIN embeddings e USING (vec_id)),
      meanv AS (${meanSql("lb", "label", "ne")}),
      cent AS (SELECT label AS clabel,
                      list_transform(mn, x -> x / sqrt(${dotSql("mn", "mn")})) AS ce
               FROM meanv),
      sc AS (SELECT l.vec_id, l.label, c.clabel, ${dotSql("l.ne", "c.ce")} AS s
             FROM lb l CROSS JOIN cent c),
      own AS (SELECT vec_id, label, s AS s_own FROM sc WHERE label = clabel),
      oth AS (SELECT vec_id, max(s) AS s_oth FROM sc WHERE label <> clabel GROUP BY vec_id),
      per AS (SELECT o.vec_id, o.label, o.s_own, t.s_oth,
                     o.s_own - t.s_oth AS margin, o.s_own > t.s_oth AS correct
              FROM own o JOIN oth t USING (vec_id))
      SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
             round(${ExactSum.sql("s_own")} / count(*), 6) AS mean_own,
             round(${ExactSum.sql("margin")} / count(*), 6) AS mean_margin,
             round(CAST(sum(CASE WHEN correct THEN 1 ELSE 0 END) AS DOUBLE)
                   / count(*), 6) AS frac_correct
      FROM per GROUP BY label"""),
      (spark, dir) => {
        import graft.engine.expressions.DotProduct
        val emb = T(spark, dir, "embeddings")
        val u = SimSearch.unitized(emb, "vec_id", "embedding", "vec_id", "__ne")
        val lb = u.join(emb.select(col("vec_id"), col("label")), "vec_id")
        val cents = SimSearch.bucketMeans(lb.withColumnRenamed("label", "bucket"))
        val sc = lb.crossJoin(broadcast(cents))
          .select(col("vec_id"), col("label"), col("cent_id").as("clabel"),
            DotProduct.dot(col("__ne"), col("__new")).as("s"))
        val own = sc.filter(col("label") === col("clabel"))
          .select(col("vec_id"), col("label"), col("s").as("s_own"))
        val oth = sc.filter(col("label") =!= col("clabel"))
          .groupBy("vec_id").agg(max(col("s")).as("s_oth"))
        val per = own.join(oth, "vec_id")
          .withColumn("margin", col("s_own") - col("s_oth"))
          .withColumn("correct", col("s_own") > col("s_oth"))
        per.groupBy("label")
          .agg(count(lit(1)).as("n_vecs"),
            ExactSum(col("s_own")).as("__own"),
            ExactSum(col("margin")).as("__mar"),
            sum(when(col("correct"), 1L).otherwise(0L)).as("__nc"))
          .select(col("label"), col("n_vecs"),
            round(col("__own") / col("n_vecs"), 6).as("mean_own"),
            round(col("__mar") / col("n_vecs"), 6).as("mean_margin"),
            round(col("__nc").cast("double") / col("n_vecs"), 6).as("frac_correct"))
      }),

    // Dedup impact report — what the near-dup pass actually buys,
    // stated per cluster size: how many clusters of each size exist,
    // the character mass they carry, and the mass that SURVIVES when
    // only each cluster's min-id representative is kept. The number a
    // curation run publishes to justify its dedup stage (singleton
    // clusters = untouched mass). Components over the q26 edge sliver
    // (the q77 machinery); the corpus pays one root join.
    QueryDef("q195_dedup_impact", Some(s"""
      WITH RECURSIVE ${lshCtes("documents")},
      strong AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.5),
      sym AS (SELECT id_a AS a, id_b AS b FROM strong
              UNION SELECT id_b, id_a FROM strong
              UNION SELECT id_a, id_a FROM strong
              UNION SELECT id_b, id_b FROM strong),
      reach(a, b) AS (
        SELECT a, b FROM sym
        UNION
        SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
      comp AS (SELECT a AS node, min(b) AS component FROM reach GROUP BY a),
      rooted AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS root,
                        CAST(d.n_chars AS BIGINT) AS nc
                 FROM documents d LEFT JOIN comp c ON d.doc_id = c.node),
      cl AS (SELECT r.root, CAST(count(*) AS BIGINT) AS sz,
                    CAST(sum(r.nc) AS BIGINT) AS total_chars,
                    CAST(any_value(k.n_chars) AS BIGINT) AS kept_chars
             FROM rooted r JOIN documents k ON r.root = k.doc_id
             GROUP BY r.root)
      SELECT sz AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
             CAST(sum(total_chars) AS BIGINT) AS total_chars,
             CAST(sum(kept_chars) AS BIGINT) AS kept_chars,
             round(1.0 - CAST(sum(kept_chars) AS DOUBLE) / sum(total_chars), 6)
               AS removed_share
      FROM cl GROUP BY sz"""),
      (spark, dir) => {
        val docs = T(spark, dir, "documents")
          .select(col("doc_id"), col("n_chars").cast("long").as("nc"))
        val strong = lshPairs(spark, dir).filter(col("jaccard") >= 0.5)
        val comp = graft.ops.ConnectedComponents
          .labelPropagation(strong, "id_a", "id_b")
          .withColumnRenamed("node", "doc_id")
        val rooted = docs.join(comp, Seq("doc_id"), "left")
          .withColumn("root", coalesce(col("component"), col("doc_id")))
        val cl = rooted.groupBy("root")
          .agg(count(lit(1)).as("sz"), sum(col("nc")).as("total_chars"))
          .join(docs.select(col("doc_id").as("root"), col("nc").as("kept_chars")),
            "root")
        cl.groupBy(col("sz").as("cluster_size"))
          .agg(count(lit(1)).as("n_clusters"),
            sum(col("total_chars")).as("total_chars"),
            sum(col("kept_chars")).as("kept_chars"),
            round(lit(1.0) - sum(col("kept_chars")).cast("double")
              / sum(col("total_chars")), 6).as("removed_share"))
      }),

    // Matryoshka truncated-prefix retrieval (SimSearch.matryoshkaTopK):
    // candidates ranked on the renormalized FIRST 8 of 64 unit
    // coordinates (an MRL model's coarse head — the corpus-wide stage
    // reads 1/8 of the floats), exact full-width rerank of the 4k
    // survivors. Training-free compute-tiering next to PQ (q102) and
    // SQ8 (q118); every reduction a sequential fold, both stages rank
    // on round()-ed scores, so the hash oracle is exact.
    QueryDef("q202_matryoshka_rerank", Some(s"""
      WITH $unitSql,
      pu AS (SELECT vec_id, ne,
               CASE WHEN list_aggregate(list_transform(p, y -> y * y), 'sum') = 0
                    THEN p
                    ELSE list_transform(p, x -> x / sqrt(list_aggregate(
                           list_transform(p, y -> y * y), 'sum')))
               END AS pe
             FROM (SELECT vec_id, ne, ne[1:8] AS p FROM un)),
      q AS (SELECT vec_id AS query_id, ne AS qe, pe AS qp
            FROM pu WHERE vec_id % 50 = 0),
      cand AS (
        SELECT query_id, vec_id, ne FROM (
          SELECT q.query_id, e.vec_id, e.ne,
                 row_number() OVER (PARTITION BY q.query_id
                   ORDER BY round(${dotSql("e.pe", "q.qp")}, 6) DESC, e.vec_id) AS prnk
          FROM pu e JOIN q ON e.vec_id <> q.query_id)
        WHERE prnk <= 40)
      SELECT query_id, vec_id, cos_sim, CAST(rnk AS INTEGER) AS rnk FROM (
        SELECT c.query_id, c.vec_id,
               round(${dotSql("c.ne", "q.qe")}, 6) AS cos_sim,
               row_number() OVER (PARTITION BY c.query_id
                 ORDER BY round(${dotSql("c.ne", "q.qe")}, 6) DESC, c.vec_id) AS rnk
        FROM cand c JOIN q ON c.query_id = q.query_id)
      WHERE rnk <= 10"""),
      (spark, dir) => {
        val emb = T(spark, dir, "embeddings")
        SimSearch.matryoshkaTopK(emb, emb.filter(col("vec_id") % 50 === 0),
            "vec_id", "embedding", k = 10, prefixDim = 8, candFactor = 4)
          .select("query_id", "vec_id", "cos_sim", "rnk")
      }),

    // Binary-quantization retrieval (SimSearch.binaryHammingTopK): sign
    // patterns packed into two 32-bit words per vector (sequential
    // acc*2+bit folds — engine-replayable codes), integer Hamming
    // prefilter, exact full-precision rerank of the 4k survivors. The
    // cheapest tier of the compression ladder: 16 bytes and integer-only
    // math per corpus vector in the wide stage.
    QueryDef("q208_binary_quant_ann", Some(s"""
      WITH $unitSql,
      bq AS (SELECT vec_id, ne,
               list_reduce(list_transform(ne[1:32],
                 x -> CASE WHEN x > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END),
                 (a, b) -> a * 2 + b) AS lo,
               list_reduce(list_transform(ne[33:64],
                 x -> CASE WHEN x > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END),
                 (a, b) -> a * 2 + b) AS hi
             FROM un),
      q AS (SELECT vec_id AS query_id, ne AS qe, lo AS qlo, hi AS qhi
            FROM bq WHERE vec_id % 50 = 0),
      cand AS (
        SELECT query_id, vec_id, ne, qe FROM (
          SELECT q.query_id, e.vec_id, e.ne, q.qe,
                 row_number() OVER (PARTITION BY q.query_id
                   ORDER BY bit_count(xor(e.lo, q.qlo)) + bit_count(xor(e.hi, q.qhi)),
                            e.vec_id) AS hr
          FROM bq e JOIN q ON e.vec_id <> q.query_id)
        WHERE hr <= 40)
      SELECT query_id, vec_id, cos_sim, CAST(rnk AS INTEGER) AS rnk FROM (
        SELECT query_id, vec_id,
               round(${dotSql("ne", "qe")}, 6) AS cos_sim,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY round(${dotSql("ne", "qe")}, 6) DESC, vec_id) AS rnk
        FROM cand)
      WHERE rnk <= 10"""),
      (spark, dir) => {
        val emb = T(spark, dir, "embeddings")
        SimSearch.binaryHammingTopK(emb, emb.filter(col("vec_id") % 50 === 0),
            "vec_id", "embedding", k = 10, candFactor = 4)
          .select("query_id", "vec_id", "cos_sim", "rnk")
      }),

    // Containment pairs (DedupOps.containmentPairs, Broder 1997): the
    // asymmetric duplication Jaccard misses — a short doc quoted inside
    // a long one scores Jaccard ~ |A|/|B| but containment ~ 1. Grams
    // hash to 8 bytes before the exchange (oracle joins the raw strings
    // — the documented conservative-collision equivalence of q104),
    // df-capped posting join bounds the pair space, one exact integer
    // division per pair.
    QueryDef("q213_containment_pairs", Some(s"""
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t)),
               i -> t[i] || ' ' || t[i + 1]))) AS g
             FROM tok),
      rare AS (SELECT g FROM (SELECT g, count(*) AS c FROM sh GROUP BY g)
               WHERE c <= $SimMaxDfV),
      p AS (SELECT doc_id, g FROM sh JOIN rare USING (g)),
      n AS (SELECT doc_id, count(*) AS n FROM p GROUP BY doc_id),
      pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
                FROM p a JOIN p b ON a.g = b.g AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
      SELECT id_a, id_b, CAST(na.n AS INTEGER) AS n_a, CAST(nb.n AS INTEGER) AS n_b,
             CAST(n_shared AS INTEGER) AS n_shared,
             round(CAST(n_shared AS DOUBLE) / least(na.n, nb.n), 6) AS containment
      FROM pairs JOIN n na ON id_a = na.doc_id JOIN n nb ON id_b = nb.doc_id
      WHERE CAST(n_shared AS DOUBLE) / least(na.n, nb.n) >= 0.5"""),
      (spark, dir) =>
        DedupOps.containmentPairs(
          T(spark, dir, "documents").select(col("doc_id"),
            TextOps.shingles(TextOps.tokenize(col("text")), 2).as("sh")),
          "doc_id", "sh", maxDf = SimMaxDfV, minContain = 0.5)),

    // Embedding-space drift monitor: per-dimension fixed-point moments
    // (the multimodal pipeline's "did source X's encoder shift?" check).
    // Each vector posexplodes to (label, dim, v_fp) with v_fp =
    // round(e·10⁶) — floats are quantized BEFORE any sum, so every
    // aggregate is an exact integer and partition/merge order cannot
    // perturb it (float sums are the one thing a distributed engine and
    // a single-threaded oracle never fold identically). Per-dim global
    // means derive from the per-label sums (never a second pass over
    // vectors — the rollup discipline), and the output flags, per
    // dimension, the label whose mean deviates most from the global
    // mean: the dims/sources an embedding-drift alert would fire on.
    // At 100 TB: one pass over N·d exploded rows with map-side partial
    // aggregation into labels×dims cells; everything after is
    // cell-sized.
    QueryDef("q284_embedding_drift", Some("""
      WITH x AS (SELECT label, i - 1 AS dim,
                   CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000, 0)
                        AS BIGINT) AS v
                 FROM (SELECT label, embedding,
                              unnest(range(1, len(embedding) + 1)) AS i
                       FROM embeddings)),
      lm AS (SELECT label, dim, CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(v) AS BIGINT) AS s
             FROM x GROUP BY 1, 2),
      g AS (SELECT dim, CAST(sum(n) AS BIGINT) AS gn,
                   CAST(sum(s) AS BIGINT) AS gs
            FROM lm GROUP BY dim),
      mm AS (SELECT lm.label, lm.dim, g.gn,
                    (lm.s + lm.n * 10000000000) // lm.n - 10000000000 AS lmean,
                    (g.gs + g.gn * 10000000000) // g.gn - 10000000000 AS gmean
             FROM lm JOIN g USING (dim)),
      top AS (SELECT label, dim, gn, gmean, abs(lmean - gmean) AS dev,
                     row_number() OVER (PARTITION BY dim
                                        ORDER BY abs(lmean - gmean) DESC, label)
                       AS rn
              FROM mm)
      SELECT CAST(dim AS INTEGER) AS dim, gn AS n, gmean AS gmean_fp,
             dev AS max_dev_fp, CAST(label AS INTEGER) AS top_label
      FROM top WHERE rn = 1"""),
      (spark, dir) => {
        val x = T(spark, dir, "embeddings")
          .select(col("label"), posexplode(col("embedding")))
          .select(col("label"), col("pos").as("dim"),
            round(col("col").cast("double") * 1000000, 0).cast("long").as("v"))
        // lazy localCheckpoint: the join consumes lm on BOTH sides (per-
        // label rows + the per-dim rollup g) — without it the "derive
        // global means from label sums" promise depends on exchange
        // reuse canonicalizing, and a miss would re-run the N·d
        // posexplode twice (the q282/q287 discipline; lm is labels×dims
        // rows, so the checkpoint is ~free)
        val lm = x.groupBy("label", "dim")
          .agg(count(lit(1)).as("n"), sum("v").as("s"))
          .localCheckpoint(eager = false)
        val g = lm.groupBy("dim").agg(sum("n").as("gn"), sum("s").as("gs"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("dim").orderBy(col("dev").desc, col("label").asc)
        lm.join(g, "dim")
          .withColumn("lmean", expr("(s + n * 10000000000) div n - 10000000000"))
          .withColumn("gmean",
            expr("(gs + gn * 10000000000) div gn - 10000000000"))
          .withColumn("dev", abs(col("lmean") - col("gmean")))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("dim").cast("int").as("dim"), col("gn").as("n"),
            col("gmean").as("gmean_fp"), col("dev").as("max_dev_fp"),
            col("label").cast("int").as("top_label"))
      })
  )


  /** Shared DuckDB CTE chain ending in `verified(id_a, id_b, jaccard)` —
    * the oracle twin of `DedupOps.lshCandidates` (bands = 4,
    * rowsPerBand = 2) over relation `src(doc_id, text)`; reused by q26,
    * q77 and the corpus pipeline.
    */
  private[queries] def lshCtes(src: String): String = {
    import graft.engine.expressions.MinHashBands.sqlMinhash
    val bandSelects = (0 until 4).map { b =>
      s"""SELECT doc_id, sh, $b AS band,
          CAST(${sqlMinhash("sh", 2 * b)} AS VARCHAR) || '_' ||
          CAST(${sqlMinhash("sh", 2 * b + 1)} AS VARCHAR) AS sig FROM shingled"""
    }.mkString("\n      UNION ALL\n      ")
    s"""tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM $src),
      shingled AS (
        SELECT doc_id, list_distinct(list_transform(range(1, len(t)),
            i -> t[i] || ' ' || t[i + 1])) AS sh
        FROM tok),
      banded AS (
      $bandSelects),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
      verified AS (
        SELECT c.id_a, c.id_b,
               CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                   / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard
        FROM cand c
        JOIN shingled sa ON c.id_a = sa.doc_id
        JOIN shingled sb ON c.id_b = sb.doc_id)"""
  }

  /** Spark twin of [[lshCtes]]: verified LSH candidate pairs. */
  private def lshPairs(spark: org.apache.spark.sql.SparkSession, dir: String) = {
    val shingled = T(spark, dir, "documents").select(col("doc_id"),
      TextOps.shingles(TextOps.tokenize(col("text")), 2).as("sh"))
    DedupOps.lshCandidates(shingled, "doc_id", "sh", bands = 4, rowsPerBand = 2)
  }

  /** The `_built` marker of the q313/q314 index. Bump the version
    * whenever the build semantics change — a stale marker must never
    * serve an old layout. v2: centroid means are exact scaled-integer
    * sums.
    */
  private val IvfIndexVersion = "v2-lloyd16x2-exactsum"

  /** Where the q313/q314 pair persists the IVF index for `dir`: one
    * index per source dataset, under the JVM's scratch root, so q313 then
    * q314 in one JVM share it and nothing outlives the JVM. A fresh JVM
    * finds no marker and q314 builds the index on its miss.
    */
  private def ivfIndexPath(dir: String): String =
    ivfIndexDirs.computeIfAbsent(dir, d => graft.GraftSession.scratchDir(
      "graft_ivf_index_" + d.replaceAll("[^A-Za-z0-9._-]", "_")).toString)

  private val ivfIndexDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Unconditional index (re)build + persist — the q313 body. */
  private def buildIvfIndexFiles(spark: org.apache.spark.sql.SparkSession,
                                 dir: String): String = {
    val p = ivfIndexPath(dir)
    SimSearch.buildIvfIndexLloyd(T(spark, dir, "embeddings"),
      "vec_id", "embedding", p, nCentroids = 16, iters = 2)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(p, "_built"), IvfIndexVersion)
    p
  }

  /** Build-on-miss — q314 stays self-contained when run alone, while a
    * preceding q313 (the verify/bench name order) leaves only the pure
    * probe cost to measure.
    */
  private def ensureIvfIndexFiles(spark: org.apache.spark.sql.SparkSession,
                                  dir: String): String = {
    val p = ivfIndexPath(dir)
    val marker = java.nio.file.Paths.get(p, "_built")
    if (!java.nio.file.Files.exists(marker)
        || java.nio.file.Files.readString(marker) != IvfIndexVersion)
      buildIvfIndexFiles(spark, dir)
    else p
  }
}
