package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate detection for document corpora.
  *
  * Scale design (the 100 TB path): LSH banding turns the O(n²) all-pairs
  * problem into (1) one narrow projection computing per-doc signatures,
  * (2) one shuffle on (band, signature) — collisions only — and (3) a
  * verify join over candidate pairs. No cross join ever materializes.
  *
  * Hashes are md5-based and salt-parameterized, so signatures are
  * deterministic across engines/runs (and SQL-oracle-able).
  */
object DedupOps {

  /** Min-hash of a shingle array under salt `i`: lexicographic min of the
    * salted md5 hex digests (a uniform 128-bit hash family member).
    */
  private[graft] def minhash(shingles: Column, i: Int): Column =
    array_min(transform(shingles, s => md5(concat(lit(s"${i}_"), s))))

  /** LSH band values: `bands` bands of `rowsPerBand` concatenated
    * min-hashes each. Docs agreeing on any band become candidate pairs.
    */
  def bandSignatures(shingles: Column, bands: Int, rowsPerBand: Int): Seq[Column] =
    (0 until bands).map { b =>
      concat((0 until rowsPerBand).map(r => minhash(shingles, b * rowsPerBand + r)): _*)
    }

  /** Jaccard similarity of two distinct-element array columns.
    * |a ∪ b| = |a| + |b| - |a ∩ b| for distinct elements, so one
    * intersect pass replaces the intersect + union pair.
    */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    inter.cast("double") / (size(a) + size(b) - inter)
  }

  /** EXACT all-pairs token-set Jaccard ≥ tNum/tDen via prefix filtering
    * (AllPairs / PPJoin family — Bayardo et al., WWW'07; Xiao et al.,
    * WWW'08): tokens get a GLOBAL rarity order (document frequency asc,
    * token asc); a set of size s can only reach the threshold with
    * another set if they share a token among each side's first
    * s - ⌈t·s⌉ + 1 rarest tokens (the prefix lemma), so the candidate
    * join explodes only prefixes — rare tokens with few collisions —
    * instead of a block² or n² pair space. A length filter
    * (t·|a| ≤ |b| ≤ |a|/t, in exact integer form) prunes further
    * before the verify.
    *
    * Unlike MinHash-LSH this is exact by construction (completeness
    * from the prefix lemma, precision from the verify join) — the
    * right tool when the threshold is contractual rather than
    * best-effort. The threshold is a RATIONAL tNum/tDen so the minimum
    * overlap ⌈tNum·s/tDen⌉ is computed in integer arithmetic on both
    * engines — a floating ⌈0.7·s⌉ can round up across an integer
    * boundary (fl(0.7·30) > 21) and silently shorten a prefix below
    * the completeness bound.
    *
    * Scale shape: tokens are hashed to `xxhash64` 8-byte keys at the
    * scan, before any exchange — the frequency count, rank, prefix,
    * candidate, and verify frames all shuffle fixed-width longs, never
    * raw token strings (Jaccard on the hashed sets equals Jaccard on
    * the token sets unless two tokens of one pair's union collide in
    * 64 bits — P ~ |union|²/2⁶⁴, negligible — so the output, and the
    * string-path DuckDB oracle, are unchanged). One shuffle keyed by
    * token-hash for the frequency count (map-side combined), the
    * global rank via the two-pass GlobalRank scan (no single-task
    * window), one shuffle by doc for per-doc prefix positions, the
    * candidate join keyed by full-cardinality prefix hashes, and
    * hashed arrays shuffle only for verified CANDIDATE pairs — never
    * all pairs.
    *
    * `tokCol` must hold distinct tokens (pass `array_distinct(...)`).
    * Reference behavior: the same near-dup semantics as q31's sampled
    * Jaccard screen, lifted to exact all-pairs.
    */
  def prefixJaccardPairs(docs: DataFrame, idCol: String, tokCol: String,
                         tNum: Int, tDen: Int): DataFrame = {
    require(tNum > 0 && tDen >= tNum, s"threshold $tNum/$tDen must be in (0, 1]")
    import org.apache.spark.sql.expressions.Window
    // 8-byte exchange keys: hash each (already-distinct) token once at the
    // scan; re-distinct on the hashed domain so sizes stay consistent.
    val hashed = docs.select(col(idCol),
      array_distinct(transform(col(tokCol), t => xxhash64(t))).as("__tk"))
    val tok = hashed.select(col(idCol), explode(col("__tk")).as("__term"),
      size(col("__tk")).as("__sz"))
    val dfr = tok.groupBy("__term").agg(count(lit(1)).as("__df"))
    val ranked = graft.ops.GlobalRank
      .withRowNumber(dfr, "__rnk", Seq(col("__df").asc, col("__term").asc))
      .select("__term", "__rnk")
    // minOverlap = ceil(tNum·sz / tDen) in exact integer arithmetic
    val minOv = floor((lit(tNum) * col("__sz") + lit(tDen - 1)) / lit(tDen))
    val pref = tok.join(ranked, "__term")
      .withColumn("__pos",
        row_number().over(Window.partitionBy(col(idCol)).orderBy(col("__rnk"))))
      .filter(col("__pos") <= col("__sz") - minOv + 1)
      .select(col(idCol), col("__term"), col("__sz"))
    val cand = pref.select(col("__term"), col(idCol).as("a_doc"), col("__sz").as("__sza"))
      .join(pref.select(col("__term"), col(idCol).as("b_doc"), col("__sz").as("__szb")),
        Seq("__term"))
      .filter(col("a_doc") < col("b_doc")
        && lit(tNum) * col("__sza") <= lit(tDen) * col("__szb")
        && lit(tNum) * col("__szb") <= lit(tDen) * col("__sza"))
      .select("a_doc", "b_doc").distinct()
    val inter = size(array_intersect(col("__ta"), col("__tb")))
    val union = size(col("__ta")) + size(col("__tb")) - inter
    cand
      .join(hashed.select(col(idCol).as("a_doc"), col("__tk").as("__ta")), "a_doc")
      .join(hashed.select(col(idCol).as("b_doc"), col("__tk").as("__tb")), "b_doc")
      // exact integer threshold: J ≥ tNum/tDen  ⇔  tDen·I ≥ tNum·U
      .filter(lit(tDen) * inter >= lit(tNum) * union)
      .select(col("a_doc"), col("b_doc"),
        (inter.cast("double") / union).as("jaccard"))
  }

  /** Width-parameterized SimHash (the widening switch point from the
    * [[simhashNearDups]] scale note): `nBits` of md5-derived signature,
    * up to 60 (15 hex chars — the widest value that cannot overflow a
    * signed BIGINT on either engine; bit 63 would). Bit j is set iff the
    * sum over tokens of ±1 (by bit j of the token's hash) is positive.
    *
    * Single-pass formulation: each token is md5-hashed ONCE and all vote
    * counters update via one `zip_with` against a powers-of-two array.
    * The per-bit formulation (one `aggregate` per bit) plans as one full
    * pass per bit re-hashing every token — measured 30x slower on the
    * signature stage. Votes are ±1 integer sums, so the result is
    * fold-order-independent and oracle-identical.
    */
  private[graft] def simhash(tokens: Column, nBits: Int): Column = {
    require(nBits >= 1 && nBits <= 60, s"nBits must be in [1, 60], got $nBits")
    val powers = array((0 until nBits).map(j => lit(1L << j)): _*)
    val hashes = transform(tokens,
      t => conv(substring(md5(t), 1, (nBits + 3) / 4), 16, 10).cast("long"))
    val votes = aggregate(hashes, array_repeat(lit(0), nBits),
      (acc, h) => zip_with(acc, powers,
        (a, p) => a + when(h.bitwiseAND(p) =!= 0, 1).otherwise(-1)))
    aggregate(zip_with(votes, powers, (v, p) => when(v > 0, p).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)
  }

  /** SimHash near-duplicate pairs within `hamMax` bits of each other.
    *
    * Scale path: the signature splits into `nBlocks` equal blocks; by
    * pigeonhole, any pair within hamming distance `nBlocks - 1` agrees
    * exactly on at least one block, so the only shuffle is the
    * (block-index, block-value) collision self-join — never an
    * all-pairs compare. The
    * per-pair verify is one xor + bit_count, applied before the
    * candidate dedup so the distinct only sees surviving pairs.
    *
    * Corpus-scale note: the default 32/4 config gives 8-bit blocks =
    * 256 buckets per band; bucket occupancy grows linearly with corpus
    * size and the collision join is quadratic per bucket — right for up
    * to ~10M docs. Beyond that, pass `nBits = 60, nBlocks = 4` (15-bit
    * blocks = 32k buckets; 60 is the widest BIGINT-safe md5 prefix on
    * both engines) — the banding algebra is unchanged.
    *
    * @return (id_a, id_b, hamming) with id_a < id_b and hamming <= hamMax
    */
  def simhashNearDups(df: DataFrame, idCol: String, tokensCol: String,
                      hamMax: Int = 3, nBits: Int = 32, nBlocks: Int = 4): DataFrame = {
    require(nBits % nBlocks == 0, s"nBits ($nBits) must split evenly into $nBlocks blocks")
    require(hamMax < nBlocks,
      s"$nBlocks-block banding only guarantees recall to hamming ${nBlocks - 1} (got $hamMax)")
    val blockBits = nBits / nBlocks
    val blockMask = (1L << blockBits) - 1
    // Signature frame is narrow (id + 8 bytes) and feeds both join sides.
    val sig = df.select(col(idCol).as("__id"), simhash(col(tokensCol), nBits).as("__sh")).cache()
    val blocks = sig.select(col("__id"), col("__sh"),
      posexplode(array((0 until nBlocks).map(b =>
        shiftright(col("__sh"), blockBits * b).bitwiseAND(lit(blockMask))): _*)).as(Seq("b", "blk")))
    blocks.select(col("b"), col("blk"), col("__id").as("id_a"), col("__sh").as("sh_a"))
      .join(blocks.select(col("b"), col("blk"), col("__id").as("id_b"), col("__sh").as("sh_b")),
        Seq("b", "blk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("int").as("hamming"))
      .filter(col("hamming") <= hamMax)
      .distinct()
  }

  /** End-to-end MinHash-LSH near-dup candidates over `df`.
    *
    * @param idCol unique document id
    * @param shinglesCol column holding the distinct shingle array
    * @return (idA, idB) candidate pairs (idA < idB), deduplicated across
    *         bands, with the verified jaccard of their shingle sets
    */
  def lshCandidates(df: DataFrame, idCol: String, shinglesCol: String,
                    bands: Int = 4, rowsPerBand: Int = 2): DataFrame = {
    graft.engine.expressions.MinHashBands.register(df.sparkSession)
    // All k min-hashes AND the band concats in one expression pass
    // (engine.expressions.MinHashBands: one md5 + k affine mixes per
    // shingle) — banding in a separate projection would be collapsed by
    // CollapseProject into per-element re-evaluation of the whole
    // minhash loop (measured k×; see the expression's Scaladoc).
    val sigArr = graft.engine.expressions.MinHashBands
      .bandSignatures(col(shinglesCol), bands, rowsPerBand)
    // Only (id, band, sig) enters the collision shuffle: signatures are
    // fixed-width digests, so the banded frame is a sliver of corpus
    // bytes — the wide shingle arrays never leave their scan stage.
    // Cached because it feeds both sides of the self-join.
    val banded = df.select(col(idCol), posexplode(sigArr).as(Seq("band", "sig")))
      .cache()
    val cand = banded.select(col("band"), col("sig"), col(idCol).as("id_a"))
      .join(banded.select(col("band"), col("sig"), col(idCol).as("id_b")),
        Seq("band", "sig"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    // Verify: exact Jaccard, computed once per unique candidate pair.
    // No broadcast HINT on the candidate side: with tight bands the
    // candidate set is a sliver and AQE broadcasts it at runtime once its
    // size is known, but with loose bands (or an adversarial corpus) it
    // can exceed executor memory — a forced hint would then OOM where a
    // shuffle join merely costs an exchange. AQE decides from the real
    // size; the second join's small side (candidates × left shingles)
    // gets the same treatment.
    val sh = df.select(col(idCol), col(shinglesCol))
    sh.select(col(idCol).as("id_a"), col(shinglesCol).as("sh_a"))
      .join(cand, "id_a")
      .join(sh.select(col(idCol).as("id_b"), col(shinglesCol).as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"), jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the
    * MOSS algorithm): per document, hash every word `n`-gram to a 60-bit
    * md5 integer, then keep the MINIMUM hash of each window of `w`
    * consecutive gram positions, distinct per doc. Guarantee: any run of
    * ≥ n + w − 1 shared tokens between two documents contributes at
    * least one shared fingerprint — so SPAN-level duplication
    * (boilerplate, quotation, template reuse) is detectable even when
    * whole-document Jaccard is low. Min-per-window (vs canonical
    * winnowing's rightmost-min tie rule) keeps the same guarantee and is
    * one codegen'd window-min in any engine.
    *
    * Scale shape: tokenize + gram-hash are narrow per-row projections;
    * the window min partitions BY DOCUMENT (never a global window); only
    * distinct (id, 8-byte fp) rows leave the scan — the winnowed density
    * is ~2/(w+1) fingerprints per token, and the md5-integer fold is the
    * [[graft.ops.Sampling.hashRank]] discipline so the SQL twin replays
    * it bit-for-bit.
    *
    * @return (idCol, fp) distinct winnowed fingerprints
    */
  private[graft] def winnowingFingerprints(docs: DataFrame, idCol: String, textCol: String,
                                           n: Int = 4, w: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = split(col(textCol), " ")
    // positions 0 .. size-n (size-n+1 grams); docs shorter than n tokens
    // produce none (filtered before the sequence can go negative)
    val gramArr = transform(sequence(lit(0), size(toks) - n),
      i => concat_ws(" ", slice(toks, i + 1, lit(n))))
    val grams = docs
      .filter(size(toks) >= n)
      .select(col(idCol), posexplode(gramArr).as(Seq("pos", "__g")))
      .select(col(idCol), col("pos"),
        conv(substring(md5(col("__g")), 1, 15), 16, 10).cast("long").as("__gh"))
    val win = Window.partitionBy(idCol).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    grams.select(col(idCol), min(col("__gh")).over(win).as("fp")).distinct()
  }

  /** Span-overlap candidate pairs from winnowed fingerprints: documents
    * sharing ≥ `minShared` fingerprints, with boilerplate
    * stop-fingerprints (appearing in > `maxDf` docs) dropped before the
    * pair join — the df-cap discipline of the posting joins (a
    * fingerprint in thousands of docs is template noise AND a quadratic
    * pair bomb). Complements whole-doc Jaccard/MinHash: a 10%-overlap
    * boilerplate span never moves Jaccard but lights up here.
    *
    * @return (id_a, id_b, n_shared) with id_a < id_b
    */
  def winnowingOverlap(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 4, w: Int = 4, maxDf: Int = 50,
                       minShared: Int = 2): DataFrame = {
    // Cached: feeds the df count and BOTH sides of the pair join — one
    // tokenize+window pass instead of three corpus scans. Released by
    // the caller's GraftSession.withQueryCaches scope in resident
    // sessions (the lshCandidates discipline).
    val fps = winnowingFingerprints(docs, idCol, textCol, n, w).cache()
    val kept = fps.join(
      fps.groupBy("fp").agg(count(lit(1)).as("__df"))
        .filter(col("__df") >= 2 && col("__df") <= maxDf)
        .select("fp"),
      "fp")
    kept.select(col("fp"), col(idCol).as("id_a"))
      .join(kept.select(col("fp"), col(idCol).as("id_b")), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** CONTAINMENT pairs (Broder 1997): pairs where the smaller document's
    * distinct-shingle set is mostly inside the other's —
    * shared / min(|A|, |B|) ≥ `minContain`. Catches the asymmetric
    * duplication Jaccard misses by construction: a quote, excerpt, or
    * wholesale inclusion of a short doc in a long one scores
    * Jaccard ≈ |A|/|B| (tiny) but containment ≈ 1.
    *
    * Same scale shape as the q120 family: grams are xxhash64-ed (8-byte
    * exchange), candidates materialize only through shared grams with
    * document frequency ≤ `maxDf` (pair space Σ_g df(g)² — boilerplate
    * grams generate nothing), and the score is one exact integer
    * division — no float folds anywhere, so the q213 oracle is a plain
    * hash match.
    */
  def containmentPairs(df: DataFrame, idCol: String, shinglesCol: String,
                       maxDf: Int = 100, minContain: Double = 0.8): DataFrame = {
    val grams = df.select(col(idCol).as("__id"),
        explode(array_distinct(col(shinglesCol))).as("__gram"))
      .select(col("__id"), xxhash64(col("__gram")).as("__g"))
    val rare = grams.groupBy("__g").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf)
    // set sizes over the FILTERED vocabulary, so the score is a true
    // containment in the discriminative gram space (boilerplate grams
    // neither generate pairs nor dilute the denominator)
    val posting = grams.join(rare.select("__g"), "__g")
    val sizes = posting.groupBy("__id").agg(count(lit(1)).as("__n"))
    val withN = posting.join(sizes, "__id")
    val shared = withN.select(col("__id").as("id_a"), col("__n").as("n_a"), col("__g"))
      .join(withN.select(col("__id").as("id_b"), col("__n").as("n_b"), col("__g")), "__g")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"),
        count(lit(1)).as("n_shared"))
    shared
      .filter(col("n_shared").cast("double") / least(col("n_a"), col("n_b")) >= minContain)
      .select(col("id_a"), col("id_b"),
        col("n_a").cast("int").as("n_a"), col("n_b").cast("int").as("n_b"),
        col("n_shared").cast("int").as("n_shared"),
        round(col("n_shared").cast("double") / least(col("n_a"), col("n_b")), 6)
          .as("containment"))
  }

  /** Exact-substring dedup as a TRANSFORM (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better"): every corpus-wide
    * duplicated n-gram keeps exactly ONE canonical occurrence (the
    * globally smallest (doc, position)) and every other occurrence's
    * token span is MASKED OUT of the text — q124 measures the
    * duplication, this removes it. The detection shuffle is gram-keyed
    * (swap the join key for xxhash64(gram) at corpus scale — the q124
    * note); covered positions explode ×n bounded by document length;
    * reconstruction is one doc-keyed aggregation.
    *
    * Winner selection is the deterministic integer key
    * doc_id·2³² + position (exact for doc ids < 2³¹ and documents
    * under 4B tokens — far past book length), so any engine replays
    * the same canonical choice. A position covered by ANY losing occurrence is masked,
    * even if some other gram's winning occurrence also covers it —
    * one rule, applied identically on both sides (q222's oracle).
    *
    * @return (idCol, n_tokens, n_masked, cleaned) — one row per input
    *         document, `cleaned` the space-joined surviving tokens
    */
  def maskDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                         n: Int = 5): DataFrame = {
    val toks = TextOps.tokenize(col(textCol))
    val tok = docs.select(col(idCol).as("__id"), posexplode(toks).as(Seq("p", "w")))
    val gr = docs.select(col(idCol).as("__id"),
      posexplode(TextOps.ngramsAll(toks, n)).as(Seq("gp", "g")))
    val dupStats = gr.groupBy("g")
      .agg(count(lit(1)).as("__cnt"),
        min(col("__id") * 4294967296L + col("gp")).as("__win"))
      .filter(col("__cnt") >= 2)
    val covered = gr.join(dupStats, "g")
      .filter(col("__id") * 4294967296L + col("gp") =!= col("__win"))
      .select(col("__id"), explode(sequence(col("gp"), col("gp") + (n - 1))).as("p"))
      .distinct()
    tok.join(covered.withColumn("__m", lit(1L)), Seq("__id", "p"), "left")
      .groupBy("__id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("__m"), lit(0L))).as("n_masked"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("__m").isNull, struct(col("p"), col("w"))))),
            x => x.getField("w")), " ").as("cleaned"))
      .select(col("__id").as(idCol), col("n_tokens").cast("int").as("n_tokens"),
        col("n_masked").cast("int").as("n_masked"), col("cleaned"))
  }
}
