package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed BPE merge-rule learning over a word-frequency table —
  * the tokenizer-training step of a corpus pipeline (reference keeps no
  * tokenizer; this is the scale-path counterpart of the BPE-ish
  * pre-tokenizer in [[TextOps.tokenizeBpe]]).
  *
  * Representation: a word is a string of paren-wrapped symbols —
  * `key` → `(k)(e)(y)`, and applying merge (e,y) literally replaces
  * `(e)(y)` with `(ey)`. Because every symbol is individually bracketed
  * and the alphabet contains no parens, a pattern can neither match
  * across symbol boundaries nor share a delimiter with the next match —
  * so the engine's plain left-to-right non-overlapping `replace` IS
  * classic greedy BPE pairing (`(a)(a)(a)(a)` + merge (a,a) →
  * `(aa)(aa)`), identically in any engine with literal replace.
  *
  * Scale shape: the corpus is touched ONCE (the word-count groupBy the
  * caller provides); each merge step then runs over the word table —
  * vocabulary-sized, orders of magnitude smaller than the corpus — as
  * one explode+groupBy pair count plus a narrow literal replace. The
  * only driver-side data is ONE reduced row per step (the argmax merge
  * rule — a scalar, same gate as a KMeans centroid pull), never rows.
  */
object Bpe {

  /** `word` → `(c1)(c2)…(cn)`. */
  private def symbolize(word: Column): Column =
    array_join(transform(sequence(lit(1), length(word)),
      i => concat(lit("("), word.substr(i, lit(1)), lit(")"))), "")

  /** Extracts the symbol array back out of the wrapped string. */
  val SymbolPattern = "\\(([^()]+)\\)"

  /** The shared merge loop behind [[learnMerges]] and [[encodeWords]]:
    * runs `steps` greedy merges over the symbolized word table and
    * returns (final word table `(wordCol, cnt, s)` — materialized
    * (cache or local checkpoint), caller releases it — plus the
    * learned rules in order).
    *
    * MERGE BATCHING (r15 advice — the 32k-merge job-count problem):
    * one Spark job per merge makes a real tokenizer training run 32k
    * sequential jobs. Each round therefore pulls the top-`batch`
    * candidate pairs (plus, per candidate, the neighbor-pair maxima)
    * and accepts a PREFIX of them that is provably the same sequence
    * classic one-at-a-time greedy would pick:
    *
    *  - '''count stability''' (directional — the r17 widening of the
    *    r16 symmetric symbol ban): applying (l,r) destroys an existing
    *    adjacency (x, y) only when the merge CONSUMES one of its
    *    members — the x of (x, l) when that l is the left of a match
    *    (so any candidate ENDING in l is stale), or the y of (r, y)
    *    when that r is the right of a match (any candidate STARTING
    *    with r is stale). A candidate (l, y≠r) is safe: its l is
    *    followed by y, never by r, so no match consumes it; likewise
    *    (x≠l, r). When l == r the same token is both sides of the
    *    match, so both directions ban it. Candidates
    *    touching the created token l+r were never counted pre-batch
    *    (banned both sides). Merges also never CREATE an adjacency
    *    between two pre-batch symbols (the new token sits between its
    *    neighbors), so a surviving candidate's pre-batch count IS its
    *    classic-time count — including the recorded pair_count column.
    *  - '''creation ceiling''': applying (l,r) can create only pairs
    *    (X, l+r) or (l+r, Y). Every adjacency of a created pair sits on
    *    a pre-batch occurrence of a TRIPLE containing the merged (l,r):
    *    (X, l+r) has, immediately left of the merged pair, the last
    *    original symbol u of X (u = X when X is original, u = the
    *    right part of X when X was itself created this batch) — a
    *    pre-batch triple (u, l, r); symmetrically (l+r, Y) rides
    *    (l, r, y). Chains ((l+r)(l+r) from l r l r) are covered by
    *    y = l. So created counts are bounded by
    *    T = max(max_u c3(u,l,r), max_y c3(l,r,y)) — strictly tighter
    *    than the parent-pair bound max(in_max(l), out_max(r)) used
    *    through r16 (that one maxed over ALL pairs touching a shared
    *    letter, which on a shared-alphabet vocabulary froze realized
    *    batch width at ~2). A later candidate is accepted only while
    *    its count strictly exceeds every accepted rule's T: anything a
    *    batched merge could have created ranks strictly below it, so
    *    classic greedy would have picked the candidate next too.
    *    (Strict — a tie against a created pair would classic-tie-break
    *    lexicographically against a pair we never counted.) The
    *    never-counted premise fails if the created STRING l+r aliases
    *    a symbol that already exists via a different merge path, where
    *    created occurrences ADD to an already-counted pair — such an
    *    acceptance ends the batch (the `known` collision guard in the
    *    loop body).
    *
    * The first failed check STOPS the batch (beyond it, classic's next
    * argmax is unknowable without recounting). Worst case the batch is
    * 1 and the loop degenerates to the old per-merge behavior; the
    * per-round job count is 2 (candidate collect + applied checkpoint)
    * regardless of batch size, so vocab-scale training shrinks by the
    * measured mean batch size (spec-pinned batched ≡ sequential).
    */
  private def mergeLoop(words: DataFrame, wordCol: String, cntCol: String,
                        steps: Int, batch: Int)
      : (DataFrame, Seq[(Int, String, String, Long)], Option[Int]) = {
    require(batch >= 1, s"batch must be >= 1, got $batch")
    // The '(symbol)' wrapping reserves parentheses as delimiters: a word
    // containing '(' or ')' would make SymbolPattern mis-parse silently
    // (paren symbols dropped from pair counts, replace firing across
    // wrong boundaries). Such words are excluded up front — enforced,
    // not just documented; real tokenizers likewise pre-split away
    // punctuation before BPE.
    var w = words
      .filter(!col(wordCol).contains("(") && !col(wordCol).contains(")"))
      .select(col(wordCol), col(cntCol).cast("long").as("cnt"),
        symbolize(col(wordCol)).as("s")).cache()
    // Dataset.unpersist is a NO-OP on a localCheckpointed frame (the
    // blocks live outside the CacheManager), so each round's checkpoint
    // id is tracked through sc.getPersistentRDDs and the PREDECESSOR's
    // blocks are dropped explicitly once the new checkpoint has
    // materialized — without this, a vocab-scale run accumulates one
    // resident word-table copy per round until GC + ContextCleaner
    // catch up. (Safe: localCheckpoint lineage is already truncated, so
    // the freed predecessor was never a recompute source.) The FINAL
    // table's checkpoint is returned live and reclaimed by the cleaner
    // when callers drop the frame — the ConnectedComponents discipline.
    val sc = words.sparkSession.sparkContext
    var lastCkptId: Option[Int] = None
    val rules = Seq.newBuilder[(Int, String, String, Long)]
    // Collision guard for the ceiling argument (r17 advice): the
    // creation ceiling assumes a created pair was NEVER counted
    // pre-batch — false when the created token string l+r ALIASES a
    // symbol that already exists via a different merge path ('abab'
    // from (a,bab) while ab+ab survivors are around), where created
    // occurrences ADD to an existing counted pair and can push it past
    // a later-accepted candidate. `known` tracks a SUPERSET of the
    // live MULTI-CHAR symbol strings (every token ever created; a
    // superset only stops batches early, never wrongly accepts), and
    // an accepted rule whose l+r is already known ENDS the batch —
    // the rule itself is still classic-correct, everything after it
    // waits for the recount. Single-char alphabet entries need no
    // seeding: a created token l+r always has length ≥ 2, so it can
    // only collide with another CREATED token, never with an alphabet
    // symbol (the r18 alphabet pull was a dead extra distinct job).
    val known = scala.collection.mutable.HashSet.empty[String]
    var step = 1
    var exhausted = false
    while (step <= steps && !exhausted) {
      val pairs = w
        .select(col("cnt"),
          regexp_extract_all(col("s"), lit(SymbolPattern), lit(1)).as("a"))
        .select(col("cnt"), explode(graft.engine.functions.let(col("a")) { a =>
          when(size(a) >= 2, transform(sequence(lit(1), size(a) - 1),
            i => struct(element_at(a, i).as("lhs"), element_at(a, i + 1).as("rhs"))))
            .otherwise(array().cast("array<struct<lhs:string,rhs:string>>"))
        }).as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum("cnt").as("c"))
      val k = math.min(batch, steps - step + 1)
      val topK = pairs.orderBy(col("c").desc, col("lhs"), col("rhs")).limit(k)
      // creation-ceiling maxima from TRIPLES, keyed by the specific
      // candidate pair (see the creation-ceiling note above):
      // in3(l,r) = max_u c3(u,l,r), out3(l,r) = max_y c3(l,r,y) — both
      // vocab-bounded (one row per distinct adjacent pair with a
      // neighbor), and far tighter than the per-symbol parent-pair
      // maxima they replace.
      val trips = w
        .select(col("cnt"),
          regexp_extract_all(col("s"), lit(SymbolPattern), lit(1)).as("a"))
        .select(col("cnt"), explode(graft.engine.functions.let(col("a")) { a =>
          when(size(a) >= 3, transform(sequence(lit(1), size(a) - 2),
            i => struct(element_at(a, i).as("t1"), element_at(a, i + 1).as("t2"),
              element_at(a, i + 2).as("t3"))))
            .otherwise(array().cast("array<struct<t1:string,t2:string,t3:string>>"))
        }).as("t"))
        .groupBy(col("t.t1").as("t1"), col("t.t2").as("t2"), col("t.t3").as("t3"))
        .agg(sum("cnt").as("c3"))
      val in3 = trips.groupBy(col("t2").as("__l"), col("t3").as("__r"))
        .agg(max("c3").as("in_max"))
      val out3 = trips.groupBy(col("t1").as("__l2"), col("t2").as("__r2"))
        .agg(max("c3").as("out_max"))
      val cand = topK
        .join(broadcast(in3),
          topK("lhs") === in3("__l") && topK("rhs") === in3("__r"), "left")
        .join(broadcast(out3),
          topK("lhs") === out3("__l2") && topK("rhs") === out3("__r2"), "left")
        .select(topK("lhs"), topK("rhs"), topK("c"),
          coalesce(col("in_max"), lit(0L)).as("in_max"),
          coalesce(col("out_max"), lit(0L)).as("out_max"))
        .orderBy(col("c").desc, col("lhs"), col("rhs"))
        .collect()
      if (cand.isEmpty) exhausted = true
      else {
        val accepted = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        // directional staleness bans (count-stability note above):
        // lhsBan = symbols invalid as a later candidate's LHS,
        // rhsBan = invalid as its RHS
        val lhsBan = scala.collection.mutable.HashSet.empty[String]
        val rhsBan = scala.collection.mutable.HashSet.empty[String]
        var ceiling = Long.MinValue
        var stop = false
        for (row <- cand if !stop) {
          val (l, r, c) = (row.getString(0), row.getString(1), row.getLong(2))
          val a = math.max(row.getLong(3), row.getLong(4))
          if (accepted.nonEmpty &&
              (lhsBan(l) || rhsBan(r) || c <= ceiling)) stop = true
          else {
            accepted += ((l, r, c))
            lhsBan += r; rhsBan += l             // consumption directions
            if (l == r) { lhsBan += l; rhsBan += r }
            lhsBan += (l + r); rhsBan += (l + r) // the created token
            ceiling = math.max(ceiling, a)
            // created-string collision with a pre-existing symbol ends
            // the batch (see the `known` note above)
            if (batch > 1 && !known.add(l + r)) stop = true
          }
        }
        val prev = w
        val merged = accepted.foldLeft(col("s")) { case (e, (l, r, _)) =>
          replace(e, lit(s"($l)($r)"), lit(s"($l$r)")) }
        // localCheckpoint, not cache: each round's candidate plan
        // references the word table three times (topK + the two
        // neighbor-maxima aggregates), and over a nested
        // InMemoryRelation chain that makes analysis cost GROW with the
        // round number (measured: 19 s/round by round 16 vs 0.6 s flat
        // truncated). The iterative-checkpoint discipline
        // (ConnectedComponents.scala) cuts the plan to a Scan-
        // ExistingRDD every round, so per-round cost is constant at any
        // vocab-scale step count.
        val prevCkptId = lastCkptId
        val before = sc.getPersistentRDDs.keySet
        w = prev.select(col(wordCol), col("cnt"), merged.as("s"))
          .localCheckpoint()
        lastCkptId = (sc.getPersistentRDDs.keySet -- before)
          .headOption.orElse(prevCkptId)
        if (lastCkptId != prevCkptId)
          prevCkptId.foreach(id =>
            sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
        prev.unpersist() // round 1: releases the initial cache; later: no-op
        accepted.foreach { case (l, r, c) =>
          rules += ((step, l, r, c)); step += 1 }
      }
    }
    (w, rules.result(), lastCkptId)
  }

  /** Learn `steps` merge rules from `words(wordCol, cntCol)` (distinct
    * words with occurrence counts). Returns (step, lhs, rhs,
    * pair_count): at each step the globally most frequent adjacent
    * symbol pair — occurrence-weighted, ties broken (lhs, rhs)
    * lexicographic — is recorded and merged everywhere. Stops early if
    * no pairs remain (all words single-symbol).
    */
  def learnMerges(words: DataFrame, wordCol: String, cntCol: String,
                  steps: Int, batch: Int = 64): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    val (w, rules, ckptId) = mergeLoop(words, wordCol, cntCol, steps, batch)
    w.unpersist() // the round-0 cache path (no merge ever applied)
    ckptId.foreach(id => spark.sparkContext.getPersistentRDDs.get(id)
      .foreach(_.unpersist(false))) // the checkpointed final table
    rules.toDF("step", "lhs", "rhs", "pair_count")
  }

  /** Tokenizer APPLICATION: the vocabulary after `steps` learned merges
    * — each word with its occurrence count and its greedy-BPE token
    * string `(tok1)(tok2)…` plus the token count. This is the encode
    * step a pipeline ships alongside the learned rules: corpus text
    * encodes by word lookup into this vocabulary-sized table (a
    * broadcast or gram-keyed join), never by re-running merges per
    * document. Returned frame rides the loop's final materialization
    * (round-0 cache, or the last round's local checkpoint — reclaimed
    * by the ContextCleaner when callers drop the frame, the
    * ConnectedComponents return discipline).
    */
  def encodeWords(words: DataFrame, wordCol: String, cntCol: String,
                  steps: Int, batch: Int = 64): DataFrame =
    mergeLoop(words, wordCol, cntCol, steps, batch)._1
      .select(col(wordCol), col("cnt"),
        col("s").as("encoded"),
        size(regexp_extract_all(col("s"), lit(SymbolPattern), lit(1)))
          .cast("int").as("n_bpe_tokens"))
}
