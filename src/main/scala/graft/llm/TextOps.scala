package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, shingling, quality scoring, fingerprinting. All pure
  * column expressions (codegen'd, no UDFs), designed to run inside one
  * projection over a 100 TB documents table — no shuffle until an
  * explicit aggregation.
  */
object TextOps {

  /** Whitespace tokenization (the engine's canonical split; the BPE-ish
    * variant is [[tokenizeBpe]]).
    */
  def tokenize(text: Column): Column = split(text, " ")

  /** BPE-ish pre-tokenizer: letter runs, digit runs, or single
    * non-space symbols, via `regexp_extract_all` — RE2-compatible (no
    * lookarounds), so the identical pattern runs in engines without PCRE
    * (and in the DuckDB oracle).
    */
  val BpePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"
  def tokenizeBpe(text: Column): Column =
    regexp_extract_all(text, lit(BpePattern), lit(0))

  /** Distinct word n-gram shingles of an array-of-token column.
    *
    * Short inputs (fewer than `n` tokens, including null arrays) yield an
    * empty shingle set: `sequence(1, stop)` with `stop < 1` would otherwise
    * infer step -1 and produce a descending index range whose
    * out-of-range `element_at` throws under ANSI mode.
    *
    * The incoming `tokens` expression is bound to a lambda variable (the
    * single-element `transform(array(...))` wrapper) before any per-gram
    * reference. Without the binding, a caller passing a computed column
    * like `tokenize(text)` gets the tokenizer INLINED into the per-element
    * lambda — 2 regex splits of the full text per shingle (measured 5× on
    * the LSH signature stage; interpreted eval has no common-subexpression
    * elimination to save it).
    */
  def shingles(tokens: Column, n: Int): Column =
    graft.engine.functions.let(tokens) { ts =>
      val grams = when(size(ts) >= n,
        transform(sequence(lit(1), size(ts) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(j => element_at(ts, i + j)): _*)))
        .otherwise(array().cast("array<string>"))
      array_distinct(grams)
    }

  /** ALL word n-grams in document order, duplicates kept — the
    * denominator for repetition ratios ([[shingles]] is the distinct-set
    * variant used for dedup/decontamination keys). Same short-input
    * guard as [[shingles]].
    */
  def ngramsAll(tokens: Column, n: Int): Column =
    graft.engine.functions.let(tokens) { ts =>
      when(size(ts) >= n,
        transform(sequence(lit(1), size(ts) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(j => element_at(ts, i + j)): _*)))
        .otherwise(array().cast("array<string>"))
    }

  /** Highest single-token occurrence count in the document — the
    * numerator of the max-token-share repetition signal. O(distinct·n)
    * comparisons per row, all inside one codegen'd projection: constant
    * work per document regardless of corpus size, so the cost profile is
    * identical at 100 TB (embarrassingly parallel, no shuffle).
    */
  def maxTokenFreq(tokens: Column): Column =
    graft.engine.functions.let(tokens) { ts =>
      array_max(transform(array_distinct(ts),
        x => size(filter(ts, y => y === x))))
    }

  /** Cleaning normalization: drop stopwords and tokens shorter than
    * `minLen` characters — the standard pre-training text scrub.
    */
  def normalizeTokens(tokens: Column, stop: Seq[String], minLen: Int): Column =
    filter(tokens, t => length(t) >= minLen && !t.isin(stop.map(lit): _*))

  /** Count of tokens belonging to `stop` (set membership per element). */
  def stopCount(tokens: Column, stop: Seq[String]): Column =
    size(filter(tokens, t => t.isin(stop.map(lit): _*)))

  /** Blended document quality score (the q28 formula, reusable):
    * `0.5·(1-stopRatio) + 0.3·(1-shortRatio) + 0.2·min(meanLen/10, 1)`.
    * The token array is let-bound so a computed tokenizer argument is
    * evaluated once, not once per ratio.
    */
  def qualityScore(tokens: Column, stop: Seq[String]): Column =
    graft.engine.functions.let(tokens) { ts =>
      val n = size(ts)
      val stopRatio = stopCount(ts, stop).cast("double") / n
      val shortRatio = size(filter(ts, t => length(t) <= 2)).cast("double") / n
      val meanLen = aggregate(transform(ts, t => length(t)), lit(0),
        (acc, x) => acc + x).cast("double") / n
      lit(0.5) * (lit(1.0) - stopRatio) + lit(0.3) * (lit(1.0) - shortRatio) +
        lit(0.2) * least(meanLen / lit(10.0), lit(1.0))
    }

  /** Flesch reading ease (Flesch 1948; the readability axis q28's
    * lexical ratios don't see — sentence structure and word weight):
    * `206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)`.
    * Counts are regex-run integers — words = `\S+` runs, sentences =
    * `[.!?]+` runs, syllables ≈ `[aeiouy]+` vowel groups of the
    * lowercased text (the classic approximation; exact syllabification
    * needs a dictionary) — and the score is a FIXED left-associated
    * chain of IEEE ops over their ratios, so an external engine
    * replays it bit-for-bit (q234). Degenerate inputs stay finite:
    * word and sentence counts floor at 1 inside the formula (raw
    * counts are the caller's to report), so punctuation-free corpora
    * score as one long sentence rather than dividing by zero.
    */
  def fleschEase(text: Column): Column =
    graft.engine.functions.let(text) { t =>
      val w = greatest(lit(1),
        size(regexp_extract_all(t, lit("\\S+"), lit(0)))).cast("double")
      val s = greatest(lit(1),
        size(regexp_extract_all(t, lit("[.!?]+"), lit(0)))).cast("double")
      val syl = size(regexp_extract_all(lower(t), lit("[aeiouy]+"), lit(0)))
        .cast("double")
      lit(206.835) - lit(1.015) * (w / s) - lit(84.6) * (syl / w)
    }

  /** 128-bit content fingerprint (md5 hex) — the exact-dedup key. */
  def fingerprint(text: Column): Column = md5(text)

  /** Content-defined chunking (q210/q211): split a token array into
    * chunks that end after any token whose md5 hash rank selects it
    * (1-in-`selMod`), so boundaries follow CONTENT, not position —
    * edits shift only the chunk they touch. Returns an array of
    * structs (chunk_text, n_chunk_tokens) in order; pure per-row array
    * ops (one filtered index pass + slicing between consecutive cuts),
    * linear in tokens.
    */
  def cdcChunks(tokens: Column, selMod: Int): Column = {
    import graft.engine.functions.let
    let(tokens) { tk =>
      let(concat(
          array(lit(0)),
          when(size(tk) > 1,
            filter(sequence(lit(1), size(tk) - 1), i =>
              graft.ops.Sampling.hashRank(element_at(tk, i)) % selMod === 0))
            .otherwise(array().cast("array<int>")),
          array(size(tk)))) { cuts =>
        transform(
          sequence(lit(1), size(cuts) - 1), k =>
          struct(
            concat_ws(" ", slice(tk, element_at(cuts, k) + 1,
              element_at(cuts, k + 1) - element_at(cuts, k))).as("chunk_text"),
            (element_at(cuts, k + 1) - element_at(cuts, k)).cast("int")
              .as("n_chunk_tokens")))
      }
    }
  }
}
