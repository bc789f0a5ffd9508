package graft.engine

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level scoring / similarity kernels of the reference engine,
  * re-expressed as pure Catalyst column math (whole-stage-codegen'd,
  * no UDFs, no Python boundary).
  *
  * Reference semantics (see SURVEY.md §2.7):
  *  - haversine score: `src/search_ranking_peers.py:248-260`
  *  - NAICS "hops" score: `src/search_ranking_peers.py:262-274`
  *    (intended prefix-sensitive semantics; the checked-in formula is
  *    constant — defect d13)
  *  - blended score: `src/search_ranking_peers.py:310-312`
  */
object functions {

  /** Earth radius used by the reference (km), `search_ranking_peers.py:254`. */
  val EarthRadiusKm = 6373.0

  /** Max surface distance normalizer (km), `search_ranking_peers.py:259`. */
  val MaxDistanceKm = 20020.0

  /** Great-circle distance in km between two (lat, lon) pairs, in degrees.
    * Pure column math — codegen-friendly, distributable, no collect.
    */
  def haversineKm(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val dLat = radians(lat2 - lat1)
    val dLon = radians(lon2 - lon1)
    val a = pow(sin(dLat / 2), 2) +
      cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dLon / 2), 2)
    lit(2.0 * EarthRadiusKm) * asin(sqrt(a))
  }

  /** Reference geo score: `1 - haversine_km/20020`; any null coordinate
    * scores the neutral 0.5 (`search_ranking_peers.py:248-250`).
    */
  def haversineScore(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column =
    when(lat1.isNull || lon1.isNull || lat2.isNull || lon2.isNull, lit(0.5))
      .otherwise(lit(1.0) - haversineKm(lat1, lon1, lat2, lon2) / lit(MaxDistanceKm))

  /** NAICS taxonomy "hops" score between two industry codes of length
    * `codeLen` (reference uses 6-char L6 codes).
    *
    * Intended semantics (`search_ranking_peers.py:262-274`, defect d13 fixed):
    *  - either code not exactly `codeLen` chars -> -1.0
    *  - first char differs                      ->  0.0
    *  - full match                              ->  1.0
    *  - else, with l = common-prefix length,    ->  1 - (codeLen - l) * 2 / 10
    */
  def hopsScore(a: Column, b: Column, codeLen: Int = 6): Column = {
    val prefixLen = (2 to codeLen).foldLeft(lit(1)) { (acc, l) =>
      when(substring(a, 1, l) === substring(b, 1, l), lit(l)).otherwise(acc)
    }
    when(length(a) =!= codeLen || length(b) =!= codeLen, lit(-1.0))
      .when(substring(a, 1, 1) =!= substring(b, 1, 1), lit(0.0))
      .when(a === b, lit(1.0))
      .otherwise(lit(1.0) - (lit(codeLen) - prefixLen) * lit(2.0) / lit(10.0))
  }

  /** Numeric fast path of [[hopsScore]] for 6-hex-char codes (the engine's
    * synthesized NAICS codes are md5 prefixes; real NAICS digits 0-9 are
    * hex-safe too). Callers precompute each side ONCE as a 24-bit value —
    * `hopsCode(naics)` below — so the per-pair work is an xor plus a log,
    * instead of ~10 UTF8String allocations: on an O(n·m) pair explosion
    * the string form dominated the whole stage profile.
    *
    * Common-prefix nibbles from the xor: highest set bit p (0-based) sits
    * in nibble `floor(p/4)` from the LSB, so the shared prefix length is
    * `5 - floor(p/4)`. Semantics identical to [[hopsScore]]:
    * null (wrong length) -> -1, first char differs -> 0, equal -> 1,
    * else 1 - (6-l)*2/10.
    */
  def hopsScoreHex(aNum: Column, bNum: Column): Column = {
    val x = aNum.bitwiseXOR(bNum)
    val prefixLen = lit(5) - floor(log(2.0, x) / 4.0).cast("int")
    // NULL input falls through [[hopsScore]]'s CASE chain to the 0.0
    // otherwise-branch (every comparison is null), so the numeric path
    // must do the same; the wrong-length sentinel (-1L) keeps scoring -1.
    when(aNum.isNull || bNum.isNull, lit(0.0))
      .when(aNum === WrongLengthCode || bNum === WrongLengthCode, lit(-1.0))
      .when(x === 0, lit(1.0))
      .when(prefixLen === 0, lit(0.0))
      .otherwise(lit(1.0) - (lit(6) - prefixLen) * lit(2.0) / lit(10.0))
  }

  /** [[hopsCode]] sentinel for codes that are not exactly 6 chars: outside
    * the 24-bit value range, so it can never collide with a real code.
    */
  val WrongLengthCode: Long = -1L

  /** Per-side encoding for [[hopsScoreHex]]: a 6-hex-char code as a 24-bit
    * long; [[WrongLengthCode]] when the code is not exactly 6 chars (the
    * -1.0 score case), null for null input (the 0.0 fall-through case —
    * kept distinct so [[hopsScoreHex]] matches [[hopsScore]] on both).
    */
  def hopsCode(a: Column): Column =
    when(a.isNull, lit(null).cast("long"))
      .when(length(a) === 6, conv(a, 16, 10).cast("long"))
      .otherwise(lit(WrongLengthCode))

  /** Blended peer score `(1-wHops-wHavs)*cos + wHops*hops + wHavs*havs`
    * (`search_ranking_peers.py:310-312`; default weights `:608-611`).
    */
  def blendedScore(cosine: Column, hops: Column, havs: Column,
                   wHops: Double = 0.399, wHavs: Double = 0.001): Column =
    lit(1.0 - wHops - wHavs) * cosine + lit(wHops) * hops + lit(wHavs) * havs

  // ---------------------------------------------------------------------
  // Dense-vector kernels over ArrayType columns (the engine's native
  // embedding representation; VectorUDT only at the ML boundary).
  // All fold left-to-right in index order for cross-engine determinism.
  // ---------------------------------------------------------------------

  /** Let-binding for column expressions: evaluate `c` ONCE and pass the
    * bound value to `f`. Catalyst has no let-form; a computed column
    * referenced k times (worse: referenced inside a higher-order-function
    * lambda) is re-evaluated per reference, which turns an O(n) pipeline
    * into O(k·n) — measured 17× on the media-fingerprint normalize stage.
    * The single-element transform(array(c)) wrapper is the binding.
    */
  def let(c: Column)(f: Column => Column): Column =
    element_at(transform(array(c), f), 1)

  /** Dot product of two equal-length numeric array columns. */
  def dotProduct(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** L2 norm of a numeric array column. */
  def l2Norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** Element-wise L2 normalization (x / ||x||2); zero vector maps to itself. */
  def l2Normalize(a: Column): Column = {
    val n = l2Norm(a)
    transform(a, x => when(n === 0.0, x.cast("double")).otherwise(x.cast("double") / n))
  }
}
