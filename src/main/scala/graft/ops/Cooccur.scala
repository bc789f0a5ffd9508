package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Within-group unordered pair generation — the primitive under the
  * co-occurrence family (q157 item-item, q196 association rules): for
  * each group, every (item_a < item_b) pair of its members, one output
  * row per pair occurrence.
  *
  * The plain formulation is a self-join on the group key. That is
  * correct AND bounded on TPC-H-shaped data (lines per order ≈ 4), but
  * a shuffle join keys ALL of a group's rows to one reducer, so a
  * single pathological hub group of k items puts k² pair emissions in
  * ONE task — the straggler that kills a 100 TB run while 999 executors
  * idle. AQE's skew-join split does not save the self-join case cheaply
  * (both sides of the same key skew together), and no join strategy
  * changes the k² OUTPUT — what the guard buys is spreading that
  * inherent work across the cluster instead of one core.
  *
  * Guard = size-routed fragment-replicate (the 1-bucket theta-join
  * partitioning of Okcan & Riedewald, SIGMOD'11, specialized to
  * self-pairs): groups at or under `hubThreshold` take the plain
  * self-join; larger groups hash each item into one of `salts` chunks
  * and join on (group, chunk-of-right), with the left side replicated
  * to every chunk — each pair is emitted by exactly one (chunk) task,
  * and a hub group's k² work spreads over `salts` tasks at the cost of
  * replicating its rows `salts`×. Output is row-identical to the plain
  * self-join either way (CooccurSpec pins equality and that a
  * synthetic hub key really fans out across tasks).
  *
  * Threshold math: a task handles ≤ max(hubThreshold², k²/salts) pair
  * emissions. Pick hubThreshold at the p99.9 group size from a skew
  * profile (the q140 machinery) and salts ≈ (p_max/p99.9)² capped by
  * cluster width.
  */
object Cooccur {

  def groupPairs(df: DataFrame, groupCol: String, itemCol: String,
                 hubThreshold: Int = 1000, salts: Int = 16): DataFrame = {
    // Eager, BOUNDED routing decision (the JoinEstimate/skew-profile
    // discipline, same spirit as AQE's runtime re-plan), served from
    // the process-wide [[SkewProfile]] cache: the profile is a property
    // of (relation, key), so the whole co-occurrence family over the
    // same input pays ONE counting pass, not one per query — and plan
    // re-construction (e.g. the graft_group_pairs SQL function's
    // analyzer resolution) hits the cache instead of re-scanning.
    val hubIds = SkewProfile.hubIds(df, groupCol, hubThreshold)

    def pairsOf(part: DataFrame): DataFrame =
      part.select(col(groupCol), col(itemCol).as("pa"))
        .join(part.select(col(groupCol), col(itemCol).as("pb")), Seq(groupCol))
        .filter(col("pa") < col("pb"))

    // the common case pays literally nothing beyond the count pass
    if (hubIds.isEmpty) return pairsOf(df)

    // literal IN routing pushes to the scan — no routing join at all
    val small = df.filter(!col(groupCol).isin(hubIds: _*))
    val big = df.filter(col(groupCol).isin(hubIds: _*))
    def chunk = pmod(xxhash64(col(itemCol)), lit(salts)).cast("int")
    val left = big.select(col(groupCol), col(itemCol).as("pa"))
      .withColumn("__cb", explode(sequence(lit(0), lit(salts - 1))))
    val right = big.select(col(groupCol), chunk.as("__cb"), col(itemCol).as("pb"))
    // the shuffle_hash hint IS the guard's teeth: left to itself the
    // planner broadcasts whichever side fits and executes the join on
    // the OTHER side's existing group-keyed distribution — putting the
    // hub's k² emissions right back on one task. Forcing a shuffled
    // join makes both sides exchange on (group, chunk), so a hub
    // group's work occupies `salts` reducers by construction.
    val bigPairs = left.hint("shuffle_hash").join(right, Seq(groupCol, "__cb"))
      .filter(col("pa") < col("pb")).drop("__cb")
    pairsOf(small).unionByName(bigPairs)
  }

  /** DISTINCT ORDERED within-group pairs — [[groupPairs]] for
    * sequential semantics (q215): each (group, pa, pb) of distinct
    * items where some row of pa has `orderCol` strictly before some
    * row of pb, emitted ONCE. Span reduction is the algebraic
    * strength-reduction of the ordered self-join plus DISTINCT:
    * ∃ t_a < t_b over the items' occurrence times  ⟺
    * min t(pa) < max t(pb), so the input first collapses to ONE ROW
    * per (group, item) carrying (min t, max t) — shrinking the join
    * input by the item's repeat factor — and each qualifying pair is
    * emitted exactly once, which deletes the downstream
    * pair-cardinality DISTINCT exchange entirely (the dominant
    * shuffle: pair rows outnumber item rows quadratically). Same
    * size-routed hub guard as [[groupPairs]], applied after the
    * reduction (the profile sees the smaller frame): a hub group's k²
    * ordered emissions spread over `salts` reducers via the forced
    * (group, chunk-of-right) shuffle instead of hot-spotting one task.
    */
  def spanGroupPairs(df: DataFrame, groupCol: String, orderCol: String,
                     itemCol: String, hubThreshold: Int = 1000,
                     salts: Int = 16): DataFrame = {
    val spans = df.groupBy(col(groupCol), col(itemCol))
      .agg(min(col(orderCol)).as("__t0"), max(col(orderCol)).as("__t1"))
    val hubIds = SkewProfile.hubIds(spans, groupCol, hubThreshold)

    def pairsOf(part: DataFrame): DataFrame =
      part.select(col(groupCol), col("__t0"), col(itemCol).as("pa"))
        .join(part.select(col(groupCol), col("__t1").as("__u1"),
          col(itemCol).as("pb")), Seq(groupCol))
        .filter(col("__t0") < col("__u1") && col("pa") =!= col("pb"))
        .select(col(groupCol), col("pa"), col("pb"))

    if (hubIds.isEmpty) return pairsOf(spans)

    val small = spans.filter(!col(groupCol).isin(hubIds: _*))
    val big = spans.filter(col(groupCol).isin(hubIds: _*))
    def chunk = pmod(xxhash64(col(itemCol)), lit(salts)).cast("int")
    val left = big.select(col(groupCol), col("__t0"), col(itemCol).as("pa"))
      .withColumn("__cb", explode(sequence(lit(0), lit(salts - 1))))
    val right = big.select(col(groupCol), chunk.as("__cb"),
      col("__t1").as("__u1"), col(itemCol).as("pb"))
    val bigPairs = left.hint("shuffle_hash").join(right, Seq(groupCol, "__cb"))
      .filter(col("__t0") < col("__u1") && col("pa") =!= col("pb"))
      .select(col(groupCol), col("pa"), col("pb"))
    pairsOf(small).unionByName(bigPairs)
  }
}
