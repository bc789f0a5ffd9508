package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension Type 2 maintenance — the warehouse-standard
  * history-keeping upsert: instead of overwriting a changed dimension
  * row ([[Upsert]], Type 1), the old version is CLOSED (`valid_to` set,
  * `is_current` false) and the new version opens at the batch version.
  * Downstream fact joins can then be as-of-correct ([[AsOfJoin]] on
  * `valid_from`) instead of always-current.
  *
  * Reference counterpart: none — the reference rebuilds dimensions from
  * scratch each run (utils/transforms.py re-reads the full snapshot);
  * versioned history is the incremental-warehouse extension.
  *
  * Semantics per batch (`version` = the batch's version number):
  *  - key in updates, no current row → INSERT (open at `version`)
  *  - key in updates, current row differs on any tracked attr → the
  *    current row closes (`valid_to = version`), a new row opens
  *  - key in updates, current row identical → no-op (no empty versions)
  *  - key not in updates → untouched (absence is not deletion; feed
  *    explicit tombstones as attr changes if deletion must close rows)
  *
  * Null-safe attr comparison (`<=>`): a null→value or value→null change
  * IS a change. One shuffle on the key; history rows of unchanged keys
  * move only if the storage layout does (at 100 TB, partition the
  * dimension by key bucket and this is a per-bucket merge — the
  * [[Upsert]] scale note applies verbatim).
  */
object Scd2 {

  /** Open a version-0 history from an initial snapshot. */
  def init(snapshot: DataFrame, version: Long = 0L): DataFrame =
    snapshot
      .withColumn("valid_from", lit(version))
      .withColumn("valid_to", lit(null).cast("long"))
      .withColumn("is_current", lit(true))

  /** Apply one snapshot batch of `updates` (key + tracked attrs) to a
    * `history` table shaped like [[init]]'s output.
    */
  def apply(history: DataFrame, updates: DataFrame, key: String,
            attrs: Seq[String], version: Long): DataFrame = {
    val u = updates.select((key +: attrs).map(col): _*).dropDuplicates(key)
    val current = history.filter(col("is_current"))
    val attrDiffers = attrs.map(a => !(col(a) <=> col(s"__u_$a")))
      .reduce(_ || _)
    val uRenamed = u.select(col(key) +: attrs.map(a => col(a).as(s"__u_$a")): _*)
    // keys whose current row changes, and keys with no current row at all
    val joined = current.join(uRenamed, Seq(key), "right")
    val opening = joined
      .filter(col("is_current").isNull || attrDiffers)
      .select(col(key) +: attrs.map(a => col(s"__u_$a").as(a)): _*)
      .withColumn("valid_from", lit(version))
      .withColumn("valid_to", lit(null).cast("long"))
      .withColumn("is_current", lit(true))
    val closingKeys = joined.filter(col("is_current").isNotNull && attrDiffers)
      .select(col(key))
    val closed = current.join(closingKeys, Seq(key))
      .withColumn("valid_to", lit(version))
      .withColumn("is_current", lit(false))
    val untouched = history.join(
      closingKeys.withColumnRenamed(key, "__ck"),
      col(key) === col("__ck") && col("is_current"), "left_anti")
    untouched.unionByName(closed.select(untouched.columns.map(col): _*))
      .unionByName(opening.select(untouched.columns.map(col): _*))
  }
}
