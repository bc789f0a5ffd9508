package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Key-based upsert (MERGE) as a plain relational composition — the
  * table-maintenance primitive for engines without a transactional
  * table format: updates win on key collision, unmatched current rows
  * survive, new keys append. One anti-join shuffle + a union; at scale
  * the write side partitions the output (`partitionBy`) so only
  * touched partitions rewrite.
  */
object Upsert {

  /** @param current the existing table
    * @param updates  upserted rows (same schema)
    * @param keys     match columns
    */
  def merge(current: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame =
    current.join(updates.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .unionByName(updates)
}
