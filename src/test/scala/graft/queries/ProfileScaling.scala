package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaled inputs for scale-up measurements: key-shifted unions of the
  * sf0.1 fact tables (customer/orders/lineitem x2, x4 — surrogate keys
  * offset per copy so cross-table references stay consistent and no
  * artificial duplicates collapse), written as an sf dir that
  * `graft.Profile` times like any other. Dimension tables pass through
  * unchanged; documents, embeddings and events get their own scalers
  * below (verbatim document copies would near-dup against each other
  * and grow the candidate space quadratically, measuring a different
  * workload, not the same one scaled).
  */
object ProfileScaling {

  def buildScaled(spark: SparkSession, src: String, dst: String, copies: Int): Unit = {
    val fs = java.nio.file.Paths.get(dst)
    java.nio.file.Files.createDirectories(fs)
    val cust = spark.read.parquet(s"$src/customer.parquet")
    val ord = spark.read.parquet(s"$src/orders.parquet")
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    val custShift = cust.agg(max("c_custkey")).head.getLong(0) + 1
    val ordShift = ord.agg(max("o_orderkey")).head.getLong(0) + 1
    def replicate(df: DataFrame, shifts: Map[String, Long]): DataFrame =
      (0 until copies).map { i =>
        shifts.foldLeft(df) { case (d, (c, s)) => d.withColumn(c, col(c) + lit(i * s)) }
      }.reduce(_ unionByName _)
    replicate(cust, Map("c_custkey" -> custShift))
      .write.mode("overwrite").parquet(s"$dst/customer.parquet")
    replicate(ord, Map("o_orderkey" -> ordShift, "o_custkey" -> custShift))
      .write.mode("overwrite").parquet(s"$dst/orders.parquet")
    replicate(li, Map("l_orderkey" -> ordShift))
      .write.mode("overwrite").parquet(s"$dst/lineitem.parquet")
    // pass-through tables the measured queries need as dimensions
    Seq("nation", "region", "part", "supplier").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    buildScaledDocs(spark, src, dst, copies)
    buildScaledEmbeddings(spark, src, dst, copies)
    buildScaledEvents(spark, src, dst, copies)
  }

  /** Scale the events table: event_id/user_id-shifted copies with
    * timestamps UNCHANGED — the right scaling for windowed workloads
    * (per-hour density grows ×copies, the window count stays fixed,
    * exactly what a busier feed looks like), while shifted user_ids
    * grow the distinct-count space the HLL rollups measure.
    */
  def buildScaledEvents(spark: SparkSession, src: String, dst: String,
                        copies: Int): Unit = {
    val ev = T(spark, src, "events")
    val idShift = ev.agg(max("event_id")).head.getLong(0) + 1
    val userShift = ev.agg(max("user_id")).head.getLong(0) + 1
    (0 until copies).map { i =>
      if (i == 0) ev
      else ev.withColumn("event_id", col("event_id") + lit(i * idShift))
        .withColumn("user_id", col("user_id") + lit(i * userShift))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dst/events.parquet")
  }

  /** Scale the embeddings table: vec_id-shifted verbatim copies. The
    * vector CONTENT is unchanged (ANN cost is driven by corpus and
    * query cardinality, not by vector values), so x4 grows both the
    * corpus and — since the registered ANN queries sample their query
    * set from the same table — the query set: brute force scales as
    * |Q|·|C| (16x at x4) while the compressed scans (PQ/SQ8) pay the
    * same pair growth on 8-byte codes. That separation is what the
    * switch-point table in SCALE.md reads off.
    */
  def buildScaledEmbeddings(spark: SparkSession, src: String, dst: String,
                            copies: Int): Unit = {
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val shift = emb.agg(max("vec_id")).head.getLong(0) + 1
    (0 until copies).map { i =>
      if (i == 0) emb else emb.withColumn("vec_id", col("vec_id") + lit(i * shift))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
  }

  /** Scale the documents table WITHOUT the verbatim-copy trap: each
    * copy's tokens get a copy-unique prefix, so vocabularies are
    * disjoint across copies and content-keyed workloads (gram joins,
    * inverted terms, fingerprints, near-dup candidates) grow linearly —
    * the same workload scaled, not a quadratically colliding one.
    */
  def buildScaledDocs(spark: SparkSession, src: String, dst: String, copies: Int): Unit = {
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val shift = docs.agg(max("doc_id")).head.getLong(0) + 1
    (0 until copies).map { i =>
      if (i == 0) docs
      else docs
        .withColumn("doc_id", col("doc_id") + lit(i * shift))
        .withColumn("text",
          concat(lit(s"c${i}_"), regexp_replace(col("text"), " ", s" c${i}_")))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")
  }

  /** Write a `copies`-times scaled sf dir: `<src> <dst> <copies>`.
    * Time it with `graft.Profile summary <dst> ...`.
    */
  def main(args: Array[String]): Unit = {
    val Array(src, dst, copies) = args
    val spark = graft.GraftSession.builder(
      cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    buildScaled(spark, src, dst, copies.toInt)
    spark.stop()
  }
}
