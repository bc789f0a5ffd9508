package graft

import org.apache.spark.sql.functions._

/** Invariants for the retrieval-index family (q110/q111): the index
  * must round-trip (delta decode → exact membership) and the PMI pair
  * space must agree with a direct recount.
  */
class RetrievalSpec extends SparkSuite {

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("q110 postings delta-decode back to exact term membership") {
    val idx = q("q110_inverted_index")
    // un-delta: parse the delimited string, then a running sum over the
    // deltas restores doc ids
    val decoded = idx.select(col("term"), col("shard"), col("df"),
      expr("""aggregate(transform(split(deltas, '-'), x -> cast(x AS bigint)),
                        array(cast(0 as bigint)),
                        (acc, d) -> acc || array(element_at(acc, -1) + d))""").as("acc"))
      .select(col("term"), col("shard"), col("df"),
        slice(col("acc"), 2, 100000).as("p"))
    // df equals the decoded posting length
    assert(decoded.filter(size(col("p")) =!= col("df")).count() == 0)
    // exploded membership == the source term-document relation
    val fromIndex = decoded.select(col("term"), explode(col("p")).as("doc_id"))
    val direct = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(array_distinct(split(col("text"), " "))).as("term"), col("doc_id"))
    assert(fromIndex.exceptAll(direct).count() == 0)
    assert(direct.exceptAll(fromIndex).count() == 0)
    // shard is the segment of every doc it indexes
    val seg = graft.queries.Retrieval.SegmentDocs
    assert(decoded.select(col("shard"), explode(col("p")).as("d"))
      .filter(col("shard") =!= expr(s"d div $seg").cast("int")).count() == 0)
  }

  test("q110 plans as one scan and one shuffle") {
    val df = q("q110_inverted_index")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("\\+- == Initial Plan ==")(0)
    assert("Scan parquet".r.findAllIn(plan).size == 1, plan.take(1500))
    assert("Exchange (hash|range|Single|RoundRobin)".r.findAllIn(plan).size == 1,
      plan.take(1500))
  }

  test("q111 pair counts match a direct per-pair recount") {
    val out = q("q111_cooccur_pmi")
    assert(out.filter(col("t_a") >= col("t_b")).count() == 0)
    assert(out.filter(col("n_ab") < graft.queries.Retrieval.MinPairCount).count() == 0)
    // recount one pair end-to-end
    val row = out.orderBy(col("n_ab").desc, col("t_a"), col("t_b")).head()
    val ta = row.getAs[String]("t_a")
    val tb = row.getAs[String]("t_b")
    val nab = row.getAs[Int]("n_ab")
    val direct = spark.read.parquet(s"$sf/documents.parquet")
      .select(array_distinct(split(col("text"), " ")).as("ts"))
      .filter(array_contains(col("ts"), ta) && array_contains(col("ts"), tb))
      .count()
    assert(direct == nab, s"pair ($ta,$tb): index says $nab, recount says $direct")
  }
}
