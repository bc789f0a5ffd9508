package graft

import org.apache.spark.sql.functions._
import graft.ops.{Bucketing, Salt}

/** Physical-layout operators: bucketed co-located joins (no exchange at
  * read time) and skew salting — plan-level assertions, not just values.
  */
class LayoutSpec extends SparkSuite {
  import spark.implicits._

  test("bucketed join plans with zero shuffle exchanges") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val customer = spark.read.parquet(s"$sf/customer.parquet")
      .withColumnRenamed("c_custkey", "o_custkey")
    Bucketing.writeBucketed(orders, "b_orders", "o_custkey", 8, Some("o_custkey"))
    Bucketing.writeBucketed(customer, "b_customer", "o_custkey", 8, Some("o_custkey"))

    // Disable auto-broadcast: at test scale the planner would broadcast
    // the small side and bypass the bucketed layout entirely.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Bucketing.bucketJoin(spark, "b_orders", "b_customer", "o_custkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join should not shuffle:\n$plan")
      val expected = orders.join(customer, Seq("o_custkey")).count()
      assert(joined.count() == expected)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("partitioned parquet prunes partitions at scan time") {
    val dir = GraftSession.scratchDir("graft_part").toString
    val events = graft.queries.T(spark, sf, "events") // handles ns timestamps
    graft.io.Sinks.parquetPartitioned(
      events.select(col("event_id"), col("user_id"), col("event_type"), col("value")),
      dir, Seq("event_type"))
    val scan = spark.read.parquet(dir).filter(col("event_type") === "click")
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      (plan.contains("isnotnull(event_type") || plan.contains("event_type#")),
      s"expected partition filter in:\n$plan")
    val expected = events.filter(col("event_type") === "click").count()
    assert(scan.count() == expected)
    // Pruned read, asserted on the files the scan exec actually selects
    // (inputFiles reflects the unfiltered relation, so it can't see
    // pruning): every selected file sits under the click partition.
    val scanExec = scan.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    val files = scanExec.selectedPartitions.toPartitionArray
      .map(_.filePath.toString)
    assert(files.nonEmpty, "scan selected no files")
    assert(files.forall(_.contains("event_type=click")),
      s"expected only event_type=click files, got:\n${files.mkString("\n")}")
    val allPartitions = spark.read.parquet(dir).inputFiles
    assert(allPartitions.exists(_.contains("event_type=view")),
      "unfiltered read should see other partitions (else the pruning assertion is vacuous)")
  }

  test("saltedJoin matches plain join results") {
    val big = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_custkey").as("k"), col("o_totalprice").as("v"))
    val small = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"))
    val salted = Salt.saltedJoin(big, small, "k", 7)
      .groupBy("seg").agg(count(lit(1)).as("n"), round(sum(col("v")), 2).as("t"))
      .as[(String, Long, Double)].collect().toSet
    val plain = big.join(small, Seq("k"))
      .groupBy("seg").agg(count(lit(1)).as("n"), round(sum(col("v")), 2).as("t"))
      .as[(String, Long, Double)].collect().toSet
    assert(salted == plain)
  }

  test("saltedAgg matches direct aggregation") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_returnflag").as("k"), col("l_quantity").as("v"))
    val salted = Salt.saltedAgg(df, "k", "v", 11, partial = sum, fin = sum)
      .select(col("k"), round(col("v"), 4).as("v")).as[(String, Double)].collect().toSet
    val direct = df.groupBy("k").agg(round(sum(col("v")), 4).as("v"))
      .as[(String, Double)].collect().toSet
    assert(salted == direct)
  }
}
