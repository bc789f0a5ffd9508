package graft

import org.apache.spark.sql.functions._

/** Physical layout: a partitioned parquet write that scans prune —
  * plan-level assertions, not just values.
  */
class LayoutSpec extends SparkSuite {

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

}
