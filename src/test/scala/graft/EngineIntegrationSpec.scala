package graft

import org.apache.spark.sql.functions._
import graft.io.Sources

class EngineIntegrationSpec extends SparkSuite {

  test("entry flagship returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every registered query runs and returns rows at sf0.001", SlowTest) {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("every oracle key exists in queries; names are stable") {
    val qs = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs))
    assert(qs.forall(_.matches("q\\d+_[a-z0-9_]+")))
  }

  test("Sources.latestDatePartition picks max yyyyMMdd dir") {
    val tmp = GraftSession.scratchDir("graft_snap").toFile
    Seq("20240101", "20240301", "20231231", "not_a_date").foreach { d =>
      new java.io.File(tmp, d).mkdirs()
    }
    val got = Sources.latestDatePartition(spark, tmp.getAbsolutePath)
    assert(got.exists(_.endsWith("20240301")))
    assert(Sources.latestDatePartition(spark, tmp.getAbsolutePath + "/missing").isEmpty)
  }

  test("Sources csv pipe + inferred round-trip via Sinks") {
    import spark.implicits._
    val df = Seq((1, "x|y"), (2, "plain")).toDF("id", "s")
    val dir = GraftSession.scratchDir("graft_csv").toString
    graft.io.Sinks.csv(df.select(col("id"), regexp_replace(col("s"), "\\|", "_").as("s")),
      dir + "/out", singleFile = true)
    val back = Sources.csvInferred(spark, dir + "/out")
    assert(back.count() == 2)
    assert(back.schema("id").dataType.typeName == "integer")
  }

  test("Sinks json round-trip (K3), including the singleFile option") {
    import spark.implicits._
    val df = Seq((1L, "a", 0.5), (2L, "b", 1.25), (3L, null.asInstanceOf[String], -2.0))
      .toDF("id", "s", "score")
    val dir = GraftSession.scratchDir("graft_json").toString
    // multi-part write -> read back: same rows, JSON line-record semantics
    // (null field omitted from the record, restored as null on read)
    graft.io.Sinks.json(df, dir + "/multi")
    val back = Sources.json(spark, dir + "/multi")
    assert(back.count() == 3)
    assert(back.select("id", "s", "score").collect().map(r =>
        (r.getLong(0), r.getString(1), r.getDouble(2))).toSet ==
      Set((1L, "a", 0.5), (2L, "b", 1.25), (3L, null, -2.0)))
    // singleFile = coalesce(1): exactly one part file, same content
    graft.io.Sinks.json(df, dir + "/single", singleFile = true)
    val parts = new java.io.File(dir + "/single").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".json"))
    assert(parts.length == 1, s"expected one part file, got ${parts.length}")
    assert(Sources.json(spark, dir + "/single").count() == 3)
  }

  test("Sources orc round-trip, text lines, binaryFile ingestion") {
    import spark.implicits._
    val dir = GraftSession.scratchDir("graft_io").toString
    // orc: write via Sinks, read via Sources, schema + rows preserved
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    graft.io.Sinks.orc(df, dir + "/orc")
    val orcBack = Sources.orc(spark, dir + "/orc")
    assert(orcBack.count() == 2 && orcBack.schema("id").dataType.typeName == "long")
    // text: one row per line
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "corpus.txt"),
      "line one\nline two\nline three".getBytes)
    assert(Sources.text(spark, dir + "/corpus.txt").count() == 3)
    // binaryFile: content + length surface as columns; glob filters
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "img.bin"),
      Array[Byte](1, 2, 3, 4))
    val bin = Sources.binaryFiles(spark, dir, Some("*.bin"))
    val row = bin.select("length", "content").head
    assert(row.getLong(0) == 4L && row.getAs[Array[Byte]](1).length == 4)
  }

  test("csv malformed rows: PERMISSIVE nulls + captures, DROPMALFORMED drops") {
    val dir = GraftSession.scratchDir("graft_bad").toString
    // row 2 is structurally malformed (MORE tokens than the schema); bad
    // casts merely null the field and short rows are null-padded in
    // Spark 4 — only excess tokens trip the mode machinery
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "in.csv"),
      "id,v\n1,10\n2,20,extra,tokens\n3,30".getBytes)
    val schema = "id INT, v INT, _corrupt STRING"
    val permissive = spark.read.option("header", "true").option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .schema(schema).csv(dir).cache()
    assert(permissive.count() == 3)
    assert(permissive.filter(col("_corrupt").isNotNull).count() == 1)
    val dropped = spark.read.option("header", "true").option("mode", "DROPMALFORMED")
      .schema("id INT, v INT").csv(dir)
    // collect, not count: a bare count() prunes ALL columns from the CSV
    // parse, and unparsed rows can't be detected as malformed
    assert(dropped.collect().length == 2)
  }

  test("parquet schema evolution: mergeSchema unions column sets") {
    import spark.implicits._
    val dir = GraftSession.scratchDir("graft_evolve").toString
    Seq((1L, "a")).toDF("id", "v1").write.parquet(dir + "/p=1")
    Seq((2L, "b", 9.9)).toDF("id", "v1", "v2").write.parquet(dir + "/p=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet == Set("id", "v1", "v2", "p"))
    // old files surface the new column as null
    assert(merged.filter(col("p") === 1).head.isNullAt(merged.columns.indexOf("v2")))
  }

  test("GraftExtensions: custom expressions SQL-callable") {
    val dot = spark.sql(
      "SELECT graft_dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS v")
      .head.getDouble(0)
    assert(dot == 11.0)
    val mh = spark.sql(
      "SELECT graft_minhashes(array('a', 'b'), 2) AS sigs").head.getSeq[String](0)
    assert(mh.length == 2 && mh.forall(_.length == 32))
    // bloom pair: build over 0..9, membership hits inside, misses
    // outside. The filter side must be a scalar subquery (or literal) —
    // the same constraint Spark's own runtime filter satisfies — and the
    // probe key TYPE must match the build key type (xxhash64 hashes by
    // width: INT 5 and BIGINT 5 hash differently, like join key types).
    val hits = spark.sql("""
      SELECT graft_bloom_might_contain(
               (SELECT graft_bloom_agg(id, 10, 200) FROM range(10)),
               CAST(5 AS BIGINT)) AS hit,
             graft_bloom_might_contain(
               (SELECT graft_bloom_agg(id, 10, 200) FROM range(10)),
               CAST(123456 AS BIGINT)) AS miss""").head
    assert(hits.getBoolean(0) && !hits.getBoolean(1))
  }

  test("peer-search flow: deterministic, prospect served, topK bounded") {
    val flow = graft.flows.PeerSearchFlow
    val r1 = flow.run(spark, sf).collect()
    val r2 = flow.run(spark, sf).collect()
    assert(r1.sameElements(r2))
    assert(r1.exists(_.getAs[Long]("tgt_custkey") == -1L)) // injected prospect ranked
    val perTgt = r1.groupBy(_.getAs[Long]("tgt_custkey")).values.map(_.length)
    assert(perTgt.forall(_ <= 15))
  }

  test("literal table injection + unionByName (S5/O5)") {
    val lit = Sources.literalTable(spark, Seq("a", "b"), Seq(Seq("1", "x"), Seq("2", null)))
    assert(lit.count() == 2)
    val merged = lit.unionByName(Sources.literalTable(spark, Seq("b", "a"), Seq(Seq("y", "3"))))
    assert(merged.count() == 3)
    assert(merged.filter(col("b").isNull).count() == 1)
  }

  test("randomSplit with fixed seed is reproducible (O6)") {
    val df = spark.range(1000).toDF("id")
    val a = df.randomSplit(Array(0.9, 0.1), seed = 100)(0).count()
    val b = df.randomSplit(Array(0.9, 0.1), seed = 100)(0).count()
    assert(a == b)
  }
}
