package graft

import org.apache.spark.sql.functions._

class RulesSpec extends SparkSuite {
  import spark.implicits._

  test("GraftSession.builder: preloaded engine config") {
    // the shared test session is built by GraftSession.builder, so the
    // suites exercise the engine Verify gates and Bench times
    assert(spark.conf.get("spark.sql.extensions") == classOf[graft.engine.GraftExtensions].getName)
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize") == "16k")
    assert(spark.sql("SELECT graft_dot_product(array(1.0d), array(2.0d)) v")
      .head.getDouble(0) == 2.0)
  }

  test("GraftExtensions: F5/F6/F8 scoring kernels are SQL-callable") {
    // Each lifted function must agree with its Column-combinator twin.
    val r = spark.sql("""
      SELECT graft_haversine_score(10.0d, 20.0d, 10.0d, 20.0d) AS hv_same,
             graft_haversine_score(CAST(NULL AS DOUBLE), 20.0d, 10.0d, 20.0d) AS hv_null,
             graft_hops_score('123456', '123456') AS hp_eq,
             graft_hops_score('123456', '123499') AS hp_4,
             graft_hops_score('123456', '923456') AS hp_0,
             graft_hops_score('12345', '123456') AS hp_short,
             graft_blended_score(1.0d, 1.0d, 1.0d) AS bl_one,
             graft_blended_score(1.0d, 0.0d, 0.0d, 0.5d, 0.25d) AS bl_w
    """).head
    assert(r.getDouble(0) == 1.0) // zero distance
    assert(r.getDouble(1) == 0.5) // null coordinate -> neutral
    assert(r.getDouble(2) == 1.0)
    assert(math.abs(r.getDouble(3) - (1.0 - 2 * 2.0 / 10.0)) < 1e-12)
    assert(r.getDouble(4) == 0.0)
    assert(r.getDouble(5) == -1.0)
    assert(math.abs(r.getDouble(6) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(7) - 0.25) < 1e-12) // (1-.5-.25)*1
  }

  test("table functions: SQL surface == Scala API for the dedup/ANN families") {
    import graft.llm.{DedupOps, SimSearch, TextOps}
    def img(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet

    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val toks = docs.select(col("doc_id"),
      TextOps.ngramsAll(TextOps.tokenize(col("text")), 3).as("sh"))
    toks.createOrReplaceTempView("tf_docs")
    assert(img(spark.sql(
        "SELECT * FROM graft_minhash_pairs('tf_docs', 'doc_id', 'sh')")) ==
      img(DedupOps.lshCandidates(toks, "doc_id", "sh")))
    assert(img(spark.sql(
        "SELECT * FROM graft_simhash_pairs('tf_docs', 'doc_id', 'sh', 2)")) ==
      img(DedupOps.simhashNearDups(toks, "doc_id", "sh", hamMax = 2)))
    assert(img(spark.sql(
        "SELECT * FROM graft_prefix_jaccard_pairs('tf_docs', 'doc_id', 'sh', 1, 2)")) ==
      img(DedupOps.prefixJaccardPairs(toks, "doc_id", "sh", 1, 2)))

    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding")
    emb.createOrReplaceTempView("tf_emb")
    emb.filter(col("vec_id") % 100 === 0).createOrReplaceTempView("tf_q")
    val q = spark.table("tf_q")
    assert(img(spark.sql(
        "SELECT * FROM graft_brute_topk('tf_emb', 'tf_q', 'vec_id', 'embedding', 5)")) ==
      img(SimSearch.bruteForceTopK(emb, q, "vec_id", "embedding", 5)))
    assert(img(spark.sql(
        "SELECT * FROM graft_sq8_topk('tf_emb', 'tf_q', 'vec_id', 'embedding', 5)")) ==
      img(SimSearch.sq8TopK(emb, q, "vec_id", "embedding", 5)))
    assert(img(spark.sql(
        "SELECT * FROM graft_ivfpq_topk('tf_emb', 'tf_q', 'vec_id', 'embedding', 5, 64)")) ==
      img(SimSearch.ivfPqTopK(emb, q, "vec_id", "embedding", 5, dim = 64)))

    docs.createOrReplaceTempView("tf_rawdocs")
    assert(img(spark.sql(
        "SELECT * FROM graft_winnowing_pairs('tf_rawdocs', 'doc_id', 'text', 4, 4, 50, 1)")) ==
      img(DedupOps.winnowingOverlap(docs, "doc_id", "text",
        n = 4, w = 4, maxDf = 50, minShared = 1)))
    val embL = spark.read.parquet(s"$sf/embeddings.parquet")
    embL.createOrReplaceTempView("tf_embl")
    assert(img(spark.sql(
        "SELECT * FROM graft_filtered_topk('tf_embl', 'tf_q', 'vec_id', 'embedding', 'label = 1', 5)")) ==
      img(SimSearch.filteredIvfTopK(embL, q, "vec_id", "embedding",
        col("label") === 1, 5)))
    val names = spark.read.parquet(s"$sf/part.parquet").select(col("p_name"))
    names.createOrReplaceTempView("tf_names")
    assert(img(spark.sql(
        "SELECT * FROM graft_fuzzy_pairs('tf_names', 'p_name', 'substring(p_name, 1, 1)', 0.86)")) ==
      img(graft.ops.EntityResolution.blockedFuzzyPairs(
        names, "p_name", substring(col("p_name"), 1, 1), 0.86)))
    assert(img(spark.sql(
        "SELECT * FROM graft_er_canonicalize('tf_names', 'p_name', 'substring(p_name, 1, 1)', 0.86)")) ==
      img {
        val e = names.select(col("p_name")).distinct()
        graft.ops.EntityResolution.canonicalize(e, "p_name",
          graft.ops.EntityResolution.blockedFuzzyPairs(
            e, "p_name", substring(col("p_name"), 1, 1), 0.86))
      })
    val probes = names.select(regexp_replace(col("p_name"), "[aeiou]", "").as("probe"))
    probes.createOrReplaceTempView("tf_probes")
    assert(img(spark.sql(
        "SELECT * FROM graft_fuzzy_lookup('tf_probes', 'probe', 'tf_names', 'p_name', 1, 0.7, 4)")) ==
      img(graft.ops.EntityResolution.fuzzyLookup(probes, "probe", names, "p_name",
        c => substring(c, 1, 1), 0.7, maxLenDiff = 4)))

    // round-11 additions: tiered retrieval, graph family, guarded pairs
    // (sparse-sim compares the integer projection only: the fast path's
    // plain float sums may differ in the last ulp across executions)
    def pairsImg(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b", "n_shared").collect().map(_.toString).toSet
    assert(pairsImg(spark.sql(
        "SELECT * FROM graft_sparse_sim('tf_rawdocs', 'doc_id', 'text')")) ==
      pairsImg(graft.llm.SparseSim.idfCosineJoin(docs, "doc_id", "text",
        3, 100, 0.5)))
    assert(img(spark.sql(
        "SELECT * FROM graft_bq_topk('tf_emb', 'tf_q', 'vec_id', 'embedding', 5)")) ==
      img(SimSearch.binaryHammingTopK(emb, q, "vec_id", "embedding", 5)))
    assert(img(spark.sql(
        "SELECT * FROM graft_matryoshka_topk('tf_emb', 'tf_q', 'vec_id', 'embedding', 5, 8)")) ==
      img(SimSearch.matryoshkaTopK(emb, q, "vec_id", "embedding", 5, 8)))
    val edges = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    edges.createOrReplaceTempView("tf_li")
    assert(img(spark.sql(
        "SELECT * FROM graft_group_pairs('tf_li', 'o', 'p')")) ==
      img(graft.ops.Cooccur.groupPairs(edges, "o", "p")))
    val pe = graft.ops.Cooccur.groupPairs(edges, "o", "p")
      .groupBy("pa", "pb").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 2).select("pa", "pb")
    pe.createOrReplaceTempView("tf_pe")
    assert(img(spark.sql("SELECT * FROM graft_kcore('tf_pe', 'pa', 'pb', 3, 2)")) ==
      img(graft.ops.KCore.kCore(pe, "pa", "pb", 3, 2)))
    val we = edges.groupBy(col("o").as("src")).agg(count(lit(1)).as("w"))
      .select(col("src"), (col("src") % 7).as("dst"), col("w"))
    we.createOrReplaceTempView("tf_we")
    spark.sql("SELECT 0 AS seed UNION ALL SELECT 1").createOrReplaceTempView("tf_seeds")
    assert(img(spark.sql(
        "SELECT * FROM graft_ppr('tf_we', 'src', 'dst', 'w', 'tf_seeds', 'seed', 3)")) ==
      img(graft.ops.PageRank.personalized(we, "src", "dst", "w",
        spark.table("tf_seeds"), "seed", 3)))

    // round-12 additions: overlap join, DP release, star CC, auto-ANN
    val ivA = spark.sql(
      "SELECT l_partkey AS k, l_orderkey * 10 + l_linenumber AS id_a, " +
      "datediff(l_shipdate, DATE '1992-01-01') AS lo_a, " +
      "datediff(l_shipdate, DATE '1992-01-01') + CAST(l_quantity AS INT) AS hi_a " +
      "FROM parquet.`" + sf + "/lineitem.parquet` WHERE l_orderkey % 7 = 0")
    val ivB = ivA.select(col("k"), col("id_a").as("id_b"),
      col("lo_a").as("lo_b"), col("hi_a").as("hi_b"))
    ivA.createOrReplaceTempView("tf_iva"); ivB.createOrReplaceTempView("tf_ivb")
    assert(img(spark.sql(
        "SELECT * FROM graft_interval_overlap('tf_iva', 'lo_a', 'hi_a', 'tf_ivb', 'lo_b', 'hi_b', 'k', 32.0)")) ==
      img(graft.ops.RangeJoin.intervalOverlap(ivA, "lo_a", "hi_a",
        ivB, "lo_b", "hi_b", Seq("k"), 32.0)))
    val cust = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_mktsegment").as("seg"))
    cust.createOrReplaceTempView("tf_cust")
    assert(img(spark.sql(
        "SELECT * FROM graft_dp_counts('tf_cust', 'seg', 0.5, 7)")) ==
      img(graft.ops.Quality.dpGroupCounts(cust, Seq("seg"), 0.5, 7L)))
    assert(img(spark.sql(
        "SELECT * FROM graft_alternating_cc('tf_pe', 'pa', 'pb')")) ==
      img(graft.ops.ConnectedComponents.alternatingStar(pe, "pa", "pb")))
    assert(img(spark.sql(
        "SELECT * FROM graft_auto_topk('tf_emb', 'tf_q', 'vec_id', 'embedding', 5, 1.0)")) ==
      img(SimSearch.bruteForceTopK(emb, q, "vec_id", "embedding", 5)))
  }
}
