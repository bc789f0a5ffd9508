package graft

import org.apache.spark.sql.functions._

/** Semantic invariants for the corpus-curation family (q103–q107). The
  * DuckDB oracle pins exact values; these pin the properties that make
  * the operators safe to run on a corpus the oracle can't hold: lossless
  * chunking, eval-side exclusion, filter soundness, and sampling
  * determinism under repartitioning.
  */
class CurationSpec extends SparkSuite {

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("q103 chunking is lossless: chunks reassemble to the original text") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"),
        size(split(col("text"), " ")).as("n_tokens"))
    val back = q("q103_doc_chunks")
      .groupBy("doc_id")
      .agg(
        concat_ws(" ", array_sort(collect_list(struct(col("chunk_id"), col("chunk_text"))))
          .getField("chunk_text")).as("rebuilt"),
        sum("n_chunk_tokens").as("tok_sum"))
    val joined = docs.join(back, "doc_id")
    assert(joined.filter(col("rebuilt") =!= col("text")).count() == 0)
    assert(joined.filter(col("tok_sum") =!= col("n_tokens")).count() == 0)
    assert(joined.count() == docs.count())
  }

  test("q103 chunk sizes: every chunk is full except possibly the last") {
    val chunks = q("q103_doc_chunks").cache()
    try {
      val bad = chunks
        .withColumn("last_id", max("chunk_id").over(
          org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
        .filter(col("chunk_id") < col("last_id") &&
          col("n_chunk_tokens") =!= graft.queries.Curation.ChunkCap)
      assert(bad.count() == 0)
      assert(chunks.filter(col("n_chunk_tokens") < 1 ||
        col("n_chunk_tokens") > graft.queries.Curation.ChunkCap).count() == 0)
    } finally chunks.unpersist()
  }

  test("q104 decontamination never flags the eval slice itself") {
    val out = q("q104_decontaminate")
    assert(out.filter(col("doc_id") % 97 === 0).count() == 0)
    assert(out.filter(col("n_shared_grams") < 1 || col("n_eval_docs") < 1).count() == 0)
  }

  test("q105 normalization keeps only long non-stopword tokens") {
    val bad = q("q105_text_normalize")
      .select(col("doc_id"), col("retention"),
        explode(split(col("clean_text"), " ")).as("tok"))
      .filter(col("tok") =!= "") // empty clean_text explodes to one "" row
      .filter(length(col("tok")) < 3 ||
        col("tok").isin(graft.queries.Text.Stop.map(lit): _*))
    assert(bad.count() == 0)
    val r = q("q105_text_normalize")
      .agg(min("retention"), max("retention")).head()
    assert(r.getDouble(0) >= 0.0 && r.getDouble(1) <= 1.0)
  }

  test("q106 repetition signals stay in range and match their flag") {
    val out = q("q106_repetition")
    assert(out.filter(col("max_token_share") <= 0 || col("max_token_share") > 1).count() == 0)
    assert(out.filter(col("dup_bigram_ratio") < 0 || col("dup_bigram_ratio") >= 1).count() == 0)
    val mislabeled = out.filter(
      col("repetitive") =!= (col("max_token_share") > 0.2 || col("dup_bigram_ratio") > 0.1))
    assert(mislabeled.count() == 0)
  }

  test("stratified sample is a pure function of the data, not the partitioning") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("source"))
    val rates = Map("src0" -> 1.0, "src1" -> 0.5)
    def ids(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Sampling.stratifiedSample(df, "doc_id", "source", rates, 0.2)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(docs) == ids(docs.repartition(7)))
    // rate 1.0 strata survive intact
    val kept = graft.ops.Sampling.stratifiedSample(docs, "doc_id", "source", rates, 0.2)
    assert(kept.filter(col("source") === "src0").count() ==
      docs.filter(col("source") === "src0").count())
  }

  test("PrefixSum matches the window running sum and survives repartitioning") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("n_chars"))
    val viaWindow = docs.withColumn("cb",
      coalesce(sum("n_chars").over(
        org.apache.spark.sql.expressions.Window.orderBy("doc_id")
          .rowsBetween(Long.MinValue, -1)), lit(0L)))
      .select("doc_id", "cb").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    Seq(docs, docs.repartition(7), docs.coalesce(1)).foreach { d =>
      val viaScan = graft.ops.PrefixSum
        .withRunningSum(d, "n_chars", "cb", Seq(col("doc_id")))
        .select("doc_id", "cb").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(viaScan == viaWindow)
    }
  }

  test("PrefixSum.withRunningSums: k columns in one scan match k single scans") {
    // the KS rewrite needs TWO running totals over one order — the
    // multi-column scan must agree column-for-column with independent
    // single-column scans, under any input partitioning
    import spark.implicits._
    val rows = (1 to 500).map(i =>
      (i.toLong, (i * 13 % 29).toLong, (i * 7 % 17).toLong))
    val df = rows.toDF("id", "a", "b")
    val viaSingles = {
      val wa = graft.ops.PrefixSum.withRunningSum(df, "a", "ra", Seq(col("id")))
      graft.ops.PrefixSum.withRunningSum(wa, "b", "rb", Seq(col("id")))
        .select("id", "ra", "rb").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    }
    Seq(df, df.repartition(11), df.coalesce(1)).foreach { d =>
      val got = graft.ops.PrefixSum
        .withRunningSums(d, Seq("a", "b"), Seq("ra", "rb"), Seq(col("id")))
        .select("id", "ra", "rb").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
      assert(got == viaSingles)
    }
  }

  test("q108 packing is lossless and every pack except the last is full") {
    val out = q("q108_pack_concat").cache()
    try {
      val docs = spark.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens"))
      // per-doc: slices reassemble the whole document
      val perDoc = out.groupBy("doc_id").agg(sum("n_pack_tokens").as("packed"))
        .join(docs, "doc_id")
      assert(perDoc.filter(col("packed") =!= col("n_tokens")).count() == 0)
      assert(perDoc.count() == docs.count())
      // per-pack: contiguous ids, all full but the final one
      val cap = graft.queries.Curation.PackCap
      val perPack = out.groupBy("pack_id").agg(sum("n_pack_tokens").as("sz"))
      val maxPack = perPack.agg(max("pack_id")).head().getInt(0)
      assert(perPack.count() == maxPack + 1)
      assert(perPack.filter(col("pack_id") < maxPack && col("sz") =!= cap).count() == 0)
      assert(perPack.filter(col("sz") < 1 || col("sz") > cap).count() == 0)
    } finally out.unpersist()
  }

  test("q113 pack text is the corpus token stream, cut at pack boundaries") {
    val packs = q("q113_pack_text")
      .orderBy("pack_id").collect()
    val stream = packs.flatMap(_.getAs[String]("pack_text").split(" ")).toSeq
    val direct = spark.read.parquet(s"$sf/documents.parquet")
      .orderBy("doc_id").collect()
      .flatMap(_.getAs[String]("text").split(" ")).toSeq
    assert(stream == direct, "concatenated packs must reproduce the doc_id-ordered token stream")
    val cap = graft.queries.Curation.PackCap
    assert(packs.dropRight(1).forall(_.getAs[Int]("n_pack_tokens") == cap))
  }

  test("decontamination bloom-prefilter path returns the exact plain-join id set") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "source", "text")
    val isEval = col("doc_id") % 97 === 0
    def ids(bloom: Boolean) = graft.llm.Decontaminate
      .contaminatedIds(docs, "doc_id", "text", isEval, n = 3, bloomPrefilter = bloom)
      .collect().map(_.getLong(0)).sorted.toSeq
    val plain = ids(bloom = false)
    assert(plain.nonEmpty)
    assert(ids(bloom = true) == plain)
  }

  test("q109 training prep: packed stream is dense and excludes the holdout") {
    val out = q("q109_training_prep").cache()
    try {
      assert(out.count() > 0)
      assert(out.filter(col("doc_id") % 97 === 0).count() == 0, "eval slice leaked into training")
      val cap = graft.flows.TrainingPrep.Config(stop = Nil).packCap
      val perPack = out.groupBy("pack_id").agg(sum("n_pack_tokens").as("sz"))
      val maxPack = perPack.agg(max("pack_id")).head().getInt(0)
      assert(perPack.count() == maxPack + 1, "pack ids must be contiguous")
      assert(perPack.filter(col("pack_id") < maxPack && col("sz") =!= cap).count() == 0,
        "every pack except the last must be exactly full")
    } finally out.unpersist()
  }

  test("budget sample respects the quota, is partitioning-independent, and keeps a prefix") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).as("n"))
    def keep(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Sampling.budgetSample(df, "doc_id", "source", col("n"),
        budget = 500L, cumCol = "cum")
    val out = keep(docs).cache()
    try {
      // quota: no stratum's kept total exceeds the budget
      assert(out.groupBy("source").agg(sum("n").as("tot"))
        .filter(col("tot") > 500L).count() == 0)
      // pure function of the data, not the partitioning
      def ids(df: org.apache.spark.sql.DataFrame) =
        keep(df).select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(ids(docs) == ids(docs.repartition(7)))
      // prefix property: the kept set is exactly the hash-rank prefix —
      // every excluded row of a stratum ranks after every kept row, so
      // adding the next-ranked row would overflow the budget.
      val ranked = docs.withColumn("h", graft.ops.Sampling.hashRank(col("doc_id")))
      val maxKept = out.join(ranked, Seq("doc_id", "source"))
        .groupBy("source").agg(max("h").as("kh"))
      val dropped = ranked.join(out.select("doc_id"), Seq("doc_id"), "left_anti")
        .join(maxKept, "source")
        .filter(col("h") < col("kh"))
      assert(dropped.count() == 0, "a dropped row hash-ranked before a kept row")
    } finally out.unpersist()
  }

  test("q117 overlap chunks: full coverage, fixed stride, W−S shared tokens") {
    val (win, stride) = (graft.queries.Curation.OverlapWindow, graft.queries.Curation.OverlapStride)
    val chunks = q("q117_overlap_chunks").cache()
    try {
      val docs = spark.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id"), col("text"),
          size(split(col("text"), " ")).as("n"))
      // last chunk ends at n, so every token is covered
      val last = chunks
        .groupBy("doc_id")
        .agg(max(col("chunk_id") * stride + col("n_chunk_tokens")).as("end"),
          count(lit(1)).as("nc"))
        .join(docs, "doc_id")
      assert(last.filter(col("end") =!= col("n")).count() == 0)
      // chunk count formula: 1 + ceil(max(0, n - W) / S)
      assert(last.filter(col("nc") =!=
        (lit(1) + ceil(greatest(col("n") - win, lit(0)) / lit(stride.toDouble)).cast("int")))
        .count() == 0)
      // adjacent chunks share exactly W−S tokens (when both are full windows)
      val a = chunks.select(col("doc_id"), col("chunk_id"), col("chunk_text"))
      val overlap = a.join(
          a.select(col("doc_id"), (col("chunk_id") - 1).as("chunk_id"),
            col("chunk_text").as("next_text")), Seq("doc_id", "chunk_id"))
        .filter(size(split(col("next_text"), " ")) === win)
        .filter(size(split(col("chunk_text"), " ")) === win)
        .filter(concat_ws(" ", slice(split(col("chunk_text"), " "), stride + 1, win - stride))
          =!= concat_ws(" ", slice(split(col("next_text"), " "), 1, win - stride)))
      assert(overlap.count() == 0, "chunk tails must equal the next chunk's head")
    } finally chunks.unpersist()
  }

  test("q145 redaction: every planted PII class is found and replaced") {
    val out = q("q145_pii_redact").cache()
    try {
      // each doc gets one planted specimen per class — counts must all
      // be >= 1, and the redacted text (hashed) must differ across docs
      // only through the original text, never leak a raw specimen
      import org.apache.spark.sql.functions._
      assert(out.filter(col("n_emails") < 1 || col("n_urls") < 1 ||
        col("n_ips") < 1 || col("n_phones") < 1).count() == 0)
    } finally out.unpersist()
  }

  test("q147 novelty is a valid fraction and reference docs are excluded") {
    val out = q("q147_novelty").cache()
    try {
      import org.apache.spark.sql.functions._
      assert(out.filter(col("doc_id") % 10 =!= 0).count() == 0,
        "only arriving-slice docs may be scored")
      assert(out.filter(col("novelty") < 0 || col("novelty") > 1 ||
        col("n_novel") > col("n_grams")).count() == 0)
    } finally out.unpersist()
  }

  test("q148 epoch positions are a permutation of 1..N with per-source factors") {
    val out = q("q148_epoch_order").cache()
    try {
      import org.apache.spark.sql.functions._
      val n = out.count()
      // positions are exactly 1..N (no gaps, no duplicates)
      assert(out.agg(min("pos"), max("pos"), countDistinct("pos")).head() ==
        org.apache.spark.sql.Row(1L, n, n))
      // every document appears exactly its factor's number of times
      val docs = spark.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id"), when(col("source") === "web", 1)
          .when(col("source") === "wiki", 3).otherwise(2).as("nf"))
      val counts = out.groupBy("doc_id").count()
        .join(docs, "doc_id").filter(col("count") =!= col("nf"))
      assert(counts.count() == 0, "copy count must equal the source factor")
    } finally out.unpersist()
  }

  test("q151 padding waste: batches are full, waste non-negative, lengths sorted") {
    val out = q("q151_padding_waste").cache()
    try {
      import org.apache.spark.sql.functions._
      val b = graft.queries.Curation.PadBatch
      assert(out.filter(col("waste") < 0).count() == 0)
      // every batch except possibly the last is exactly PadBatch docs
      val lastId = out.agg(max("batch_id")).head().getLong(0)
      assert(out.filter(col("batch_id") < lastId && col("n_docs") =!= b).count() == 0)
      // batches are length-ordered: each batch's max <= previous batch's max
      val rows = out.orderBy("batch_id").select("max_len").collect().map(_.getInt(0))
      assert(rows.zip(rows.tail).forall { case (a, c) => a >= c },
        "batch max lengths must be non-increasing")
    } finally out.unpersist()
  }

  test("q152 split hits the per-source quota byte-exactly") {
    val out = q("q152_exact_stratified_split").cache()
    try {
      import org.apache.spark.sql.functions._
      val bad = out.groupBy("source")
        .agg(count(lit(1)).as("n"),
          sum(when(col("split") === "eval", 1L).otherwise(0L)).as("ne"))
        .filter(col("ne") =!= floor(col("n") * lit(graft.queries.Curation.EvalRate)))
      assert(bad.count() == 0, "eval quota must be exactly floor(n * rate)")
    } finally out.unpersist()
  }

  test("per-row curation stages plan with zero exchanges") {
    Seq("q103_doc_chunks", "q105_text_normalize", "q106_repetition",
        "q117_overlap_chunks").foreach { name =>
      val plan = q(name).queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"$name should be a narrow per-row transform:\n${plan.take(1500)}")
    }
    // q107 corpus side must not shuffle: the only allowed exchange is the
    // broadcast of the literal rates table.
    val p7 = q("q107_domain_mix").queryExecution.executedPlan.toString
    assert(!p7.contains("ShuffleExchange") && p7.contains("BroadcastExchange"), p7.take(1500))
  }

  test("q210 CDC chunking: lossless reassembly; boundaries survive a front insertion") {
    import spark.implicits._
    // real corpus: lossless reassembly per doc
    val sfDir = sf
    val chunks = graft.SparkEntry.queries("q210_cdc_chunks")(spark, sfDir)
    val reassembled = chunks.groupBy("doc_id")
      .agg(concat_ws(" ", array_sort(collect_list(struct(col("chunk_idx"),
        col("chunk_text")))).getField("chunk_text")).as("re"))
    val orig = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    assert(orig.join(reassembled, "doc_id")
      .filter(col("re") =!= col("text")).count() == 0)
    // insertion robustness: prepend one token to a doc; every chunk after
    // the insertion-containing one is unchanged (fixed windows all shift)
    val one = orig.orderBy("doc_id").head
    val base = one.getString(1)
    def cdc(text: String): Seq[String] = {
      val dir2 = GraftSession.scratchDir("cdc_one").toString
      Seq((1L, text)).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir2/documents.parquet")
      graft.SparkEntry.queries("q210_cdc_chunks")(spark, dir2)
        .orderBy("chunk_idx").collect().map(_.getString(2)).toSeq
    }
    val a = cdc(base)
    val b = cdc("inserted " + base)
    val keep = math.min(a.size, b.size) - 1
    assert(keep > 0 && a.takeRight(keep) == b.takeRight(keep),
      s"suffix chunks shifted: a=${a.size} b=${b.size}")
  }
}
