package graft.engine

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Cast, Expression, ExpressionInfo, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.LongType
import graft.engine.expressions.{DotProduct, JaroWinkler, MinHashSignatures}
import graft.engine.{functions => F}

/** SparkSessionExtensions entry point: makes the engine's custom
  * Catalyst expressions and table functions SQL-callable in any session
  * built with `spark.sql.extensions=graft.engine.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`). It injects no optimizer
  * rule: the engine's operators plan through stock Catalyst
  * (SURVEY.md §4/§7.3).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Lift a Column-combinator kernel (engine.functions) into a catalyst
    * expression builder: wrap the argument expressions as Columns, apply
    * the combinator, unwrap the resulting tree (graftbridge.ColumnBridge).
    * The kernels are pure column math, so the lifted tree is ordinary
    * codegen'd Catalyst — no UDF boundary is introduced.
    */
  private def lift(builder: Seq[Column] => Column)(exprs: Seq[Expression]): Expression =
    ColumnBridge.toExpr(builder(exprs.map(ColumnBridge.toCol)))

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("graft_dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot_product"),
      (exprs: Seq[Expression]) => DotProduct(exprs.head, exprs(1))))
    e.injectFunction((
      FunctionIdentifier("graft_minhashes"),
      new ExpressionInfo(classOf[MinHashSignatures].getName, "graft_minhashes"),
      (exprs: Seq[Expression]) =>
        MinHashSignatures(exprs.head, exprs(1).eval().asInstanceOf[Int],
          if (exprs.length > 2) exprs(2).eval().asInstanceOf[Int] else 1)))
    e.injectFunction((
      FunctionIdentifier("graft_jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinkler].getName, "graft_jaro_winkler"),
      (exprs: Seq[Expression]) => JaroWinkler(exprs.head, exprs(1))))
    // Runtime-filter sketch pair (ops.BloomPrune's SQL surface), keys
    // xxhash64-ed as InjectRuntimeFilter plans them internally.
    e.injectFunction((
      FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(classOf[BloomFilterAggregate].getName, "graft_bloom_agg"),
      (exprs: Seq[Expression]) =>
        new BloomFilterAggregate(new XxHash64(Seq(exprs.head)),
          Cast(exprs(1), LongType), Cast(exprs(2), LongType))))
    e.injectFunction((
      FunctionIdentifier("graft_bloom_might_contain"),
      new ExpressionInfo(classOf[BloomFilterMightContain].getName, "graft_bloom_might_contain"),
      (exprs: Seq[Expression]) =>
        BloomFilterMightContain(exprs.head, new XxHash64(Seq(exprs(1))))))
    // Scoring kernels F5/F6/F8 (SURVEY.md §2.7/§2.9) — SQL parity for the
    // blended-similarity surface: graft_haversine_score(lat1, lon1, lat2,
    // lon2), graft_hops_score(codeA, codeB), graft_blended_score(cos,
    // hops, havs[, wHops, wHavs]).
    e.injectFunction((
      FunctionIdentifier("graft_haversine_score"),
      new ExpressionInfo(F.getClass.getName, "graft_haversine_score"),
      lift(cs => F.haversineScore(cs(0), cs(1), cs(2), cs(3))) _))
    e.injectFunction((
      FunctionIdentifier("graft_hops_score"),
      new ExpressionInfo(F.getClass.getName, "graft_hops_score"),
      lift(cs => F.hopsScore(cs(0), cs(1))) _))
    e.injectFunction((
      FunctionIdentifier("graft_blended_score"),
      new ExpressionInfo(F.getClass.getName, "graft_blended_score"),
      (exprs: Seq[Expression]) => {
        val (wHops, wHavs) =
          if (exprs.length > 4) (foldedDouble(exprs(3)), foldedDouble(exprs(4)))
          else (0.399, 0.001)
        lift(cs => F.blendedScore(cs(0), cs(1), cs(2), wHops, wHavs))(exprs.take(3))
      }))

    // ------------------------------------------------------------------
    // Table-valued SQL surface for the dedup/ANN operator families: a
    // `spark.sql` user reaches the whole-relation 100 TB operators with
    // `SELECT * FROM graft_minhash_pairs('docs', 'doc_id', 'shingles')`
    // — no Scala. Each builder resolves its table-name arguments
    // against the ACTIVE session's catalog (temp views included),
    // builds the operator's DataFrame pipeline, and hands its logical
    // plan to the analyzer; the plan is the exact plan the Scala API
    // produces (RulesSpec pins parity), so the scale shape — banded
    // shuffles, candidate-only verifies, bounded broadcasts — carries
    // over unchanged. Arguments must be literals (they parameterize
    // plan construction, not per-row evaluation).
    // ------------------------------------------------------------------
    injectTable(e, "graft_minhash_pairs", classOf[graft.llm.DedupOps.type]) { exprs =>
      val df = activeTable(exprs(0))
      graft.llm.DedupOps.lshCandidates(df, str(exprs(1)), str(exprs(2)),
        bands = optInt(exprs, 3, 4), rowsPerBand = optInt(exprs, 4, 2))
    }
    injectTable(e, "graft_simhash_pairs", classOf[graft.llm.DedupOps.type]) { exprs =>
      graft.llm.DedupOps.simhashNearDups(activeTable(exprs(0)),
        str(exprs(1)), str(exprs(2)), hamMax = optInt(exprs, 3, 3))
    }
    injectTable(e, "graft_prefix_jaccard_pairs", classOf[graft.llm.DedupOps.type]) { exprs =>
      graft.llm.DedupOps.prefixJaccardPairs(activeTable(exprs(0)),
        str(exprs(1)), str(exprs(2)), int(exprs(3)), int(exprs(4)))
    }
    injectTable(e, "graft_brute_topk", classOf[graft.llm.SimSearch.type]) { exprs =>
      graft.llm.SimSearch.bruteForceTopK(activeTable(exprs(0)), activeTable(exprs(1)),
        str(exprs(2)), str(exprs(3)), int(exprs(4)))
    }
    injectTable(e, "graft_sq8_topk", classOf[graft.llm.SimSearch.type]) { exprs =>
      graft.llm.SimSearch.sq8TopK(activeTable(exprs(0)), activeTable(exprs(1)),
        str(exprs(2)), str(exprs(3)), int(exprs(4)))
    }
    injectTable(e, "graft_ivfpq_topk", classOf[graft.llm.SimSearch.type]) { exprs =>
      graft.llm.SimSearch.ivfPqTopK(activeTable(exprs(0)), activeTable(exprs(1)),
        str(exprs(2)), str(exprs(3)), int(exprs(4)), dim = int(exprs(5)))
    }
    injectTable(e, "graft_winnowing_pairs", classOf[graft.llm.DedupOps.type]) { exprs =>
      graft.llm.DedupOps.winnowingOverlap(activeTable(exprs(0)),
        str(exprs(1)), str(exprs(2)),
        n = optInt(exprs, 3, 4), w = optInt(exprs, 4, 4),
        maxDf = optInt(exprs, 5, 50), minShared = optInt(exprs, 6, 2))
    }
    // filtered ANN: the predicate is a SQL expression string parsed in
    // the active session — `graft_filtered_topk('emb','q','id','e',
    // 'label = 1', 10)`
    injectTable(e, "graft_filtered_topk", classOf[graft.llm.SimSearch.type]) { exprs =>
      graft.llm.SimSearch.filteredIvfTopK(activeTable(exprs(0)), activeTable(exprs(1)),
        str(exprs(2)), str(exprs(3)),
        org.apache.spark.sql.functions.expr(str(exprs(4))), int(exprs(5)))
    }
    // fuzzy entity resolution: the block key is a SQL expression string
    // over the name table's columns (same parse-in-session discipline
    // as graft_filtered_topk) — `graft_fuzzy_pairs('names', 'name',
    // 'substring(name, 1, 1)', 0.86[, 3])`
    injectTable(e, "graft_fuzzy_pairs", classOf[graft.ops.EntityResolution.type]) { exprs =>
      graft.ops.EntityResolution.blockedFuzzyPairs(
        activeTable(exprs(0)), str(exprs(1)),
        org.apache.spark.sql.functions.expr(str(exprs(2))),
        foldedDouble(exprs(3)), optInt(exprs, 4, 3))
    }
    injectTable(e, "graft_er_canonicalize", classOf[graft.ops.EntityResolution.type]) { exprs =>
      val entities = activeTable(exprs(0))
      val nameCol = str(exprs(1))
      val pairs = graft.ops.EntityResolution.blockedFuzzyPairs(
        entities, nameCol, org.apache.spark.sql.functions.expr(str(exprs(2))),
        foldedDouble(exprs(3)), optInt(exprs, 4, 3))
      graft.ops.EntityResolution.canonicalize(entities, nameCol, pairs)
    }
    // dirty-feed lookup: probes resolved top-1 against a directory —
    // `graft_fuzzy_lookup('probes','probe','dir','name', prefixLen,
    // threshold[, maxLenDiff])`; blocking is the name's prefixLen-char
    // prefix on both sides (arbitrary block expressions stay on the
    // Scala API, which takes a Column function).
    injectTable(e, "graft_fuzzy_lookup", classOf[graft.ops.EntityResolution.type]) { exprs =>
      val prefixLen = int(exprs(4))
      graft.ops.EntityResolution.fuzzyLookup(
        activeTable(exprs(0)), str(exprs(1)), activeTable(exprs(2)), str(exprs(3)),
        c => org.apache.spark.sql.functions.substring(c, 1, prefixLen),
        foldedDouble(exprs(5)), optInt(exprs, 6, 3))
    }
    injectTable(e, "graft_bq_topk", classOf[graft.llm.SimSearch.type]) { exprs =>
      graft.llm.SimSearch.binaryHammingTopK(activeTable(exprs(0)), activeTable(exprs(1)),
        str(exprs(2)), str(exprs(3)), int(exprs(4)),
        candFactor = optInt(exprs, 5, 4))
    }
    // sparse lexical near-dup (q120's exact-sum plan) —
    // `graft_sparse_sim('docs', 'doc_id', 'text'[, gramN, maxDf, minSim])`
    injectTable(e, "graft_sparse_sim", classOf[graft.llm.SparseSim.type]) { exprs =>
      graft.llm.SparseSim.idfCosineJoin(activeTable(exprs(0)),
        str(exprs(1)), str(exprs(2)),
        gramN = optInt(exprs, 3, 3), maxDf = optInt(exprs, 4, 100),
        minSim = if (exprs.length > 5) foldedDouble(exprs(5)) else 0.5)
    }
    // tiered retrieval: truncated-prefix candidates + exact rerank —
    // `graft_matryoshka_topk('emb', 'queries', 'id', 'emb', k,
    // prefixDim[, candFactor])`
    injectTable(e, "graft_matryoshka_topk", classOf[graft.llm.SimSearch.type]) { exprs =>
      graft.llm.SimSearch.matryoshkaTopK(activeTable(exprs(0)), activeTable(exprs(1)),
        str(exprs(2)), str(exprs(3)), int(exprs(4)), int(exprs(5)),
        candFactor = optInt(exprs, 6, 4))
    }
    // graph family: `graft_kcore('edges', 'src', 'dst', k, rounds)` and
    // `graft_ppr('edges', 'src', 'dst', 'w', 'seeds', 'seedCol', iters)`
    injectTable(e, "graft_kcore", classOf[graft.ops.KCore.type]) { exprs =>
      graft.ops.KCore.kCore(activeTable(exprs(0)), str(exprs(1)), str(exprs(2)),
        int(exprs(3)), int(exprs(4)))
    }
    injectTable(e, "graft_ppr", classOf[graft.ops.PageRank.type]) { exprs =>
      graft.ops.PageRank.personalized(activeTable(exprs(0)), str(exprs(1)),
        str(exprs(2)), str(exprs(3)), activeTable(exprs(4)), str(exprs(5)),
        int(exprs(6)))
    }
    // ANN tier auto-selection — `graft_auto_topk('corpus', 'queries',
    // 'id', 'emb', k[, recallTarget, bytesPerVector])`: planner picks
    // BQ/PQ/SQ8/IVF/brute from corpus stats + the target/budget
    injectTable(e, "graft_auto_topk", classOf[graft.llm.SimSearch.type]) { exprs =>
      graft.llm.SimSearch.autoTopK(activeTable(exprs(0)), activeTable(exprs(1)),
        str(exprs(2)), str(exprs(3)), int(exprs(4)),
        recallTarget = if (exprs.length > 5) foldedDouble(exprs(5)) else 0.9,
        bytesPerVector = if (exprs.length > 6) int(exprs(6)).toLong else Long.MaxValue)
    }
    // hub-guarded within-group pairs — `graft_group_pairs('t', 'group',
    // 'item'[, hubThreshold, salts])`
    injectTable(e, "graft_group_pairs", classOf[graft.ops.Cooccur.type]) { exprs =>
      graft.ops.Cooccur.groupPairs(activeTable(exprs(0)), str(exprs(1)),
        str(exprs(2)), hubThreshold = optInt(exprs, 3, 1000),
        salts = optInt(exprs, 4, 16))
    }
    // interval-overlap join — `graft_interval_overlap('left', 'loL',
    // 'hiL', 'right', 'loR', 'hiR', 'key', binWidth)` (single equi-key;
    // multi-key callers use the Scala API)
    injectTable(e, "graft_interval_overlap", classOf[graft.ops.RangeJoin.type]) { exprs =>
      graft.ops.RangeJoin.intervalOverlap(
        activeTable(exprs(0)), str(exprs(1)), str(exprs(2)),
        activeTable(exprs(3)), str(exprs(4)), str(exprs(5)),
        Seq(str(exprs(6))), foldedDouble(exprs(7)))
    }
    // ε-DP group-count release — `graft_dp_counts('t', 'group', eps, seed)`
    injectTable(e, "graft_dp_counts", classOf[graft.ops.Quality.type]) { exprs =>
      graft.ops.Quality.dpGroupCounts(activeTable(exprs(0)),
        Seq(str(exprs(1))), foldedDouble(exprs(2)), int(exprs(3)).toLong)
    }
    // large-star/small-star connected components —
    // `graft_alternating_cc('edges', 'src', 'dst')`
    injectTable(e, "graft_alternating_cc",
        classOf[graft.ops.ConnectedComponents.type]) { exprs =>
      graft.ops.ConnectedComponents.alternatingStar(activeTable(exprs(0)),
        str(exprs(1)), str(exprs(2)))
    }
  }

  /** Evaluate a foldable literal argument (the weight knobs) to Double. */
  private def foldedDouble(e: Expression): Double =
    Cast(e, org.apache.spark.sql.types.DoubleType).eval().asInstanceOf[Double]

  // -- table-function plumbing ---------------------------------------

  private def injectTable(e: SparkSessionExtensions, name: String, owner: Class[_])
                         (build: Seq[Expression] => org.apache.spark.sql.DataFrame): Unit =
    e.injectTableFunction((
      FunctionIdentifier(name),
      new ExpressionInfo(owner.getName, name),
      (exprs: Seq[Expression]) => build(exprs).queryExecution.logical))

  /** Resolve a table-name literal against the active session (the one
    * analyzing the query that referenced the function).
    */
  private def activeTable(e: Expression): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.SparkSession.active.table(str(e))

  private def str(e: Expression): String = {
    val v = e.eval()
    require(v != null, "graft table-function arguments must be non-null literals")
    v.toString
  }

  private def int(e: Expression): Int =
    Cast(e, org.apache.spark.sql.types.IntegerType).eval().asInstanceOf[Int]

  private def optInt(exprs: Seq[Expression], i: Int, default: Int): Int =
    if (exprs.length > i) int(exprs(i)) else default
}
