package graft.feature

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.feature._
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's feature-engineering chain (SURVEY.md §2.8 M1-M9),
  * built from the same `org.apache.spark.ml` estimators the reference
  * wraps from Python:
  *
  *   Imputer(median) → StringIndexer(keep) → Bucketizer(computed splits)
  *   → OneHotEncoder → OHE densify/weight → MinMaxScaler → weighted
  *   VectorAssembler → `features`
  *
  * (`src/search_ranking_peers.py:351-455`). Differences from the
  * reference are deliberate: fits are chained in one Pipeline (single
  * pass bookkeeping), OHE densify uses `vector_to_array` instead of a
  * Python UDF, and per-feature weights are plain column multiplies.
  */
object FeaturePipeline {

  /** Bucketizer splits: `nBuckets` even steps over [0, max+1]
    * (`search_ranking_peers.py:372-392`; A5 max pull).
    */
  private[graft] def evenSplits(df: DataFrame, c: String, nBuckets: Int): Array[Double] = {
    val mx = df.agg(max(col(c).cast("double"))).head().getDouble(0)
    val step = (mx + 1.0) / nBuckets
    (0 to nBuckets).map(i => i * step).toArray
      .updated(0, Double.NegativeInfinity)
      .updated(nBuckets, Double.PositiveInfinity)
  }

  /** Impute numeric nulls (median), index + one-hot a categorical column,
    * min-max scale numerics, and assemble a weighted `features` vector.
    *
    * @param numCols   numeric feature columns (imputed + scaled)
    * @param catCol    categorical column (indexed + OHE'd, weight `wCat`)
    * @param weights   per-numeric-column multipliers (reference M7)
    * @param exactMedian pre-fill numeric nulls with the EXACT interpolated
    *        median (`percentile(c, 0.5)`) before the pipeline runs. The
    *        ml.Imputer stage (M1) still executes — it just finds no nulls
    *        left — so the fitted pipeline shape is unchanged, but the
    *        imputed value is reproducible by a SQL oracle (`median()`),
    *        where approxQuantile's sketch is not. MlSpec pins that both
    *        paths agree on the test tables.
    * @return input plus `features` (VectorUDT) and `features_arr`
    *         (ArrayType(Double)) columns
    */
  def build(df0: DataFrame, numCols: Seq[String], catCol: String,
            weights: Map[String, Double], wCat: Double,
            exactMedian: Boolean = false): DataFrame = {
    val df = if (!exactMedian) df0 else {
      // One-row aggregate of exact medians, pulled eagerly and baked in
      // as literals — the same driver-scalar pattern as Imputer.fit and
      // [[evenSplits]]; a lazy broadcast-back would re-run the agg in
      // every branch the pipeline fans into.
      val medAggs = numCols.map(c => expr(s"percentile(`$c`, 0.5)").as(c))
      val meds = df0.agg(medAggs.head, medAggs.tail: _*).head()
      numCols.zipWithIndex.foldLeft(df0) { case (acc, (c, i)) =>
        acc.withColumn(c, coalesce(col(c), lit(meds.getDouble(i))))
      }
    }
    val imputed = numCols.map(c => s"${c}_imp")
    val imputer = new Imputer().setStrategy("median")
      .setInputCols(numCols.toArray).setOutputCols(imputed.toArray)
    // M3: even-width buckets over [0, max+1] per numeric column (the
    // reference's np.linspace splits; A5 max pull happens here).
    val bucketizers = numCols.map { c =>
      new Bucketizer().setHandleInvalid("keep")
        .setSplits(evenSplits(df.filter(col(c).isNotNull), c, 9))
        .setInputCol(s"${c}_imp").setOutputCol(s"${c}_bkt")
    }
    val indexer = new StringIndexer().setHandleInvalid("keep")
      .setInputCol(catCol).setOutputCol(s"${catCol}_cat")
    val ohe = new OneHotEncoder().setDropLast(false)
      .setInputCol(s"${catCol}_cat").setOutputCol(s"${catCol}_ohe")
    val toVec = numCols.map { c =>
      new VectorAssembler().setHandleInvalid("keep")
        .setInputCols(Array(s"${c}_imp")).setOutputCol(s"${c}_vec")
    }
    val scalers = numCols.map { c =>
      new MinMaxScaler().setInputCol(s"${c}_vec").setOutputCol(s"${c}_mm")
    }
    val stages = Seq(imputer) ++ bucketizers ++ Seq(indexer, ohe) ++ toVec ++ scalers
    val fitted = new Pipeline().setStages(stages.toArray).fit(df)
    val out = fitted.transform(df)

    // Densify, unlist, and weight — no UDFs (reference §2.9 F9/F10/M5/M7).
    val weighted = numCols.foldLeft(out) { (acc, c) =>
      acc.withColumn(s"${c}_w",
        vector_to_array(col(s"${c}_mm"))(0) * lit(weights.getOrElse(c, 1.0)))
    }
    val withCat = weighted.withColumn(s"${catCol}_warr",
      transform(vector_to_array(col(s"${catCol}_ohe")), v => v * lit(wCat)))

    val numArr = array(numCols.map(c => col(s"${c}_w")): _*)
    val featuresArr = concat(numArr, col(s"${catCol}_warr"))
    val assembled = withCat.withColumn("features_arr", featuresArr)
    new VectorAssembler().setHandleInvalid("keep")
      .setInputCols((numCols.map(c => s"${c}_w") :+ s"${catCol}_ohe").toArray)
      .setOutputCol("features")
      .transform(assembled)
  }
}
