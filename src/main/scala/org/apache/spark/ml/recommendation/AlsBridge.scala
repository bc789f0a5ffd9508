package org.apache.spark.ml.recommendation

import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.DataFrame

/** MLlib's ALS building blocks for `graft.rec.AlsPipeline`'s fused path:
  * the per-row normal equation, the non-negative solver and the model
  * constructor are `private[recommendation]`/`private[ml]`, so this shim
  * lives in their package (the `sql.graftbridge.ColumnBridge` pattern).
  * No behavior of its own: each member delegates to MLlib.
  */
object AlsBridge {

  /** `ALS.NormalEquation`: Σ c·aaᵀ (upper-packed) and Σ b·a of one
    * weighted least-squares problem.
    */
  final class Normal(rank: Int) extends Serializable {
    private[recommendation] val ne = new ALS.NormalEquation(rank)
    def add(a: Array[Float], b: Double, c: Double): Unit = ne.add(a, b, c)
    def merge(other: Normal): Unit = ne.merge(other.ne)
  }

  /** `ALS.NNLSSolver`, the solver `setNonnegative(true)` picks. */
  final class Nnls {
    private val solver = new ALS.NNLSSolver
    /** Solves `eq` with `lambda` on the diagonal, then resets `eq`. */
    def solve(eq: Normal, lambda: Double): Array[Float] = solver.solve(eq.ne, lambda)
  }

  /** An `ALSModel` over (id: int, features: array<float>) factor frames. */
  def model(rank: Int, users: DataFrame, items: DataFrame): ALSModel =
    new ALSModel(Identifiable.randomUID("als"), rank, users, items)
}
