package org.apache.spark.graftbridge

import org.apache.spark.scheduler.StageInfo

/** The operator scopes of a stage's RDDs, for `graft.Profile`'s
  * per-stage table. `RDDInfo.scope`'s type is `private[spark]`, so this
  * shim lives under `org.apache.spark` (the `sql.graftbridge.ColumnBridge`
  * pattern). A SQL stage's stage name is its call site, the same AQE
  * completion callback for every query stage; its scopes name the
  * physical operators that built its RDDs instead.
  */
object StageScope {

  /** The scope of the stage's last RDD, after the last scope before it
    * that differs: `WholeStageCodegen (3) -> Exchange` for a map stage
    * that writes a shuffle, `BroadcastExchange` alone when nothing else
    * ran in the stage. The stage name when no RDD has a scope.
    */
  def label(i: StageInfo): String = {
    val scopes = i.rddInfos.sortBy(-_.id).flatMap(_.scope).map(_.name).distinct.take(2)
    if (scopes.isEmpty) i.name else scopes.reverse.mkString(" -> ")
  }
}
