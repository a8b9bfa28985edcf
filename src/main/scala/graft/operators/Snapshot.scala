package graft.operators

import org.apache.spark.sql.DataFrame

/** The eager lineage cut the iterative operators take between rounds
  * ([[GraphOps]] rank loops, [[Curation.connectedComponents]],
  * [[EntityResolution.incrementalLink]]). `reliable = false` uses
  * `localCheckpoint` (executor-local blocks: fastest, lost on executor death);
  * `reliable = true` uses `checkpoint()` against
  * `spark.sparkContext.setCheckpointDir`, so a long cluster run survives
  * executor loss mid-iteration.
  */
private[operators] object Snapshot {

  def snap(df: DataFrame, reliable: Boolean): DataFrame =
    if (reliable) df.checkpoint(true) else df.localCheckpoint(true)

  /** Fail fast, before any work, when `op` asks for reliable snapshots and no
    * checkpoint dir is set — instead of dying at the first `checkpoint()`.
    */
  def requireCheckpointDir(df: DataFrame, reliable: Boolean, op: String): Unit =
    if (reliable)
      require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
        s"$op(reliable = true) needs spark.sparkContext.setCheckpointDir")
}
