package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** Eager lineage truncation for iterative DataFrame algorithms (label
  * propagation, BPE training): reliable `checkpoint()` when the session has
  * a checkpoint dir (the cluster path — survives executor loss),
  * `localCheckpoint` otherwise (single-box/test path).
  *
  * WHY truncation and not persist(): the loop state appears on both the
  * join and the union side of the next round's plan, so the LOGICAL plan is
  * 2^k × base by round k — the driver OOMs during analysis long before any
  * data moves. Only a checkpoint (fresh LogicalRDD) cuts the plan.
  *
  * A loop frees each superseded round with [[release]]: `Dataset.unpersist`
  * cannot, because a checkpoint's blocks belong to the RDD behind its
  * `LogicalRDD` leaf, not to the CacheManager. Reliable checkpoint files
  * belong to Spark's context cleaner: a deployment that sets a checkpoint
  * dir and wants each superseded round's files removed sets
  * `spark.cleaner.referenceTracking.cleanCheckpoints`.
  */
private[graft] object Lineage {

  /** `df` with its lineage cut, materialized before the call returns. */
  def truncate(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)

  /** Free the checkpoint `df` reads: unpersist the RDD behind its plan when
    * that plan is a `LogicalRDD` leaf or projections over one, and `df` is
    * not itself cached. Any other frame (a start state over cached frames,
    * a plan that reads a checkpoint under a join or an aggregate) is left
    * alone. A released frame must not be read again: Spark then fails with
    * "Checkpoint block … not found".
    */
  def release(df: DataFrame): Unit = {
    def free(p: LogicalPlan): Unit = p match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case Project(_, child) => free(child)
      case _ =>
    }
    if (df.storageLevel == StorageLevel.NONE) free(df.queryExecution.analyzed)
  }

  /** Run `round` from `start` for at most `maxRounds` rounds, stopping
    * after the first whose `__chg` column is all false. `round(state, t)`
    * (t = 1, 2, …) returns `start`'s columns plus a boolean `__chg`; a
    * round without `__chg` (a fixed-count loop) runs all `maxRounds`. Each
    * round's output is truncated and its `__chg` scanned (isEmpty stops at
    * the first changed row); then the superseded state is released with
    * every registered frame that read it (a frame a round persists over its
    * input lives for that round). Returns the final state, projected to
    * `start`'s columns, and whether it converged.
    */
  def fixpoint(start: DataFrame, maxRounds: Int)(
      round: (DataFrame, Int) => DataFrame): (DataFrame, Boolean) = {
    val cols = start.columns.toSeq.map(col)
    var state = start
    var converged = false
    var t = 0
    while (!converged && t < maxRounds) {
      t += 1
      val next = truncate(round(state, t))
      converged = next.columns.contains("__chg") && next.filter(col("__chg")).isEmpty
      CacheRegistry.releaseReading(state)
      release(state)
      state = next.select(cols: _*)
    }
    (state, converged)
  }
}
