package graft.ops

import org.apache.spark.sql.DataFrame

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
  * Reliable checkpoint files belong to Spark's context cleaner: a
  * deployment that sets a checkpoint dir and wants each superseded round's
  * files removed sets `spark.cleaner.referenceTracking.cleanCheckpoints`.
  * Local checkpoint blocks are freed by the loops' `unpersist`.
  */
private[graft] object Lineage {

  /** `df` with its lineage cut, materialized before the call returns. */
  def truncate(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)
}
