package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** Eager lineage truncation for iterative algorithms (BPE training, the
  * graph loops' rounds): reliable `checkpoint()` when the session has
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

  /** Run `round` from `start` for exactly `rounds` rounds: the fixed-count
    * DataFrame loops ([[Centrality.hits]], [[LinkGraph.pagerank]]), whose
    * float sums are order-sensitive. `round(state, t)` (t = 1, 2, …)
    * returns `start`'s columns (others are dropped); each round's output is
    * truncated and the superseded state released. Returns the final state.
    */
  def fixpoint(start: DataFrame, rounds: Int)(
      round: (DataFrame, Int) => DataFrame): DataFrame = {
    val cols = start.columns.toSeq.map(col)
    var state = start
    for (t <- 1 to rounds) {
      val next = truncate(round(state, t))
      release(state)
      state = next.select(cols: _*)
    }
    state
  }

  /** Run `round` from `start` for at most `maxRounds` RDD rounds, stopping
    * after the first that changes no row: the vertex loops of
    * [[Centrality]]. `round(state, t)` (t = 1, 2, …) returns the next
    * state with each row's changed flag. Each round is ONE Spark job: its
    * output is persisted, marked for checkpointing (reliable when the
    * context has a checkpoint dir, as in [[truncate]], else local) and its
    * changed rows counted, which materializes and checkpoints it (a
    * reliable checkpoint is written by a second job over the persisted
    * blocks); then the superseded round is unpersisted. Returns the final
    * state, without the flags, and whether it converged.
    */
  def rddFixpoint[K, S](start: RDD[(K, S)], maxRounds: Int)(
      round: (RDD[(K, S)], Int) => RDD[(K, S, Boolean)]): (RDD[(K, S)], Boolean) = {
    var state = start
    var last: RDD[(K, S, Boolean)] = null
    var converged = false
    var t = 0
    while (!converged && t < maxRounds) {
      t += 1
      val next = round(state, t).persist(StorageLevel.MEMORY_AND_DISK)
      if (next.sparkContext.getCheckpointDir.isDefined) next.checkpoint() else next.localCheckpoint()
      converged = next.filter(_._3).count() == 0L
      if (last != null) last.unpersist(blocking = false)
      last = next
      state = next.map(r => (r._1, r._2))
    }
    (state, converged)
  }
}
