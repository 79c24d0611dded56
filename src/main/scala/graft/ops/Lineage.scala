package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Lineage truncation and the RDD round driver for iterative algorithms.
  *
  * [[truncate]] cuts a DataFrame's lineage eagerly, for the DataFrame
  * loops ([[Bpe.train]]'s merge rounds) and for a loop input that should
  * not re-run its producer ([[Dedup.nearDupClusters]]' pairs): reliable
  * `checkpoint()` when the session has a checkpoint dir (the cluster path
  * — survives executor loss), `localCheckpoint` otherwise (single-box/test
  * path). A DataFrame loop needs the cut: a state that appears on both the
  * join and the union side of the next round's plan makes the LOGICAL plan
  * 2^k × base by round k, and the driver OOMs during analysis long before
  * any data moves. [[release]] frees a truncated frame once it is
  * superseded: `Dataset.unpersist` cannot, because a checkpoint's blocks
  * belong to the RDD behind its `LogicalRDD` leaf, not to the CacheManager.
  *
  * [[rddFixpoint]] drives the vertex loops of [[Centrality]] as RDD rounds.
  *
  * Reliable checkpoint files belong to Spark's context cleaner: a
  * deployment that sets a checkpoint dir and wants each superseded round's
  * files removed sets `spark.cleaner.referenceTracking.cleanCheckpoints`.
  */
private[graft] object Lineage {

  /** `df` with its lineage cut, materialized before the call returns. */
  def truncate(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)

  /** Free the checkpoint `df` is: unpersist the RDD behind its plan when
    * that plan is a `LogicalRDD` leaf (a [[truncate]] output) and `df` is
    * not itself cached. Any other frame is left alone. A released frame
    * must not be read again: Spark then fails with "Checkpoint block … not
    * found".
    */
  def release(df: DataFrame): Unit =
    if (df.storageLevel == StorageLevel.NONE) df.queryExecution.analyzed match {
      case r: LogicalRDD => GraftSqlBridge.unpersistBlocks(r.rdd)
      case _ =>
    }

  /** Run `round` from `start` for at most `maxRounds` RDD rounds, stopping
    * after the first that changes no row: the vertex loops of
    * [[Centrality]]. `round(state, t)` (t = 1, 2, …) returns the next
    * state with each row's changed flag. Each round is ONE Spark job: its
    * output is persisted, marked for checkpointing (reliable when the
    * context has a checkpoint dir, as in [[truncate]], else local) and its
    * changed rows counted, which materializes and checkpoints it (a
    * reliable checkpoint is written by a second job over the persisted
    * blocks); then the superseded round's blocks are freed. Returns the
    * final state, without the flags, and whether it converged.
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
      if (last != null) GraftSqlBridge.unpersistBlocks(last)
      last = next
      state = next.map(r => (r._1, r._2))
    }
    (state, converged)
  }
}
