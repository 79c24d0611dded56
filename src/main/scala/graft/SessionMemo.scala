package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one store for intermediates that several catalog queries share
  * (aligned table, link edges, near-dup clusters, trained tokenizer
  * models, exact harmonic centrality), keyed by `(name, dir)`.
  *
  * Owner rule: the entries belong to the live `SparkContext`. Spark allows
  * one active context per JVM, so a call from a different context means
  * the previous one is stopped: every entry is dropped first, its frames
  * released through [[graft.ops.CacheRegistry.release]] (Spark keeps the
  * stopped context's CacheManager reachable), and the memo never holds
  * more than one application's entries. A stopped session's
  * intermediates are released at the next session's first call, with no
  * listener and no GC timing involved.
  *
  * Nested builds: a build may read another memo (the harmonic build reads
  * the link edges). The store is a plain map under this object's monitor,
  * which is reentrant; a `ConcurrentHashMap.computeIfAbsent` store would
  * throw `IllegalStateException: Recursive update` when the two keys share
  * a bin. Builds are serialized, which no caller minds: none builds from a
  * thread pool.
  *
  * Memoized frames are exempt from [[graft.ops.CacheRegistry]]'s bounded
  * FIFO: the operators' own persists register entries query after query,
  * so a registered memo would be evicted long before its later consumers
  * run, and each would silently recompute the full upstream.
  */
private[graft] object SessionMemo {
  private var owner: SparkContext = _
  private val entries = scala.collection.mutable.HashMap.empty[(String, String), Any]

  /** The value memoized under `(name, dir)` for `s`'s context; `build`
    * runs on the first call only. The value is stored as built.
    */
  def apply[T](s: SparkSession, name: String, dir: String)(build: => T): T = synchronized {
    if (owner ne s.sparkContext) {
      entries.valuesIterator.foreach {
        case df: DataFrame => graft.ops.CacheRegistry.release(df)
        case _ => ()
      }
      entries.clear()
      owner = s.sparkContext
    }
    entries.getOrElseUpdate((name, dir), build).asInstanceOf[T]
  }

  /** [[apply]] for a frame kept persisted `MEMORY_AND_DISK`. An equal plan
    * evicted from CacheRegistry unpersists the memoized frame too, so each
    * call persists it again if it has been dropped.
    */
  def persisted(s: SparkSession, name: String, dir: String)(build: => DataFrame): DataFrame = {
    val df = apply(s, name, dir)(build.persist(StorageLevel.MEMORY_AND_DISK))
    if (df.storageLevel == StorageLevel.NONE) df.persist(StorageLevel.MEMORY_AND_DISK)
    df
  }

  /** Entries held, all of them the live context's. */
  private[graft] def size: Int = synchronized(entries.size)
}
