package graft.ops

import org.apache.spark.sql.DataFrame

/** Bounded registry for internally-persisted DataFrames.
  *
  * Spark's CacheManager holds persisted plans STRONGLY — neither GC nor the
  * ContextCleaner frees them — so operators that persist intermediates
  * (ScaleWindows input, Dedup/Similarity bucket-count tables) would pin one
  * cache entry per call for the session's lifetime. Registering them here
  * keeps only the most recent few; evictees are unpersisted lazily.
  */
private[graft] object CacheRegistry {
  // sized so no single query's working set (≤4 persists) can be evicted by
  // one other in-flight query's registrations — FIFO eviction of an entry a
  // still-unexecuted downstream plan needs is CORRECT (Spark recomputes) but
  // a perf cliff; the headroom makes it require 4+ interleaved operators.
  // The session memos are registry-EXEMPT (graft.SessionMemo), so
  // registered entries are only needed within one query's passes, and
  // every live cache entry lengthens CacheManager's per-QueryExecution
  // sameResult sweep, a per-query planning tax across all 167 queries.
  private val MaxEntries = 16
  private val entries = new java.util.ArrayDeque[DataFrame]()

  def register(df: DataFrame): DataFrame = entries.synchronized {
    // Entries belong to the live SparkContext (the graft.SessionMemo owner
    // rule): a frame from another context is from a stopped session, so it
    // is dropped and released at once rather than left to the FIFO.
    // Dedupe by plan: Spark's cache is keyed by the logical plan, so a
    // duplicate registration (two queries persisting the same upstream,
    // e.g. q_mei_assign and q_mei_xml's spans) is a CacheManager no-op —
    // but a second deque slot would both double-count against MaxEntries
    // and, when the OLDER slot is evicted, unpersist the plan out from
    // under the newer still-registered entry. Refresh recency instead.
    val sc = df.sparkSession.sparkContext
    val it = entries.iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.sparkSession.sparkContext ne sc) { it.remove(); release(e) }
      else if (e.queryExecution.analyzed.sameResult(df.queryExecution.analyzed)) it.remove()
    }
    entries.addLast(df)
    while (entries.size > MaxEntries) release(entries.removeFirst())
    df
  }

  /** Unpersist, ignoring failures. Spark keeps a stopped context's
    * CacheManager reachable, so a frame of a stopped session must still be
    * unpersisted to drop its cached plan from that manager; what its dead
    * context cannot run (removing the blocks) may fail, and is ignored.
    */
  private[graft] def release(df: DataFrame): Unit =
    try df.unpersist(false)
    catch { case _: Throwable => () }

  /** Entries held, all of them the live context's. */
  private[graft] def size: Int = entries.synchronized(entries.size)
}
