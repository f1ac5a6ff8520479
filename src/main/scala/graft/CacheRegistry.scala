package graft

import org.apache.spark.sql.DataFrame
import scala.collection.mutable

/** Deterministic release for operator-internal `persist()`s.
  *
  * Several operators (IVF search, LSH ANN, SimHash pair generation, the
  * near-dup inverted index, CMS) persist a shared subplan that more than
  * one consumer of the *returned* DataFrame will re-read. The returned
  * plan is lazy, so the operator itself has no safe point to unpersist —
  * doing so before the caller materializes would drop the cache it just
  * paid for. Every such persist is therefore registered here, giving any
  * caller (tests, notebooks, long-lived sessions) a deterministic
  * [[release]] that unpersists exactly the operator-internal caches and
  * nothing else the session may have cached for its own reasons.
  * `spark.catalog.clearCache()` (what Bench does between queries) remains
  * a superset; release() is the targeted form the ADVICE asked for.
  */
object CacheRegistry {
  private val tracked = mutable.ListBuffer.empty[DataFrame]
  private val memos = mutable.ListBuffer
    .empty[java.util.concurrent.ConcurrentHashMap[String, DataFrame]]
  private val memoHooked = mutable.Set.empty[String]
  // Per-session identity tokens: a WeakHashMap keyed on the session
  // OBJECT (reference identity, never hashCode — two live sessions can
  // collide on hashCode, and sessions sharing a SparkContext must not
  // share a token) mapping to a monotonically unique id. Weak keys let
  // a dead session's map entry be collected; the token string itself is
  // captured by the listener so eviction still works after collection.
  private val sessionTokens =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, String]()
  private var nextToken = 0L

  /** The unique, collision-free memo-key prefix for a session — every
    * memo key must lead with `sessionToken(session) + "|"` so
    * [[trackMemo]]'s per-session eviction drops exactly that session's
    * entries.
    */
  def sessionToken(session: org.apache.spark.sql.SparkSession): String =
    synchronized {
      val existing = sessionTokens.get(session)
      if (existing != null) existing
      else {
        nextToken += 1
        val t = s"s${nextToken}x${System.identityHashCode(session)}"
        sessionTokens.put(session, t)
        t
      }
    }

  /** Register a persisted DataFrame; returns it unchanged for chaining.
    * Entries whose cache was already reclaimed elsewhere (storageLevel
    * back to NONE — e.g. Bench's clearCache between queries) are purged
    * on every registration, so callers that never invoke [[release]]
    * don't accumulate stale logical plans on the driver heap across a
    * long session.
    */
  def track(df: DataFrame): DataFrame = synchronized {
    tracked.filterInPlace(d =>
      d.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    tracked += df
    df
  }

  def trackedCount: Int = synchronized(tracked.size)

  // localCheckpoint-backed frames registered for per-query release.
  // Checkpoint blocks are NOT cache-manager-owned: clearCache() (what
  // Bench runs between queries) and plain unpersist() never touch them,
  // so without this list every pointsOf / docVectors / fixpoint-label
  // checkpoint accumulates in block storage until the ContextCleaner
  // happens to GC the RDD — measured r17 as a one-sided 0.78-0.90x
  // regression band across the checkpoint-heavy families as a 309-query
  // run ages. Memo assets (tiersMemo, packedMemo) are deliberately NOT
  // registered here: they are one-time shared builds priced untimed by
  // the bench protocol and must survive between queries.
  private val checkpoints = mutable.ListBuffer.empty[DataFrame]

  /** Register a localCheckpoint-backed DataFrame for deterministic
    * release; returns it unchanged for chaining. Entries whose backing
    * RDD already lost its storage are purged on every registration
    * (same no-accumulation contract as [[track]]).
    */
  def trackCheckpoint(df: DataFrame): DataFrame = synchronized {
    checkpoints.filterInPlace(
      org.apache.spark.sql.graftbridge.CheckpointBridge.isBackingPersisted)
    checkpoints += df
    df
  }

  /** Release the storage behind every registered checkpoint frame and
    * forget them. Safe at any eager boundary: a released checkpoint's
    * frame must not be re-consumed afterwards (lineage is truncated, so
    * there is no recompute path) — callers release between independent
    * queries, exactly where clearCache() already runs.
    */
  def releaseCheckpoints(): Unit = synchronized {
    checkpoints.foreach(df =>
      try org.apache.spark.sql.graftbridge.CheckpointBridge.unpersistBacking(df)
      catch { case scala.util.control.NonFatal(_) => () })
    checkpoints.clear()
  }

  /** Identity snapshot of the current operator-persist and checkpoint
    * registrations — pair with [[releaseSince]] to scope release to the
    * frames a code region creates (the streaming foreachBatch contract:
    * each batch materializes everything it builds before returning, so
    * its persists/checkpoints can be dropped without waiting for the
    * end-of-query release).
    */
  def snapshot(): (Seq[DataFrame], Seq[DataFrame]) =
    synchronized((tracked.toList, checkpoints.toList))

  /** Release every persist/checkpoint registered AFTER `snap` was taken
    * (reference identity — two registrations of one frame are one
    * entry); frames in the snapshot stay live.
    */
  def releaseSince(snap: (Seq[DataFrame], Seq[DataFrame])): Unit =
    synchronized {
      val keepT = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[DataFrame, java.lang.Boolean]())
      snap._1.foreach(keepT.add)
      tracked.filterInPlace { d =>
        keepT.contains(d) || { d.unpersist(blocking = false); false }
      }
      val keepC = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[DataFrame, java.lang.Boolean]())
      snap._2.foreach(keepC.add)
      checkpoints.filterInPlace { d =>
        keepC.contains(d) || {
          try org.apache.spark.sql.graftbridge.CheckpointBridge
            .unpersistBacking(d)
          catch { case scala.util.control.NonFatal(_) => () }
          false
        }
      }
    }

  /** Register a per-process localCheckpoint memo (the pretrainPacked /
    * retrievalTiers device: a ConcurrentHashMap whose keys lead with
    * `${sessionToken(session)}|`). Two lifetimes are managed:
    * [[release]] clears every memo outright, and a per-session listener
    * drops that session's entries when its SparkContext ends — so a
    * stopped test session's materialized frames are not pinned on the
    * driver heap for the rest of the JVM. (The checkpoint BLOCKS die
    * with the session's block manager; what leaks without this is the
    * driver-side plan references keyed by a dead session's token.)
    * Keys use [[sessionToken]] (reference-identity, monotonic) rather
    * than session.hashCode, so two live sessions can never collide and
    * eviction can never drop another session's entries.
    */
  def trackMemo(session: org.apache.spark.sql.SparkSession,
                memo: java.util.concurrent.ConcurrentHashMap[String, DataFrame])
      : Unit = synchronized {
    if (!memos.exists(_ eq memo)) memos += memo
    val t = sessionToken(session)
    if (!memoHooked.contains(t)) {
      memoHooked += t
      session.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              e: org.apache.spark.scheduler.SparkListenerApplicationEnd)
              : Unit = dropMemoSession(t)
        })
    }
  }

  private def dropMemoSession(t: String): Unit = synchronized {
    val prefix = s"$t|"
    memos.foreach(_.keySet.removeIf(_.startsWith(prefix)))
    memoHooked -= t
  }

  private[graft] def memoEntryCount: Int =
    synchronized(memos.map(_.size).sum)

  /** Unpersist every registered cache, clear every registered memo, and
    * forget them. Safe to call at any eager boundary;
    * already-unpersisted entries (e.g. after a session clearCache) are a
    * no-op.
    *
    * Deliberately does NOT release registered checkpoints: safety at
    * any eager boundary holds for persists (dropping a cache leaves the
    * recompute path) and memos (cleared entries rebuild on next use) but
    * NOT for checkpoint blocks (lineage truncated, no recompute path),
    * and callers legitimately release() between two consumers of one
    * operator result. Checkpoint release is the stronger,
    * explicitly-scoped [[releaseCheckpoints]] — callable only where no
    * live frame will be re-consumed (between queries, [[Run.release]]).
    */
  def release(): Unit = synchronized {
    tracked.foreach(_.unpersist(blocking = false))
    tracked.clear()
    memos.foreach(_.clear())
  }
}
