package graft

import org.apache.spark.sql.DataFrame

import scala.collection.mutable.ListBuffer

/** Cache lifecycle for library-internal persists.
  *
  * Several operators persist intermediates whose lineage is consumed more
  * than once (RepairJoin round frames, Knn.prepared, the MinHash/SimHash
  * signature frames, surrogate-key partition frames — the last is
  * correctness-critical, see TopK.surrogateKeyScalable). A library must
  * not leak those cached partitions into a long-lived embedding session,
  * so persists route through `CacheScope.persist`, which registers the
  * frame with the innermost active `scoped` block; the block unpersists
  * everything it registered when it exits. With no scope active the
  * behavior is a plain `persist()` (caller manages, e.g. via
  * `spark.catalog.clearCache()`).
  *
  * Contract: materialize every consumer of the returned DataFrame INSIDE
  * the scope — after the scope exits, re-evaluating a plan that contained
  * a correctness-critical persist (surrogateKeyScalable) may recompute
  * nondeterministically.
  *
  * Persist or cut: `persist` a frame that is read within one action.
  * [[cut]] a frame that later seams re-reference: every cached
  * `InMemoryRelation` carries (and prints) its whole cached plan, so
  * persists nested seam over seam make each downstream plan — and AQE's
  * "Initial"/"Final" copies of it at every nesting level — grow with the
  * composition's depth. A cut frame's plan is a one-line scan of its
  * checkpointed rows.
  */
object CacheScope {

  // One scope's registrations plus a closed flag: pool threads created
  // while a scope was open inherit the reference forever, so a reused
  // thread could otherwise register into a scope that already exited and
  // the frame would never be unpersisted. Appends and the close are
  // synchronized on the scope — concurrent persists from Futures forked
  // inside the block are the endorsed use case.
  private final class Scope {
    val frames = ListBuffer.empty[DataFrame]
    val cleanups = ListBuffer.empty[() => Unit]
    var closed = false
  }

  // Inheritable so persists issued from driver-side worker threads
  // (Futures forked inside a scoped block) still register with the
  // enclosing scope instead of silently leaking. Threads forked BEFORE
  // the scope opened still escape — the documented convention stands:
  // materialize every consumer inside the scope, on the scope's thread
  // or one it forked.
  private val current = new InheritableThreadLocal[Scope]

  /** Persist `df` and register it with the innermost scope, if any.
    * A closed scope (inherited by a pool thread that outlived the block)
    * behaves like no scope: plain persist, caller manages. */
  def persist(df: DataFrame): DataFrame = {
    df.persist()
    val scope = current.get()
    if (scope != null) scope.synchronized {
      if (!scope.closed) scope.frames += df
    }
    df
  }

  /** Eager local checkpoint of `df` repartitioned `hash(key)` at the
    * session's shuffle-partition count, with that layout kept visible to
    * the planner ([[org.apache.spark.sql.LayoutCheckpoint]]): joins and
    * aggregations on `key` read the cut without an Exchange. The
    * dataflow twin of the reference's stage-out-and-re-read lineage cut
    * (`PUSH:227-229`). Runs the frame's jobs now.
    *
    * Not registered with the scope: registry queries return lazy frames
    * that are written after any scope ends, so the checkpoint blocks must
    * outlive it. The `ContextCleaner` reclaims them once the frame is
    * unreachable, as it does for `Dataset.localCheckpoint`.
    *
    * The cut's SQL execution and jobs are described `cut at <caller's
    * file:line>`, so the UI and event logs name the seam. */
  def cut(df: DataFrame, key: String): DataFrame = {
    val caller = Thread.currentThread.getStackTrace()(2)
    org.apache.spark.sql.LayoutCheckpoint.hashCut(df, key,
      df.sparkSession.sessionState.conf.numShufflePartitions,
      s"cut at ${caller.getFileName}:${caller.getLineNumber}")
  }

  /** Register a cleanup with the innermost scope — the non-cache twin of
    * [[persist]], for resources a library operator stages on disk whose
    * lifetime must match the scope (the bucketed verify tables in
    * `Dedup.verifiedCommon` drop their catalog entry and staged files
    * this way). With no scope active the cleanup is NOT run — the staged
    * resource lives for the session and the embedding process manages
    * it, mirroring `persist`'s no-scope contract. Cleanups run AFTER the
    * scope's unpersists, each isolated (one failing cleanup never blocks
    * the rest). */
  def defer(cleanup: () => Unit): Unit = {
    val scope = current.get()
    if (scope != null) scope.synchronized {
      if (!scope.closed) scope.cleanups += cleanup
    }
  }

  /** Run `body`; on exit unpersist every frame the library persisted
    * within (scopes nest — an inner scope only releases its own). */
  def scoped[T](body: => T): T = {
    val outer = current.get()
    val mine = new Scope
    current.set(mine)
    try body
    finally {
      if (outer == null) current.remove() else current.set(outer)
      val (registered, cleanups) = mine.synchronized {
        mine.closed = true
        (mine.frames.toList, mine.cleanups.toList)
      }
      registered.foreach(_.unpersist(blocking = false))
      cleanups.foreach(c => try c() catch { case _: Exception => () })
    }
  }
}
