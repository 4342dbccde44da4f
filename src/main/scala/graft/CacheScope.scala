package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame

import scala.collection.mutable.ListBuffer

/** The one owner of materialization in the library: every persist and
  * every checkpoint goes through this object (a source scan in
  * `MaterializationSpec` holds the rest of `src/main` to that).
  *
  * Three verbs, one rule — pick by who re-reads the frame:
  *
  *  - [[persist]] a frame that is read more than once within ONE action
  *    (both sides of a self join, both branches of a union, a frame a
  *    fenced driver scalar reads and the consumer's plan reads again).
  *    The frame registers with the innermost active [[scoped]] block,
  *    which unpersists it on exit; with no scope active it is a plain
  *    `persist()` the caller manages (e.g. `spark.catalog.clearCache()`).
  *    Contract: materialize every consumer INSIDE the scope; after it
  *    exits the plan recomputes the frame. Rows whose later readers must
  *    see one evaluation (ids tagged by `spark_partition_id()`, as in
  *    `operators.Prefix`) are cut, not persisted.
  *  - [[cut]] a frame that later actions re-read: a seam the rest of a
  *    composition builds on, or each round of an iterative loop. Every
  *    cached `InMemoryRelation` carries (and prints) its whole cached
  *    plan, so persists nested seam over seam or round over round make
  *    each downstream plan — and AQE's "Initial"/"Final" copies of it at
  *    every nesting level — grow with the depth; an iterative
  *    self-referencing dataflow even doubles its logical plan per round.
  *    A cut is an eager local checkpoint (the dataflow twin of the
  *    reference's stage-out-and-re-read lineage cut, `PUSH:227-229`):
  *    downstream plans start at a one-line scan of its rows. `cut(df,
  *    key)` also pins `hash(key)` and keeps that layout visible to the
  *    planner, for seams that key-joins re-read; `cut(df)` is the plain
  *    checkpoint, for small frames (k-row centroid sets, a round's
  *    labels) whose consumers broadcast or re-shuffle them anyway.
  *    Cuts are not registered with the scope: registry queries return
  *    lazy frames that are written after any scope ends, so checkpoint
  *    blocks must outlive it. The `ContextCleaner` reclaims them once the
  *    frame is unreachable. Each cut's SQL execution and jobs are
  *    described `cut at <caller's file:line>`, so the UI and event logs
  *    name the seam.
  *  - Delete the persist of a frame read once: the cache only adds a
  *    nested plan and a block manager copy.
  */
object CacheScope {

  // One scope's registrations plus a closed flag: pool threads created
  // while a scope was open inherit the reference forever, so a reused
  // thread could otherwise register into a scope that already exited and
  // the frame would never be unpersisted. Appends and the close are
  // synchronized on the scope — concurrent persists from Futures forked
  // inside the block are the endorsed use case.
  private final class Scope {
    val unpersists = ListBuffer.empty[() => Unit]
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

  // A closed scope (inherited by a pool thread that outlived the block)
  // behaves like no scope: nothing registers, the caller manages.
  private def register(list: Scope => ListBuffer[() => Unit],
      release: () => Unit): Unit = {
    val scope = current.get()
    if (scope != null) scope.synchronized {
      if (!scope.closed) list(scope) += release
    }
  }

  /** Persist `df` and register it with the innermost scope, if any. */
  def persist(df: DataFrame): DataFrame = {
    df.persist()
    register(_.unpersists, () => df.unpersist(blocking = false))
    df
  }

  /** The RDD twin of `persist(df)`, for a library-built RDD cache (the
    * primitive-array blocks of `Distill`'s GD loop). */
  def persist[T](rdd: RDD[T]): RDD[T] = {
    rdd.persist()
    register(_.unpersists, () => rdd.unpersist(blocking = false))
    rdd
  }

  /** Eager local checkpoint of `df` repartitioned `hash(key)` at the
    * session's shuffle-partition count, with that layout kept visible to
    * the planner ([[org.apache.spark.sql.LayoutCheckpoint]]): joins and
    * aggregations on `key` read the cut without an Exchange. */
  def cut(df: DataFrame, key: String): DataFrame =
    org.apache.spark.sql.LayoutCheckpoint.hashCut(df, key,
      df.sparkSession.sessionState.conf.numShufflePartitions, site())

  /** Eager local checkpoint of `df` as it is partitioned, no layout
    * declared — the plain cut. */
  def cut(df: DataFrame): DataFrame =
    org.apache.spark.sql.LayoutCheckpoint.checkpoint(df, site())

  // the first frame outside this object names the cut's caller, for
  // either `cut` entry point
  private def site(): String = {
    val caller = Thread.currentThread.getStackTrace.iterator.drop(1)
      .find(!_.getClassName.startsWith("graft.CacheScope")).get
    s"cut at ${caller.getFileName}:${caller.getLineNumber}"
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
  def defer(cleanup: () => Unit): Unit = register(_.cleanups, cleanup)

  /** Run `body`; on exit unpersist every frame and RDD the library
    * persisted within (scopes nest — an inner scope only releases its
    * own). */
  def scoped[T](body: => T): T = {
    val outer = current.get()
    val mine = new Scope
    current.set(mine)
    try body
    finally {
      if (outer == null) current.remove() else current.set(outer)
      val (unpersists, cleanups) = mine.synchronized {
        mine.closed = true
        (mine.unpersists.toList, mine.cleanups.toList)
      }
      unpersists.foreach(_())
      cleanups.foreach(c => try c() catch { case _: Exception => () })
    }
  }
}
