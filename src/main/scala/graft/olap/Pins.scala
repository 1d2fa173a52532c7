package graft.olap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Lifecycle manager for persisted intermediates that feed several
  * consumers inside one query (the shingle / candidate / band frames in
  * `graft.ops.DedupOps`, the regression folds in the Planner) AND for
  * eager lineage-cut checkpoints (the iterative CC / closure / k-means
  * round frames).
  *
  * A pinned persist only saves recomputation: every pinned frame is
  * deterministic, so a consumer that finds it evicted recomputes the
  * same rows. Un-released, though, each one stays resident for the
  * session's lifetime (the r6 official bench carried dozens of stale
  * frames into `q_pipeline_curate`, 5×-ing it).
  *
  * Checkpoints need the same management for a different reason:
  * `localCheckpoint` persists its RDD OUTSIDE the SQL CacheManager, so
  * `DataFrame.unpersist` cannot free it — un-released, every iterative
  * operator leaks one executor-memory RDD per call until a GC-driven
  * ContextCleaner sweep happens to collect it (observed: one resident
  * frame per `CleanPipeline.clean` call). [[freeCut]] frees the
  * checkpoint blocks directly via the plan's [[LogicalRDD]] leaves.
  *
  * Two registration modes:
  *
  *  - '''Scoped''' (the query boundary `Bench`, `Verify` and
  *    `Query.executeResult` open): `Pins.scoped { build-and-collect }`
  *    registers every pin/cut created on this thread inside the block
  *    and releases them all when the block exits, by which point the
  *    query's actions have run. Storage occupancy across a query
  *    sequence is then bounded by ONE query's working set instead of
  *    growing with session age.
  *
  *  - '''Global fallback''' (no scope on the thread — ad-hoc library
  *    use): a FIFO registry bounded at [[MaxGlobal]], so unscoped
  *    storage stays bounded too. Re-collecting a consumer of an evicted
  *    persist costs a recompute; of an evicted local checkpoint it
  *    fails LOUDLY with a missing-block error, never silently.
  *    Long-lived servers should wrap query execution in [[scoped]].
  */
object Pins {

  private val MaxGlobal = 32
  private val global = new java.util.ArrayDeque[() => Unit]

  // Stack of open scopes for the current thread (scopes may nest:
  // a pipeline query scoped by Bench may itself open one). Each scope
  // holds the release thunks of the frames registered inside it.
  private val scopes =
    new ThreadLocal[java.util.ArrayDeque[java.util.ArrayList[() => Unit]]] {
      override def initialValue() =
        new java.util.ArrayDeque[java.util.ArrayList[() => Unit]]
    }

  private def register(df: DataFrame, release: () => Unit): DataFrame = {
    val stack = scopes.get()
    if (!stack.isEmpty) stack.peekLast().add(release)
    else global.synchronized {
      global.addLast(release)
      while (global.size > MaxGlobal) global.pollFirst().apply()
    }
    df
  }

  /** Register a `.persist()`ed frame for release at the current scope's
    * exit (innermost scope wins), or in the bounded global registry
    * when no scope is open on this thread. Returns `df`; runs no action.
    */
  def pin(df: DataFrame): DataFrame =
    register(df, () => df.unpersist(blocking = false))

  /** Eager lineage cut, UNREGISTERED: a reliable checkpoint
    * (HDFS/object store — survives executor loss, the right mode on a
    * real cluster) when the session has a checkpoint dir configured,
    * an executor-local checkpoint otherwise (lineage-free and fast,
    * but a lost executor mid-iteration fails the job for a retry;
    * acceptable in local/test runs with nowhere reliable to write).
    * Callers own the blocks: iterative loops free superseded rounds
    * with [[freeCut]] and register their final frame via [[adopt]].
    * (Reliable-checkpoint FILES are cleaned by the ContextCleaner only
    * with `spark.cleaner.referenceTracking.cleanCheckpoints=true`;
    * [[freeCut]] frees block-manager storage, which reliable mode does
    * not occupy.)
    */
  def rawCut(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)

  /** [[rawCut]] + [[adopt]]: the one-shot form for a non-loop
    * lineage cut whose consumers run inside the current scope.
    */
  def cut(df: DataFrame): DataFrame = adopt(rawCut(df))

  /** Register an already-materialized checkpoint frame (a [[rawCut]]
    * survivor) for scope-exit / global-FIFO release.
    */
  def adopt(df: DataFrame): DataFrame = register(df, () => freeCut(df))

  /** Free the executor blocks behind a checkpointed frame NOW — the
    * plan's [[LogicalRDD]] leaves are unpersisted directly, which is
    * the only release path that works for checkpoints (they bypass the
    * SQL CacheManager, so `DataFrame.unpersist` is a no-op on them).
    * Idempotent. Call only on frames whose consumers have executed and
    * whose plan the caller OWNS (a shared upstream checkpoint leaf
    * would be freed too).
    */
  def freeCut(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false)
      case _             => ()
    }

  /** Run `body` with a fresh pin scope on this thread; every frame
    * pinned/adopted inside is released when the block exits (normally
    * or exceptionally). Collect the query's results INSIDE the block —
    * that is what makes the release safe.
    */
  def scoped[T](body: => T): T = {
    val stack = scopes.get()
    val mine = new java.util.ArrayList[() => Unit]
    stack.addLast(mine)
    try body
    finally {
      stack.removeLast()
      mine.forEach(release => release())
      if (stack.isEmpty) scopes.remove()
    }
  }

  /** Release every globally registered frame (teardown / cache flush).
    * Open scopes are untouched — their frames release at scope exit.
    */
  def releaseAll(): Unit = global.synchronized {
    while (!global.isEmpty) global.pollFirst().apply()
  }
}
