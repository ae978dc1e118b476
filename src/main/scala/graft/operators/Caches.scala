package graft.operators

import org.apache.spark.sql.DataFrame

/** Registry of DataFrames persisted by graft operators whose lifetime the
  * operator itself cannot scope (the returned frames reference the cache
  * lazily, so an eager unpersist inside the operator would defeat it).
  *
  * Pins are attributed to a [[Scope]] so concurrent pipelines in one JVM
  * can release only their own prep tables. graft code scopes its own pins
  * one way, [[scoped]]: the body's pins land in a fresh scope that is
  * released, blocking, on every exit. Every graft operator that pins and
  * consumes in one call (the index appends and compacts, the `Streams`
  * micro-batch skeleton, the k-means trainers) runs through it. A caller
  * that must keep an operator's returned frames alive past the call holds
  * its own scope instead: [[newScope]], run the batch in [[inScope]], and
  * call `scope.release()` after fully consuming the frames it returned.
  * Without an explicit scope, pins land in the global scope; the global
  * [[release]] drains EVERY scope and remains the single-pipeline escape
  * hatch (Verify/Bench call it between queries).
  * Releasing one scope never unpins another's frames — the failure mode the
  * all-or-nothing registry had was one caller's release silently degrading
  * a concurrent caller's persist-barriered subtrees to full recompute.
  */
object Caches {

  /** A releasable group of pinned frames. Obtain via [[newScope]]. */
  final class Scope private[Caches] () {
    private[Caches] val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    private[Caches] def add(df: DataFrame): Unit = synchronized { frames += df }

    /** Persist `df` and track it in THIS scope, regardless of the calling
      * thread's active scope.
      */
    def pin(df: DataFrame): DataFrame = { add(df); df.persist() }

    /** Unpersist only this scope's frames. Safe to call more than once. */
    def release(blocking: Boolean = false): Unit = {
      val toDrop = synchronized { val fs = frames.toList; frames.clear(); fs }
      toDrop.foreach(_.unpersist(blocking))
      Caches.forget(this)
    }
  }

  private val globalScope = new Scope
  private val scopes = scala.collection.mutable.ArrayBuffer[Scope](globalScope)
  private val current = new ThreadLocal[Scope] { override def initialValue(): Scope = globalScope }

  /** Create a scope and register it for the global [[release]]. */
  def newScope(): Scope = scopes.synchronized {
    val s = new Scope
    scopes += s
    s
  }

  private def forget(s: Scope): Unit = scopes.synchronized {
    if (s ne globalScope) scopes -= s
  }

  /** Run `body` with operator pins attributed to `scope`. Attribution is
    * per-thread and captured at PLAN-CONSTRUCTION time (when the operator
    * calls pin), which is when graft operators persist — lazy execution of
    * the returned frames needs no scope.
    */
  def inScope[T](scope: Scope)(body: => T): T = {
    val prev = current.get()
    current.set(scope)
    try body
    finally current.set(prev)
  }

  /** Run `body` with its pins in a fresh scope that is released (blocking)
    * on every exit, a throw included. The contract: `body` consumes every
    * frame it pins before it returns, and returns a driver-side value or
    * a result it already wrote, never a frame that reads a pin lazily.
    * Blocking release means the storage is drained when the call returns,
    * not overlapping whatever runs next.
    */
  def scoped[T](body: => T): T = {
    val scope = newScope()
    try inScope(scope)(body)
    finally scope.release(blocking = true)
  }

  /** Persist `df` and track it in the calling thread's active scope. */
  def pin(df: DataFrame): DataFrame = current.get().pin(df)

  /** Unpersist every operator-pinned frame in this JVM, across all scopes.
    * Pass `blocking = true` when the caller needs storage memory actually
    * drained before proceeding (e.g. a benchmark timing the next query) —
    * async eviction otherwise overlaps whatever runs next.
    */
  def release(blocking: Boolean = false): Unit = {
    val all = scopes.synchronized { scopes.toList }
    all.foreach(_.release(blocking))
  }
}
