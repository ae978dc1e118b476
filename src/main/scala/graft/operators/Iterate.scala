package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The round shapes the catalog's iterative operators share — PageRank,
  * HITS, connected components, k-core, Bradley–Terry ([[Graphs]],
  * [[Preferences]]), BPE merge training ([[Bpe]]). Each step states its
  * invariant here once; the operators keep their own contracts and
  * point back.
  */
object Iterate {

  /** Eager lineage cut: materialize `df` to executor-local blocks and
    * return a frame whose plan is a LogicalRDD over them.
    *
    * Invariant: a loop whose round re-references its input grows the
    * ANALYZED plan by that fan-out every round. A persist dedups the
    * execution, not the plan — a connected-components star round reads
    * its input ~12 times, so by round 5 the plan tops 10⁵ nodes and the
    * AQE explain string alone exhausted a test JVM on a 2000-node path.
    * A cut resets each later round's plan to a constant size. Costs:
    * the cut runs a job now (an operator that cuts is not lazy), and
    * superseded cuts' blocks stay until the ContextCleaner collects
    * their orphaned RDDs — a loop holds at most one per cut taken. A
    * cut frame needs no cache-manager pin and survives a global
    * [[Caches.release]].
    */
  def cut(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** Drop the blocks behind a frame [[cut]] returned, now rather than
    * when the ContextCleaner reaches it — for a loop that supersedes its
    * cut every round, so only the live round's blocks are held. The frame
    * must not be read afterwards; a frame [[cut]] did not return is left
    * alone.
    */
  def release(cutFrame: DataFrame): Unit = cutFrame.queryExecution.logical match {
    case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ => ()
  }

  /** Run `step` from `init` until it reports convergence, at most
    * `maxRounds` times; `step` returns the next state and whether that
    * state is the fixpoint. Throws `IllegalStateException(failure)` if
    * the bound passes first: a half-converged answer (a partial
    * clustering, a half-peeled core) is quietly wrong downstream, so
    * the operator's own message names the bound to raise.
    */
  def fixpoint[S](init: S, maxRounds: Int, failure: => String)(step: S => (S, Boolean)): S = {
    var state = init
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      val (next, done) = step(state)
      state = next
      converged = done
      round += 1
    }
    if (!converged) throw new IllegalStateException(failure)
    state
  }

  /** Max-normalize a fixed-point score round: `raw` is `(__id, __raw)`
    * with non-negative longs; returns `(__id, __s)` with
    * `__s = (__raw · scale) div max(greatest(max(__raw), 1))`, so the
    * top item lands at exactly `scale` and an all-zero round stays 0.
    * Max and integer division are aggregation-order-independent, so
    * the round is bit-exact on any engine, partitioning or retry. The
    * raw frame is [[cut]] first: the max probe executes it anyway, and
    * the normalize step references it twice. The caller keeps
    * `raw · scale` below 2⁶³.
    */
  def maxNormalize(raw: DataFrame, scale: Long): DataFrame = {
    val r = cut(raw)
    val mx = r.agg(greatest(max(col("__raw")), lit(1L)).as("__mx"))
    r.crossJoin(broadcast(mx))
      .select(col("__id"), expr(s"(__raw * ${scale}L) div __mx").as("__s"))
  }
}
