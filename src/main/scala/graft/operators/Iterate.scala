package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/** The iteration runner: the one place graft cuts lineage and frees
  * what it cut. Iterative operators (components, the BPE trainer, the
  * graph operators' edge snapshots) checkpoint through [[checkpoint]]
  * and free through [[release]], so the storage level and the release
  * rule cannot drift between copies.
  *
  * Why a release of its own: `Dataset.unpersist` looks only in the
  * CacheManager, and a `localCheckpoint` frame is not there — its
  * blocks belong to the RDD under its `LogicalRDD`, which stays in
  * `getPersistentRDDs` after `Dataset.unpersist` (NOTES fact 14).
  * A frame this object returns lives as long as the caller holds it;
  * the ContextCleaner frees its blocks after that.
  */
object Iterate {

  /** Eagerly materialize `df` at `level` and cut its lineage — each
    * caller names its level (and why) next to the call.
    */
  def checkpoint(df: DataFrame, level: StorageLevel): DataFrame =
    df.localCheckpoint(eager = true, level)

  /** Free the blocks behind `df`, non-blocking: the RDD under a
    * checkpoint's `LogicalRDD`, else the CacheManager entry of a
    * `persist`ed frame. Call it on the checkpoint frame itself, once
    * nothing still lazy reads it (a released local checkpoint is not
    * recomputed — a later read fails).
    */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case r: LogicalRDD => org.apache.spark.LocalCheckpoints.free(r.rdd)
    case _ => df.unpersist(blocking = false)
  }

  /** Round loop from `start`, a [[checkpoint]] the loop owns from here
    * on: each round `step` maps the current frame to the next (None =
    * nothing left to do), the next frame is checkpointed at `level`,
    * `converged` is probed on it, and the round it replaces is
    * released. Stops at convergence or after `maxRounds` rounds,
    * prints one `[name] converged=… rounds=…` line on stderr, and
    * returns the last frame (still checkpointed — the caller returns
    * it or releases it) and whether it converged.
    */
  def fixpoint(name: String, start: DataFrame, level: StorageLevel,
               maxRounds: Int)(step: DataFrame => Option[DataFrame])(
               converged: DataFrame => Boolean = _ => false)
      : (DataFrame, Boolean) = {
    var cur = start
    var done = false
    var rounds = 0
    while (!done && rounds < maxRounds) step(cur) match {
      case None => done = true
      case Some(n) =>
        val next = checkpoint(n, level)
        done = converged(next)
        release(cur)
        cur = next
        rounds += 1
    }
    System.err.println(s"[$name] converged=$done rounds=$rounds")
    (cur, done)
  }

  /** Release the `persist`ed `cached` once the first query that reads
    * it completes, success or failure. For operators that return a
    * LAZY frame over a cache and so cannot release it in a `finally`
    * around the caller's action. `persist` is itself lazy: if the
    * caller never runs the result, nothing was cached and the pending
    * listener holds only an object.
    */
  def releaseAfterFirstRead(cached: DataFrame): Unit = {
    val session = cached.sparkSession
    val plan = cached.queryExecution.analyzed
    session.listenerManager.register(new QueryExecutionListener {
      private val done = new java.util.concurrent.atomic.AtomicBoolean(false)
      private def maybeRelease(qe: QueryExecution): Unit =
        if (qe.analyzed.exists(_.sameResult(plan)) &&
            done.compareAndSet(false, true)) {
          release(cached)
          session.listenerManager.unregister(this)
        }
      override def onSuccess(name: String, qe: QueryExecution,
                             durationNs: Long): Unit = maybeRelease(qe)
      override def onFailure(name: String, qe: QueryExecution,
                             error: Exception): Unit = maybeRelease(qe)
    })
  }
}
