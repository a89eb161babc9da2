package graft.ops

import java.lang.ref.WeakReference
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame

/** Release point for localCheckpoint block-holders created inside
  * LAZILY-consumed operators (tsAnomaly's overlap split, the corpus
  * operators' [[checkpointLazy]] stages). The eager graph facades release their staged
  * blocks inline (LlmPipe.withStaged) because the loop has
  * materialized by the time the facade returns; these checkpoints
  * instead back a lazy result, so the operator cannot know when the
  * last consumer has materialized, and the blocks otherwise park in
  * the block manager until the GC-driven ContextCleaner notices
  * (advice r12 — an unbounded-latency accumulation in a long-lived
  * session).
  *
  * Every staged checkpoint registers here under a WEAK reference:
  * the registry never extends a block's lifetime, so the
  * ContextCleaner fallback is intact, and [[sweep]] gives lifecycle
  * owners a deterministic release point — Verify and Bench sweep
  * between queries; a long-lived session sweeps between pipelines
  * via [[graft.Graft.sweepStaged]]. Sweeping invalidates any staged
  * frame not yet materialized (a local checkpoint's lineage is
  * truncated — its blocks are the only copy), so owners sweep at
  * query boundaries only. */
object Staged {
  private val reg = new ConcurrentLinkedQueue[WeakReference[RDD[_]]]()

  /** localCheckpoint + register the block-holding RDD for [[sweep]]. */
  private[graft] def checkpoint(df: DataFrame): DataFrame =
    register(df.localCheckpoint())

  /** Lazy variant: blocks materialize at first use, release the same
    * way. */
  private[graft] def checkpointLazy(df: DataFrame): DataFrame =
    register(df.localCheckpoint(eager = false))

  private def register(out: DataFrame): DataFrame = {
    // opportunistically drop entries whose RDD the ContextCleaner
    // already reclaimed — a sweep-free long-lived session must not
    // accumulate queue nodes without bound (review r13)
    reg.removeIf(_.get() == null)
    out.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        reg.add(new WeakReference[RDD[_]](lr.rdd))
      case _ => // unexpected plan shape: ContextCleaner fallback only
    }
    out
  }

  /** Unpersist every still-reachable staged checkpoint and clear the
    * registry. Returns the number of RDDs released. */
  def sweep(): Int = {
    var released = 0
    var ref = reg.poll()
    while (ref != null) {
      val rdd = ref.get()
      if (rdd != null) {
        rdd.unpersist(blocking = false)
        released += 1
      }
      ref = reg.poll()
    }
    released
  }
}
