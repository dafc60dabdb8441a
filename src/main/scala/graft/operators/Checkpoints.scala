package graft.operators

import java.util.concurrent.{Callable, ExecutionException,
  ExecutorCompletionService, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Lifecycle helper for eager localCheckpoint intermediates shared by
  * the iterative fits (CC fixpoint, BPE merge loop).
  */
private[graft] object Checkpoints {

  /** Release an iteration intermediate: the CacheManager entry (if the
    * frame was persist()ed) AND the executor-local blocks behind an
    * eager localCheckpoint. Dataset.unpersist alone only touches the
    * CacheManager — checkpoint blocks are RDD-level and are otherwise
    * freed only when the ContextCleaner GCs the RDD (a long-running
    * driver composing many iterative queries would accumulate
    * executor-local storage between GCs). After this the
    * frame is DEAD: a truncated lineage cannot recompute its blocks.
    *
    * Only the plan ROOT is matched — a checkpointed frame IS a root
    * LogicalRDD. Descending the tree would also find checkpoint
    * leaves the frame merely READS (a plan built on top of a
    * still-live checkpoint) and free blocks other consumers depend
    * on. */
  def releaseIntermediate(df: DataFrame): Unit = {
    df.unpersist()
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }
  }

  /** Evaluate independent EAGER-constructing thunks concurrently
    * (guide §2.6: overlap independent jobs). Several composed queries
    * materialize two or more independent pinned subtrees (truth +
    * candidates, the four retrieval facets, the per-layout witnesses)
    * strictly back to back — each pin is a Spark job whose tail leaves
    * the cluster idle while the driver waits to submit the next. A
    * bounded pool of daemon threads (`graft-pareager-N`) submits them
    * together; FIFO scheduling back-fills one job's straggler tail
    * with the next job's tasks. Results keep argument order; an empty
    * list returns Nil. Use ONLY for genuinely independent frames: a
    * thunk must not read another thunk's result.
    *
    * Each thunk's jobs carry a job tag of their own ON TOP of the
    * caller's local properties (job group, description, streaming
    * batch id), so a cancel of the caller's group — a stopped
    * streaming query cancels its run-id group — still reaches them.
    * The FIRST failure (in completion order) cancels the siblings:
    * queued thunks never start, running ones are interrupted and their
    * tagged jobs cancelled until every pool thread has exited — no
    * sibling work runs on into the caller's next query — and then the
    * failing thunk's own exception propagates. An interrupt of the
    * calling thread is handled the same way and then rethrown as
    * `InterruptedException`, with the thread's interrupt status set. */
  def parEager[T](thunks: (() => T)*): Seq[T] = {
    if (thunks.isEmpty) return Nil
    val sc = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).map(_.sparkContext)
    val run = java.util.UUID.randomUUID()
    val tags = thunks.indices.map(i => s"graft-pareager-$run-$i")
    // pool threads are created by this thread, so they inherit a copy
    // of its local properties (Spark's InheritableThreadLocal)
    val pool = Executors.newFixedThreadPool(math.min(thunks.size, 4),
      (r: Runnable) => {
        val t = new Thread(r, s"graft-pareager-${threadIds.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
    def cancelAll(): Unit = sc.foreach(c => tags.foreach(c.cancelJobsWithTag))
    // cancel, interrupt and join every thunk; an interrupt that arrives
    // meanwhile is kept for the caller, not allowed to cut the join short
    def abort(): Unit = {
      pool.shutdownNow()
      var interrupted = false
      def joined(): Boolean =
        try pool.awaitTermination(100, TimeUnit.MILLISECONDS)
        catch { case _: InterruptedException => interrupted = true; false }
      while (!joined()) cancelAll()
      cancelAll() // jobs submitted just before a thread exited
      if (interrupted) Thread.currentThread().interrupt()
    }
    try {
      val done = new ExecutorCompletionService[T](pool)
      val futs = thunks.zip(tags).map { case (t, tag) =>
        done.submit(new Callable[T] {
          def call(): T = {
            sc.foreach { c => c.addJobTag(tag); c.setInterruptOnCancel(true) }
            t()
          }
        })
      }
      thunks.foreach { _ =>
        try done.take().get()
        catch {
          case e: ExecutionException =>
            abort()
            // surface the thunk's own exception, not the wrapper
            throw e.getCause
          case e: InterruptedException =>
            abort()
            Thread.currentThread().interrupt()
            throw e
        }
      }
      futs.map(_.get())
    } finally pool.shutdown()
  }

  private val threadIds = new AtomicInteger()

  /** Strip the size-estimate stats a localCheckpoint preserves, keeping
    * the SAME materialized blocks — required whenever an iterative fit
    * SELF-JOINS its checkpointed state: localCheckpoint stores the
    * plan's estimated sizeInBytes in the LogicalRDD it returns, and
    * the simple (non-CBO) stats visitor estimates a join as the
    * PRODUCT of its children, so a state×state round SQUARES the
    * stored estimate — the BigInt's bit-length doubles per round and
    * Catalyst stats visits degrade into minutes of BigInteger
    * multiplication by ~25 cumulative rounds (measured in the CC
    * pointer-jumping loop: 0.2 s → 76 s per pass on a 400-row table).
    * Rebuilding the frame over the checkpointed RDD resets the
    * estimate to the leaf default; AQE re-plans join strategies from
    * RUNTIME sizes, so nothing downstream depends on the discarded
    * number. State referenced ONCE per round (edges ⋈ state) only
    * multiplies by a constant — linear bit growth, harmless — and
    * does not need this.
    *
    * The returned frame's root owns NO blocks: hand
    * [[releaseIntermediate]] the original checkpointed frame, not the
    * wrapper. */
  def stripStats(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.rdd, df.schema)
}
