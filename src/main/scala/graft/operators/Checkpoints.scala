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
    * freed only when the ContextCleaner GCs the RDD (ADVICE r9: a
    * long-running driver composing many iterative queries would
    * accumulate executor-local storage between GCs). After this the
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
    * list returns Nil. Each thunk runs under its own Spark job group,
    * so the FIRST failure (in completion order) cancels the siblings:
    * queued thunks never start, running ones are interrupted and their
    * groups' jobs cancelled until every pool thread has exited — no
    * sibling work runs on into the caller's next query — and then the
    * failing thunk's own exception propagates. Use ONLY for genuinely
    * independent frames: a thunk must not read another thunk's
    * result. */
  def parEager[T](thunks: (() => T)*): Seq[T] = {
    if (thunks.isEmpty) return Nil
    val sc = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).map(_.sparkContext)
    val run = java.util.UUID.randomUUID()
    val groups = thunks.indices.map(i => s"graft-pareager-$run-$i")
    val pool = Executors.newFixedThreadPool(math.min(thunks.size, 4),
      (r: Runnable) => {
        val t = new Thread(r, s"graft-pareager-${threadIds.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
    def cancelAll(): Unit = sc.foreach(c => groups.foreach(c.cancelJobGroup))
    try {
      val done = new ExecutorCompletionService[T](pool)
      val futs = thunks.zip(groups).map { case (t, g) =>
        done.submit(new Callable[T] {
          def call(): T = {
            sc.foreach(_.setJobGroup(g, "Checkpoints.parEager",
              interruptOnCancel = true))
            t()
          }
        })
      }
      thunks.foreach { _ =>
        try done.take().get()
        catch {
          case e: ExecutionException =>
            pool.shutdownNow()
            while (!pool.awaitTermination(100, TimeUnit.MILLISECONDS))
              cancelAll()
            cancelAll() // jobs submitted just before a thread exited
            // surface the thunk's own exception, not the wrapper
            throw e.getCause
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
