package graft

import org.apache.spark.sql.functions._
import graft.operators.Checkpoints

/** The concurrent-pin helper behind the guide-§2.6 overlaps
  * (lshRecallReport truth/cand, the recall facets, the layout
  * witnesses) and MultiSink's four writes: results must keep argument
  * order, thunks must actually run Spark jobs safely off-thread, a
  * failing thunk must surface its OWN exception, and neither a failure
  * nor an interrupt of the caller may leave a thunk's job running.
  * Releasing a checkpoint frees whatever blocks it holds. */
class CheckpointsSpec extends SparkSpec {
  import spark.implicits._

  test("parEager keeps argument order and materializes real frames") {
    val df = Seq(1L, 2L, 3L).toDF("x")
    val Seq(a, b) = Checkpoints.parEager(
      () => df.select(sum(col("x")).as("s")).localCheckpoint(true),
      () => df.select(count(lit(1)).as("n")).localCheckpoint(true))
    assert(a.head().getLong(0) === 6L)
    assert(b.head().getLong(0) === 3L)
  }

  test("parEager surfaces the thunk's own exception, not the wrapper") {
    val boom = intercept[IllegalStateException] {
      Checkpoints.parEager[Int](
        () => 1,
        () => throw new IllegalStateException("thunk failure"))
    }
    assert(boom.getMessage === "thunk failure")
  }

  test("parEager of no thunks returns Nil") {
    assert(Checkpoints.parEager[Int]() === Nil)
  }

  test("parEager runs thunks on named daemon threads") {
    val Seq(t) = Checkpoints.parEager(() => Thread.currentThread())
    assert(t.isDaemon)
    assert(t.getName.startsWith("graft-pareager-"), t.getName)
  }

  test("parEager's first failure cancels a sibling's running job") {
    val tracker = spark.sparkContext.statusTracker
    val boom = intercept[IllegalStateException] {
      Checkpoints.parEager[Long](
        () => {
          // fail only once the sibling's job is on the executors
          assert(within(30)(tracker.getActiveJobIds.nonEmpty))
          throw new IllegalStateException("thunk failure")
        },
        () => spark.sparkContext.parallelize(1 to 4, 4)
          .map { i => Thread.sleep(60000); i }.count())
    }
    assert(boom.getMessage === "thunk failure")
    // the status store trails the scheduler by one listener-bus hop;
    // allow it a moment, far less than the sibling's 60 s tasks
    assert(within(5)(tracker.getActiveJobIds.isEmpty),
      tracker.getActiveJobIds.mkString(","))
  }

  test("parEager's caller interrupted: thunk jobs cancelled, " +
      "InterruptedException rethrown with the interrupt status kept") {
    val tracker = spark.sparkContext.statusTracker
    @volatile var outcome: Either[Throwable, Seq[Long]] = Right(Nil)
    @volatile var flagKept = false
    val caller = new Thread(() => {
      try outcome = Right(Checkpoints.parEager[Long](
        () => spark.sparkContext.parallelize(1 to 4, 4)
          .map { i => Thread.sleep(60000); i.toLong }.count()))
      catch { case e: Throwable => outcome = Left(e) }
      flagKept = Thread.currentThread().isInterrupted
    }, "pareager-interrupt-caller")
    caller.setDaemon(true)
    caller.start()
    assert(within(30)(tracker.getActiveJobIds.nonEmpty),
      "the thunk's job never started")
    caller.interrupt()
    caller.join(30000)
    assert(!caller.isAlive, "parEager did not return after the interrupt")
    assert(outcome.left.toOption.exists(_.isInstanceOf[InterruptedException]),
      s"want InterruptedException, got $outcome")
    assert(flagKept, "the caller's interrupt status was cleared")
    assert(within(5)(tracker.getActiveJobIds.isEmpty),
      tracker.getActiveJobIds.mkString(","))
  }

  test("parEager's thunks keep the caller's job group, so cancelling " +
      "the caller's group reaches their jobs") {
    val sc = spark.sparkContext
    val tracker = sc.statusTracker
    val group = s"pareager-caller-${java.util.UUID.randomUUID()}"
    @volatile var outcome: Either[Throwable, Seq[Long]] = Right(Nil)
    val caller = new Thread(() => {
      sc.setJobGroup(group, "caller", interruptOnCancel = true)
      try outcome = Right(Checkpoints.parEager[Long](
        () => sc.parallelize(1 to 4, 4)
          .map { i => Thread.sleep(60000); i.toLong }.count()))
      catch { case e: Throwable => outcome = Left(e) }
    }, "pareager-group-caller")
    caller.setDaemon(true)
    caller.start()
    assert(within(30)(tracker.getJobIdsForGroup(group).nonEmpty),
      "the thunk's job does not carry the caller's job group")
    sc.cancelJobGroup(group)
    caller.join(30000)
    assert(!caller.isAlive, "parEager did not return after the cancel")
    assert(outcome.isLeft, s"want the cancelled job's failure, got $outcome")
    assert(within(5)(tracker.getActiveJobIds.isEmpty),
      tracker.getActiveJobIds.mkString(","))
  }

  private def lazyCheckpoint() =
    spark.range(10).toDF("x").coalesce(1).localCheckpoint(eager = false)

  private def rddId(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd.id

  private def cached(id: Int): Boolean =
    spark.sparkContext.getRDDStorageInfo.exists(_.id == id)

  test("releasing a computed lazy checkpoint frees its block, also after " +
      "a failed job") {
    val computed = lazyCheckpoint()
    val id = rddId(computed)
    assert(computed.collect().length === 10)
    assert(within(5)(cached(id)))
    Checkpoints.releaseIntermediate(computed)
    assert(within(5)(!cached(id)))

    // the job stores the block and then fails, so the RDD is never
    // marked checkpointed
    val failed = lazyCheckpoint()
    val fid = rddId(failed)
    intercept[Exception](failed.foreach(_ =>
      throw new IllegalStateException("after the block is stored")))
    assert(within(5)(cached(fid)))
    Checkpoints.releaseIntermediate(failed)
    assert(within(5)(!cached(fid)))
  }
}
