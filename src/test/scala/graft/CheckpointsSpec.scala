package graft

import org.apache.spark.sql.functions._
import graft.operators.Checkpoints

/** The concurrent-pin helper behind the r19 guide-§2.6 overlaps
  * (lshRecallReport truth/cand, the recall facets, the layout
  * witnesses): results must keep argument order, thunks must actually
  * run Spark jobs safely off-thread, and a failing thunk must surface
  * its OWN exception. */
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

  /** Poll `cond` every 10 ms for up to `seconds`; its last value. */
  private def within(seconds: Double)(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (!cond && System.nanoTime() < deadline) Thread.sleep(10)
    cond
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
}
