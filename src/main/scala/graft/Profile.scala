package graft

import org.apache.spark.scheduler._

/** Per-query profiling tool for the optimization rounds (guide §1:
  * measure first). For each named query it runs one untimed warmup,
  * then times (a) DataFrame CONSTRUCTION — which executes any eager
  * prefix: memoized fits, iterative loops ending in localCheckpoint —
  * and (b) the noop-sink write (Bench's timed action), while a
  * listener counts jobs/stages/tasks and sums executor task time.
  * `wall >> taskTimeSum/cores` means driver-side cost (planning,
  * scheduling, job-launch overhead) dominates, not executor compute.
  * Usage: runMain graft.Profile <query> [query ...]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    require(args.nonEmpty, "usage: Profile <query> [query ...]")
    val selected = SparkEntry.select(Some(args.toSeq))
    val spark = GraftSession.build("32")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    val trace = sys.env.contains("SPARK_GRAFT_PROFILE_TRACE")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (trace) println(s"JOB ${j.jobId} " +
          j.stageInfos.map(_.name).mkString(" | "))
      }
      override def onStageCompleted(
          s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        // SPARK_GRAFT_PROFILE_STAGES: per-stage Σ executor-run time —
        // names the hot stage when the totals say "compute-bound"
        if (sys.env.contains("SPARK_GRAFT_PROFILE_STAGES")) {
          val info = s.stageInfo
          val ms = info.taskMetrics.executorRunTime
          if (ms > 200)
            println(f"STAGE ${info.stageId}%5d ${ms / 1e3}%8.2fs " +
              f"tasks=${info.numTasks}%4d ${info.name.take(90)}")
        }
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        taskMs.addAndGet(t.taskInfo.duration)
      }
    })
    selected.foreach { case (n, fn) =>
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      // drain listener events from the warmup before zeroing
      // (listenerBus is private[spark]; a short settle is enough for
      // a dev profiling tool)
      Thread.sleep(300)
      jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0)
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      Thread.sleep(300)
      println(f"PROFILE $n construct=${(t1 - t0) / 1e9}%.3f " +
        f"write=${(t2 - t1) / 1e9}%.3f jobs=${jobs.get} " +
        f"stages=${stages.get} tasks=${tasks.get} " +
        f"taskTimeSum=${taskMs.get / 1e3}%.2f")
    }
    spark.stop()
  }
}
