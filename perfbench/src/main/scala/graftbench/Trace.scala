package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `parent` is the id of the span that caused it
  * (0 = a root). Times are `System.nanoTime` values. */
final case class Span(id: Long, parent: Long, name: String,
    startNs: Long, endNs: Long, attrs: Map[String, String]) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. With `on = false` every call is a plain
  * pass-through, so untraced runs pay nothing but a branch. Spans are
  * written out once, when the benchmark ends. */
final class Tracer(val on: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }
  // epoch-millis <-> nanoTime anchor, for events Spark stamps in epoch ms
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis()
  def nsOfEpochMs(ms: Long): Long = anchorNs + (ms - anchorMs) * 1000000L

  def currentId: Long = current.get()

  /** Time `body` as a child of the calling thread's current span. */
  def span[T](name: String, attrs: Map[String, String] = Map.empty)(
      body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get()
      current.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        ownNames.add(name)
        spans.add(Span(id, parent, name, t0, System.nanoTime(), attrs))
        current.set(parent)
      }
    }

  /** Record an interval measured elsewhere (listener events). */
  def record(name: String, parent: Long, startNs: Long, endNs: Long,
      attrs: Map[String, String] = Map.empty): Long =
    if (!on) 0L
    else {
      val id = ids.incrementAndGet()
      spans.add(Span(id, parent, name, startNs, endNs, attrs))
      id
    }

  /** Every span, oldest first. Listener spans recorded without a known
    * parent are attached to the innermost benchmark span whose interval
    * contains them. */
  def all: Seq[Span] = {
    val ss = spans.asScala.toSeq.sortBy(_.startNs)
    val own = ss.filter(s => ownNames.contains(s.name))
    ss.map { s =>
      if (s.parent != 0 || ownNames.contains(s.name)) s
      else own.filter(o => o.startNs <= s.startNs && s.endNs <= o.endNs)
        .minByOption(_.durNs).fold(s)(o => s.copy(parent = o.id))
    }
  }
  private val ownNames = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Self time per span name in seconds: a span's duration minus the
    * part of its interval that its children cover. */
  def selfSeconds: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      name -> group.map { s =>
        val cs = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var (lo, hi) = (Long.MinValue, Long.MinValue)
        cs.foreach { case (a, b) =>
          if (a > hi) { if (hi > lo) covered += hi - lo; lo = a; hi = b }
          else hi = math.max(hi, b)
        }
        if (hi > lo) covered += hi - lo
        (s.durNs - covered) / 1e9
      }.sum
    }
  }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val lines = all.map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> (s.startNs - anchorNs), "end_ns" -> (s.endNs - anchorNs),
        "attrs" -> s.attrs))
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Local property that ties Spark jobs to the benchmark span that
  * launched them; Spark copies it into every job the thread submits. */
object SpanProp {
  val Key = "graftbench.span"
  def set(spark: SparkSession, t: Tracer): Unit =
    if (t.on) spark.sparkContext.setLocalProperty(Key, t.currentId.toString)
}

/** Spark scheduler counters, summed over the stages that complete while
  * it is attached, plus job and stage spans for the tracer. Attached
  * only in traced runs. */
final class SchedulerObserver(t: Tracer) extends SparkListener {
  val jobs, stages, tasks = new LongAdder
  val runMs, cpuNs, gcMs = new LongAdder
  val shuffleWrite, shuffleRead, spill, input = new LongAdder
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, String)]()
  private val jobsByDesc = new java.util.concurrent.ConcurrentHashMap[String, LongAdder]()
  private val laneJobs = new ConcurrentLinkedQueue[(String, Long)]()

  /** Jobs submitted from threads tagged with `lane`, and the number of
    * distinct benchmark spans that submitted them. */
  def lane(name: String): (Long, Long) = {
    val js = laneJobs.asScala.filter(_._1 == name).toSeq
    (js.size.toLong, js.map(_._2).distinct.size.toLong)
  }

  /** Jobs counted per streaming micro-batch, keyed `runId:batchId`. */
  def jobsByBatch: Map[String, Long] =
    jobsByDesc.asScala.map { case (k, v) => k -> v.sum() }.toMap

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.increment()
    val p = Option(e.properties)
    val parent = p.flatMap(x => Option(x.getProperty(SpanProp.Key)))
      .map(_.toLong).getOrElse(0L)
    val desc = p.flatMap(x => Option(x.getProperty("spark.job.description")))
      .getOrElse("")
    // streaming jobs carry "runId = <uuid>" and "batch = <n>"
    val batch = (for {
      run <- "runId = ([0-9a-f-]+)".r.findFirstMatchIn(desc)
      b <- "batch = (\\d+)".r.findFirstMatchIn(desc)
    } yield s"${run.group(1)}:${b.group(1)}").getOrElse("")
    p.flatMap(x => Option(x.getProperty(SchedulerObserver.LaneKey)))
      .foreach(l => laneJobs.add((l, parent)))
    if (batch.nonEmpty)
      jobsByDesc.computeIfAbsent(batch, _ => new LongAdder).increment()
    jobStart.put(e.jobId, (e.time, parent, batch))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (start, parent, batch) =>
      t.record("spark.job", parent, t.nsOfEpochMs(start),
        t.nsOfEpochMs(e.time),
        if (batch.isEmpty) Map.empty else Map("batch" -> batch))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    stages.increment()
    tasks.add(si.numTasks.toLong)
    val m = si.taskMetrics
    if (m != null) {
      runMs.add(m.executorRunTime)
      cpuNs.add(m.executorCpuTime)
      gcMs.add(m.jvmGCTime)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      input.add(m.inputMetrics.bytesRead)
    }
    for (s <- si.submissionTime; c <- si.completionTime)
      t.record("spark.stage", 0L, t.nsOfEpochMs(s), t.nsOfEpochMs(c),
        Map("stage" -> si.stageId.toString, "tasks" -> si.numTasks.toString))
  }

  def snapshot: Map[String, Double] = Map(
    "jobs" -> jobs.sum().toDouble, "stages" -> stages.sum().toDouble,
    "tasks" -> tasks.sum().toDouble, "task_s" -> runMs.sum() / 1e3,
    "task_cpu_s" -> cpuNs.sum() / 1e9, "gc_s" -> gcMs.sum() / 1e3,
    "shuffle_write_mb" -> shuffleWrite.sum() / 1e6,
    "shuffle_read_mb" -> shuffleRead.sum() / 1e6,
    "spill_mb" -> spill.sum() / 1e6, "input_mb" -> input.sum() / 1e6)
}

object SchedulerObserver {
  /** Local property naming the benchmark thread that submitted a job. */
  val LaneKey = "graftbench.lane"
}

/** One finished SQL action as `QueryExecutionListener` reports it. */
final case class ActionEvent(funcName: String, outputPath: Option[String],
    startNs: Long, endNs: Long, planMs: Double, rows: Option[Long])

/** Records every SQL action's duration, planning phases, output path
  * and output row count (read from the executed plan's metrics, so the
  * timed action itself is never changed). Cheap: it is attached in
  * untraced runs too, because the output checks need the row counts. */
final class ActionObserver(t: Tracer) extends QueryExecutionListener {
  private val events = new ConcurrentLinkedQueue[ActionEvent]()

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val end = System.nanoTime()
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(qe.tracker.phases.get).map(_.durationMs.toDouble).sum
    val path = outputPath(qe)
    val e = ActionEvent(funcName, path, end - durationNs, end, planMs,
      PlanRows(qe.executedPlan))
    events.add(e)
    t.record("sql.action", 0L, e.startNs, e.endNs,
      Map("func" -> funcName) ++ path.map("path" -> _))
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  /** Events recorded so far, oldest first. */
  def all: Seq[ActionEvent] = events.asScala.toSeq

  def clear(): Unit = events.clear()

  private def outputPath(qe: QueryExecution): Option[String] =
    qe.logical.collectFirst {
      case c: org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand =>
        c.outputPath.toString
      case c: org.apache.spark.sql.execution.datasources.SaveIntoDataSourceCommand
          if c.options.contains("path") =>
        c.options("path")
      // the written table is a field of the command, not a child
      case c: org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
          if c.table.name == "noop-table" =>
        ActionObserver.Noop
    }
}

object ActionObserver {
  /** `outputPath` of a write to the `noop` sink. */
  val Noop = "noop"
}

/** Output row count of an executed plan, read from its SQL metrics.
  * Walks down through operators that pass rows through unchanged until
  * it reaches one that counts its output; None when the plan's top
  * changes the row count without counting it. */
object PlanRows {
  import org.apache.spark.sql.execution._
  import org.apache.spark.sql.execution.adaptive._

  private val passThrough = Set("ProjectExec", "WholeStageCodegenExec",
    "InputAdapter", "ColumnarToRowExec", "RowToColumnarExec",
    "ShuffleExchangeExec", "AQEShuffleReadExec", "SortExec",
    "WindowExec", "CollectMetricsExec",
    "DeserializeToObjectExec", "SerializeFromObjectExec",
    "MapElementsExec", "OverwriteByExpressionExec", "AppendDataExec",
    "WriteToDataSourceV2Exec", "V2TableWriteExec", "ReusedExchangeExec",
    "CoalesceExec", "BroadcastExchangeExec")

  def apply(plan: SparkPlan): Option[Long] = plan match {
    case a: AdaptiveSparkPlanExec => apply(a.executedPlan)
    case q: QueryStageExec => apply(q.plan)
    case u: UnionExec =>
      val parts = u.children.map(apply)
      if (parts.forall(_.isDefined)) Some(parts.flatten.sum) else None
    case p if p.metrics.contains("numOutputRows") &&
        !passThrough.contains(p.getClass.getSimpleName) =>
      Some(p.metrics("numOutputRows").value)
    case p if passThrough.contains(p.getClass.getSimpleName) &&
        p.children.size == 1 =>
      apply(p.children.head)
    case _ => None
  }
}
