package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Counters of one span instance: one public call into a layer followed by
  * one action. `jobs` and `tasks` count those that succeeded; adaptive
  * execution may cancel a job whose stage a re-plan no longer needs, and how
  * many it cancels depends on timing (`jobsNotOk`). `jobLog` lists each job
  * of the span in id order as its stages' `<call site>:<tasks>` and its result,
  * so two runs can be compared job by job. */
final case class SpanStats(
    name: String,
    wallS: Double,
    driverOnlyS: Double,
    executorRunS: Double,
    jobs: Long,
    jobsNotOk: Long,
    tasks: Long,
    shuffleBytes: Long,
    spillBytes: Long,
    writeS: Double,
    jobLog: Seq[String])

/** Records spans from outside the program. The driver thread sets the local
  * property [[Spans.Key]] around each call; Spark copies local properties
  * into every job and stage it submits for that call (broadcast threads
  * included), so the listener can attribute jobs, tasks, executor run time,
  * shuffle bytes, spill and file-write SQL executions to the span. Spans stay
  * in memory until [[Spans.finish]]. */
final class Spans(sc: SparkContext) extends SparkListener {
  private case class Interval(id: String, name: String, startMs: Long, endMs: Long, wallS: Double)

  // Written on the listener bus thread, read after the bus has drained.
  private val stageSpan = mutable.Map.empty[Int, String]
  private val execSpan = mutable.Map.empty[Long, String]
  private val jobSpan = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobEnd = mutable.Map.empty[Int, Long]
  private val jobOk = mutable.Set.empty[Int]
  private val jobSite = mutable.Map.empty[Int, String]
  private val tasks = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val runMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val shuffle = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val spill = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val writeStart = mutable.Map.empty[Long, Long]
  private val writeEnd = mutable.Map.empty[Long, Long]

  private val intervals = mutable.ArrayBuffer.empty[Interval]
  private var seq = 0

  sc.addSparkListener(this)

  /** Runs `body` as one instance of span `name`. */
  def apply[T](name: String)(body: => T): T = {
    seq += 1
    val id = s"$name#$seq"
    sc.setLocalProperty(Spans.Key, id)
    val (t0, ms0) = (System.nanoTime(), System.currentTimeMillis())
    try body
    finally {
      intervals += Interval(id, name, ms0, System.currentTimeMillis(), (System.nanoTime() - t0) / 1e9)
      sc.setLocalProperty(Spans.Key, null)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Spans.Key))).foreach { id =>
      jobSpan(e.jobId) = id
      jobStart(e.jobId) = e.time
      jobSite(e.jobId) = e.stageInfos.sortBy(_.stageId).map(i => s"${i.name}:${i.numTasks}").mkString(" | ")
      e.stageIds.foreach(stageSpan(_) = id)
      Option(e.properties.getProperty("spark.sql.execution.id"))
        .foreach(x => execSpan(x.toLong) = id)
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (jobSpan.contains(e.jobId)) {
      jobEnd(e.jobId) = e.time
      if (e.jobResult == JobSucceeded) jobOk += e.jobId
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (id <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      if (e.reason == org.apache.spark.Success) tasks(id) += 1
      runMs(id) += m.executorRunTime
      shuffle(id) += m.shuffleWriteMetrics.bytesWritten
      spill(id) += m.memoryBytesSpilled + m.diskBytesSpilled
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart
        if s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") =>
      writeStart(s.executionId) = s.time
    case x: SparkListenerSQLExecutionEnd if writeStart.contains(x.executionId) =>
      writeEnd(x.executionId) = x.time
    case _ =>
  }

  /** Drains the listener bus, detaches, and returns every span instance in
    * the order the spans ran. */
  def finish(): Seq[SpanStats] = {
    Spans.drain(sc)
    sc.removeSparkListener(this)
    intervals.toSeq.map { iv =>
      val jobsHere = jobSpan.collect { case (j, id) if id == iv.id => j }.toSeq.sorted
      val busy = Spans.unionMs(jobsHere.flatMap(j =>
        jobEnd.get(j).map(end => (math.max(jobStart(j), iv.startMs), math.min(end, iv.endMs)))))
      val writeMs = writeEnd.collect {
        case (x, end) if execSpan.get(x).contains(iv.id) => end - writeStart(x)
      }.sum
      SpanStats(iv.name, iv.wallS, math.max(0.0, iv.wallS - busy / 1e3),
        runMs(iv.id) / 1e3, jobsHere.count(jobOk), jobsHere.size - jobsHere.count(jobOk), tasks(iv.id), shuffle(iv.id), spill(iv.id),
        writeMs / 1e3, jobsHere.map(j => jobSite(j) + (if (jobOk(j)) " ok" else " not-ok")))
    }
  }
}

object Spans {
  val Key = "perfbench.span"

  /** Total length of the union of [start, end) intervals, in ms. */
  def unionMs(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var (curS, curE) = (Long.MinValue, Long.MinValue)
    xs.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }

  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBus.drain(sc)
}
