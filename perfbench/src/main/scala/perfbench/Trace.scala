package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span: a named interval, the span that caused it, and the
  * operation (trace) it belongs to; `root` marks the span of a whole
  * operation. Times are wall-clock milliseconds, the clock Spark stamps
  * its own listener events with. */
final case class Span(id: Int, name: String, trace: Int, parent: Int, root: Boolean, start: Long) {
  var end: Long = -1L
  var rows: Long = -1L
  def seconds: Double = (end - start) / 1000.0
}

/** Spans around every call the benchmark makes into the library, plus
  * Spark's engine layers seen through a SparkListener and a
  * QueryExecutionListener. Everything is kept in memory and attributed
  * after the run: a job belongs to the innermost span open when it
  * started (sound with one client thread, including jobs the library
  * starts from its own Futures), a stage to the job whose
  * `SparkListenerJobStart.stageInfos` lists it, and a task to its stage.
  *
  * When `recording` is false, [[span]] and [[op]] only run their body. */
final class Tracer(spark: SparkSession) {
  @volatile var recording = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var traces = 0

  def op[T](name: String)(body: => T): T = {
    if (recording) traces += 1
    open(name, root = true)(body)
  }

  def span[T](name: String)(body: => T): T = open(name, root = false)(body)

  /** Adds `n` result rows to the span that is currently open. */
  def rows(n: Long): Unit = if (recording && stack.nonEmpty) {
    val s = stack.head
    s.rows = math.max(s.rows, 0L) + n
  }

  private def open[T](name: String, root: Boolean)(body: => T): T =
    if (!recording) body
    else {
      val parent = if (root || stack.isEmpty) -1 else stack.head.id
      val s = Span(spans.size, name, traces, parent, root, System.currentTimeMillis())
      spans += s
      stack = s :: stack
      try body
      finally {
        s.end = System.currentTimeMillis()
        stack = stack.tail
      }
    }

  // ---- engine side: filled on the listener bus thread ----
  private final case class Job(id: Int, start: Long) { @volatile var end: Long = -1L }
  private final case class Task(stage: Int, run: Long, cpuNs: Long, gc: Long, delay: Long,
      shuffleWrite: Long, shuffleRead: Long, fetchWait: Long, spill: Long,
      inBytes: Long, inRecords: Long, outBytes: Long)
  private final case class Query(start: Long, files: Long)
  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val jobById = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val queries = new ConcurrentLinkedQueue[Query]()
  @volatile private var lastEvent = System.currentTimeMillis()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val j = Job(e.jobId, e.time)
      jobs.add(j); jobById.put(e.jobId, j)
      e.stageInfos.foreach(si => stageJob.put(si.stageId, e.jobId))
      lastEvent = System.currentTimeMillis()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobById.get(e.jobId)).foreach(_.end = e.time)
      lastEvent = System.currentTimeMillis()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) {
        val dur = info.finishTime - info.launchTime
        val getting = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        // Spark's UI definition of scheduler delay
        val delay = math.max(0L, dur - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - getting)
        tasks.add(Task(e.stageId, m.executorRunTime, m.executorCpuTime, m.jvmGCTime, delay,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten))
      }
      lastEvent = System.currentTimeMillis()
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = lastEvent = System.currentTimeMillis()
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.values.map(_.startTimeMs).filter(_ > 0)
      val start =
        if (phases.nonEmpty) phases.min
        else System.currentTimeMillis() - durationNs / 1000000L
      queries.add(Query(start, Scans.filesRead(qe.executedPlan)))
      lastEvent = System.currentTimeMillis()
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private var attached = false
  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
    attached = true
  }

  /** Wait until the listener bus has been quiet for a moment, so every
    * event of the work done so far has been recorded. */
  def drain(): Unit = if (attached) {
    val deadline = System.currentTimeMillis() + 10000L
    while (System.currentTimeMillis() - lastEvent < 300L && System.currentTimeMillis() < deadline)
      Thread.sleep(50L)
  }

  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
    attached = false
  }

  def allSpans: Seq[Span] = spans.toSeq

  /** Median duration (s) of the spans with this name; 0 when none ran. */
  def medianSeconds(name: String): Double = {
    val xs = spans.filter(s => s.name == name && s.end >= 0).map(_.seconds).toSeq
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }

  /** Self time of every span: its duration minus the part its child spans cover. */
  def selfSeconds: Map[Int, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> ((s.end - s.start) - Stats.covered(kids.toSeq, s.start, s.end)) / 1000.0
    }.toMap
  }

  /** The innermost recorded span whose interval holds time `t`. */
  private def spanAt(t: Long, index: Array[Span]): Option[Span] = {
    var best: Option[Span] = None
    index.foreach { s =>
      if (s.start <= t && t <= s.end && best.forall(b => s.start >= b.start)) best = Some(s)
    }
    best
  }

  /** Engine-layer totals per root op span among `roots`, averaged per op. */
  def engineMetrics(roots: Seq[Span]): Map[String, Double] = {
    drain()
    val closed = spans.filter(_.end >= 0).toArray
    val rootOf: Int => Int = { id =>
      var s = spans(id)
      while (s.parent >= 0) s = spans(s.parent)
      s.id
    }
    val rootIds = roots.map(_.id).toSet
    val jobRoot = mutable.Map.empty[Int, Int]
    val jobsByRoot = mutable.Map.empty[Int, mutable.ArrayBuffer[Job]]
    jobs.asScala.foreach { j =>
      spanAt(j.start, closed).map(s => rootOf(s.id)).filter(rootIds).foreach { r =>
        jobRoot(j.id) = r
        jobsByRoot.getOrElseUpdate(r, mutable.ArrayBuffer.empty) += j
      }
    }
    val tasksByRoot = tasks.asScala.toSeq.flatMap { t =>
      Option(stageJob.get(t.stage)).flatMap(j => jobRoot.get(j)).map(_ -> t)
    }.groupBy(_._1).map { case (r, ts) => r -> ts.map(_._2) }
    val filesByRoot = queries.asScala.toSeq.flatMap { q =>
      spanAt(q.start, closed).map(s => rootOf(s.id)).filter(rootIds).map(_ -> q.files)
    }.groupBy(_._1).map { case (r, fs) => r -> fs.map(_._2).sum }
    val n = math.max(roots.size, 1).toDouble
    var wall, gap = 0.0
    roots.foreach { r =>
      val js = jobsByRoot.getOrElse(r.id, Nil).map(j => (j.start, if (j.end >= 0) j.end else r.end))
      wall += r.end - r.start
      gap += (r.end - r.start) - Stats.covered(js.toSeq, r.start, r.end)
    }
    val ts = roots.flatMap(r => tasksByRoot.getOrElse(r.id, Nil))
    def sum(f: Task => Long): Double = ts.map(f(_).toDouble).sum
    val inBytes = sum(_.inBytes)
    val rowsOut = roots.map(_.rows).filter(_ > 0).sum.toDouble
    val rowsIn = roots.filter(_.rows > 0).flatMap(r => tasksByRoot.getOrElse(r.id, Nil))
      .map(_.inRecords.toDouble).sum
    Map(
      "spark.driver.gap_frac" -> (if (wall > 0) gap / wall else 0.0),
      "spark.scheduler.jobs_per_op" -> roots.map(r => jobsByRoot.getOrElse(r.id, Nil).size).sum / n,
      "spark.scheduler.stages_per_op" -> ts.map(_.stage).distinct.size / n,
      "spark.scheduler.tasks_per_op" -> ts.size / n,
      "spark.scheduler.delay_s" -> sum(_.delay) / 1000.0 / n,
      "spark.executor.run_s" -> sum(_.run) / 1000.0 / n,
      "spark.executor.cpu_s" -> sum(_.cpuNs) / 1e9 / n,
      "spark.executor.gc_s" -> sum(_.gc) / 1000.0 / n,
      "spark.shuffle.write_bytes" -> sum(_.shuffleWrite) / n,
      "spark.shuffle.read_bytes" -> sum(_.shuffleRead) / n,
      "spark.shuffle.fetch_wait_s" -> sum(_.fetchWait) / 1000.0 / n,
      "spark.spill.bytes" -> sum(_.spill) / n,
      "spark.scan.input_bytes" -> inBytes / n,
      "spark.scan.files_read" -> roots.map(r => filesByRoot.getOrElse(r.id, 0L)).sum / n,
      "spark.scan.rows_per_result" -> (if (rowsOut > 0) rowsIn / rowsOut else 0.0),
      "spark.output.bytes_per_input_byte" -> (if (inBytes > 0) sum(_.outBytes) / inBytes else 0.0))
  }
}

/** Files read by the file scans of an executed plan, adaptive stages included. */
object Scans extends AdaptiveSparkPlanHelper {
  def filesRead(plan: SparkPlan): Long =
    try collectWithSubqueries(plan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
    catch { case _: Throwable => 0L }
}
