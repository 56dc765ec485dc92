package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Local measurement harness (Profile family, not part of the driver
  * contract): run one registry query N times with a SparkListener that
  * records every driver JOB — id, duration, stage count, task count —
  * so the per-query job-count/latency attribution the r14 verdict asked
  * for (item 7: "per-query driver-side job count is now the dominant
  * bench cost") is measured, not guessed.
  *
  *   sbt "runMain graft.JobTrace q_ta_topk /root/testdata/sf0.1 3"
  *
  * Prints per-run: total seconds, then one line per job with its
  * duration and stage/task counts. Jobs from run 1 (codegen/footer
  * warmup) are labelled separately from steady-state runs.
  */
object JobTrace {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val trace = new Listener
    spark.sparkContext.addSparkListener(trace)

    val fn = SparkEntry.queries(name)
    for (i <- 1 to reps) {
      System.gc()
      trace.clear()
      val t0 = System.nanoTime()
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(200) // let listener events drain
      val js = trace.jobs
      println(f"RUN$i%d $name%s: $dt%.3f s, ${js.size}%d jobs")
      js.foreach { j =>
        val d = if (j.end >= 0) (j.end - j.start) / 1000.0 else -1.0
        println(f"  job ${j.id}%3d ${d}%7.3f s stages=${j.stages}%2d tasks=${j.tasks}%4d ${j.desc.take(60)}%s")
      }
    }
    spark.stop()
  }

  /** One traced job: start/end times and the stages and tasks it ran. */
  final case class Job(id: Int, start: Long, @volatile var end: Long = -1L,
      @volatile var stages: Int = 0, @volatile var tasks: Int = 0, desc: String = "")

  /** Records every job with the stages and tasks it ran. A completed
    * stage is credited to the job whose `SparkListenerJobStart` listed
    * it (stageId → job, from its `stageInfos`), so jobs that run
    * concurrently — from Futures, say — are attributed correctly. A
    * stage that several jobs list belongs to the first; the later jobs
    * skip it. */
  final class Listener extends SparkListener {
    private val byId = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Job]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val job = Job(e.jobId, e.time,
        desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
      byId.put(e.jobId, job)
      e.stageInfos.foreach(s => stageJob.putIfAbsent(s.stageId, job))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = byId.get(e.jobId); if (j != null) j.end = e.time
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val j = stageJob.get(e.stageInfo.stageId)
      if (j != null) { j.stages += 1; j.tasks += e.stageInfo.numTasks }
    }

    /** The jobs seen since the last [[clear]], in start (= id) order. */
    def jobs: Seq[Job] = {
      import scala.jdk.CollectionConverters._
      byId.values.asScala.toSeq.sortBy(_.id)
    }
    def clear(): Unit = { byId.clear(); stageJob.clear() }
  }
}
