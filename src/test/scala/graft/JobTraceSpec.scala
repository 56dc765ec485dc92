package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

class JobTraceSpec extends SparkSpec {

  test("JobTrace credits each stage to its own job when two jobs run concurrently") {
    val sc = spark.sparkContext
    val trace = new JobTrace.Listener
    sc.addSparkListener(trace)
    def described[T](desc: String)(body: => T): Future[T] = Future {
      sc.setJobDescription(desc)
      try body finally sc.setJobDescription(null)
    }
    try {
      // a: one stage of 3 slow tasks; b starts while a runs and finishes
      // its two stages (5 + 2 tasks) around a's completion, so crediting
      // "the most recent unfinished job" would hand a's stage to b
      val a = described("trace-a") {
        sc.parallelize(1 to 3, 3).map { x => Thread.sleep(1500); x }.collect()
      }
      Thread.sleep(300)
      val b = described("trace-b") {
        sc.parallelize(1 to 10, 5).map { x => Thread.sleep(100); (x % 2, x) }
          .reduceByKey(_ + _, 2).collect()
      }
      Await.result(a, 60.seconds)
      Await.result(b, 60.seconds)
      // stage completions are posted before their job's end, so once both
      // ends are seen every count is final
      val deadline = System.nanoTime() + 30L * 1000000000L
      def ours = trace.jobs.filter(j => j.desc.startsWith("trace-"))
      while (!(ours.size == 2 && ours.forall(_.end >= 0)) && System.nanoTime() < deadline)
        Thread.sleep(50)
      val byDesc = ours.map(j => j.desc -> (j.stages, j.tasks)).toMap
      assert(byDesc == Map("trace-a" -> (1, 3), "trace-b" -> (2, 7)))
    } finally sc.removeSparkListener(trace)
  }
}
