package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: runs one workload against the library on a
  * local SparkSession and writes a result file that run.py reads.
  *
  *   --workload w --data dir --work dir --reference dir --out file
  *   --seconds s --trace 0|1 --cpus n [--spans file] [--corrupt gate]
  */
object Main {
  /** Per-layer metrics; the spans are the benchmark's own, around each
    * public call into the library, including the action that
    * materializes the call's result. */
  val layerSpans: Seq[String] = Seq(
    "HnswIndex.writeIndex", "HnswIndex.searchPersisted", "HnswIndex.addToIndex",
    "VamanaIndex.writeIndex", "VamanaIndex.searchPersisted", "VamanaIndex.addToIndex",
    "IvfIndex.build", "IvfIndex.buildMulti", "IvfIndex.loadIndex", "IvfIndex.searchPruned",
    "IvfIndex.searchMultiPruned", "IvfIndex.addToIndex",
    "SparseTopK.build", "SparseTopK.taTopKBatchPersisted", "KnnSearch.topK",
    "Dedup.exactDedup", "Dedup.minhashFastCandidatesScored", "Dedup.verifyScoredCandidates",
    "Dedup.dupClusters", "Dedup.keepBestByQuality", "CorpusStats.crossNll")
  val layerValues: Seq[String] = Seq(
    "HnswIndex.recall_at_10", "VamanaIndex.recall_at_10", "IvfIndex.recall_at_10",
    "IvfIndex.spann_recall_at_10", "Dedup.verified_per_candidate")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cpus = opt("cpus")
    val work = opt("work")
    val trace = opt("trace") == "1"
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val tracer = new Tracer(spark)
    if (trace) { tracer.attach(); tracer.recording = true }
    def context(data: String) = new Ctx(spark, tracer, data, work, opt("reference"),
      opt("seconds").toDouble, opt.getOrElse("corrupt", ""),
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(new File(s"$data/meta.json")))
    // Several comma-separated workloads (with one data dir each) run in
    // turn in this JVM; only the last one's result is written. The build
    // uses this to record a class-data-sharing archive of every workload.
    val runs = opt("workload").split(",").toSeq.zip(opt("data").split(",").toSeq)
    runs.init.foreach { case (w, d) => Workloads.run(context(d), w) }
    val ctx = context(runs.last._2)
    val out = try {
      val o = Workloads.run(ctx, runs.last._1)
      tracer.detach()
      tracer.recording = false
      ctx.mark("gates")
      val heap = Stats.retainedHeapMb()
      val metrics = if (trace) layerMetrics(o, tracer) else endToEnd(o, heap)
      opt.get("spans").foreach(p => writeSpans(tracer, p))
      Map("ok" -> true, "attempted" -> (o.samples.map(_.calls).sum + o.gates.size),
        "failed" -> (o.samples.map(_.failed).sum + o.gates.count(!_.ok)),
        "metrics" -> metrics,
        "gates" -> o.gates.map(g => Map("name" -> g.name, "ok" -> g.ok, "detail" -> g.detail)),
        "detail" -> (o.detail ++ ctx.loopDetail ++ Map("rounds" -> o.samples.size,
          "setup_runs_s" -> o.setup, "jvm_to_session_s" -> sessionS, "phases_s" -> ctx.phases,
          "retained_heap_mb" -> heap, "log" -> ctx.log)))
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        Map("ok" -> false, "error" -> e.toString, "log" -> ctx.log)
    }
    Files.writeString(Paths.get(opt("out")), Json(out))
    spark.stop()
  }

  def endToEnd(o: Outcome, heap: Double): Map[String, Double] = {
    val lat = o.samples.map(_.seconds)
    Map(
      "setup_s" -> Stats.median(o.setup),
      "op_p50_s" -> Stats.median(lat),
      "items_per_s" -> o.samples.map(_.items).sum / math.max(lat.sum, 1e-9),
      "quality" -> o.quality,
      "retained_heap_mb" -> heap)
  }

  def layerMetrics(o: Outcome, tracer: Tracer): Map[String, Double] = {
    val spans = tracer.allSpans
    val roots = spans.filter(s => s.root && s.end >= 0 && s.name != "setup" && s.name != "cold")
    val self = tracer.selfSeconds
    layerSpans.map(n => s"$n.s" -> tracer.medianSeconds(n)).toMap ++
      layerValues.map(n => n -> o.layer.getOrElse(n, 0.0)).toMap ++
      tracer.engineMetrics(roots) ++
      // the traced run's op_p50_s: minus an untraced run's, the tracing overhead
      Map("trace.op_p50_s" -> Stats.median(o.samples.map(_.seconds)),
        "bench.op_self_s" -> (if (roots.isEmpty) 0.0 else Stats.median(roots.map(r => self(r.id)))))
  }

  def writeSpans(tracer: Tracer, path: String): Unit = {
    val self = tracer.selfSeconds
    Files.writeString(Paths.get(path), tracer.allSpans.map(s => Json(Map(
      "id" -> s.id, "name" -> s.name, "trace" -> s.trace, "parent" -> s.parent,
      "start_ms" -> s.start, "end_ms" -> s.end, "rows" -> s.rows,
      "self_s" -> self.getOrElse(s.id, 0.0)))).mkString("", "\n", "\n"))
  }
}
