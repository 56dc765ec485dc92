package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{HnswIndex, KnnSearch, VamanaIndex}
import graft.sources.IndexManifest

/** Filtered-beam mitigation harness (local measurement tool, not part
  * of the driver contract — the [[Profile]] family): measures Vamana
  * filtered recall@10 as the search beam L grows past the unfiltered
  * production default, on a corpus where L = 64 genuinely truncates
  * (the 100× fixture: 4 shards of 50k rows measured 737-775 pm in
  * SCALE.md). This is the FAISS IDSelector practice made a number:
  * under a selectivity-s predicate only ~s of the beam's visited nodes
  * are emittable, so serving raises ef/L by ~1/s — the harness records
  * what that buys at each rung.
  *
  * Works for both persisted graph families — Vamana (default, the
  * measured degradation case) and HNSW at a chosen shard count (HNSW at
  * the default 32 shards holds 1000 pm at 100×; fewer/bigger shards are
  * where its beam truncates too).
  *
  *   sbt "runMain graft.FilteredBeamScale /tmp/graft_scale_100x vamana 4 64 160 640"
  * Prints one JSON line with recall per (selectivity, beam) and the
  * serve seconds per rung.
  */
object FilteredBeamScale {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val family = if (args.length > 1) args(1) else "vamana"
    val parts = if (args.length > 2) args(2).toInt else 4
    val beams = if (args.length > 3) args.drop(3).map(_.toInt).toSeq else Seq(64, 160, 640)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val n = emb.count()
    // keyed by fixture path hash + newest fixture mtime, not just
    // (family, parts, rowcount): regenerating the fixture in place with
    // the same row count must invalidate the cached index instead of
    // silently serving stale recall numbers into SCALE.md (ADVICE r11)
    def newestMtime(f: java.io.File): Long =
      (f.lastModified +: Option(f.listFiles()).toSeq.flatten.map(newestMtime)).max
    val fixKey = Integer.toHexString(dir.hashCode) + "_" +
      java.lang.Long.toHexString(newestMtime(new java.io.File(s"$dir/embeddings.parquet")))
    val idxDir = s"${System.getProperty("java.io.tmpdir")}/graft_fbs_${family}_${parts}_${n}_$fixKey"
    if (!IndexManifest.exists(spark, idxDir)) {
      if (family == "hnsw") HnswIndex.writeIndex(emb, idxDir, numPartitions = parts)
      else VamanaIndex.writeIndex(emb, idxDir, numPartitions = parts)
    }
    val sels = Seq(("half", col("label") < 4), ("tenth", col("label") === 0))
    def exactSet(pred: org.apache.spark.sql.Column): Set[(Long, Long)] =
      KnnSearch.topK(
          emb.where(col("vec_id") < 8)
            .select(col("vec_id").as("query_id"), col("embedding").as("qvec")),
          emb.where(pred).select(col("vec_id"), col("embedding").as("vec")),
          k = 10, excludeSelf = true)
        .select(col("query_id"), col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = sels.map { case (name, pred) => name -> exactSet(pred) }.toMap
    def recallOf(run: DataFrame, ex: Set[(Long, Long)]): Double = {
      val got = run.select(col("query_id"), col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (got intersect ex).size.toDouble / ex.size
    }
    // fixed rungs + the AUTO rung (beam 0 sentinel in `beams` or always
    // appended): production ef = 64 scaled by the measured selectivity —
    // the rule FilteredSearchPlanner.autoBeam now applies in code
    val selFrac = sels.map { case (name, pred) =>
      name -> emb.where(pred).count().toDouble / n
    }.toMap
    // -1 = the selectivity auto rung (ef/s); -2 = selectivity + the k·m
    // near-dup-multiplicity floor, m from GRAFT_DUP_MULT (the fixture's
    // replica count — in production, the dedup family's mean cluster
    // size); -3 = the PLANNER-ALONE rung (r13): selectivity from the
    // aggregate, m defaulted from the index meta's build-time estimate
    // — no manual knob anywhere. Fixed and sel-only rungs pin
    // dupMultiplicity = Some(1.0) so the meta default cannot silently
    // change what they measure.
    val dupMult = sys.env.get("GRAFT_DUP_MULT").map(_.toDouble)
    val rungs = beams ++ Seq(-1) ++ (if (dupMult.isDefined) Seq(-2) else Nil) ++ Seq(-3)
    val rows = for (beam <- rungs; (selName, pred) <- sels) yield {
      val allowed = emb.where(pred).select("vec_id")
      val base = if (beam < 0) 64 else beam
      val selOpt = if (beam < 0) Some(selFrac(selName)) else None
      val multOpt = beam match {
        case -2 => dupMult
        case -3 => None // defaults from the index meta — the planner path
        case _ => Some(1.0)
      }
      val t0 = System.nanoTime()
      val run =
        if (family == "hnsw")
          HnswIndex.selfSearchFilteredPersisted(spark, idxDir, allowed,
            numQueries = 8, k = 10, efFiltered = base, selectivity = selOpt,
            dupMultiplicity = multOpt)
        else
          VamanaIndex.selfSearchFilteredPersisted(spark, idxDir, allowed,
            numQueries = 8, k = 10, searchBeam = base, selectivity = selOpt,
            dupMultiplicity = multOpt)
      val r = recallOf(run, exact(selName))
      val dt = (System.nanoTime() - t0) / 1e9
      val label =
        if (beam == -3) s"${selName}_planner64"
        else if (beam == -2) s"${selName}_auto64_m${dupMult.get.toInt}"
        else if (beam == -1) s"${selName}_auto64"
        else s"${selName}_L$beam"
      s""""$label":{"recall":${f"$r%.3f"},"serve_s":${f"$dt%.2f"}}"""
    }
    println(s"""{"dir":"$dir","family":"$family","parts":$parts,"rows":$n,${rows.mkString(",")}}""")
    spark.stop()
  }
}
