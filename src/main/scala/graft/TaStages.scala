package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.SparseTopK
import graft.sources.IndexManifest

/** TA lexical-serve stage attribution harness (local measurement tool,
  * not part of the driver contract — the [[Profile]] family; r11
  * verdict item 6): q_ta_persisted's serve cost grew 2.38× at 100× docs
  * and the tail was unattributed. This harness splits the serve into
  * the terms the production path actually pays, using ONLY production
  * functions (the MinhashStages no-drift discipline):
  *
  *   1. `read`  — materialize the bucket-pruned, term-filtered postings
  *                (the qPostings every TA job rescans; production reads
  *                it from parquet once per job, three jobs per serve),
  *   2. `loop`  — the full TA ladder (seed scores, one tails aggregate,
  *                final scores) over the ALREADY-materialized postings
  *                (localCheckpoint), i.e. the serve minus its re-reads,
  *   3. `full`  — the production [[SparseTopK.taTopKPersisted]] end to
  *                end (reads included).
  *
  * full − loop ≈ what the three jobs pay to re-scan parquet; read × 3
  * approximates the same number from the other side. Whichever term
  * grows with the corpus names the knob: postings rows → numBuckets /
  * impact_rank pushdown; loop → ladder depth p.
  *
  *   sbt "runMain graft.TaStages /tmp/graft_scale_100x 5"
  * Prints one JSON line with per-stage medians, postings rows, and the
  * terminating ladder depth.
  */
object TaStages {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 5
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // q_ta_persisted's exact knobs (numBuckets = 0 → the build-time
    // scaling rule; the serve reads the chosen count from the manifest)
    val terms = Seq("merge", "vector", "batch", "slow", "spark")
    val k = 15
    val numBuckets = 0

    def newestMtime(f: java.io.File): Long =
      (f.lastModified +: Option(f.listFiles()).toSeq.flatten.map(newestMtime)).max
    val fixKey = Integer.toHexString(dir.hashCode) + "_" +
      java.lang.Long.toHexString(newestMtime(new java.io.File(s"$dir/documents.parquet")))
    val idxDir = s"${System.getProperty("java.io.tmpdir")}/graft_tastages_$fixKey"
    if (!IndexManifest.exists(spark, idxDir)) {
      SparseTopK.writeIndex(SparseTopK.buildImpactIndex(
        spark.read.parquet(s"$dir/documents.parquet")), idxDir, numBuckets)
      SparseTopK.releaseBuildCache()
    }

    def time[T](f: => T): (Double, T) = {
      val t0 = System.nanoTime(); val r = f
      ((System.nanoTime() - t0) / 1e9, r)
    }
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

    // the same bucket derivation taTopKPersisted runs (bucket count from
    // the index's own manifest — the r14 build-time scaling rule)
    val nb = SparseTopK.manifest(spark, idxDir).numBuckets.get
    val bucketOf = {
      import spark.implicits._
      terms.distinct.toDF("term")
        .select(pmod(xxhash64(col("term")), lit(nb.toLong)).as("bucket"))
        .collect().map(_.getLong(0)).distinct.toSeq
    }

    val readT = Array.newBuilder[Double]
    val loopT = Array.newBuilder[Double]
    val fullT = Array.newBuilder[Double]
    var postingsRows = 0L
    var depth = 0L
    for (_ <- 1 to reps) {
      val (tr, postings) = time {
        val p = SparseTopK.readIndex(spark, idxDir)
          .where(col("bucket").isin(bucketOf: _*))
          .where(col("term").isin(terms.distinct: _*))
          .localCheckpoint(true)
        postingsRows = p.count()
        p
      }
      readT += tr
      val (tl, stats) = time {
        val (res, st) = SparseTopK.taTopKWithStats(postings, terms, k)
        res.write.format("noop").mode("overwrite").save()
        st
      }
      loopT += tl
      depth = stats.prefixDepth
      val (tf, _) = time(
        SparseTopK.taTopKPersisted(spark, idxDir, terms, k)
          .write.format("noop").mode("overwrite").save())
      fullT += tf
    }
    println(s"""{"dir":"$dir","reps":$reps,""" +
      s""""read":${f"${median(readT.result().toSeq)}%.3f"},""" +
      s""""loop":${f"${median(loopT.result().toSeq)}%.3f"},""" +
      s""""full":${f"${median(fullT.result().toSeq)}%.3f"},""" +
      s""""postings_rows":$postingsRows,"final_depth":$depth}""")
    spark.stop()
  }
}
