package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.IvfIndex
import graft.sources.IndexManifest

/** Large-nlist IVF scaling harness (local measurement tool, not part of
  * the driver contract — the [[Profile]] family): builds and probes an
  * IVF index with nlist CHOSEN FOR THE CORPUS (rows / targetList,
  * the deployment rule — not the registry's fixed demo nlist=16), so
  * the 1000x fixture (2M rows → nlist 8192) pushes past
  * [[IvfIndex.LiteralCentroidMax]] (4096) and the single-literal
  * centroid argmin form is exercised UNDER MEASUREMENT for the first
  * time (it was spec-parity-gated only). Reports assign/build once and
  * per-iteration pruned-probe medians.
  *
  * Centroids are the first-nlist rows in vec_id order (deterministic,
  * control-plane collect of nlist rows) — centroid QUALITY is not the
  * subject here, probe cost vs (rows, nlist) is.
  *
  *   sbt "runMain graft.IvfScale /tmp/graft_scale_1000x 8192 4 5"
  * Prints one JSON line with build_s, assign-form, and search medians.
  */
object IvfScale {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val nlist = if (args.length > 1) args(1).toInt else 0
    val nprobe = if (args.length > 2) args(2).toInt else 4
    val reps = if (args.length > 3) args(3).toInt else 5
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
    // deployment rule: target ~256 vectors per inverted list
    val k = 10
    val nl = if (nlist > 0) nlist else math.max(16, (n / 256).toInt)

    def time[T](f: => T): (Double, T) = {
      val t0 = System.nanoTime(); val r = f
      ((System.nanoTime() - t0) / 1e9, r)
    }
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

    // first-nl rows in id order — NOT seedCentroids (whose contiguous
    // 0..nlist-1 contract the replica-strided fixture ids violate)
    val cents = emb.orderBy(col("vec_id")).limit(nl)
      .select(col("vec_id"), col("embedding")).collect()
      .zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Float](1).toArray) }

    // keyed by fixture path hash + newest fixture mtime in addition to
    // (rows, nlist): an in-place fixture regeneration with the same row
    // count must not silently serve a stale index (ADVICE r11)
    def newestMtime(f: java.io.File): Long =
      (f.lastModified +: Option(f.listFiles()).toSeq.flatten.map(newestMtime)).max
    val fixKey = Integer.toHexString(dir.hashCode) + "_" +
      java.lang.Long.toHexString(newestMtime(new java.io.File(s"$dir/embeddings.parquet")))
    val idxDir = s"${System.getProperty("java.io.tmpdir")}/graft_ivfscale_${n}_${nl}_$fixKey"
    val (buildS, _) = time {
      if (!IndexManifest.exists(spark, idxDir)) {
        // cluster-clustered write: without it every write task sprays a
        // file into each of the nlist partition dirs (nlist × tasks tiny
        // files at nlist = 8192); one shuffle on the partition key keeps
        // the layout at ~one file per inverted list
        IvfIndex.writeIndex(
          IvfIndex.assign(emb, cents).repartition(col("cluster_id")),
          cents, idxDir)
      }
    }
    val (loadedCents, assignments) = IvfIndex.loadIndex(spark, idxDir)
    val q = emb.where(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val searchT = (1 to reps).map { _ =>
      time(IvfIndex.searchPruned(q, loadedCents, assignments,
          nprobe = nprobe, k = k, excludeSelf = true)
        .write.format("noop").mode("overwrite").save())._1
    }

    // optional 5th arg B: the cluster-bucket layout probe (r11 verdict
    // item 7a) — partition by cluster_bucket = cluster_id % B instead of
    // by cluster_id, so a probe lists ≤ nprobe directories instead of
    // letting the scan's partition discovery walk nlist (7,812 at the
    // 1000× deployment rule) directories; the cluster_id predicate
    // remains as an in-file rowgroup filter (files are sorted by
    // cluster_id within each bucket).
    val bucketB = if (args.length > 4) args(4).toInt else 0
    val bucketJson = if (bucketB <= 0) "" else {
      val bDir = s"${idxDir}_b$bucketB"
      val bFamily = "ivf-cluster-buckets"
      val (bBuildS, _) = time {
        if (!IndexManifest.exists(spark, bDir)) {
          val bucketed = assignments
            .withColumn("cluster_bucket",
              pmod(col("cluster_id"), lit(bucketB.toLong)))
          bucketed
            .repartition(col("cluster_bucket"))
            .sortWithinPartitions(col("cluster_id"))
            .write.partitionBy("cluster_bucket").mode("overwrite").parquet(bDir)
          IndexManifest.write(spark, bDir, IndexManifest(bFamily,
            params = Map("buckets" -> bucketB.toDouble),
            tables = Map(IndexManifest.Root -> IndexManifest.writtenSchema(
              bucketed, Some("cluster_bucket")))))
        }
      }
      val bAssign = IndexManifest.read(spark, bDir, bFamily)
        .table(spark, bDir, IndexManifest.Root)
      val probedClusters = IvfIndex.probes(q, loadedCents, nprobe)
        .select(col("cluster_id")).distinct().collect().map(_.getLong(0))
      val buckets = probedClusters.map(c => math.floorMod(c, bucketB.toLong)).distinct
      val bSearchT = (1 to reps).map { _ =>
        time(IvfIndex.searchPruned(q, loadedCents,
            bAssign.where(col("cluster_bucket").isin(buckets.toSeq: _*)),
            nprobe = nprobe, k = k, excludeSelf = true)
          .write.format("noop").mode("overwrite").save())._1
      }
      s""","bucket_B":$bucketB,"bucket_build_s":${f"$bBuildS%.3f"},""" +
        s""""buckets_probed":${buckets.length},""" +
        s""""bucketed_search_median_s":${f"${median(bSearchT)}%.3f"},""" +
        s""""bucketed_search_iters":[${bSearchT.map(t => f"$t%.3f").mkString(",")}]"""
    }
    println(s"""{"dir":"$dir","rows":$n,"nlist":$nl,"nprobe":$nprobe,""" +
      s""""literal_form":"${if (nl <= IvfIndex.LiteralCentroidMax) "per_element" else "single_literal"}",""" +
      s""""build_s":${f"$buildS%.3f"},""" +
      s""""search_median_s":${f"${median(searchT)}%.3f"},""" +
      s""""search_iters":[${searchT.map(t => f"$t%.3f").mkString(",")}]""" +
      bucketJson + "}")
    spark.stop()
  }
}
