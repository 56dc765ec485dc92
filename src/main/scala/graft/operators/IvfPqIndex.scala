package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Distances
import graft.sources.IndexManifest

/** Combined IVF+PQ — the reference's actual `IndexIVFPQ`
  * (vector_search_cluster.py:1033-1041): vectors are assigned to a coarse
  * centroid (IVF), and PQ encodes the RESIDUAL (vector − centroid) within
  * each inverted list; search probes nprobe lists and runs ADC against a
  * per-(query, probed-centroid) residual LUT.
  *
  * Scale shape: assignment + residual + encoding are all map-side literal
  * expressions (no shuffle); the probe set (Q × nprobe rows, each carrying
  * its m×ksub LUT) broadcasts against the codes table partitioned by
  * cluster_id — the nprobe/nlist fraction of data is all that's scanned.
  */
object IvfPqIndex {

  /** Elementwise float residual v − c (float arithmetic — matches the
    * oracle's FLOAT-FLOAT subtraction bit-for-bit). */
  def residual(vec: Column, cvec: Column): Column =
    zip_with(vec, cvec, (x, y) => x - y)

  /** Same size gate as [[IvfIndex.LiteralCentroidMax]]: past it, the
    * centroid set becomes one encoded literal (O(1) codegen size). */
  private def centLit(cents: Array[IvfIndex.Centroid]): Column =
    if (cents.length <= IvfIndex.LiteralCentroidMax)
      array(cents.toIndexedSeq.map { case (cid, v) =>
        struct(lit(cid).as("cid"), typedLit(v).as("vec"))
      }: _*)
    else
      transform(typedLit(cents.toSeq), c =>
        struct(c.getField("_1").as("cid"), c.getField("_2").as("vec")))

  /** Scored centroid array carrying the centroid vector (for residuals):
    * struct(dist, cid, cvec) — (dist, cid) is already a total order. */
  private def scoredWithVec(vec: Column, cents: Array[IvfIndex.Centroid]): Column =
    transform(centLit(cents), c =>
      struct(Distances.l2SqFast(vec, c.getField("vec")).as("dist"),
        c.getField("cid").as("cid"),
        c.getField("vec").as("cvec")))

  /** Trained IVFPQ self-search — k-means coarse centroids
    * ([[IvfIndex.trainCentroids]]) and residual codebooks trained with
    * per-subspace k-means ON THE RESIDUALS (the faiss `IndexIVFPQ.train`
    * order, mirrored from vector_search_cluster.py:1033-1041): assign →
    * subtract centroid → train PQ on (v − c). Quality path for the recall
    * gates; the oracle-able deterministic path is [[selfSearchSeeded]]. */
  def selfSearchTrained(
      embeddings: DataFrame,
      numQueries: Int,
      nlist: Int,
      nprobe: Int,
      m: Int,
      subDim: Int,
      ksub: Int,
      k: Int,
      seed: Long = 42L): DataFrame = {
    val cents = IvfIndex.trainCentroids(embeddings, nlist, seed)
    val best = array_min(scoredWithVec(col("embedding"), cents))
    val assigned = embeddings
      .withColumn("cluster_id", best.getField("cid"))
      .withColumn("res", residual(col("embedding"), best.getField("cvec")))
    // trainCodebooks reads column "embedding" — feed it the residuals
    val cb = PqIndex.trainCodebooks(
      assigned.select(col("res").as("embedding")), m, subDim, ksub, seed)
    searchEncoded(assigned, cb, cents, numQueries, nprobe, m, subDim, k)
  }

  /** End-to-end IVFPQ self-search with deterministic seed centroids and
    * residual codebooks — the oracle-able path. Residual codebooks:
    * subspace s's code c is the s-th slice of the residual of vec_id = c. */
  def selfSearchSeeded(
      embeddings: DataFrame,
      numQueries: Int,
      nlist: Int,
      nprobe: Int,
      m: Int,
      subDim: Int,
      ksub: Int,
      k: Int): DataFrame = {
    val (cents, cb, codes) = buildSeeded(embeddings, nlist, m, subDim, ksub)
    val q = embeddings.where(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    adcTopK(codes, probesWithLut(q, cb, cents, nprobe, m, subDim), m, k)
  }

  /** Shared IVFPQ search tail: encode residuals, build per-(query, probed
    * centroid) residual LUTs, broadcast-join against the codes table.
    * `assigned` must carry (vec_id, embedding, cluster_id, res). */
  private def searchEncoded(
      assigned: DataFrame,
      cb: PqIndex.Codebooks,
      cents: Array[IvfIndex.Centroid],
      numQueries: Int,
      nprobe: Int,
      m: Int,
      subDim: Int,
      k: Int): DataFrame = {
    val codes = assigned
      .withColumn("codes", PqIndex.encodeExpr(col("res"), cb, m, subDim))
      .select(col("vec_id"), col("cluster_id"), col("codes"))
    val q = assigned.where(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    adcTopK(codes, probesWithLut(q, cb, cents, nprobe, m, subDim), m, k)
  }

  /** Per-(query, probed centroid) rows carrying the residual ADC LUT —
    * Q×nprobe rows, each m×ksub doubles; the broadcast side of every
    * IVFPQ search. */
  private def probesWithLut(
      q: DataFrame,
      cb: PqIndex.Codebooks,
      cents: Array[IvfIndex.Centroid],
      nprobe: Int,
      m: Int,
      subDim: Int): DataFrame =
    q.select(col("query_id"), col("qvec"),
        explode(slice(array_sort(scoredWithVec(col("qvec"), cents)), 1, nprobe)).as("p"))
      .select(col("query_id"), col("p.cid").as("cluster_id"),
        PqIndex.lutExpr(residual(col("qvec"), col("p.cvec")), cb, m, subDim).as("lut"))

  /** ADC scan + top-k over a codes table joined with broadcast LUT
    * probes. */
  private def adcTopK(codes: DataFrame, probes: DataFrame, m: Int, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("dist"), col("vec_id"))
    codes
      .join(broadcast(probes), Seq("cluster_id"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        PqIndex.adcDist(col("lut"), col("codes"), m).as("dist"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), round(col("dist"), 4).as("dist"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Build the seeded IVFPQ model + codes table (the oracle-able
    * deterministic path shared by [[selfSearchSeeded]] and the persisted
    * form): returns (centroids, residual codebooks, codes(vec_id,
    * cluster_id, codes)). */
  def buildSeeded(
      embeddings: DataFrame,
      nlist: Int,
      m: Int,
      subDim: Int,
      ksub: Int): (Array[IvfIndex.Centroid], PqIndex.Codebooks, DataFrame) = {
    val cents = IvfIndex.seedCentroids(embeddings, nlist)
    val best = array_min(scoredWithVec(col("embedding"), cents))
    val assigned = embeddings
      .withColumn("cluster_id", best.getField("cid"))
      .withColumn("res", residual(col("embedding"), best.getField("cvec")))
    val cbRows = assigned.where(col("vec_id") < ksub).orderBy(col("vec_id"))
      .select(col("res")).collect().map(_.getSeq[Float](0).toArray)
    val cb: PqIndex.Codebooks =
      Array.tabulate(m)(s => cbRows.map(v => v.slice(s * subDim, (s + 1) * subDim)))
    val codes = assigned
      .withColumn("codes", PqIndex.encodeExpr(col("res"), cb, m, subDim))
      .select(col("vec_id"), col("cluster_id"), col("codes"))
    (cents, cb, codes)
  }

  /** S4 for the codes table: persist the inverted PQ lists partitioned by
    * cluster_id — the 100 TB layout where a probe reads only its list's
    * files — and commit the index manifest (family `ivfpq`, the codes
    * schema and file record) last. The codes table is ~16× smaller than
    * the corpus (m bytes vs d×4), so even the full index is compact at
    * rest. */
  def writeIndex(codes: DataFrame, dir: String): Unit = {
    val spark = codes.sparkSession
    IndexManifest.delete(spark, dir)
    codes.write.mode("overwrite").partitionBy("cluster_id").parquet(dir)
    IndexManifest.write(spark, dir, IndexManifest(Family,
      tables = Map(IndexManifest.Root -> IndexManifest.writtenSchema(codes, Some("cluster_id")))))
  }

  private val Family = "ivfpq"

  /** The persisted codes table, opened from its manifest — no footer
    * read, no directory listing. */
  def readIndex(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    IndexManifest.read(spark, dir, Family).table(spark, dir, IndexManifest.Root)

  /** Search a persisted codes table with static partition pruning: probe
    * cluster ids resolve first (Q×nprobe ids — control-plane), then push
    * into the codes scan as a literal `cluster_id IN (...)` partition
    * filter — the IVFPQ analog of [[IvfIndex.searchPruned]], so the
    * nprobe/nlist read fraction applies to the PQ lists on disk too. */
  def searchPruned(
      queries: DataFrame,
      cents: Array[IvfIndex.Centroid],
      cb: PqIndex.Codebooks,
      codes: DataFrame,
      nprobe: Int,
      m: Int,
      subDim: Int,
      k: Int): DataFrame = {
    val probes = probesWithLut(queries, cb, cents, nprobe, m, subDim)
    val probedClusters = probes.select(col("cluster_id")).distinct()
      .collect().map(_.getLong(0))
    adcTopK(codes.where(col("cluster_id").isin(probedClusters: _*)), probes, m, k)
  }
}
