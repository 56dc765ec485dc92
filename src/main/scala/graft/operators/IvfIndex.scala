package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Distances
import graft.sources.IndexManifest

/** IVF (inverted-file) ANN index — build + search (SURVEY §2.3 J2, §2.4
  * A2/A4; reference build vector_search_cluster.py:1023-1031, search via
  * :593 with nprobe :548-549).
  *
  * Build = learn `nlist` coarse centroids, assign every vector to its
  * nearest (the inverted lists). Search = two-phase: (a) find the query's
  * `nprobe` nearest centroids, (b) scan only those lists.
  *
  * Scale design: centroids are tiny (nlist ≈ √n) so both assignment and
  * probing are *shuffle-free* — the centroid set is inlined as a literal
  * array and each row computes its argmin inside whole-stage codegen. The
  * only shuffle in search is the broadcast-join of probes against the
  * assignments table; written `partitionBy("cluster_id")`, probe scans
  * partition-prune (the nprobe/nlist cell-pruning the reference gets from
  * FAISS — SURVEY §4).
  */
object IvfIndex {

  /** A centroid row: id + vector. */
  type Centroid = (Long, Array[Float])

  /** Deterministic centroid choice — the first `nlist` vectors by id.
    * SQL-reproducible (DuckDB-oracle-able), standing in for k-means init;
    * quality-trained centroids come from [[trainCentroids]]. */
  def seedCentroids(embeddings: DataFrame, nlist: Int): Array[Centroid] = {
    val seeds = embeddings
      .where(col("vec_id") < nlist)
      .orderBy(col("vec_id"))
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    // The `vec_id < nlist` rule assumes ids 0..nlist-1 all exist; on a
    // corpus with sparse/non-contiguous ids it would silently yield
    // fewer centroids (a quality degradation, not an error). Fail loud
    // instead — external callers with gapped ids must densify first.
    require(seeds.length == nlist,
      s"seedCentroids expected $nlist contiguous vec_ids in [0, $nlist) " +
        s"but found ${seeds.length} — ids are sparse/non-contiguous; " +
        "densify vec_id (zipWithIndex-style) or use trainCentroids")
    seeds
  }

  /** A2 — k-means centroids via MLlib (Lloyd's), trained on a bounded
    * sample like the reference's first-batch-only training
    * (vector_search_cluster.py:1156-1159 ≙ limit(trainSample)). */
  def trainCentroids(
      embeddings: DataFrame,
      nlist: Int,
      seed: Long = 42L,
      trainSample: Int = 10000,
      maxIter: Int = 20): Array[Centroid] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val train = embeddings
      // deterministic sample: first-N by id (TakeOrderedAndProject, no global sort)
      .orderBy(col("vec_id")).limit(trainSample)
      .select(array_to_vector(col("embedding")).as("features"))
    val model = new KMeans()
      .setK(nlist).setSeed(seed).setMaxIter(maxIter).fit(train)
    model.clusterCenters.zipWithIndex.map { case (v, i) =>
      (i.toLong, v.toArray.map(_.toFloat))
    }
  }

  /** Above this nlist, the per-element literal form of [[centroidLit]]
    * (one expression node per centroid) would blow up generated-code size
    * — the reference's nlist ≈ √n rule reaches ~3×10⁵ centroids at 10¹¹
    * rows. Past the gate the whole centroid set becomes ONE encoded
    * literal (a single codegen reference object, shipped with the
    * broadcast task binary), so codegen stays O(1) in nlist while the
    * argmin is a runtime scan of the same matrix — value-identical
    * (spec-asserted), still shuffle-free. */
  val LiteralCentroidMax = 4096

  /** Centroid set as an array<struct<cid,vec>> column — by value into the
    * plan, no join. Small sets inline per-element (max codegen speed);
    * large sets use the single-literal form (see [[LiteralCentroidMax]]). */
  private def centroidLit(centroids: Array[Centroid], litMax: Int): Column =
    if (centroids.length <= litMax)
      array(centroids.map { case (cid, v) =>
        struct(lit(cid).as("cid"), typedLit(v).as("vec"))
      }.toIndexedSeq: _*)
    else
      transform(typedLit(centroids.toSeq), c =>
        struct(c.getField("_1").as("cid"), c.getField("_2").as("vec")))

  /** Per-row array of (dist, cid) scored against every centroid. */
  private def scored(vec: Column, centroids: Array[Centroid],
      litMax: Int = LiteralCentroidMax): Column =
    transform(centroidLit(centroids, litMax), c =>
      struct(Distances.l2SqFast(vec, c.getField("vec")).as("dist"),
        c.getField("cid").as("cid")))

  /** A4 — nearest-centroid assignment (inverted-list membership,
    * vector_search_cluster.py:1047-1049): argmin over the centroid set,
    * ties to the lowest cid. Map-side only, via the fused
    * graft.plans.CentroidArgmin (one primitive loop per row, centroid
    * matrix by value, O(1) codegen size at any nlist) — value-identical
    * to [[assignHof]] (parity-tested). */
  def assign(embeddings: DataFrame, centroids: Array[Centroid]): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    embeddings.withColumn(
      "cluster_id",
      ColumnBridge.column(graft.plans.CentroidArgmin(
        ColumnBridge.expression(col("embedding")),
        centroids.map(_._1), centroids.map(_._2))))
  }

  /** HOF reference form of [[assign]] (parity-tested; mirrors the
    * q_ivf_build oracle's assignment CTE). `litMax` gates the
    * per-element vs single-encoded-literal centroid form. */
  def assignHof(embeddings: DataFrame, centroids: Array[Centroid],
      litMax: Int = LiteralCentroidMax): DataFrame =
    embeddings.withColumn(
      "cluster_id",
      array_min(scored(col("embedding"), centroids, litMax)).getField("cid"))

  /** Phase (a) — the query's `nprobe` nearest centroids, ties by cid. */
  def probes(queries: DataFrame, centroids: Array[Centroid], nprobe: Int,
      litMax: Int = LiteralCentroidMax): DataFrame =
    queries.select(
      col("query_id"), col("qvec"),
      explode(slice(array_sort(scored(col("qvec"), centroids, litMax)), 1, nprobe)).as("p"))
      .select(col("query_id"), col("qvec"), col("p.cid").as("cluster_id"))

  /** [[probes]] with the probe's rank attached (probe_rank 1..nprobe).
    * Probe sets at smaller nprobe are PREFIXES of larger ones, so one
    * ranked ladder serves a whole nprobe sweep from a single corpus
    * pass: filter probe_rank <= np instead of re-probing per setting. */
  def probesRanked(queries: DataFrame, centroids: Array[Centroid], nprobe: Int,
      litMax: Int = LiteralCentroidMax): DataFrame =
    queries.select(
      col("query_id"), col("qvec"),
      posexplode(slice(array_sort(scored(col("qvec"), centroids, litMax)), 1, nprobe)))
      .select(col("query_id"), col("qvec"), col("col.cid").as("cluster_id"),
        (col("pos") + 1).as("probe_rank"))

  /** Phase (b) — scan only the probed inverted lists and take the global
    * top-k per query (dist, vec_id order). `assignments` must carry
    * (vec_id, embedding, cluster_id) — e.g. [[assign]]'s output, or a
    * `partitionBy("cluster_id")` table for pruned reads. */
  def search(
      queries: DataFrame,
      centroids: Array[Centroid],
      assignments: DataFrame,
      nprobe: Int,
      k: Int,
      excludeSelf: Boolean = false): DataFrame =
    searchWithProbes(probes(queries, centroids, nprobe), assignments, k, excludeSelf)

  /** Phase (b) with an externally supplied probe set — (query_id, qvec,
    * cluster_id), e.g. [[probes]] (exact argmin) or
    * [[HnswIndex.coarseProbes]] (graph-walk coarse quantizer for huge
    * nlist). The candidate scan, pruning shape and top-k are identical
    * either way. */
  def searchWithProbes(
      probes: DataFrame,
      assignments: DataFrame,
      k: Int,
      excludeSelf: Boolean = false): DataFrame = {
    val cand = assignments.join(broadcast(probes), Seq("cluster_id"))
    val filtered =
      if (excludeSelf) cand.where(col("vec_id") =!= col("query_id")) else cand
    val w = Window.partitionBy(col("query_id")).orderBy(col("dist"), col("vec_id"))
    filtered
      .select(col("query_id"), col("vec_id"),
        Distances.l2SqFast(col("qvec"), col("embedding")).as("dist"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  private val Family = "ivf"

  /** S4 — persist the index as partition-pruned tables: assignments
    * partitioned by cluster_id (the inverted lists — a probe for cluster c
    * reads only partition c), centroids as a small side table, then the
    * manifest with both schemas (vector_search_cluster.py:1051-1066's
    * shard files + metadata). The same layout holds SPANN's replicated
    * lists ([[assignMulti]]). */
  def writeIndex(assignments: DataFrame, centroids: Array[Centroid], dir: String): Unit = {
    val spark = assignments.sparkSession
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    IndexManifest.delete(spark, dir)
    val assignF = Future(writeLists(assignments, s"$dir/assignments"))
    // the centroid side table is independent of the lists — overlap the
    // two write jobs (guide §2.6)
    import spark.implicits._
    val cents = centroids.toSeq.toDF("cid", "vec")
    val centF = Future(cents.write.mode("overwrite").parquet(s"$dir/centroids"))
    Await.result(assignF, Duration.Inf)
    Await.result(centF, Duration.Inf)
    IndexManifest.write(spark, dir, IndexManifest(Family,
      params = Map("nlist" -> centroids.length.toDouble),
      dim = centroids.headOption.map(_._2.length),
      tables = Map(
        "assignments" -> IndexManifest.writtenSchema(assignments, Some("cluster_id")),
        "centroids" -> IndexManifest.writtenSchema(cents))))
  }

  /** The inverted-list write. REBALANCE by cluster_id before the
    * partitioned write (guide §6): without it every scan task writes a
    * file into every cluster directory it touches — tasks × nlist small
    * files at scale (and at bench scale ONE task compresses every file
    * serially). AQE sizes the rebalance output to the advisory partition
    * size, so inverted lists come out as few, advisory-sized files per
    * directory and the parquet encoding parallelizes across the
    * post-shuffle tasks — scale-adaptive in both directions, no
    * core-count constant. */
  private def writeLists(assignments: DataFrame, path: String): Unit =
    assignments.hint("rebalance", col("cluster_id")).write.mode("overwrite")
      .partitionBy("cluster_id").parquet(path)

  /** `index.add` on a live persisted index (the reference's incremental
    * add, vector_search_cluster.py:1047-1049 via :1210-1212): assign the
    * new batch to the EXISTING centroids and add its files to the
    * partitioned assignments table — inverted lists grow in place, no
    * rebuild, and the added files partition-prune exactly like the
    * originals. The batch rebalances by cluster_id like [[writeIndex]],
    * so an add writes about one file per touched list instead of one per
    * task and list. The files are staged, published into their list
    * directories and committed to the manifest's file record with the
    * old files ([[IndexManifest.commitAdd]]): a serve sees the whole batch
    * or none of it, and an add that dies before its commit adds nothing. */
  def addToIndex(newVectors: DataFrame, centroids: Array[Centroid], dir: String): Unit = {
    val spark = newVectors.sparkSession
    val m = IndexManifest.read(spark, dir, Family)
    IndexManifest.commitAdd(spark, dir, m, "assignments", replacePartitions = false)(
      writeLists(assign(newVectors, centroids), _))
  }

  /** `index.remove_ids` analog (FAISS `IndexIVF.remove_ids`): drop a set
    * of vector ids from the inverted lists. Relationally a broadcast
    * LEFT ANTI join of the assignments against the (small) removal set —
    * the big side streams through unshuffled, every partition drops its
    * own members, and the cluster layout is untouched (subsequent
    * searches prune identically). For a persisted index, rewrite via
    * `removeIds(load, ids).write.partitionBy("cluster_id")` — same
    * compaction-style rewrite FAISS does internally on remove. */
  def removeIds(assignments: DataFrame, removeIds: DataFrame): DataFrame =
    assignments.join(broadcast(removeIds.select(col("vec_id"))),
      Seq("vec_id"), "left_anti")

  /** FAISS `merge_from` analog: combine two indexes built against the
    * SAME centroid set by unioning their inverted lists — merge is pure
    * metadata (a multi-path scan), no re-assignment, no shuffle, and the
    * merged index partition-prunes exactly like either input. Searching
    * the merge of disjoint halves is row-identical to searching one index
    * over the union (spec + oracle-asserted). */
  def mergeFrom(a: DataFrame, b: DataFrame): DataFrame = a.unionByName(b)

  /** FAISS `reconstruct`/`reconstruct_n` analog (DirectMap id lookup):
    * fetch the stored vectors for a set of ids from the inverted lists.
    * Broadcast inner join — the assignments side streams unshuffled and
    * the vec_id filter pushes into the parquet scan. */
  def reconstruct(assignments: DataFrame, ids: DataFrame): DataFrame =
    assignments.join(broadcast(ids.select(col("vec_id"))), Seq("vec_id"))

  /** FAISS `imbalance_factor` + `ntotal` index diagnostics: one row of
    * (nlist, nonempty_lists, ntotal, imbalance) where imbalance =
    * nlist · Σsᵢ² / (Σsᵢ)² over inverted-list sizes (1.0 = perfectly
    * balanced; the reference monitors this to decide retraining). Two
    * map-side-combinable integer aggregates — exact at any scale. */
  def indexStats(assignments: DataFrame, nlist: Int): DataFrame =
    assignments.groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)).as("nonempty_lists"),
        sum(col("sz")).as("ntotal"),
        sum(col("sz") * col("sz")).as("sum_sq"))
      .select(lit(nlist.toLong).as("nlist"), col("nonempty_lists"),
        col("ntotal"),
        round(lit(nlist.toDouble) * col("sum_sq").cast("double") /
          (col("ntotal").cast("double") * col("ntotal").cast("double")), 6)
          .as("imbalance"))

  /** Index snapshot diff — the publish-audit companion of
    * [[indexStats]] and [[sources.IndexVersions]]: per inverted list,
    * how the vector population changed between two index versions
    * (offline rebuild → pointer flip, V:977-1068 / V:523-563 — the diff
    * is what an operator reads before trusting the flip, and the
    * per-list deltas feed the same retrain decision imbalance does).
    * Output: (cluster_id, n_old, n_new, n_added, n_removed). Membership
    * diffs on the PAIR (vec_id, cluster_id): a vector that moved lists
    * between versions (retrained centroids shift boundary vectors)
    * shows up as a remove from its old list AND an add to its new one —
    * per-list n_old/n_new always sum to each version's true list
    * populations, which a vec_id-only diff would silently break.
    *
    * Scale: one full-outer equi-join on (vec_id, cluster_id) — both
    * sides shuffle once (bucketed-by-vec_id layouts co-locate it), then
    * a map-side-combinable integer aggregate to ≤ nlist rows. */
  def diffIndex(oldAssign: DataFrame, newAssign: DataFrame): DataFrame = {
    val o = oldAssign.select(col("vec_id"), col("cluster_id"))
      .withColumn("in_old", lit(true))
    val n = newAssign.select(col("vec_id"), col("cluster_id"))
      .withColumn("in_new", lit(true))
    o.join(n, Seq("vec_id", "cluster_id"), "full_outer")
      .select(col("cluster_id"),
        coalesce(col("in_old"), lit(false)).as("in_old"),
        coalesce(col("in_new"), lit(false)).as("in_new"))
      .groupBy(col("cluster_id"))
      .agg(
        sum(when(col("in_old"), 1L).otherwise(0L)).as("n_old"),
        sum(when(col("in_new"), 1L).otherwise(0L)).as("n_new"),
        sum(when(!col("in_old"), 1L).otherwise(0L)).as("n_added"),
        sum(when(!col("in_new"), 1L).otherwise(0L)).as("n_removed"))
  }

  /** S3 — load a persisted index: both tables open from the manifest's
    * record (recorded schemas and files — no footer read, no directory
    * listing at any nlist), and the nlist centroid rows sort on the
    * driver — the one job, a collect. */
  def loadIndex(spark: org.apache.spark.sql.SparkSession, dir: String): (Array[Centroid], DataFrame) = {
    val m = IndexManifest.read(spark, dir, Family)
    val cents = m.table(spark, dir, "centroids")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    (cents, m.table(spark, dir, "assignments"))
  }

  /** Search against a persisted index with static partition pruning: the
    * probe set is resolved first (tiny — Q×nprobe ids), then pushed into
    * the assignments scan as a literal `cluster_id IN (...)` partition
    * filter, so only the probed inverted-list partitions are read — the
    * reference's nprobe/nlist cell pruning (SURVEY §4), visible as
    * PartitionFilters in the plan. */
  def searchPruned(
      queries: DataFrame,
      centroids: Array[Centroid],
      assignments: DataFrame,
      nprobe: Int,
      k: Int,
      excludeSelf: Boolean = false): DataFrame = {
    val (p, probedClusters) = collectedProbes(queries, centroids, nprobe)
    val pruned = assignments.where(col("cluster_id").isin(probedClusters: _*))
    val cand = pruned.join(broadcast(p), Seq("cluster_id"))
    val filtered =
      if (excludeSelf) cand.where(col("vec_id") =!= col("query_id")) else cand
    val w = Window.partitionBy(col("query_id")).orderBy(col("dist"), col("vec_id"))
    filtered
      .select(col("query_id"), col("vec_id"),
        Distances.l2SqFast(col("qvec"), col("embedding")).as("dist"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** End-to-end self-search over an embeddings table with deterministic
    * seed centroids — the oracle-able IVF path. */
  def selfSearchSeeded(
      embeddings: DataFrame,
      numQueries: Int,
      nlist: Int,
      nprobe: Int,
      k: Int): DataFrame = {
    val cents = seedCentroids(embeddings, nlist)
    val assignments = assign(embeddings, cents)
    val q = embeddings.where(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    search(q, cents, assignments, nprobe, k, excludeSelf = true)
      .select(col("query_id"), col("rank"), col("vec_id"), round(col("dist"), 4).as("dist"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Deterministic, oracle-reproducible Lloyd refinement with
    * MEDOID-SNAPPED centroids: start from [[seedCentroids]] and per round
    * (a) assign every vector to its nearest centroid, (b) compute each
    * cluster's per-dimension double mean, (c) snap the centroid to the
    * cluster MEMBER nearest that mean (ties by vec_id; an emptied cluster
    * keeps its previous centroid). Because every centroid is an exact
    * STORED vector — never a computed mean — all downstream assign/probe/
    * search distances are bit-identical across engines; the ±1-ulp
    * summation-order noise in the mean can only flip the snap if two
    * members are equidistant to machine precision. That makes the full
    * ITERATIVE train→assign→probe→search pipeline DuckDB-oracle-checkable
    * (q_ivf_medoid_knn) — the hash-verified drift canary for the
    * MLlib-trained twin [[selfSearchTrained]], whose k-means internals
    * remain recall-gated.
    *
    * Scale: each round is one map-side assignment pass + one
    * posexplode/avg aggregate (shuffle carries nlist×d partial sums,
    * map-side combined) + one window over cluster-sized partitions; the
    * nlist×d mean table and the nlist snap rows are the only driver
    * collects — control-plane sized, the same class as [[seedCentroids]]. */
  def medoidCentroids(
      embeddings: DataFrame,
      nlist: Int,
      iters: Int): Array[Centroid] = {
    var cents = seedCentroids(embeddings, nlist)
    val d = cents.head._2.length
    var itr = 0
    while (itr < iters) {
      // pin the round's assignment: the means pass and the medoid-snap
      // pass both read it — uncached, each would re-run the full
      // corpus × nlist argmin scan
      val assigned = assign(embeddings, cents).localCheckpoint(true)
      val means = assigned
        .select(col("cluster_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("cluster_id"), col("pos"))
        .agg(avg(col("x").cast("double")).as("m"))
        .collect().groupBy(_.getLong(0))
        .map { case (cid, rows) =>
          val v = new Array[Double](d)
          rows.foreach(r => v(r.getInt(1)) = r.getDouble(2))
          cid -> v
        }
      val spark = embeddings.sparkSession
      import spark.implicits._
      val meanDf = means.toSeq.map { case (cid, v) => (cid, v) }
        .toDF("cluster_id", "mean")
      val w = Window.partitionBy(col("cluster_id"))
        .orderBy(col("dist"), col("vec_id"))
      val snapped = assigned.join(broadcast(meanDf), Seq("cluster_id"))
        .withColumn("dist",
          aggregate(zip_with(col("embedding"), col("mean"),
            (x, m) => (x.cast("double") - m) * (x.cast("double") - m)),
            lit(0.0d), (a, x) => a + x))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("cluster_id"), col("embedding"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .toMap
      cents = cents.map { case (cid, v) => (cid, snapped.getOrElse(cid, v)) }
      assigned.unpersist(blocking = false) // round's pin released eagerly
      itr += 1
    }
    cents
  }

  /** End-to-end self-search over [[medoidCentroids]] — the oracle-checked
    * iterative-training path (see scaladoc there). */
  def selfSearchMedoid(
      embeddings: DataFrame,
      numQueries: Int,
      nlist: Int,
      nprobe: Int,
      k: Int,
      iters: Int): DataFrame = {
    val cents = medoidCentroids(embeddings, nlist, iters)
    val assignments = assign(embeddings, cents)
    val q = embeddings.where(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    search(q, cents, assignments, nprobe, k, excludeSelf = true)
      .select(col("query_id"), col("rank"), col("vec_id"), round(col("dist"), 4).as("dist"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** End-to-end self-search with k-means-trained centroids — the quality
    * path, recall-tested against FLAT (SURVEY §5.2). `model` lets
    * callers reuse already-trained centroids (the reference trains once
    * per index build, vector_search_cluster.py:1030/1156-1159 — never
    * per query). */
  def selfSearchTrained(
      embeddings: DataFrame,
      numQueries: Int,
      nlist: Int,
      nprobe: Int,
      k: Int,
      seed: Long = 42L,
      model: Option[Array[Centroid]] = None): DataFrame = {
    val cents = model.getOrElse(trainCentroids(embeddings, nlist, seed))
    val assignments = assign(embeddings, cents)
    val q = embeddings.where(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    search(q, cents, assignments, nprobe, k, excludeSelf = true)
      .select(col("query_id"), col("rank"), col("vec_id"), round(col("dist"), 4).as("dist"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Predicate-filtered IVF search — the FAISS `IDSelector` / Milvus
    * bitset semantics (search restricted to rows passing a metadata
    * predicate), IVF counterpart of the graph families'
    * `selfSearchFiltered`: the predicate is applied to the inverted
    * lists BEFORE candidate ranking, so ranks are computed over
    * survivors only (pre-filtering — never "top-k then filter", which
    * under-fills k).
    *
    * Scale: the predicate composes with the probe join's partition
    * pruning — on a `partitionBy("cluster_id")` table the scan reads
    * only the probed cells AND pushes the row predicate into parquet
    * (PushedFilters); everything else is the standard IVF phase (b).
    * Within the probed cells the result is EXACT over survivors, so the
    * seeded path shares the ivf oracle shape with one added WHERE. */
  def searchFiltered(
      queries: DataFrame,
      centroids: Array[Centroid],
      assignments: DataFrame,
      predicate: Column,
      nprobe: Int,
      k: Int,
      excludeSelf: Boolean = false): DataFrame =
    searchWithProbes(probes(queries, centroids, nprobe),
      assignments.where(predicate), k, excludeSelf)

  /** End-to-end filtered self-search with seed centroids — the
    * oracle-able filtered-IVF path (q_ivf_filtered_knn). */
  def selfSearchFilteredSeeded(
      embeddings: DataFrame,
      predicate: Column,
      numQueries: Int,
      nlist: Int,
      nprobe: Int,
      k: Int): DataFrame = {
    val cents = seedCentroids(embeddings, nlist)
    val assignments = assign(embeddings, cents)
    val q = embeddings.where(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    searchFiltered(q, cents, assignments, predicate, nprobe, k, excludeSelf = true)
      .select(col("query_id"), col("rank"), col("vec_id"), round(col("dist"), 4).as("dist"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** SPANN-style multi-assignment (closure assignment, Chen et al.
    * NeurIPS 2021 §4.2; FAISS quantizer multi-assignment): every vector
    * joins its `r` nearest inverted lists instead of only the argmin
    * one, replicating boundary vectors into each neighboring cell so a
    * small-nprobe search still sees them — recall at the cell boundary
    * is bought with r× list storage instead of more probes.
    *
    * Scale: identical map-side shape to [[assign]] — the centroid
    * matrix rides as a literal/broadcast, each row emits its r cells
    * from one argsort inside codegen; no shuffle. Output rows carry the
    * same (vec_id, embedding, cluster_id) protocol, so persist /
    * prune / merge / remove all compose unchanged (r× row count). */
  def assignMulti(
      embeddings: DataFrame,
      centroids: Array[Centroid],
      r: Int,
      litMax: Int = LiteralCentroidMax): DataFrame =
    embeddings
      .select(col("*"),
        explode(slice(array_sort(scored(col("embedding"), centroids, litMax)), 1, r))
          .as("p"))
      .withColumn("cluster_id", col("p").getField("cid"))
      .drop("p")

  /** Phase (b) over a multi-assigned table: a vector replicated into
    * several probed cells would otherwise be ranked twice, so candidates
    * are collapsed per (query_id, vec_id) first — the distance is
    * identical across replicas, making the collapse value-deterministic.
    * The extra exchange is bounded by the candidate set (Q × probed-list
    * sizes), never the corpus. */
  def searchMulti(
      queries: DataFrame,
      centroids: Array[Centroid],
      assignments: DataFrame,
      nprobe: Int,
      k: Int,
      excludeSelf: Boolean = false): DataFrame =
    searchMultiWithProbes(probes(queries, centroids, nprobe), assignments, k,
      excludeSelf)

  /** The shared closure-search tail (candidate join, replica collapse,
    * rank) — ONE body for the in-memory and pruned paths, so the
    * collapse/tie-order contract the shared q_ivf_multi_knn/q_spann_knn
    * oracle pins cannot silently diverge between them. */
  private def searchMultiWithProbes(
      p: DataFrame,
      assignments: DataFrame,
      k: Int,
      excludeSelf: Boolean): DataFrame = {
    val cand = assignments.join(broadcast(p), Seq("cluster_id"))
    val filtered =
      if (excludeSelf) cand.where(col("vec_id") =!= col("query_id")) else cand
    val w = Window.partitionBy(col("query_id")).orderBy(col("dist"), col("vec_id"))
    filtered
      .select(col("query_id"), col("vec_id"),
        Distances.l2SqFast(col("qvec"), col("embedding")).as("dist"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(min(col("dist")).as("dist"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** End-to-end multi-assignment self-search with seed centroids — the
    * oracle-able SPANN-closure path (q_ivf_multi_knn). With r = 1 this
    * is row-identical to [[selfSearchSeeded]] (spec-pinned). */
  def selfSearchMultiSeeded(
      embeddings: DataFrame,
      numQueries: Int,
      nlist: Int,
      nprobe: Int,
      k: Int,
      r: Int): DataFrame = {
    val cents = seedCentroids(embeddings, nlist)
    val assignments = assignMulti(embeddings, cents, r)
    val q = embeddings.where(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    searchMulti(q, cents, assignments, nprobe, k, excludeSelf = true)
      .select(col("query_id"), col("rank"), col("vec_id"), round(col("dist"), 4).as("dist"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** [[searchPruned]] over a PERSISTED closure index — the SPANN on-disk
    * layout (Chen et al. 2021 §4.3: replicated postings on SSD, a probe
    * reads whole lists): [[assignMulti]]'s replicated inverted lists are
    * persisted `partitionBy("cluster_id")` via the unchanged
    * [[writeIndex]], the probe set prunes the scan to the probed cell
    * DIRECTORIES (static `cluster_id IN (...)` partition filter), and
    * [[searchMulti]]'s per-(query, vec) replica collapse runs over the
    * surviving candidates only. The disk cost of the closure (r× list
    * storage) buys boundary recall at small nprobe — exactly the trade
    * SPANN ships; everything else (add/remove/merge/stats/versioning)
    * composes unchanged because the row protocol is the same. */
  def searchMultiPruned(
      queries: DataFrame,
      centroids: Array[Centroid],
      assignments: DataFrame,
      nprobe: Int,
      k: Int,
      excludeSelf: Boolean = false): DataFrame = {
    val (p, probedClusters) = collectedProbes(queries, centroids, nprobe)
    val pruned = assignments.where(col("cluster_id").isin(probedClusters: _*))
    searchMultiWithProbes(p, pruned, k, excludeSelf)
  }

  /** ONE collect serving both pruned-search consumers of the probe set
    * (r15, guide §5): the static `cluster_id IN (...)` partition filter
    * AND the broadcast probe side. The old form collected a distinct
    * projection for the filter and then re-evaluated the probe plan —
    * query scan, centroid argsort and all — inside the broadcast build;
    * the probe set is Q × nprobe control-plane rows, so collecting it
    * once and re-injecting it as a LocalRelation removes a whole job
    * plus the duplicate query-side scan from every serve. Values are
    * Spark's own — the downstream join consumes exactly what the probe
    * plan computed. */
  private def collectedProbes(queries: DataFrame, centroids: Array[Centroid],
      nprobe: Int): (DataFrame, Array[Long]) = {
    val p0 = probes(queries, centroids, nprobe)
    val rows = p0.collect()
    val spark = queries.sparkSession
    val p = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), p0.schema)
    (p, rows.map(_.getAs[Long]("cluster_id")).distinct)
  }
}
