package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.IndexManifest

/** Optimized Product Quantization — FAISS's `OPQMatrix` +
  * `IndexPreTransform` pre-stage (Ge et al., "Optimized Product
  * Quantization", CVPR 2013, non-parametric solution): learn an orthogonal
  * rotation R jointly with the PQ codebooks so that quantization error is
  * minimized over the ROTATED vectors. Plain PQ slices the raw dimensions
  * into subspaces; when dimensions are correlated (the usual case for
  * learned embeddings) a fixed axis-aligned slicing wastes code budget —
  * the learned rotation re-axes the space first, which is the standard
  * FAISS recipe `OPQ16,64 → PQ16` for exactly this failure mode.
  *
  * Scale shape: training is driver-side over a bounded sample (the same
  * control-plane class as the reference's first-batch-only training,
  * vector_search_cluster.py:1156-1159 — a d×d rotation plus m×ksub×subDim
  * codebooks are model-sized); APPLICATION is fully distributed and
  * shuffle-free — the rotation rides by value in the fused map-side
  * [[graft.plans.MatVec]], encoding is the fused [[graft.plans.PqEncode]],
  * and search is the broadcast-LUT ADC pass shared with [[PqIndex]]. At
  * 100 TB the corpus-side work is identical to plain PQ: one rotate+encode
  * scan, no extra stages.
  *
  * Alternation (each round, on the sample):
  *   1. codebooks ← per-subspace k-means over R·x (Lloyd, seeded
  *      deterministic init — reproducible, unlike FAISS's default);
  *   2. R ← argmin_R Σ‖R·x − decode(encode(R·x))‖², the orthogonal
  *      Procrustes solution U·Vᵀ from SVD(Σ ŷ·xᵀ).
  */
object OpqIndex {

  /** Trained OPQ model: (rotation R, residual-free PQ codebooks on the
    * rotated space). R rows are orthonormal (float32-stored, like
    * FAISS's transform matrices). */
  type Model = (Array[Array[Float]], PqIndex.Codebooks)

  /** Driver-side deterministic Lloyd k-means for one subspace (double
    * precision; seeded distinct-point init — the same reproducibility
    * contract as the SQL-expressible seeded codebooks). */
  private def kmeans(
      points: Array[Array[Double]],
      k: Int,
      iters: Int,
      seed: Long): Array[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    val n = points.length
    val d = points(0).length
    // init: k distinct sample points (shuffled deterministically)
    val order = rnd.ints(0, n).distinct().limit(k.toLong.min(n)).toArray
    val cents = Array.tabulate(math.min(k, n))(i => points(order(i)).clone())
    val assignOf = new Array[Int](n)
    var it = 0
    while (it < iters) {
      var i = 0
      while (i < n) {
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < cents.length) {
          var s = 0.0
          var j = 0
          while (j < d) { val t = points(i)(j) - cents(c)(j); s += t * t; j += 1 }
          if (s < bestD) { bestD = s; best = c }
          c += 1
        }
        assignOf(i) = best
        i += 1
      }
      val sums = Array.fill(cents.length, d)(0.0)
      val counts = new Array[Int](cents.length)
      i = 0
      while (i < n) {
        val c = assignOf(i)
        counts(c) += 1
        var j = 0
        while (j < d) { sums(c)(j) += points(i)(j); j += 1 }
        i += 1
      }
      var c = 0
      while (c < cents.length) {
        if (counts(c) > 0) {
          var j = 0
          while (j < d) { cents(c)(j) = sums(c)(j) / counts(c); j += 1 }
        }
        c += 1
      }
      it += 1
    }
    cents
  }

  /** Nearest-codeword index (ties to the lowest code — the PqEncode
    * contract). */
  private def nearest(p: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      var s = 0.0
      var j = 0
      while (j < p.length) { val t = p(j) - cents(c)(j); s += t * t; j += 1 }
      if (s < bestD) { bestD = s; best = c }
      c += 1
    }
    best
  }

  /** Train (R, codebooks) by alternating Procrustes/k-means on a bounded
    * sample collected to the driver (n ≤ trainSample rows of d floats —
    * model-plane sized). */
  def trainOpq(
      embeddings: DataFrame,
      m: Int,
      subDim: Int,
      ksub: Int,
      iters: Int = 6,
      kmeansIters: Int = 8,
      seed: Long = 42L,
      trainSample: Int = 10000): Model = {
    // deterministic sample: first-N by id (plans as TakeOrderedAndProject —
    // per-partition top-k + merge, no global sort; a bare limit() on a
    // multi-partition table is partition-order-dependent)
    val x: Array[Array[Double]] = embeddings.orderBy(col("vec_id")).limit(trainSample)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    val n = x.length
    val d = x(0).length
    require(m * subDim == d, s"m*subDim must equal dim: $m*$subDim != $d")

    var r: Array[Array[Double]] =
      Rotation.randomOrthogonal(d, seed).map(_.map(_.toDouble))
    var codebooks: Array[Array[Array[Double]]] = null

    def rotate(v: Array[Double]): Array[Double] = {
      val out = new Array[Double](d)
      var i = 0
      while (i < d) {
        var s = 0.0
        var j = 0
        while (j < d) { s += r(i)(j) * v(j); j += 1 }
        out(i) = s
        i += 1
      }
      out
    }

    var round = 0
    while (round < iters) {
      val y = x.map(rotate)
      // 1. per-subspace k-means on the rotated sample
      codebooks = Array.tabulate(m) { s =>
        val sub = y.map(v => java.util.Arrays.copyOfRange(v, s * subDim, (s + 1) * subDim))
        kmeans(sub, ksub, kmeansIters, seed + s)
      }
      // 2. Procrustes update: ŷ = decode(encode(y)); R = U·Vᵀ of Σ ŷ·xᵀ
      val mMat = Array.fill(d, d)(0.0)
      var i = 0
      while (i < n) {
        val yi = y(i)
        val yhat = new Array[Double](d)
        var s = 0
        while (s < m) {
          val sub = java.util.Arrays.copyOfRange(yi, s * subDim, (s + 1) * subDim)
          val c = codebooks(s)(nearest(sub, codebooks(s)))
          System.arraycopy(c, 0, yhat, s * subDim, subDim)
          s += 1
        }
        var a = 0
        while (a < d) {
          val ya = yhat(a)
          if (ya != 0.0) {
            var b = 0
            while (b < d) { mMat(a)(b) += ya * x(i)(b); b += 1 }
          }
          a += 1
        }
        i += 1
      }
      val svd = breeze.linalg.svd(breeze.linalg.DenseMatrix.tabulate(d, d)((a, b) => mMat(a)(b)))
      val u = svd.U
      val vt = svd.Vt
      r = Array.tabulate(d, d) { (a, b) =>
        var s = 0.0
        var t = 0
        while (t < d) { s += u(a, t) * vt(t, b); t += 1 }
        s
      }
      round += 1
    }
    // final codebooks on the final rotation (float32 storage, like FAISS)
    val yFinal = x.map(rotate)
    val cbFinal: PqIndex.Codebooks = Array.tabulate(m) { s =>
      val sub = yFinal.map(v => java.util.Arrays.copyOfRange(v, s * subDim, (s + 1) * subDim))
      kmeans(sub, ksub, kmeansIters, seed + s).map(_.map(_.toFloat))
    }
    (r.map(_.map(_.toFloat)), cbFinal)
  }

  /** Per-query projection probe: `round(rotated[0]², 4)` — sign-invariant
    * (rotation rows carry an arbitrary sign) but NOT rotation-invariant,
    * so a permuted/garbled R that preserves row counts still changes the
    * dumped values (the same fixed-probe rationale as q_pca_reduce /
    * q_whiten). Joined per query_id onto the k-NN output. */
  private def queryProbe(rotated: DataFrame, numQueries: Int): DataFrame =
    rotated.where(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"),
        round(element_at(col("embedding"), 1).cast("double") *
          element_at(col("embedding"), 1).cast("double"), 4)
          .as("probe0_sq"))

  /** End-to-end OPQ self-search: learned rotation applied map-side
    * ([[graft.plans.MatVec]]), then the shared PQ encode + broadcast-LUT
    * ADC pass over the ROTATED space. Same output contract as the other
    * k-NN operators plus a per-query `probe0_sq` projection probe (the
    * driver-visible fingerprint of R itself); recall-gated against plain
    * PQ (OpqIndexSpec). */
  def selfSearchTrained(
      embeddings: DataFrame,
      numQueries: Int,
      m: Int,
      subDim: Int,
      ksub: Int,
      k: Int,
      iters: Int = 6,
      seed: Long = 42L,
      model: Option[Model] = None): DataFrame = {
    // `model` lets callers reuse an already-trained (deterministic,
    // seeded) model instead of re-collecting the training sample — the
    // offline-train / online-apply split the reference runs (V:1156-1159
    // trains once per build, never per query)
    val (rot, cb) = model.getOrElse(
      trainOpq(embeddings, m, subDim, ksub, iters = iters, seed = seed))
    val rotated = embeddings.select(col("vec_id"),
      Rotation.rotateExpr(col("embedding"), rot).as("embedding"))
    PqIndex.search(rotated, PqIndex.encode(rotated, cb, m, subDim), cb,
        numQueries, m, subDim, k)
      .join(broadcast(queryProbe(rotated, numQueries)), Seq("query_id"))
      .select(col("query_id"), col("rank"), col("vec_id"), col("dist"), col("probe0_sq"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** FAISS's actual OPQ recipe — `OPQm,d → IVFPQ` (`OPQMatrix` inside an
    * `IndexPreTransform` FRONTING the IVF index, not flat PQ): learn R on
    * a bounded sample, rotate the corpus map-side, then build and search
    * the standard residual IVFPQ in the rotated space. The corpus-side
    * cost is identical to plain IVFPQ plus the one fused MatVec per row;
    * search inherits [[IvfPqIndex.searchPruned]]'s partition-pruned read
    * path when `indexDir` is given (the codes table persists
    * `partitionBy(cluster_id)` and probes push a literal partition
    * filter). Output carries the same `probe0_sq` rotation probe as
    * [[selfSearchTrained]]. */
  def selfSearchOpqIvfPq(
      embeddings: DataFrame,
      numQueries: Int,
      nlist: Int,
      nprobe: Int,
      m: Int,
      subDim: Int,
      ksub: Int,
      k: Int,
      iters: Int = 6,
      seed: Long = 42L,
      indexDir: Option[String] = None,
      model: Option[Model] = None,
      reuseIndex: Boolean = false): DataFrame = {
    val spark = embeddings.sparkSession
    val (rot, _) = model.getOrElse(
      trainOpq(embeddings, m, subDim, ksub, iters = iters, seed = seed))
    val rotated = embeddings.select(col("vec_id"),
      Rotation.rotateExpr(col("embedding"), rot).as("embedding"))
    val (cents, cb, codes) = IvfPqIndex.buildSeeded(rotated, nlist, m, subDim, ksub)
    val persistedCodes = indexDir match {
      case Some(dir) =>
        // reuseIndex: skip the corpus-wide encode+write when a committed
        // codes table is already at `dir` (deterministic seeded build ⇒
        // identical bytes) — the search then reads the persisted lists,
        // which is the honest serving cost once an index exists
        if (!(reuseIndex && IndexManifest.exists(spark, dir)))
          IvfPqIndex.writeIndex(codes, dir)
        IvfPqIndex.readIndex(spark, dir)
      case None => codes
    }
    val q = rotated.where(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    IvfPqIndex.searchPruned(q, cents, cb, persistedCodes, nprobe, m, subDim, k)
      .join(broadcast(queryProbe(rotated, numQueries)), Seq("query_id"))
      .select(col("query_id"), col("rank"), col("vec_id"), col("dist"), col("probe0_sq"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Quality form of [[selfSearchOpqIvfPq]]: learned R fronting the fully
    * TRAINED residual IVFPQ (k-means coarse centroids + residual
    * codebooks, both trained in the rotated space) — the composition the
    * clustered-fixture recall gate measures against plain trained IVFPQ. */
  def selfSearchOpqIvfPqTrained(
      embeddings: DataFrame,
      numQueries: Int,
      nlist: Int,
      nprobe: Int,
      m: Int,
      subDim: Int,
      ksub: Int,
      k: Int,
      iters: Int = 6,
      seed: Long = 42L): DataFrame = {
    val (rot, _) = trainOpq(embeddings, m, subDim, ksub, iters = iters, seed = seed)
    val rotated = embeddings.select(col("vec_id"),
      Rotation.rotateExpr(col("embedding"), rot).as("embedding"))
    IvfPqIndex.selfSearchTrained(rotated, numQueries, nlist, nprobe, m, subDim, ksub, k, seed)
  }
}
