package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, KeyValueGroupedDataset}
import org.apache.spark.sql.functions._

import graft.sources.IndexManifest

/** Vamana / DiskANN ANN — per-shard single-layer pruned graphs
  * (Subramanya et al., "DiskANN: Fast Accurate Billion-point Nearest
  * Neighbor Search on a Single Node", NeurIPS 2019).
  *
  * The second graph-index family next to [[HnswIndex]] — the reference
  * ships only FAISS's HNSW (vector_search_cluster.py:1043-1045), but a
  * user choosing between modern graph ANN structures chooses between
  * exactly these two, and the Vamana build is the one designed for
  * SSD/out-of-core serving (flat single layer, bounded degree R, α-pruned
  * long-range edges replacing HNSW's hierarchy). Architecture matches the
  * HNSW rendition: one local graph per shard built inside a grouped
  * `mapGroups` (the sanctioned per-partition imperative escape hatch),
  * searched for a broadcast query batch, shard-local top-k merged by the
  * standard A1 window. Shards here are `vec_id % numPartitions` — a
  * content-independent, SQL-expressible routing rule (the builder-path
  * `sum % n` family, SURVEY F7), which makes the build's entry-point
  * selection ORACLE-CHECKABLE: the per-shard medoid rule is replayed
  * exactly by a DuckDB query (q_vamana_medoids), so a silent drift in the
  * medoid/centroid math fails a hash compare, not just a recall gate.
  *
  * Determinism: no RNG anywhere — the random-init graph of the paper is
  * replaced by a splitmix64-derived R-regular init (same role: connected
  * start with arbitrary long edges), insertion order is sorted vec_id,
  * all ties break on node id. Two passes (α=1, then α=target), per the
  * paper's build loop. */
object VamanaIndex {

  /** Build/search parameters — paper notation: R = max out-degree,
    * L = search/build beam width, α = pruning slack. */
  case class Params(r: Int = 32, l: Int = 64, alpha: Double = 1.2)

  /** One shard's graph: ids/vecs/adjacency + medoid entry point.
    * Serializable so bounded (model-plane) graphs may broadcast;
    * `search` is read-only per call. */
  private[operators] final class LocalGraph(params: Params)
      extends Serializable with GraphIndex.Graph {
    import GraphIndex.{l2 => dist}
    val ids = mutable.ArrayBuffer.empty[Long]
    val vecs = mutable.ArrayBuffer.empty[Array[Float]]
    val adj = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[Int]]
    var medoid: Int = -1

    /** Deterministic stand-in for the paper's random R-regular init:
      * out-neighbors of node i are splitmix64(id, j)-selected — arbitrary
      * long edges, reproducible across runs and build orders. */
    private def initEdges(i: Int, n: Int): mutable.ArrayBuffer[Int] = {
      val out = mutable.ArrayBuffer.empty[Int]
      val seen = mutable.BitSet(i)
      var j = 0L
      while (out.length < math.min(params.r, n - 1) && j < 4L * params.r + 16) {
        val z = GraphIndex.splitmix64(ids(i) * 0x9e3779b97f4a7c15L + j)
        val cand = java.lang.Long.remainderUnsigned(z, n.toLong).toInt
        if (!seen.contains(cand)) { seen += cand; out += cand }
        j += 1
      }
      out
    }

    /** Medoid = point nearest the shard centroid (DiskANN's entry-point
      * rule). Centroid summed in array (sorted-vec_id) order, distances
      * in double, ties on lower vec_id — the exact math q_vamana_medoids
      * replays in SQL. */
    private def computeMedoid(): Int = {
      val n = ids.length
      if (n == 0) return -1
      val d = vecs(0).length
      val mean = new Array[Double](d)
      var i = 0
      while (i < n) {
        var j = 0
        while (j < d) { mean(j) += vecs(i)(j).toDouble; j += 1 }
        i += 1
      }
      var j = 0
      while (j < d) { mean(j) /= n; j += 1 }
      var best = 0
      var bestD = Double.MaxValue
      i = 0
      while (i < n) {
        var s = 0.0
        var jj = 0
        while (jj < d) { val dd = vecs(i)(jj).toDouble - mean(jj); s += dd * dd; jj += 1 }
        if (s < bestD || (s == bestD && ids(i) < ids(best))) { best = i; bestD = s }
        i += 1
      }
      best
    }

    /** GreedySearch(medoid, q, k, L) — returns (top-L list, visited set),
      * deterministic (ties by node id). `allow` restricts which nodes
      * may enter the RESULT list (filtered search, the Qdrant/Weaviate
      * filtered-HNSW semantics): traversal still walks disallowed nodes
      * — a filter that pruned the walk itself would disconnect the
      * graph under selective predicates — and disallowed candidates
      * keep expanding the beam, so at L ≥ n every reachable node is
      * still visited and the filtered result is EXACT. */
    private def greedySearch(
        q: Array[Float],
        ell: Int,
        allow: Int => Boolean = _ => true): (Seq[(Double, Int)], mutable.BitSet) = {
      implicit val ord: Ordering[(Double, Int)] = Ordering.Tuple2
      val visited = mutable.BitSet()
      val inList = mutable.BitSet(medoid)
      // result: max-heap (worst of the L best on top); candidates: min-heap via negation
      val result = mutable.PriorityQueue.empty[(Double, Int)]
      val dMedoid = dist(q, vecs(medoid))
      if (allow(medoid)) result.enqueue((dMedoid, medoid))
      val candidates = mutable.PriorityQueue((-dMedoid, medoid))
      while (candidates.nonEmpty) {
        val (negD, node) = candidates.dequeue()
        if (!visited.contains(node)) {
          if (result.size >= ell && -negD > result.head._1) {
            candidates.clear()
          } else {
            visited += node
            val nbrs = adj(node)
            var i = 0
            while (i < nbrs.length) {
              val nb = nbrs(i)
              if (!inList.contains(nb)) {
                inList += nb
                val nd = dist(q, vecs(nb))
                if (result.size < ell || nd < result.head._1) {
                  if (allow(nb)) {
                    result.enqueue((nd, nb))
                    if (result.size > ell) result.dequeue()
                  }
                  candidates.enqueue((-nd, nb))
                }
              }
              i += 1
            }
          }
        }
      }
      (result.toSeq.sortBy(t => (t._1, ids(t._2))), visited)
    }

    /** RobustPrune(p, V, α, R) — the paper's α-slack pruning: greedily
      * keep the closest candidate, then drop every candidate it
      * α-dominates (α·d(p*, v) ≤ d(p, v)). */
    private def robustPrune(p: Int, cand0: Iterable[Int], alpha: Double): Unit = {
      val pool = mutable.TreeSet.empty[(Double, Long, Int)] // (dist, id, node)
      (cand0 ++ adj(p)).foreach { v =>
        if (v != p) pool += ((dist(vecs(p), vecs(v)), ids(v), v))
      }
      val out = mutable.ArrayBuffer.empty[Int]
      while (pool.nonEmpty && out.length < params.r) {
        val star = pool.head
        val vStar = star._3
        pool -= star
        out += vStar
        val dominated = pool.filter { case (dPv, _, v) =>
          alpha * dist(vecs(vStar), vecs(v)) <= dPv
        }
        dominated.foreach(pool -= _)
      }
      adj(p).clear()
      adj(p) ++= out
    }

    /** Load points (sorted by id) and fix the entry point — the
      * edge-free prefix of [[build]]; [[VamanaIndex.medoids]] stops
      * here (the medoid does not depend on the edges). */
    def prepare(points: Array[(Long, Array[Float])]): Unit = {
      val sorted = points.sortBy(_._1)
      ids.clear(); ids ++= sorted.map(_._1)
      vecs.clear(); vecs ++= sorted.map(_._2)
      adj.clear()
      medoid = computeMedoid()
    }

    /** FreshDiskANN-style single-point insert (Singh et al. 2021): the
      * per-point step of [[build]]'s final pass — greedy search from the
      * existing medoid collects the visited set, RobustPrune picks the
      * new node's neighbors, backedges insert with re-prune. The entry
      * point does NOT move on insert (FreshDiskANN keeps it; the medoid
      * rule applies at build/rebuild time). */
    def insertPoint(id: Long, vec: Array[Float]): Unit = {
      val idx = ids.length
      ids += id
      vecs += vec
      adj += mutable.ArrayBuffer.empty[Int]
      if (idx == 0) { medoid = 0; return }
      connect(idx, params.alpha)
    }

    /** One node's Vamana step: greedy search for its vector, RobustPrune
      * of the visited set into its out-edges, then backedges, re-pruning
      * any neighbour pushed past R. */
    private def connect(p: Int, alpha: Double): Unit = {
      val (_, visited) = greedySearch(vecs(p), params.l)
      robustPrune(p, visited, alpha)
      adj(p).foreach { b =>
        if (!adj(b).contains(p)) {
          adj(b) += p
          if (adj(b).length > params.r) robustPrune(b, adj(b).toSeq, alpha)
        }
      }
    }

    /** Batch build over (id, vec) pairs sorted by id: splitmix init →
      * medoid → two passes of greedy-search + RobustPrune + backedge
      * insertion (α=1 first, α=target second), per the paper. */
    def build(points: Array[(Long, Array[Float])]): Unit = {
      prepare(points)
      val n = ids.length
      var i = 0
      while (i < n) { adj += initEdges(i, n); i += 1 }
      if (n <= 1) return
      Seq(1.0, params.alpha).foreach { alpha =>
        var p = 0
        while (p < n) { connect(p, alpha); p += 1 }
      }
      // structural exhaustive-walk contract: after pruning, re-attach
      // any node backedge re-pruning disconnected (no-op on the
      // already-connected graphs real data produces — outputs of every
      // pre-existing query are unchanged), so "L ≥ n visits every node"
      // holds by construction, which the filtered-search exactness
      // claim (selfSearchFiltered at L ≥ shard size) relies on
      patchReachability()
    }

    /** Top-k search: greedy beam from the medoid with width max(L, k).
      * `beam` overrides the search width independently of the BUILD beam
      * params.l (same knob as [[searchFiltered]]); since [[build]] ends
      * in [[patchReachability]], at beam ≥ n the walk visits every node
      * and the result is the EXACT top-k. */
    def search(q: Array[Float], k: Int, beam: Int = 0): Seq[(Double, Int)] =
      searchFiltered(q, k, _ => true, beam)

    /** Filtered top-k: only nodes with `allow` may be returned; the
      * walk still traverses disallowed nodes (see [[greedySearch]]).
      * `beam` overrides the search width independently of the BUILD
      * beam params.l (an exact filtered read wants beam ≥ n without
      * paying an L=n construction); at beam ≥ n the result is the
      * exact filtered top-k. */
    def searchFiltered(q: Array[Float], k: Int, allow: Int => Boolean,
        beam: Int = 0): Seq[(Double, Int)] = {
      if (medoid < 0) return Nil
      val ell = math.max(if (beam > 0) beam else params.l, k)
      greedySearch(q, ell, allow)._1.take(k)
    }

    /** Make every node reachable from the medoid, STRUCTURALLY:
      * RobustPrune plus backedge re-pruning does not guarantee
      * connectivity (a later prune of b may drop the just-added b→p
      * backedge, severing p's last in-edge), so a contract of the form
      * "at L ≥ n the walk visits every node" is data-dependent without
      * this patch. BFS from the medoid; any unreachable node gains a
      * direct medoid→node edge (the medoid's out-degree may exceed R
      * here — acceptable at the model-plane scales that rely on the
      * exhaustive-walk contract, and irrelevant to α-pruning quality
      * since patch edges only ADD reachability). Returns the number of
      * edges added. */
    def patchReachability(): Int = GraphIndex.patchReachability(ids.length, medoid, adj)
  }

  /** Rows keyed by shard — the `vec_id % parts` routing. */
  private def shardAndBuild(
      embeddings: DataFrame,
      parts: Int): KeyValueGroupedDataset[Int, (Int, Long, Array[Float])] = {
    import embeddings.sparkSession.implicits._
    embeddings
      .select(Graphs.route(col("vec_id"), parts).cast("int").as("part_id"),
        col("vec_id"), col("embedding"))
      .as[(Int, Long, Array[Float])]
      .groupByKey(_._1)
  }

  /** Distributed Vamana self-search: per-shard graphs (vec_id % parts
    * routing), each searched for every broadcast query, shard-local
    * top-k merged globally (A1). Output matches the other k-NN
    * operators: (query_id, rank, vec_id, dist) ordered.
    *
    * `searchBeam` overrides the read-side beam (build beam stays
    * params.l). At beam ≥ shard size each shard emits its EXACT top-k
    * ([[LocalGraph.build]] ends in `patchReachability`), the merge is
    * the exact global answer independent of the partition count, and
    * the query shares the brute-force FLAT oracle — q_vamana_knn runs
    * `Int.MaxValue` (exhaustive at any shard size; the r8 no-oracle
    * allowlist shrink). Production runs beam ≪ n and trades recall —
    * that form stays recall-gated in VamanaIndexSpec and exercised by
    * q_recall_report's persisted-index row. */
  def selfSearch(
      embeddings: DataFrame,
      numQueries: Int,
      k: Int,
      numPartitions: Int = 0,
      params: Params = Params(),
      searchBeam: Int = 0): DataFrame =
    Graphs.selfSearch(embeddings, numQueries, k, numPartitions, params)(
      Graphs.walk(_, _, k, searchBeam))

  /** Filtered self-search — predicate-aware graph search (the
    * filtered-ANN serving mode of Qdrant/Weaviate-class systems): a
    * boolean predicate column rides WITH each row into its shard task
    * (no broadcast allowed-set — scales to any predicate selectivity),
    * the graph builds over ALL rows (traversal must cross disallowed
    * regions), and the walk admits only passing nodes into results.
    *
    * Exactness: [[LocalGraph.build]] ends in `patchReachability`, so at
    * beam L ≥ shard size every node is visited and each shard emits its
    * EXACT filtered top-k; the A1 merge of exact shard top-ks is the
    * exact global answer — which is why q_vamana_filtered_knn shares
    * the brute-force filtered oracle verbatim. At production scale one
    * runs L ≪ n and trades recall, same as unfiltered serving. */
  def selfSearchFiltered(
      embeddings: DataFrame,
      predicate: Column,
      numQueries: Int,
      k: Int,
      numPartitions: Int = 0,
      params: Params = Params(),
      searchBeam: Int = 0): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val bcQueries = spark.sparkContext.broadcast(GraphIndex.selfQueries(embeddings, numQueries))
    val p = params
    val partials = embeddings
      .select(Graphs.route(col("vec_id"), GraphIndex.partitions(spark, numPartitions))
        .cast("int").as("part_id"),
        col("vec_id"), col("embedding"), predicate.cast("boolean").as("keep"))
      .as[(Int, Long, Array[Float], Boolean)]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val rows = it.toArray
        val graph = new LocalGraph(p)
        graph.build(rows.map(t => (t._2, t._3)))
        val keepById = rows.map(t => t._2 -> t._4).toMap
        val allow: Int => Boolean = node => keepById(graph.ids(node))
        GraphIndex.walkQueries(graph, bcQueries.value, k, excludeSelf = true)(
          Graphs.walkFiltered(graph, _, k, searchBeam, allow))
      }
    GraphIndex.mergeTopK(partials, k)
  }

  /** The oracle-checkable structural fingerprint: every shard's entry
    * point — (part_id, medoid vec_id, shard size) under the exact
    * centroid/argmin math of [[LocalGraph.build]]. Emitted as a
    * DataFrame the DuckDB oracle replays (per-shard per-dim mean →
    * per-vector squared distance → argmin, ties on vec_id), pinning the
    * medoid rule that anchors every graph walk. */
  def medoids(
      embeddings: DataFrame,
      numPartitions: Int,
      params: Params = Params()): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val p = params
    shardAndBuild(embeddings, numPartitions)
      .mapGroups { (pid, it) =>
        val graph = new LocalGraph(p)
        graph.prepare(it.map(t => (t._2, t._3)).toArray)
        (pid.toLong, graph.ids(graph.medoid), graph.ids.length.toLong)
      }
      .toDF("part_id", "medoid_vec_id", "n")
      .orderBy(col("part_id"))
  }

  // ---- persistence (S4/S3 for the Vamana family) -----------------------
  // The shared [[GraphIndex]] lifecycle. One row per node — (part_id,
  // seq, vec_id, vec, adj, medoid_seq) with `seq` the node's position in
  // the sorted-vec_id build order and `medoid_seq` the shard's entry
  // point (constant within a shard — one int next to a d-float vector,
  // cheaper than a second build pass or a per-shard meta join).

  /** One serialized graph node (single layer — no level column). */
  case class VamanaNode(part_id: Int, seq: Int, vec_id: Long,
      vec: Array[Float], adj: Array[Int], medoid_seq: Int)

  /** The Vamana family of the shared graph core. Routing is
    * `pmod(vec_id, parts)`, the build's shard key; the stored adjacency
    * is already reachability-patched ([[LocalGraph.build]] ends in
    * `patchReachability`), so nothing runs at load. Beam: the read walk
    * is `search(q, k + 1, beam)` (beam 0 = the build's L), and a
    * filtered read hands the raw `searchBeam` to
    * [[FilteredSearchPlanner.autoBeam]]. */
  private[operators] object Graphs extends GraphIndex[Params, LocalGraph, VamanaNode] {
    val family = "vamana"
    implicit val nodeEncoder: Encoder[VamanaNode] = Encoders.product[VamanaNode]
    def encode(p: Params): Map[String, Double] =
      Map("r" -> p.r.toDouble, "l" -> p.l.toDouble, "alpha" -> p.alpha)
    def decode(m: IndexManifest): Params =
      Params(m.param("r").toInt, m.param("l").toInt, m.param("alpha"))
    def route(vecId: Column, parts: Int): Column = pmod(vecId, lit(parts))
    def partOf(n: VamanaNode): Int = n.part_id

    def toRows(g: LocalGraph, partId: Int): Iterator[VamanaNode] =
      (0 until g.ids.length).iterator.map { i =>
        VamanaNode(partId, i, g.ids(i), g.vecs(i), g.adj(i).toArray, g.medoid)
      }

    def fromRows(rows: Array[VamanaNode], p: Params): LocalGraph = {
      val g = new LocalGraph(p)
      rows.sortInPlaceBy(_.seq)
      g.ids ++= rows.iterator.map(_.vec_id)
      g.vecs ++= rows.iterator.map(_.vec)
      rows.foreach(n => g.adj += mutable.ArrayBuffer.from(n.adj))
      g.medoid = if (rows.nonEmpty) rows(0).medoid_seq else -1
      g
    }

    /** One graph per shard, [[LocalGraph.build]] over its rows. Fresh
      * builds and persisted writes share it ⇒ bit-identical graphs. */
    def build[T: Encoder](embeddings: DataFrame, parts: Int, p: Params)(
        use: (Int, LocalGraph) => Iterator[T]): Dataset[T] =
      shardAndBuild(embeddings, parts).flatMapGroups { (pid, it) =>
        val graph = new LocalGraph(p)
        graph.build(it.map(t => (t._2, t._3)).toArray)
        use(pid, graph)
      }
    def walk(g: LocalGraph, q: Array[Float], k: Int, beam: Int): Seq[(Double, Int)] =
      g.search(q, k + 1, beam)
    def filteredBeam(p: Params, beam: Int, k: Int): Int = beam
    def walkFiltered(g: LocalGraph, q: Array[Float], k: Int, beam: Int,
        allow: Int => Boolean): Seq[(Double, Int)] = g.searchFiltered(q, k + 1, allow, beam)
    def insert(g: LocalGraph, id: Long, v: Array[Float]): Unit = g.insertPoint(id, v)
  }

  /** S4 — build per-shard graphs exactly as [[selfSearch]] does and
    * persist them ([[GraphIndex.writeIndex]]; manifest params r, l,
    * alpha, num_partitions). */
  def writeIndex(
      embeddings: DataFrame,
      dir: String,
      numPartitions: Int = 0,
      params: Params = Params()): Unit =
    Graphs.writeIndex(embeddings, dir, numPartitions, params)

  /** S3 — self-search a persisted index without rebuilding; on the same
    * build the rows hash-match [[selfSearch]] exactly (spec-gated). */
  def selfSearchPersisted(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      numQueries: Int,
      k: Int): DataFrame =
    Graphs.selfSearchPersisted(spark, dir, numQueries, k, beam = 0)

  /** Filtered search SERVED from a once-persisted index — the FAISS
    * IDSelector / loaded-index serving shape (r9 verdict item 1), the
    * Vamana twin of [[HnswIndex.selfSearchFilteredPersisted]]
    * ([[GraphIndex.selfSearchFilteredPersisted]]): the α-pruned shard
    * graphs are never rebuilt per call, and at beam ≥ shard size each
    * shard emits its EXACT filtered top-k — same brute-force filtered
    * oracle as the fresh-build form, hash unchanged.
    *
    * @note `dupMultiplicity = None` OPTS IN to the automatic k·m beam
    *   floor from the build-time estimate in the manifest; pass
    *   `Some(1.0)` to pin the caller's beam. */
  def selfSearchFilteredPersisted(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      allowed: DataFrame,
      numQueries: Int,
      k: Int,
      searchBeam: Int = 0,
      selectivity: Option[Double] = None,
      dupMultiplicity: Option[Double] = None): DataFrame =
    Graphs.selfSearchFilteredPersisted(spark, dir, allowed, numQueries, k, searchBeam,
      selectivity, dupMultiplicity)

  /** Serving path: arbitrary query vectors against a persisted index
    * (no self-exclusion — external queries have no corpus identity). */
  def searchPersisted(queries: DataFrame, dir: String, k: Int): DataFrame =
    Graphs.searchPersisted(queries, dir, k, beam = 0)

  /** Vamana coarse quantizer — IVF probe selection via one driver-built
    * graph over the nlist centroids (the DiskANN counterpart of
    * [[HnswIndex.coarseProbes]], model-plane: nlist ≈ √n rows) broadcast
    * to every task; probe selection walks the graph per query row
    * instead of scanning all nlist centroids. At beam L ≥ nlist the walk
    * visits every centroid — a STRUCTURAL guarantee, not a
    * data-dependent one: after the build, [[LocalGraph.patchReachability]]
    * BFS-verifies connectivity from the medoid and adds a direct medoid
    * edge to any centroid RobustPrune's backedge re-pruning severed —
    * so probes equal the exact argmin top-nprobe and the composed
    * search shares the exact-IVF oracle (same contract the IVF_HNSW
    * composition uses). Output matches [[IvfIndex.probes]]:
    * (query_id, qvec, cluster_id). */
  def coarseProbes(
      queries: DataFrame,
      centroids: Array[IvfIndex.Centroid],
      nprobe: Int,
      params: Params = Params()): DataFrame = {
    val g = new LocalGraph(params)
    g.build(centroids.map { case (cid, v) => (cid, v) })
    g.patchReachability()
    GraphIndex.probes(queries, g, nprobe)(_.search(_, nprobe))
  }

  /** Composed IVF search with Vamana probe selection — candidate scan,
    * pruning and top-k identical to [[IvfIndex.search]]; only the probe
    * phase differs (graph walk vs exact argmin). */
  def searchIvfVamana(
      queries: DataFrame,
      centroids: Array[IvfIndex.Centroid],
      assignments: DataFrame,
      nprobe: Int,
      k: Int,
      excludeSelf: Boolean = false,
      params: Params = Params()): DataFrame =
    IvfIndex.searchWithProbes(
      coarseProbes(queries, centroids, nprobe, params), assignments, k, excludeSelf)

  /** `index.add` for the persisted Vamana — the FreshDiskANN insert
    * path (the reference's background add works on every FAISS type;
    * DiskANN's own streaming variant is FreshDiskANN):
    * [[GraphIndex.addToIndex]] with the build's `vec_id % parts` routing
    * and [[LocalGraph.insertPoint]]. */
  def addToIndex(newVectors: DataFrame, dir: String): Unit =
    Graphs.addToIndex(newVectors, dir)
}
