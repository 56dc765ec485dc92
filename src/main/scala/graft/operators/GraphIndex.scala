package graft.operators

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.IndexManifest

/** The persisted-graph lifecycle shared by the two graph-index families
  * ([[HnswIndex]], [[VamanaIndex]]) — the reference's per-shard
  * `faiss.write_index` → load → serve → `index.add` cycle
  * (vector_search_cluster.py:1051-1054, :523-563, :1210-1212).
  *
  * One row per graph node, written `partitionBy(part_id)` under
  * `dir/nodes`, plus the [[IndexManifest]] (build params, partition
  * count, row count, dimension, near-dup multiplicity and the nodes
  * schema). Loading fills the family's graph arrays directly — zero
  * build work. Every serve walks each stored graph for a broadcast query
  * batch and merges the shard-local top-k with the one A1 window
  * ([[GraphIndex.mergeTopK]]).
  *
  * A family supplies only what differs: its name and params codec, its
  * routing column (which must reproduce the build's partitioner), its
  * node rows, its graph construction, its walks and insert, and a
  * load-time hook for filtered and exhaustive reads. The family value is
  * a Scala `object`: task closures capture it. */
private[operators] abstract class GraphIndex[P, G <: GraphIndex.Graph, N] extends Serializable {
  import GraphIndex._

  /** Manifest family name. */
  def family: String
  /** Build params as manifest params (the partition count is added). */
  def encode(p: P): Map[String, Double]
  /** Stored build params, read knobs at their defaults. */
  def decode(m: IndexManifest): P
  /** The shard of a `vec_id` column — the build's own partitioner. */
  def route(vecId: Column, parts: Int): Column
  implicit def nodeEncoder: Encoder[N]
  def partOf(n: N): Int
  def toRows(g: G, partId: Int): Iterator[N]
  /** Direct array fill — no build work. */
  def fromRows(rows: Array[N], p: P): G
  /** One graph per partition of `(vec_id, embedding)` — the family's
    * partitioner and construction — handed with its part_id to `use`. */
  def build[T: Encoder](embeddings: DataFrame, parts: Int, p: P)(
      use: (Int, G) => Iterator[T]): Dataset[T]
  /** Unfiltered walk for the top `k` at read beam `beam`. */
  def walk(g: G, q: Array[Float], k: Int, beam: Int): Seq[(Double, Int)]
  /** The caller beam a filtered read starts from, before [[FilteredSearchPlanner.autoBeam]]. */
  def filteredBeam(p: P, beam: Int, k: Int): Int
  /** Filtered walk: only `allow`ed nodes are returned, all are traversed. */
  def walkFiltered(g: G, q: Array[Float], k: Int, beam: Int, allow: Int => Boolean): Seq[(Double, Int)]
  def insert(g: G, id: Long, v: Array[Float]): Unit
  /** Run on every graph a filtered or exhaustive read reloads. */
  def onLoad(g: G): Unit = ()

  private implicit def nodeTag: ClassTag[N] = nodeEncoder.clsTag

  /** The committed index's manifest, build params, partition count and
    * nodes table — one file read, no Spark job. */
  def open(spark: SparkSession, dir: String): (IndexManifest, P, Int, DataFrame) = {
    val m = IndexManifest.read(spark, dir, family)
    (m, decode(m), m.param("num_partitions").toInt, m.table(spark, dir, "nodes"))
  }

  /** The first `numQueries` stored vectors — self-search queries come off
    * the index's own rows. The column predicate pushes into the scan. */
  def storedQueries(nodes: DataFrame, numQueries: Int): Array[(Long, Array[Float])] =
    collectQueries(nodes.where(col("vec_id") < numQueries), "vec_id", "vec")

  /** Reload every stored graph (direct fill; `hook` runs [[onLoad]]) and
    * map it. */
  def eachGraph[T: Encoder](nodes: DataFrame, p: P, hook: Boolean = false)(
      f: G => Iterator[T]): Dataset[T] = {
    import nodes.sparkSession.implicits._
    nodes.as[N].groupByKey(partOf _).flatMapGroups { (_, it) =>
      val g = fromRows(it.toArray, p)
      if (hook) onLoad(g)
      f(g)
    }
  }

  /** Walk every stored graph for the broadcast `queries`; A1-merged. */
  def serve(nodes: DataFrame, p: P, queries: Array[(Long, Array[Float])], k: Int,
      excludeSelf: Boolean, hook: Boolean = false)(
      search: (G, Array[Float]) => Seq[(Double, Int)]): DataFrame = {
    import nodes.sparkSession.implicits._
    val bc = nodes.sparkSession.sparkContext.broadcast(queries)
    mergeTopK(eachGraph(nodes, p, hook)(g => walkQueries(g, bc.value, k, excludeSelf)(search(g, _))), k)
  }

  /** Build the per-partition graphs and persist them: delete the
    * manifest, write `dir/nodes` partitioned by part_id, write the
    * manifest last ([[graphManifest]]). */
  def writeIndex(embeddings: DataFrame, dir: String, numPartitions: Int, p: P): Unit = {
    val spark = embeddings.sparkSession
    val parts = partitions(spark, numPartitions)
    IndexManifest.delete(spark, dir)
    val nodes = build(embeddings, parts, p)((pid, g) => toRows(g, pid))
    nodes.write.mode("overwrite").partitionBy("part_id").parquet(s"$dir/nodes")
    IndexManifest.write(spark, dir, graphManifest(encode(p), parts, embeddings, nodes.toDF()))
  }

  /** Fresh per-partition builds (`hook` runs [[onLoad]] on each), walked
    * for the first `numQueries` corpus rows; A1-merged. A persisted
    * index written from the same corpus and partition count holds the
    * same graphs, so its serves return the same rows. */
  def selfSearch(embeddings: DataFrame, numQueries: Int, k: Int, numPartitions: Int, p: P,
      hook: Boolean = false)(search: (G, Array[Float]) => Seq[(Double, Int)]): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(selfQueries(embeddings, numQueries))
    mergeTopK(build(embeddings, partitions(spark, numPartitions), p) { (_, g) =>
      if (hook) onLoad(g)
      walkQueries(g, bc.value, k, excludeSelf = true)(search(g, _))
    }, k)
  }

  /** Self-search a persisted index without rebuilding. */
  def selfSearchPersisted(spark: SparkSession, dir: String, numQueries: Int, k: Int,
      beam: Int): DataFrame = {
    val (_, p, _, nodes) = open(spark, dir)
    serve(nodes, p, storedQueries(nodes, numQueries), k, excludeSelf = true)(walk(_, _, k, beam))
  }

  /** Arbitrary `(query_id, qvec)` queries against a persisted index; no
    * self-exclusion (external queries have no corpus identity). */
  def searchPersisted(queries: DataFrame, dir: String, k: Int, beam: Int): DataFrame = {
    val (_, p, _, nodes) = open(queries.sparkSession, dir)
    serve(nodes, p, collectQueries(queries, "query_id", "qvec"), k,
      excludeSelf = false)(walk(_, _, k, beam))
  }

  /** Filtered search served from a persisted index: the allowed ids (one
    * `vec_id` column) are routed with [[route]] and cogrouped with the
    * stored node rows — no broadcast allowed set, no driver collect. Each
    * reloaded graph runs [[onLoad]] and the admit-only-allowed walk. The
    * beam is [[filteredBeam]] scaled by [[FilteredSearchPlanner.autoBeam]];
    * `dupMultiplicity = None` takes the k·m floor from the manifest's
    * build-time estimate, and a saturated beam (`Int.MaxValue`, the
    * exactness pins) skips the floor. */
  def selfSearchFilteredPersisted(spark: SparkSession, dir: String, allowed: DataFrame,
      numQueries: Int, k: Int, beam: Int, selectivity: Option[Double],
      dupMultiplicity: Option[Double]): DataFrame = {
    import spark.implicits._
    val (m, p, parts, nodes) = open(spark, dir)
    val bcQueries = spark.sparkContext.broadcast(storedQueries(nodes, numQueries))
    val base = filteredBeam(p, beam, k)
    val mEff = if (base == Int.MaxValue) None else dupMultiplicity.orElse(m.dupMultiplicity)
    val beamF = FilteredSearchPlanner.autoBeam(base, selectivity, k, mEff)
    val allowByPart = allowed
      .select(route(col("vec_id"), parts).cast("int").as("part_id"), col("vec_id"))
      .as[(Int, Long)]
      .groupByKey(_._1)
    val partials = nodes.as[N].groupByKey(partOf _)
      .cogroup(allowByPart) { (_, nodeIt, allowIt) =>
        val rows = nodeIt.toArray
        if (rows.isEmpty) Iterator.empty
        else {
          val g = fromRows(rows, p)
          onLoad(g)
          val allowSet = allowIt.map(_._2).toSet
          val allow: Int => Boolean = node => allowSet.contains(g.ids(node))
          walkQueries(g, bcQueries.value, k, excludeSelf = true)(walkFiltered(g, _, k, beamF, allow))
        }
      }
    mergeTopK(partials, k)
  }

  /** `index.add` on a persisted index: route the batch with [[route]],
    * reload only the touched partitions' graphs, insert the new vectors
    * sorted by vec_id, and rewrite just those partitions through
    * [[IndexManifest.commitAdd]]: the rewritten graphs are staged and
    * published beside the old files, the manifest commits the new files
    * in place of the touched partitions' old ones together with the
    * grown row count ([[grownManifest]]), and only then are the old files
    * deleted — untouched partitions' files never move, and a serve reads
    * either the old graphs or the new ones. Like FAISS, the result is
    * insertion-order-dependent: A-then-B is not the fresh A∪B graph. */
  def addToIndex(newVectors: DataFrame, dir: String): Unit = {
    val spark = newVectors.sparkSession
    import spark.implicits._
    val (m, p, parts, nodes) = open(spark, dir)
    val routed = newVectors
      .select(route(col("vec_id"), parts).cast("int").as("part_id"), col("vec_id"), col("embedding"))
    val touched = routed.select(col("part_id")).distinct().collect().map(_.getInt(0))
    val existing = nodes.as[N]
      .filter(col("part_id").isin(touched.map(Int.box): _*))
      .groupByKey(partOf _)
    val adds = routed.as[(Int, Long, Array[Float])].groupByKey(_._1)
    // The staged write reads the old files lazily; none is deleted before
    // the commit, so the plan needs no materialization point. The
    // inserted count is exact: the cogroup runs once per partition, in
    // the write job's result stage.
    val inserted = spark.sparkContext.longAccumulator
    val rewritten = existing.cogroup(adds) { (pid, oldIt, newIt) =>
      val g = fromRows(oldIt.toArray, p)
      // idempotent by id: a replayed batch (a crash between the commit
      // and the ingest loop's marker) re-delivers vectors the graph
      // already holds — skip them so the replay is a no-op, not a
      // duplicate-node insert
      val have = g.ids.toSet
      newIt.toArray.sortBy(_._2).foreach { case (_, id, v) =>
        if (!have.contains(id)) { insert(g, id, v); inserted.add(1L) }
      }
      toRows(g, pid)
    }
    IndexManifest.commitAdd(spark, dir, m, "nodes", replacePartitions = true,
      commit = grownManifest(spark, dir, _, inserted.value))(
      rewritten.write.partitionBy("part_id").parquet(_))
  }

  /** Test/audit hook: reload every persisted graph driver-side (bounded
    * fixtures only). */
  def loadGraphsLocal(spark: SparkSession, dir: String): Map[Int, G] = {
    val (_, p, _, nodes) = open(spark, dir)
    nodes.as[N].collect().groupBy(partOf).map { case (pid, rows) => pid -> fromRows(rows, p) }
  }

  /** The manifest of a freshly written index. The corpus's near-dup
    * multiplicity rides in it so filtered serving can apply the k·m beam
    * floor with no manual knob, memoized per (corpus, seed) within the
    * JVM and handed the exact row count and dimension of the one shape
    * aggregate. The row count snapshots WHEN the estimate was taken, so
    * [[grownManifest]] can re-estimate once adds outgrow it. */
  private def graphManifest(params: Map[String, Double], parts: Int, embeddings: DataFrame,
      nodes: DataFrame): IndexManifest = {
    val (n, dim) = FilteredSearchPlanner.shapeOf(embeddings)
    IndexManifest(family,
      params = params + ("num_partitions" -> parts.toDouble),
      rows = Some(n), dim = Some(dim),
      dupMultiplicity = Some(FilteredSearchPlanner.estimateDupMultiplicityCached(
        embeddings, shape = Some((n, dim)))),
      rowsAtEstimate = Some(n),
      tables = Map("nodes" -> IndexManifest.writtenSchema(nodes, Some("part_id"))))
  }

  /** The manifest an add commits, given `m` with the add's file record:
    * the row count grows by exactly the `inserted` vectors (no listing or
    * count of the nodes), and once the index has grown
    * [[DupEstimateRefreshGrowth]] past the snapshot its `dup_multiplicity`
    * describes, the estimator re-runs UNCACHED over the new record's
    * stored vectors with the known n and dim, so only its aggregation
    * chain runs. A deployment that streams in a heavily replicated batch
    * thereby regains the k·m floor within one refresh interval. */
  private def grownManifest(spark: SparkSession, dir: String, m: IndexManifest,
      inserted: Long): IndexManifest = {
    val total = m.rows.get + inserted
    val grown = m.copy(rows = Some(total))
    if (total.toDouble < m.rowsAtEstimate.get * DupEstimateRefreshGrowth) grown
    else grown.copy(rowsAtEstimate = Some(total),
      dupMultiplicity = Some(FilteredSearchPlanner.estimateDupMultiplicity(
        m.table(spark, dir, "nodes").select(col("vec_id"), col("vec").as("embedding")),
        shape = Some((total, m.dim.get)))))
  }
}

private[operators] object GraphIndex {

  /** What the shared walk reads off either family's graph. */
  trait Graph { def ids: mutable.ArrayBuffer[Long] }

  /** The splitmix64 finalizer of `x` + the golden-ratio increment — the
    * deterministic stand-in for an RNG draw in both families' builds. */
  def splitmix64(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Squared L2 distance, accumulated in double — the one metric both
    * families build and walk with. */
  def l2(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
    s
  }

  /** Make every node of an `n`-node graph reachable from `root`,
    * structurally: BFS over `out`, and every node it misses gains a
    * direct root→node edge (ascending node order). Returns the edges
    * added — 0 on the connected graphs real data produces. */
  def patchReachability(n: Int, root: Int, out: Int => mutable.ArrayBuffer[Int]): Int = {
    if (n == 0 || root < 0) return 0
    val seen = mutable.BitSet(root)
    var frontier = List(root)
    while (frontier.nonEmpty) {
      val next = mutable.ListBuffer.empty[Int]
      frontier.foreach { u =>
        val nbrs = out(u)
        var i = 0
        while (i < nbrs.length) {
          val v = nbrs(i)
          if (!seen.contains(v)) { seen += v; next += v }
          i += 1
        }
      }
      frontier = next.toList
    }
    var added = 0
    var v = 0
    while (v < n) {
      if (!seen.contains(v)) { out(root) += v; added += 1 }
      v += 1
    }
    added
  }

  /** Growth past the estimate's row snapshot that makes an add re-run
    * the near-dup estimator. */
  val DupEstimateRefreshGrowth = 1.1

  /** `numPartitions`, or the session's default parallelism when ≤ 0. */
  def partitions(spark: SparkSession, numPartitions: Int): Int =
    if (numPartitions > 0) numPartitions else spark.sparkContext.defaultParallelism

  /** `(id, vec)` query rows, collected and sorted by id. */
  def collectQueries(df: DataFrame, id: String, vec: String): Array[(Long, Array[Float])] = {
    import df.sparkSession.implicits._
    df.select(col(id), col(vec)).as[(Long, Array[Float])].collect().sortBy(_._1)
  }

  /** The first `numQueries` corpus rows as self-search queries. */
  def selfQueries(embeddings: DataFrame, numQueries: Int): Array[(Long, Array[Float])] =
    collectQueries(embeddings.where(col("vec_id") < numQueries), "vec_id", "embedding")

  /** One graph walked for every query: self-exclusion, then the top `k`,
    * as `(query_id, vec_id, dist)`. */
  def walkQueries(g: Graph, queries: Array[(Long, Array[Float])], k: Int, excludeSelf: Boolean)(
      search: Array[Float] => Seq[(Double, Int)]): Iterator[(Long, Long, Double)] =
    queries.iterator.flatMap { case (qid, qv) =>
      search(qv)
        .filter { case (_, node) => !excludeSelf || g.ids(node) != qid }
        .take(k)
        .map { case (d, node) => (qid, g.ids(node), d) }
    }

  /** The A1 partial+final top-k merge every graph search shares, fresh,
    * persisted, filtered or swept: shard-local `(by…, query_id, vec_id,
    * dist)` partials ranked per `(by…, query_id)` on (dist, vec_id),
    * dist rounded to 4 places. The row-identity specs and the shared
    * oracles assume its tie-breaking and rounding never diverge between
    * forms. */
  def mergeTopK(partials: Dataset[_], k: Int, by: String*): DataFrame = {
    val keys = by.map(col)
    val w = Window.partitionBy(keys :+ col("query_id"): _*).orderBy(col("dist"), col("vec_id"))
    partials.toDF(by ++ Seq("query_id", "vec_id", "dist"): _*)
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(keys ++ Seq(col("query_id"), col("rank"), col("vec_id"),
        round(col("dist"), 4).as("dist")): _*)
      .orderBy(keys ++ Seq(col("query_id"), col("rank")): _*)
  }

  /** IVF probe selection over one driver-side graph (a coarse quantizer
    * over the centroids), broadcast and walked per query row:
    * `(query_id, qvec, cluster_id)`. */
  def probes[G <: Graph: ClassTag](queries: DataFrame, g: G, nprobe: Int)(
      search: (G, Array[Float]) => Seq[(Double, Int)]): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(g)
    queries.select(col("query_id"), col("qvec"))
      .as[(Long, Array[Float])]
      .mapPartitions { rows =>
        val graph = bc.value
        rows.flatMap { case (qid, qv) =>
          search(graph, qv).take(nprobe).map { case (_, node) => (qid, qv, graph.ids(node)) }
        }
      }
      .toDF("query_id", "qvec", "cluster_id")
  }
}
