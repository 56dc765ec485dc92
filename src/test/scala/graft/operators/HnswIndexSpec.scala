package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

class HnswIndexSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet").cache()

  test("HNSW recall@10 >= 0.9 vs exact FLAT at reference params") {
    val exact = KnnSearch.selfTopK(emb, numQueries = 8, k = 10)
      .select($"query_id", $"vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = HnswIndex.selfSearch(emb, numQueries = 8, k = 10, numPartitions = 4)
      .select($"query_id", $"vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ann intersect exact).size.toDouble / exact.size
    info(f"HNSW recall@10 = $recall%.3f")
    assert(recall >= 0.9)
  }

  test("sharded recall: bench-scale partition counts, gate >= 0.85 at 32 partitions") {
    // SCALE.md documents the sharded-HNSW tradeoff (more partitions =
    // smaller graphs, slightly lower per-graph recall); measure it at the
    // partition counts the bench actually runs with (selfSearch defaults
    // to defaultParallelism = 32 at local[32]) on the largest local table.
    val big = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet").cache()
    val exact = KnnSearch.selfTopK(big, numQueries = 16, k = 10)
      .select($"query_id", $"vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val measured = Seq(4, 16, 32).map { parts =>
      val ann = HnswIndex.selfSearch(big, numQueries = 16, k = 10, numPartitions = parts)
        .select($"query_id", $"vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (ann intersect exact).size.toDouble / exact.size
      info(f"HNSW recall@10 at $parts%2d partitions = $recall%.3f")
      parts -> recall
    }
    big.unpersist()
    assert(measured.toMap.apply(32) >= 0.85)
  }

  test("HNSW coarse quantizer: IVF search with graph-walk probes matches exact-probe IVF") {
    // the FAISS IVF*_HNSW* recipe: same candidate scan + top-k, only
    // probe selection differs — gate the composed result against the
    // exact-argmin IVF at identical (nlist, nprobe)
    val cents = IvfIndex.trainCentroids(emb, nlist = 16)
    val assignments = IvfIndex.assign(emb, cents)
    val q = emb.where($"vec_id" < 8)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactProbe = ids(IvfIndex.search(q, cents, assignments, nprobe = 4, k = 10,
      excludeSelf = true))
    val hnswProbe = ids(HnswIndex.searchIvfHnsw(q, cents, assignments, nprobe = 4,
      k = 10, excludeSelf = true))
    val agree = (hnswProbe intersect exactProbe).size.toDouble / exactProbe.size
    info(f"IVF_HNSW vs exact-probe IVF result agreement = $agree%.3f")
    assert(agree >= 0.9, "graph-walk probe selection must track the exact argmin")
    // deterministic
    val again = ids(HnswIndex.searchIvfHnsw(q, cents, assignments, nprobe = 4,
      k = 10, excludeSelf = true))
    assert(again == hnswProbe)
  }

  test("persisted index: search-after-load hash-matches the fresh build, zero insert work") {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_hnsw_spec_idx"
    HnswIndex.writeIndex(emb, dir, numPartitions = 4)
    val fresh = HnswIndex.selfSearch(emb, numQueries = 8, k = 10, numPartitions = 4)
      .collect().map(_.toString).toSeq
    val persisted = HnswIndex.selfSearchPersisted(spark, dir, numQueries = 8, k = 10)
      .collect().map(_.toString).toSeq
    // same hash partitioning + same sorted insertion order ⇒ identical
    // graphs ⇒ row-identical results, not merely recall-equivalent
    assert(persisted == fresh)
    // the load path fills arrays directly — no graph-build work at all
    val graphs = HnswIndex.loadGraphsLocal(spark, dir)
    assert(graphs.nonEmpty)
    assert(graphs.values.forall(_.insertCalls == 0),
      "loading a persisted graph must not re-insert")
    assert(graphs.values.map(_.ids.length).sum.toLong == emb.count())
    // entry derivation: each loaded graph's entry is the first node at
    // its max level, matching the insert-time ratchet
    graphs.values.foreach { g =>
      assert(g.maxLevel == g.levels.max && g.entry == g.levels.indexOf(g.maxLevel))
    }
  }

  test("addToIndex: routing matches the build partitioner, added vectors searchable, only touched partitions rewritten") {
    // one row per graph family: (name, write, add, per-partition sorted
    // ids of the stored graphs, serve, persisted self-search)
    def members(graphs: Map[Int, GraphIndex.Graph]) =
      graphs.map { case (pid, g) => pid -> g.ids.toSeq.sorted }
    Seq[(String, (DataFrame, String) => Unit, (DataFrame, String) => Unit,
        String => Map[Int, Seq[Long]], (DataFrame, String) => DataFrame, String => DataFrame)](
      ("hnsw", HnswIndex.writeIndex(_, _, numPartitions = 4), HnswIndex.addToIndex,
        d => members(HnswIndex.loadGraphsLocal(spark, d)), HnswIndex.searchPersisted(_, _, k = 1),
        HnswIndex.selfSearchPersisted(spark, _, numQueries = 4, k = 5)),
      ("vamana", VamanaIndex.writeIndex(_, _, numPartitions = 4), VamanaIndex.addToIndex,
        d => members(VamanaIndex.Graphs.loadGraphsLocal(spark, d)), VamanaIndex.searchPersisted(_, _, k = 1),
        VamanaIndex.selfSearchPersisted(spark, _, numQueries = 4, k = 5))
    ).foreach { case (family, write, add, ids, serve, selfSearch) =>
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_${family}_spec_add"
      val freshDir = s"${System.getProperty("java.io.tmpdir")}/graft_${family}_spec_add_fresh"
      write(emb.where($"vec_id" < 400), dir)
      add(emb.where($"vec_id" >= 400), dir)
      write(emb, freshDir)
      val merged = ids(dir)
      val fresh = ids(freshDir)
      // the add batch must route to exactly the partitions the build's
      // partitioner would have chosen — per-partition id MEMBERSHIP
      // equals a fresh build over the union (graph EDGES may differ: add
      // is insertion-order-dependent, like FAISS)
      assert(merged.keySet == fresh.keySet, family)
      merged.keySet.foreach { pid =>
        assert(merged(pid) == fresh(pid), s"$family partition $pid membership")
      }
      assert(merged.values.map(_.size).sum == 500, family)
      // an added vector is found at distance 0
      val q = emb.where($"vec_id" === 450).select($"vec_id".as("query_id"), $"embedding".as("qvec"))
      val hit = serve(q, dir).head()
      assert(hit.getAs[Long]("vec_id") == 450L && hit.getAs[Double]("dist") == 0.0, family)
      // and the persisted self-search still answers over the grown index
      assert(selfSearch(dir).count() == 20, family)
    }
  }

  test("searchPersisted: external queries answered over the stored graphs") {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_hnsw_spec_ext"
    HnswIndex.writeIndex(emb, dir, numPartitions = 4)
    // external queries that happen to BE corpus vectors: every query's
    // rank-1 hit must be its own row at distance 0 (no self-exclusion on
    // the serving path)
    val q = emb.where($"vec_id" < 6)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val res = HnswIndex.searchPersisted(q, dir, k = 5).cache()
    assert(res.groupBy($"query_id").count().collect().forall(_.getLong(1) == 5))
    val rank1 = res.where($"rank" === 1).collect()
    assert(rank1.length == 6)
    rank1.foreach { r =>
      assert(r.getAs[Long]("vec_id") == r.getAs[Long]("query_id") &&
        r.getAs[Double]("dist") == 0.0)
    }
    // consistency with the self-search path: dropping the self hit and
    // re-ranking reproduces selfSearchPersisted's neighbor sets
    val ext = res.where($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val self = HnswIndex.selfSearchPersisted(spark, dir, numQueries = 6, k = 4)
      .select($"query_id", $"vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(self == ext)
    res.unpersist()
  }

  test("persisted coarse quantizer: probes and composed search match the driver-built graph") {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_hnsw_spec_coarse"
    val cents = IvfIndex.trainCentroids(emb, nlist = 16)
    val assignments = IvfIndex.assign(emb, cents)
    val q = emb.where($"vec_id" < 8)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    HnswIndex.writeCoarseIndex(spark, cents, dir)
    val fresh = HnswIndex.coarseProbes(q, cents, nprobe = 4)
      .select($"query_id", $"cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val loaded = HnswIndex.coarseProbesPersisted(q, dir, nprobe = 4)
      .select($"query_id", $"cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(loaded == fresh)
    val composed = IvfIndex.searchWithProbes(
      HnswIndex.coarseProbesPersisted(q, dir, nprobe = 4), assignments,
      k = 10, excludeSelf = true)
      .select($"query_id", $"vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val reference = HnswIndex.searchIvfHnsw(q, cents, assignments, nprobe = 4,
      k = 10, excludeSelf = true)
      .select($"query_id", $"vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(composed == reference)
  }

  test("output shape: k rows per query, ranked, self excluded, deterministic") {
    val a = HnswIndex.selfSearch(emb, numQueries = 4, k = 5, numPartitions = 4).collect()
    val b = HnswIndex.selfSearch(emb, numQueries = 4, k = 5, numPartitions = 4).collect()
    assert(a.length == 20)
    assert(!a.exists(r => r.getAs[Long]("query_id") == r.getAs[Long]("vec_id")))
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
  }

  test("filtered search: exact under a selective predicate at ef >= n; never returns disallowed nodes") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val exact = KnnSearch.topK(
        emb.where($"vec_id" < 8).select($"vec_id".as("query_id"), $"embedding".as("qvec")),
        emb.where($"label" < 2).select($"vec_id", $"embedding".as("vec")),
        k = 5, excludeSelf = true)
      .select($"query_id", $"rank", $"vec_id").collect().map(_.toSeq).toSeq
    val got = HnswIndex.selfSearchFiltered(emb, $"label" < 2, numQueries = 8,
        k = 5, numPartitions = 4, efFiltered = 256)
      .select($"query_id", $"rank", $"vec_id").collect().map(_.toSeq).toSeq
    assert(got == exact, "ef >= partition size must give the exact filtered top-k")
    val allowed = emb.where($"label" < 2).select($"vec_id").as[Long].collect().toSet
    val approx = HnswIndex.selfSearchFiltered(emb, $"label" < 2, numQueries = 8,
        k = 5, numPartitions = 4, efFiltered = 8)
      .select($"vec_id").as[Long].collect()
    assert(approx.forall(allowed.contains), "filtered search must only emit allowed nodes")
  }

  test("selfSearchExact equals brute-force FLAT at any partition count") {
    // the q_hnsw_knn contract: entry-seeded walk over reachability-
    // patched graphs at ef = partition size is structurally exact, so
    // the result is partition-invariant and equals the FLAT oracle
    val exact = KnnSearch.selfTopK(emb, numQueries = 8, k = 10)
      .collect().map(_.toString).toSeq
    Seq(3, 8).foreach { parts =>
      val walk = HnswIndex.selfSearchExact(emb, numQueries = 8, k = 10,
          numPartitions = parts)
        .collect().map(_.toString).toSeq
      assert(walk == exact, s"exhaustive walk at $parts partitions must equal FLAT")
    }
  }

  test("selfSearchPersistedExact: stored-rows exhaustive walk equals brute-force FLAT") {
    // the q_hnsw_persisted contract (r9 verdict item 3): the load-time
    // reachability patch + entry-seeded ef = shard-size walk make the
    // S4→S3 round-trip structurally exact, so it shares the FLAT oracle
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_hnsw_spec_pexact"
    HnswIndex.writeIndex(emb, dir, numPartitions = 4)
    val exact = KnnSearch.selfTopK(emb, numQueries = 8, k = 10)
      .collect().map(_.toString).toSeq
    val walk = HnswIndex.selfSearchPersistedExact(spark, dir, numQueries = 8, k = 10)
      .collect().map(_.toString).toSeq
    assert(walk == exact)
  }

  test("selfSearchFilteredPersisted: served walk row-identical to the fresh filtered build; only allowed nodes") {
    // the q_hnsw_filtered_knn serving shape (r9 verdict item 1): the
    // once-persisted unfiltered graphs answer the filtered walk — at
    // ef >= shard size both forms are the exact filtered top-k, so the
    // served read must be row-identical to the per-call build it replaces
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_hnsw_spec_pfilt"
    HnswIndex.writeIndex(emb, dir, numPartitions = 4)
    val allowedDf = emb.where($"label" < 2).select($"vec_id")
    val fresh = HnswIndex.selfSearchFiltered(emb, $"label" < 2, numQueries = 8,
        k = 5, numPartitions = 4, efFiltered = 256)
      .collect().map(_.toString).toSeq
    val served = HnswIndex.selfSearchFilteredPersisted(spark, dir, allowedDf,
        numQueries = 8, k = 5, efFiltered = 256)
      .collect().map(_.toString).toSeq
    assert(served == fresh)
    // production beam (ef << n) trades recall but must never leak a
    // disallowed node through the cogrouped allow set
    val allowed = allowedDf.as[Long].collect().toSet
    val approx = HnswIndex.selfSearchFilteredPersisted(spark, dir, allowedDf,
        numQueries = 8, k = 5, efFiltered = 8)
      .select($"vec_id").as[Long].collect()
    assert(approx.forall(allowed.contains))
  }

  test("efSearch sweep: monotone recall, saturates by rung 64; rung 64 row-identical to selfSearchPersisted") {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_hnsw_spec_sweep"
    HnswIndex.writeIndex(emb, dir, numPartitions = 4)
    val efs = Seq(2, 4, 8, 64)
    val all = HnswIndex.selfSearchPersistedSweep(spark, dir,
      numQueries = 8, k = 10, efs = efs).cache()
    val exact = KnnSearch.selfTopK(emb, numQueries = 8, k = 10)
      .select($"query_id", $"vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = efs.map { ef =>
      val got = all.where($"ef_search" === ef)
        .select($"query_id", $"vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val h = (got intersect exact).size
      info(s"efSearch=$ef: n_hit=$h/${exact.size}")
      ef -> h
    }
    // the q_hnsw_sweep dashboard contract: recall never decreases as the
    // beam widens, and the production default (64 ≥ shard top-k need)
    // sits at the saturated end
    hits.sliding(2).foreach { case Seq((e1, h1), (e2, h2)) =>
      assert(h1 <= h2, s"recall must be monotone in ef ($e1:$h1 > $e2:$h2)")
    }
    // rung 64 is the selfSearchPersisted walk, row for row (same graphs,
    // same ef, same merge) — the sweep adds a column, not a new path
    val rung = all.where($"ef_search" === 64)
      .select($"query_id", $"rank", $"vec_id", $"dist")
      .collect().map(_.toString).toSeq
    val single = HnswIndex.selfSearchPersisted(spark, dir, numQueries = 8,
        k = 10, efSearch = 64)
      .collect().map(_.toString).toSeq
    assert(rung == single)
  }
}
