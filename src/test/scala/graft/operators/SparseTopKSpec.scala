package graft

import org.apache.spark.sql.functions._

import graft.operators.{Bm25, SparseTopK}

/** Fagin's TA must be an exact early termination: its top-k equals
  * exhaustive BM25 scoring for every query, and for selective queries
  * the sorted access actually stops early (the pruning audit). */
class SparseTopKSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sf0001/documents.parquet")
  private lazy val index = SparseTopK.buildImpactIndex(docs).localCheckpoint(true)

  private def exhaustive(terms: Seq[String], k: Int): Seq[(Long, Long)] =
    Bm25.rank(docs, terms, topN = k)
      .select(col("doc_id"), round(col("score"), 6).as("score"))
      .collect()
      .zipWithIndex
      .map { case (r, i) => (i + 1L, r.getAs[Long]("doc_id")) }
      .toSeq

  private def ta(terms: Seq[String], k: Int): Seq[(Long, Long)] =
    SparseTopK.taTopK(index, terms, k)
      .select(col("rank"), col("doc_id"))
      .as[(Long, Long)].collect().toSeq

  test("TA equals exhaustive scoring across query shapes") {
    for ((terms, k) <- Seq(
        (Seq("merge", "vector", "batch", "slow", "spark"), 15),
        (Seq("join", "hash", "filter", "scan"), 20),
        (Seq("vector"), 5),                       // single-term: prefix IS the answer
        (Seq("join", "zzz_not_in_vocab"), 10))) { // vanished term contributes nothing
      assert(ta(terms, k) == exhaustive(terms, k), s"terms=$terms k=$k")
    }
  }

  test("scores hash-match the exhaustive fold bit-for-bit") {
    val terms = Seq("merge", "vector", "batch", "slow", "spark")
    val taScores = SparseTopK.taTopK(index, terms, 15)
      .select(col("doc_id"), col("score")).as[(Long, Double)].collect().toMap
    val full = Bm25.rank(docs, terms, topN = 15)
      .select(col("doc_id"), round(col("score"), 6).as("score"))
      .as[(Long, Double)].collect().toMap
    assert(taScores == full)
  }

  test("sorted access terminates early on a selective query (pruning audit)") {
    val (_, stats) = SparseTopK.taTopKWithStats(index, Seq("vector", "spark"), 5)
    assert(stats.postingsRead < stats.queryPostings,
      s"TA read ${stats.postingsRead} of ${stats.queryPostings} query postings — no pruning")
    assert(stats.prefixDepth < stats.queryPostings)
  }

  test("persisted bucket-pruned index searches identically to the in-memory form") {
    val dir = java.nio.file.Files.createTempDirectory("taidx").toString
    SparseTopK.writeIndex(index, dir, numBuckets = 8)
    val terms = Seq("merge", "vector", "batch", "slow", "spark")
    val mem = SparseTopK.taTopK(index, terms, 15).collect().map(_.toSeq).toSeq
    val per = SparseTopK.taTopKPersisted(spark, dir, terms, 15)
      .collect().map(_.toSeq).toSeq
    assert(per == mem)
  }

  test("build-time bucket rule: numBuckets scales with total postings, persists in the meta, and the serve reads it by name") {
    // default target (500k/bucket) keeps a small corpus at the 16 floor
    val dir16 = java.nio.file.Files.createTempDirectory("taidx_auto").toString
    SparseTopK.writeIndex(index, dir16)
    val total = index.count()
    val m16 = SparseTopK.manifest(spark, dir16)
    assert(m16.numBuckets.contains(16) && m16.totalPostings.contains(total))
    // a tiny per-bucket target forces the rule past the floor: buckets
    // must be the next power of two ≥ postings/target (clamped), the
    // meta must carry it, and the serve — given NO bucket knob — must
    // still match the in-memory walk row-for-row
    val dirN = java.nio.file.Files.createTempDirectory("taidx_scaled").toString
    SparseTopK.writeIndex(index, dirN, targetPostingsPerBucket = 50L)
    val nbN = SparseTopK.manifest(spark, dirN).numBuckets.get
    assert(nbN > 16, s"rule did not scale: $nbN")
    assert(Integer.bitCount(nbN) == 1, "bucket count must be a power of two")
    assert(nbN >= (total + 49) / 50 && nbN <= 4096)
    val terms = Seq("merge", "vector", "batch", "slow", "spark")
    val mem = SparseTopK.taTopK(index, terms, 15).collect().map(_.toSeq).toSeq
    val per = SparseTopK.taTopKPersisted(spark, dirN, terms, 15)
      .collect().map(_.toSeq).toSeq
    assert(per == mem)
  }

  test("_termstats sidecar carries exact power-of-two rung impacts (the serve-time tails)") {
    val dir = java.nio.file.Files.createTempDirectory("taidx_stats").toString
    SparseTopK.writeIndex(index, dir)
    val stats = spark.read.parquet(s"$dir/_termstats")
      .select(col("term"), col("len"), explode(col("ladder")).as("rung"))
      .select(col("term"), col("len"), col("rung.r").as("r"), col("rung.impact").as("impact"))
    val rows = stats.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val rank = r.getAs[Long]("r")
      assert(java.lang.Long.bitCount(rank) == 1, s"non-pow2 rung $rank")
      assert(rank <= r.getAs[Long]("len"))
    }
    // every rung impact equals the index's impact at that (term, rank)
    val fromIdx = index.select(col("term"), col("impact_rank").as("r"), col("impact"))
    val joined = stats.as("s").join(fromIdx.as("i"), Seq("term", "r"))
      .where(col("s.impact") =!= col("i.impact"))
    assert(joined.count() == 0, "stored rung impact diverges from the index")
    // and per term, every pow2 rank ≤ len is present (no missing rung
    // the ladder walk could query)
    val missing = spark.read.parquet(s"$dir/_termstats")
      .select(col("term"), col("len"), size(col("ladder")).as("nr"))
      .where(col("nr") =!= (floor(log(2.0, col("len").cast("double"))) + 1))
    assert(missing.count() == 0, "a term is missing a power-of-two rung")
  }

  test("batch TA: one plan over a query-terms table equals per-query single-query TA") {
    val queries = Seq(
      0L -> Seq("merge", "vector", "batch", "slow", "spark"),
      1L -> Seq("join", "hash", "filter", "scan"),
      2L -> Seq("vector"),
      3L -> Seq("join", "zzz_not_in_vocab"))
    val qt = queries.flatMap { case (q, ts) => ts.map(q -> _) }
      .toDF("query_id", "term")
    val k = 12
    val got = SparseTopK.taTopKBatch(index, qt, k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score"))
      .as[(Long, Long, Long, Double)].collect().toSeq
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3, t._4)).sortBy(_._1)).toMap
    queries.foreach { case (qid, terms) =>
      val single = SparseTopK.taTopK(index, terms, k)
        .select(col("rank"), col("doc_id"), col("score"))
        .as[(Long, Long, Double)].collect().toSeq.sortBy(_._1)
      assert(got.getOrElse(qid, Nil) == single, s"query $qid diverges from single-query TA")
    }
  }

  test("batch TA: per-query depths diverge and pruning holds per query (batch audit)") {
    val qt = Seq(
      0L -> "merge", 0L -> "vector", 0L -> "batch", 0L -> "slow", 0L -> "spark",
      1L -> "vector", 1L -> "spark").toDF("query_id", "term")
    val (df, stats) = SparseTopK.taTopKBatchWithStats(index, qt, k = 5)
    df.collect() // materialize once
    // the selective two-term query must terminate before exhausting its
    // sorted access — the same guarantee the single-query audit pins
    val s1 = stats(1L)
    assert(s1.postingsRead < s1.queryPostings,
      s"query 1 read ${s1.postingsRead} of ${s1.queryPostings} — no pruning")
    // and its stopping rule is the single-query walk verbatim
    val (_, single) = SparseTopK.taTopKWithStats(index, Seq("vector", "spark"), 5)
    assert(s1.depth == single.prefixDepth && s1.postingsRead == single.postingsRead,
      s"batch walk for query 1 (${s1}) diverges from the single-query walk ($single)")
  }

  test("exhausted lists degrade to exact exhaustive scoring (k > matches)") {
    // a term so rare the lists exhaust before theta > tau can separate
    val rare = index.groupBy(col("term")).count()
      .orderBy(col("count"), col("term")).select(col("term")).as[String].head()
    val k = 50
    assert(ta(Seq(rare), k) == exhaustive(Seq(rare), k))
  }

  test("prune-bypass: a slow-decay corpus takes the no-semi-join final job with identical rows") {
    // replica-style corpus: every doc is a near-copy sharing the same
    // terms, so per-term impacts decay slowly and the terminating prefix
    // covers ≈ the whole list — the regime where the r13 final-job plan
    // switch (PruneSkipRatio) drops the candidate semi join. Exactness
    // is TA's certificate; this pins it on the bypass branch.
    val repl = (0L until 400L).map { i =>
      (i, s"alpha beta gamma delta w$i")
    }.toDF("doc_id", "text")
    val rIdx = SparseTopK.buildImpactIndex(repl).localCheckpoint(true)
    val terms = Seq("alpha", "beta", "gamma")
    val (got, stats) = SparseTopK.taTopKWithStats(rIdx, terms, 10)
    // the audit proves the walk is in the bypass regime
    assert(stats.postingsRead.toDouble / stats.queryPostings >= 0.5,
      s"fixture no longer slow-decay: read=${stats.postingsRead} of ${stats.queryPostings}")
    val exp = Bm25.rank(repl, terms, topN = 10)
      .select(col("doc_id"), round(col("score"), 6).as("score"))
      .collect().zipWithIndex
      .map { case (r, i) => (i + 1L, r.getAs[Long]("doc_id"), r.getAs[Double]("score")) }
      .toSeq
    val gotRows = got.select(col("rank"), col("doc_id"), col("score"))
      .as[(Long, Long, Double)].collect().toSeq
    assert(gotRows == exp)
    // batch twin: the same corpus through the batched walk's bypass
    val qt = Seq((7L, "alpha"), (7L, "beta"), (7L, "gamma")).toDF("query_id", "term")
    val batch = SparseTopK.taTopKBatch(rIdx, qt, 10)
      .select(col("rank"), col("doc_id"), col("score"))
      .as[(Long, Long, Double)].collect().toSeq
    assert(batch == exp)
  }

  test("deep-regime UB prune: fast-decay and tie-heavy corpora take the upper-bound branch with exact rows") {
    // fast-decay corpus: one shared term whose impact decays with doc
    // length, so the ladder terminates at a prefix covering ≪ half the
    // postings — the branch where the r13 Fagin random-access bound
    // prunes candidates before the full-scoring join
    def check(docs: org.apache.spark.sql.DataFrame, terms: Seq[String], k: Int): Unit = {
      val idx = SparseTopK.buildImpactIndex(docs).localCheckpoint(true)
      val (got, stats) = SparseTopK.taTopKWithStats(idx, terms, k)
      assert(stats.postingsRead.toDouble / stats.queryPostings < 0.5,
        s"fixture not in the deep regime: ${stats.postingsRead}/${stats.queryPostings}")
      val exp = Bm25.rank(docs, terms, topN = k)
        .select(col("doc_id"), round(col("score"), 6).as("score"))
        .collect().zipWithIndex
        .map { case (r, i) => (i + 1L, r.getAs[Long]("doc_id"), r.getAs[Double]("score")) }
        .toSeq
      val gotRows = got.select(col("rank"), col("doc_id"), col("score"))
        .as[(Long, Long, Double)].collect().toSeq
      assert(gotRows == exp)
      // batched twin: the same deep regime through the per-query UB path
      val qt = terms.map(t => (9L, t)).toDF("query_id", "term")
      val batch = SparseTopK.taTopKBatch(idx, qt, k)
        .select(col("rank"), col("doc_id"), col("score"))
        .as[(Long, Long, Double)].collect().toSeq
      assert(batch == exp, "batch walk must match through the UB branch")
    }
    val decay = (1L to 400L).map { i =>
      (i, ("common" +: (1L to i).map(j => s"u${i}_$j")).mkString(" "))
    }.toDF("doc_id", "text")
    check(decay, Seq("common"), k = 5)
    // tie-heavy corpus: 100 exact replicas make the bound TIGHT
    // (UB == θ for every in-prefix replica) — the equal-impact edge the
    // 1e-9 slack exists for; the remaining docs decay as above
    val ties = ((1L to 100L).map(i => (i, "common aa bb cc")) ++
      (101L to 400L).map { i =>
        (i, ("common" +: (1L to (i - 100L)).map(j => s"u${i}_$j")).mkString(" "))
      }).toDF("doc_id", "text")
    check(ties, Seq("common"), k = 5)
  }

  test("mixed-regime batch: each query takes its OWN final-job branch and matches its single-query walk") {
    // one corpus, two regimes (r13 verdict "what's wrong" 1): query 0's
    // terms live on replica docs (slow decay — terminating prefix covers
    // its lists → bypass), query 1's term decays fast (deep → UB prune).
    // The r13 batch-global ratio forced ONE branch for both; the
    // per-query split must route each through its own regime and still
    // equal the single-query results exactly.
    val mixed = ((0L until 400L).map(i => (i, s"alpha beta gamma delta w$i")) ++
      (1001L to 1400L).map { i =>
        (i, ("common" +: (1L to (i - 1000L)).map(j => s"u${i}_$j")).mkString(" "))
      }).toDF("doc_id", "text")
    val mIdx = SparseTopK.buildImpactIndex(mixed).localCheckpoint(true)
    val qt = (Seq("alpha", "beta", "gamma").map(0L -> _) ++ Seq(1L -> "common"))
      .toDF("query_id", "term")
    val k = 7
    val (batch, stats) = SparseTopK.taTopKBatchWithStats(mIdx, qt, k)
    val got = batch
      .select(col("query_id"), col("rank"), col("doc_id"), col("score"))
      .as[(Long, Long, Long, Double)].collect().toSeq
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3, t._4)).sortBy(_._1)).toMap
    // the fixture is genuinely mixed: the two queries sit on opposite
    // sides of PruneSkipRatio (coverage = certificate prefix / postings)
    val cov0 = stats(0L).postingsRead.toDouble / stats(0L).queryPostings
    val cov1 = stats(1L).postingsRead.toDouble / stats(1L).queryPostings
    assert(cov0 >= 0.5, s"query 0 no longer slow-decay (coverage $cov0)")
    assert(cov1 < 0.5, s"query 1 no longer deep-regime (coverage $cov1)")
    for ((qid, terms) <- Seq(0L -> Seq("alpha", "beta", "gamma"), 1L -> Seq("common"))) {
      val single = SparseTopK.taTopK(mIdx, terms, k)
        .select(col("rank"), col("doc_id"), col("score"))
        .as[(Long, Long, Double)].collect().toSeq.sortBy(_._1)
      assert(got.getOrElse(qid, Nil) == single,
        s"mixed-regime query $qid diverges from its single-query walk")
    }
  }

  test("persisted batch serve (stored tails, bucket-pruned) is row-identical to the in-memory batch walk — mixed regimes included") {
    // the mixed fixture again: one bypass-regime query, one deep-regime
    // query — the persisted walk reads its tails from `_termstats`
    // (pow2 rungs, no tails job) and bucket-prunes the scan, and must
    // still match the in-memory batch walk row-for-row on both regimes
    val mixed = ((0L until 400L).map(i => (i, s"alpha beta gamma delta w$i")) ++
      (1001L to 1400L).map { i =>
        (i, ("common" +: (1L to (i - 1000L)).map(j => s"u${i}_$j")).mkString(" "))
      }).toDF("doc_id", "text")
    val mIdx = SparseTopK.buildImpactIndex(mixed)
    val dir = java.nio.file.Files.createTempDirectory("taidx_batch").toString
    SparseTopK.writeIndex(mIdx, dir)
    val qt = (Seq("alpha", "beta", "gamma").map(0L -> _) ++ Seq(1L -> "common"))
      .toDF("query_id", "term")
    val mem = SparseTopK.taTopKBatch(spark.read.parquet(dir), qt, 7)
      .collect().map(_.toSeq).toSeq
    val per = SparseTopK.taTopKBatchPersisted(spark, dir, qt, 7)
      .collect().map(_.toSeq).toSeq
    assert(per == mem)
    // and on the standard corpus fixture (multi-term, multi-query)
    val dir2 = java.nio.file.Files.createTempDirectory("taidx_batch2").toString
    SparseTopK.writeIndex(index, dir2)
    val qt2 = (Seq("merge", "vector", "batch", "slow", "spark").map(0L -> _) ++
      Seq("join", "hash", "filter", "scan").map(1L -> _)).toDF("query_id", "term")
    val mem2 = SparseTopK.taTopKBatch(spark.read.parquet(dir2), qt2, 10)
      .collect().map(_.toSeq).toSeq
    val per2 = SparseTopK.taTopKBatchPersisted(spark, dir2, qt2, 10)
      .collect().map(_.toSeq).toSeq
    assert(per2 == mem2)
  }

  test("driver-side bucket hash equals the write-time pmod(xxhash64) expression") {
    // the serve resolves bucket directories with Spark's own XxHash64
    // expression evaluated in-process (zero jobs, r15); it must agree
    // with the SQL expression writeIndex partitions by for ANY term
    val terms = docs
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("term"))
      .distinct().limit(500).as[String].collect().toSeq ++
      Seq("", "a", "zzz_not_in_vocab", "ünïcödé-ストリング", "\ttab\nnl")
    for (nb <- Seq(8, 16, 4096)) {
      val viaSql = terms.toDF("term")
        .select(col("term"), pmod(xxhash64(col("term")), lit(nb.toLong)).as("b"))
        .as[(String, Long)].collect().toMap
      terms.foreach { t =>
        assert(SparseTopK.bucketOfTerm(t, nb) == viaSql(t),
          s"bucket mismatch for '$t' at nb=$nb")
      }
    }
  }

  test("checkpoint floor: the no-checkpoint serve shape is row-identical to the forced-checkpoint shape") {
    // r15 gate: small working sets serve straight off the bucket-pruned
    // parquet scan (no materialization job); this forces BOTH shapes on
    // the same fixture and pins row identity — single-query and batch
    val dir = java.nio.file.Files.createTempDirectory("taidx_floor").toString
    SparseTopK.writeIndex(index, dir)
    val terms = Seq("merge", "vector", "batch", "slow", "spark")
    val qt = (terms.map(0L -> _) ++
      Seq("join", "hash", "filter", "scan").map(1L -> _)).toDF("query_id", "term")
    def bothShapes[T](run: => T): (T, T) = {
      val prop = "graft.ta.serveFloorPostings"
      System.setProperty(prop, Long.MaxValue.toString) // never checkpoint
      val skip = try run finally System.clearProperty(prop)
      System.setProperty(prop, "0") // always checkpoint
      val ckpt = try run finally System.clearProperty(prop)
      (skip, ckpt)
    }
    val (s1, c1) = bothShapes(
      SparseTopK.taTopKPersisted(spark, dir, terms, 15).collect().map(_.toSeq).toSeq)
    assert(s1 == c1, "single-query serve diverges across the checkpoint gate")
    val (s2, c2) = bothShapes(
      SparseTopK.taTopKBatchPersisted(spark, dir, qt, 10).collect().map(_.toSeq).toSeq)
    assert(s2 == c2, "batch serve diverges across the checkpoint gate")
  }

  test("deep-serve head mode: the p_ub-truncated working set serves row-identically to the full checkpoint — single and batch") {
    // r15 block prune: the stored rung impacts bound the walk's depth
    // driver-side, so the checkpoint materializes only the
    // impact_rank ≤ p_ub head while exact folds read the lazy full set.
    // Force the BIG regime (floor 0) and flip the head gate both ways
    // on the same fixture: frac 1.0 = head mode whenever the bound
    // exists, frac 0.0 = never (the r14 full-checkpoint shape). Rows
    // must be identical, and both must equal the in-memory walk.
    val dir = java.nio.file.Files.createTempDirectory("taidx_head").toString
    SparseTopK.writeIndex(index, dir)
    val terms = Seq("merge", "vector", "batch", "slow", "spark")
    val qt = (terms.map(0L -> _) ++
      Seq("join", "hash", "filter", "scan").map(1L -> _)).toDF("query_id", "term")
    def withProps[T](frac: String)(run: => T): T = {
      System.setProperty("graft.ta.serveFloorPostings", "0")
      System.setProperty("graft.ta.headMaxFrac", frac)
      try run finally {
        System.clearProperty("graft.ta.serveFloorPostings")
        System.clearProperty("graft.ta.headMaxFrac")
      }
    }
    val headS = withProps("1.0")(
      SparseTopK.taTopKPersisted(spark, dir, terms, 15).collect().map(_.toSeq).toSeq)
    val fullS = withProps("0.0")(
      SparseTopK.taTopKPersisted(spark, dir, terms, 15).collect().map(_.toSeq).toSeq)
    assert(headS == fullS, "single-query serve diverges across the head gate")
    assert(headS == SparseTopK.taTopK(index, terms, 15).collect().map(_.toSeq).toSeq,
      "head-mode serve diverges from the in-memory walk")
    val headB = withProps("1.0")(
      SparseTopK.taTopKBatchPersisted(spark, dir, qt, 10).collect().map(_.toSeq).toSeq)
    val fullB = withProps("0.0")(
      SparseTopK.taTopKBatchPersisted(spark, dir, qt, 10).collect().map(_.toSeq).toSeq)
    assert(headB == fullB, "batch serve diverges across the head gate")
  }

  test("tf cache is a single reused process artifact: same-corpus rebuilds pin nothing new; release unpersists") {
    import org.apache.spark.storage.StorageLevel
    // The memo slot and the cache manager are JVM-global and OTHER
    // suites run in parallel in this JVM (a concurrent different-corpus
    // buildImpactIndex swaps the slot and unpersists our entry — the
    // intended single-slot semantics), so observe the racy properties
    // under a bounded retry: interference must not fail the spec, but
    // three consecutive failures of the reuse contract itself must.
    // A corpus plan unique to this test keeps other suites' equal-plan
    // reuse out of the picture.
    val myDocs = docs.where(col("doc_id") >= 0)
    // the cached artifact is the tf table WITH the len/df window stats
    // attached (r15 — paid once at materialization, not per build call)
    val wDoc = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    val wTerm = org.apache.spark.sql.expressions.Window.partitionBy(col("term"))
    val tfPlan = myDocs
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("len", sum(col("tf")).over(wDoc).cast("long"))
      .withColumn("df", count(lit(1)).over(wTerm))
    val observed = (1 to 3).exists { _ =>
      SparseTopK.buildImpactIndex(myDocs).count()
      val seenAfterFirst = tfPlan.storageLevel != StorageLevel.NONE
      val before = spark.sparkContext.getPersistentRDDs.size
      // same-corpus rebuild must REUSE the entry (plan equality), not
      // register a second corpus-scale cached table — r10's q_ta_topk
      // regression was exactly this reuse being destroyed
      SparseTopK.buildImpactIndex(myDocs).count()
      seenAfterFirst &&
        tfPlan.storageLevel != StorageLevel.NONE &&
        spark.sparkContext.getPersistentRDDs.size <= before
    }
    assert(observed,
      "same-corpus rebuild never reused the tf cache entry (3 attempts)")
    // explicit lifecycle hook drops it (race-free direction: releasing
    // our own just-registered entry)
    SparseTopK.releaseBuildCache()
    assert(tfPlan.storageLevel == StorageLevel.NONE,
      "releaseBuildCache left the tf cache registered")
    // and results are unaffected either way (recompute through lineage)
    assert(ta(Seq("merge", "vector"), 5) == exhaustive(Seq("merge", "vector"), 5))
  }
}
