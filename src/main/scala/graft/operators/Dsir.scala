package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** DSIR — Data Selection via Importance Resampling (Xie et al., NeurIPS
  * 2023): pick pretraining documents from a raw pool so the selected
  * set's hashed-n-gram distribution matches a small target corpus.
  *
  * The published recipe, re-expressed Spark-first:
  *  1. Features: each document is a bag of word unigrams + bigrams,
  *     hashed into B buckets (here: first 8 hex chars of md5 → mod B —
  *     a portable rule DuckDB replays verbatim, so the whole pipeline is
  *     oracle-checkable end to end).
  *  2. Fit bucket unigram models p̂ (target) and q̂ (raw pool) with add-1
  *     smoothing over the B buckets.
  *  3. Importance weight log w(x) = Σ_grams (log p̂[b(g)] − log q̂[b(g)]).
  *  4. Gumbel top-k: select the k docs maximizing log w(x) + gᵢ where
  *     gᵢ = −ln(−ln(uᵢ)) and uᵢ is a deterministic md5-derived uniform —
  *     sampling WITHOUT replacement from the softmax of the weights
  *     (the Gumbel-max trick), reproducible across runs and partitions.
  *
  * Scale shape (100 TB): the per-doc score is a pure map-side expression
  * chain — grams → buckets → log-ratio lookup in a BROADCAST dense map
  * (model-plane: B entries, B bounded) → sorted left-to-right fold. The
  * corpus is never shuffled; the only non-map stages are the two B-sized
  * bucket-count aggregates (map-side partial combine into ≤ B rows) and
  * the final global top-k, which is TakeOrdered (per-partition heap + k-row
  * driver merge), not a sort. */
object Dsir {

  /** Word unigrams + bigrams — the paper's feature set. */
  private[operators] def grams(text: Column): Column =
    concat(TextFunctions.tokens(text), TextFunctions.wordBigrams(text))

  /** Portable gram → bucket hash: first 8 md5 hex chars as an int, mod
    * B. DuckDB replays it as ('0x'||substr(md5(g),1,8))::BIGINT % B. */
  private[operators] def bucketOf(g: Column, b: Int): Column =
    pmod(conv(substring(md5(g), 1, 8), 16, 10).cast("long"), lit(b.toLong))

  /** Tokenize-once representation: (doc_id, [keep cols...], buckets) —
    * each document's hashed-gram BUCKET array. Every downstream DSIR
    * stage (bucket LMs, importance weights, KL eval) is a function of
    * the buckets alone, so a pipeline that bucketizes once and
    * localCheckpoints never re-tokenizes: the corpus parquet is
    * scanned exactly once however many subsets/aggregates follow (the
    * r6 q_dsir_kl shape paid ~8 scans re-deriving grams per stage). */
  def bucketed(
      docs: DataFrame,
      b: Int,
      textCol: String = "text",
      keep: Seq[String] = Nil): DataFrame =
    docs.select(
      (col("doc_id") +: keep.map(col)) :+
        transform(grams(col(textCol)), g => bucketOf(g, b)).as("buckets"): _*)

  /** Bucket counts from a [[bucketed]] input: ≤ B rows (map-side
    * partial aggregation; the explode never leaves its stage
    * unaggregated). */
  def bucketCountsB(bdocs: DataFrame): DataFrame =
    bdocs
      .select(explode(col("buckets")).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Dense per-bucket log importance ratio log p̂_b − log q̂_b with add-1
    * smoothing, as a driver-side map (model-plane: B entries). Buckets
    * with no counts on either side still carry the smoothed ratio. */
  def logRatios(
      target: DataFrame,
      pool: DataFrame,
      b: Int,
      textCol: String = "text"): Map[Long, Double] =
    logRatiosB(bucketed(target, b, textCol), bucketed(pool, b, textCol), b)

  /** [[logRatios]] over [[bucketed]] inputs — the form a
    * tokenize-once pipeline uses (no re-tokenize per side). */
  def logRatiosB(
      targetB: DataFrame,
      poolB: DataFrame,
      b: Int): Map[Long, Double] = {
    def counts(df: DataFrame): Map[Long, Long] =
      bucketCountsB(df).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tc = counts(targetB)
    val pc = counts(poolB)
    val tTot = tc.values.sum.toDouble + b
    val pTot = pc.values.sum.toDouble + b
    (0L until b.toLong).map { bucket =>
      val pT = (tc.getOrElse(bucket, 0L) + 1.0) / tTot
      val pQ = (pc.getOrElse(bucket, 0L) + 1.0) / pTot
      bucket -> (math.log(pT) - math.log(pQ))
    }.toMap
  }

  /** Per-document log importance weight — pure map-side: gram array →
    * bucket array → ratio array via the broadcast dense map → SORTED
    * left-to-right fold (sorting pins the summation order, so the DuckDB
    * oracle's list_sort+list_sum reproduces the double fold exactly).
    * Output: (doc_id, n_grams, logw). */
  def importanceWeights(
      docs: DataFrame,
      ratios: Map[Long, Double],
      b: Int,
      textCol: String = "text"): DataFrame =
    importanceWeightsB(bucketed(docs, b, textCol), ratios)

  /** [[importanceWeights]] over a [[bucketed]] input. */
  def importanceWeightsB(bdocs: DataFrame, ratios: Map[Long, Double]): DataFrame = {
    val ratioMap = typedlit(ratios)
    val ratioArr = transform(col("buckets"), bkt => element_at(ratioMap, bkt))
    bdocs.select(
      col("doc_id"),
      size(col("buckets")).cast("long").as("n_grams"),
      aggregate(sort_array(ratioArr), lit(0.0d), (acc, x) => acc + x).as("logw"))
  }

  /** Gumbel top-k resample: key = logw + Gumbel(md5(seed:doc_id)).
    * TakeOrdered top-k (no global sort, no global window); rank is
    * assigned AFTER the limit over the k-row result. */
  def resample(weighted: DataFrame, k: Int, seed: String = "dsir"): DataFrame = {
    val u = (conv(substring(md5(concat_ws(":", lit(seed), col("doc_id"))), 1, 8), 16, 10)
      .cast("double") + lit(0.5d)) / lit(4294967296.0d)
    val key = col("logw") - log(-log(u))
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(desc("sel_key"), col("doc_id"))
    weighted
      .withColumn("sel_key", key)
      .orderBy(desc("sel_key"), col("doc_id"))
      .limit(k)
      // k-row bounded window (post-limit) — not a corpus-wide sort
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col("doc_id"), col("n_grams"),
        round(col("logw"), 3).as("logw"),
        round(col("sel_key"), 3).as("sel_key"))
      .orderBy(col("rank"))
  }

  /** The paper's selection-quality metric: hashed-bucket KL(target ‖
    * subset) with add-1 smoothing, one row per labeled subset — run it
    * on (selected, random-control, whole-pool) and DSIR worked iff the
    * selected set's KL undercuts both. Distributions are B-sized
    * (model-plane: the bucket counts collect like [[logRatios]]); the
    * KL fold runs driver-side over SORTED buckets so the double sum is
    * order-pinned. Output: (subset, n_docs, kl) ordered by subset. */
  def klReport(
      target: DataFrame,
      subsets: Seq[(String, DataFrame)],
      b: Int,
      textCol: String = "text"): DataFrame =
    klReportB(bucketed(target, b, textCol),
      subsets.map { case (l, df) => l -> bucketed(df, b, textCol) }, b)

  /** [[klReport]] over [[bucketed]] inputs, computed in ONE job: every
    * subset (and the target) rides a labeled union, each doc explodes
    * its buckets PLUS a sentinel bucket −1, and a single
    * groupBy(subset, bucket) aggregate yields all distributions AND
    * the per-subset doc counts (the sentinel row count) together —
    * the r6 shape paid one bucket-count job plus one df.count() job
    * per subset. Collect is ≤ (B+1)·(|subsets|+1) rows (model-plane);
    * the KL fold runs driver-side over SORTED buckets so the double
    * sum stays order-pinned. Output: (subset, n_docs, kl) ordered. */
  def klReportB(
      targetB: DataFrame,
      subsets: Seq[(String, DataFrame)],
      b: Int): DataFrame = {
    val spark = targetB.sparkSession
    import spark.implicits._
    val targetLabel = " target" // leading space: reserved, no caller label collides
    require(subsets.forall(_._1 != targetLabel), "label ' target' is reserved")
    val labeled = (((targetLabel, targetB)) +: subsets).map { case (l, df) =>
      df.select(lit(l).as("subset"),
        explode(concat(array(lit(-1L)),
          coalesce(col("buckets"), array()))).as("bucket"))
    }.reduce(_ unionAll _)
    val rows = labeled.groupBy(col("subset"), col("bucket"))
      .agg(count(lit(1)).as("cnt")).collect()
    val counts: Map[String, Map[Long, Long]] = rows
      .groupBy(_.getString(0))
      .map { case (l, rs) => l -> rs.map(r => r.getLong(1) -> r.getLong(2)).toMap }
    def dist(l: String): Long => Double = {
      val c = counts.getOrElse(l, Map.empty) - (-1L)
      val tot = c.values.sum.toDouble + b
      k => (c.getOrElse(k, 0L) + 1.0) / tot
    }
    val pT = dist(targetLabel)
    subsets.map { case (label, _) =>
      val pS = dist(label)
      var kl = 0.0
      (0L until b.toLong).foreach { k => kl += pT(k) * math.log(pT(k) / pS(k)) }
      (label, counts.getOrElse(label, Map.empty).getOrElse(-1L, 0L),
        BigDecimal(kl).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toDF("subset", "n_docs", "kl").orderBy(col("subset"))
  }

  /** The composed pipeline: fit ratios on (target, pool), score the
    * pool, Gumbel-select k docs. Tokenize-once: the pool is bucketized
    * and localCheckpointed, so fitting q̂ and scoring read the SAME
    * materialized buckets — one pool scan total (the naïve composition
    * re-tokenized the pool for each stage). */
  def select(
      target: DataFrame,
      pool: DataFrame,
      k: Int,
      b: Int = 256,
      textCol: String = "text",
      seed: String = "dsir"): DataFrame = {
    val poolB = bucketed(pool, b, textCol).localCheckpoint(true)
    // no explicit unpersist: the returned plan still reads the
    // checkpoint (truncated lineage — an eager unpersist would make it
    // unrecomputable); blocks release via ContextCleaner when the
    // caller drops the DataFrame
    val ratios = logRatiosB(bucketed(target, b, textCol), poolB, b)
    resample(importanceWeightsB(poolB, ratios), k, seed)
  }
}
