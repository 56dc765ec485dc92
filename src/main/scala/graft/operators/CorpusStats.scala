package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Corpus-level statistical quality signals for LLM training-data
  * curation — the cross-document counterparts of the per-document
  * Gopher signals in [[Dedup.repetitionSignals]]:
  *
  *  - duplicated n-gram fraction: what share of a document's n-gram
  *    occurrences also appear in at least one OTHER document (the
  *    FineWeb/RefinedWeb "dup_ngram" pruning signal — high values mean
  *    boilerplate);
  *  - unigram-LM negative log-likelihood: score each document against a
  *    unigram language model trained on the corpus itself (the CCNet
  *    perplexity-bucketing signal, with the corpus standing in for the
  *    target-domain LM).
  *
  * Scale design: both passes shuffle only on content keys (gram / term /
  * doc_id) with map-side partial aggregation — never a global sort or a
  * broadcast of a corpus-sized table. The term vocabulary is Heaps'-law
  * sublinear, so the corpus-frequency table broadcasts; the n-gram table
  * is NOT vocabulary-sized, so gram-side joins stay shuffle hash/sort-merge
  * joins (AQE splits hot grams). Float sums fold left-to-right over
  * term-sorted lists on both engines for bit parity with the oracle.
  */
object CorpusStats {

  /** Word n-grams WITH multiplicity (unlike the distinct
    * `TextFunctions.wordShingles`): one entry per window position, the
    * occurrence unit of the duplicated-n-gram fraction. Fused one-pass
    * expression (graft.plans.NgramWindows), value-identical to
    * [[wordNgramsHof]] (parity-tested). */
  def wordNgrams(text: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.plans.NgramWindows(
      ColumnBridge.expression(TextFunctions.tokens(text)), n))
  }

  /** HOF reference form of [[wordNgrams]] (parity-tested; mirrors the
    * n-gram CTE shape of the dup-ngram DuckDB oracle). Re-evaluates the
    * token split inside the per-window lambda — O(tokens²) per row;
    * reference/oracle-mirror only. */
  def wordNgramsHof(text: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column = {
    val toks = TextFunctions.tokens(text)
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1), lit(1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Per-document cross-corpus duplicated n-gram stats. Output:
    * (doc_id, n_grams, dup_grams, dup_frac) where dup_grams counts the
    * document's n-gram occurrences whose gram appears in ≥2 distinct
    * documents. Documents shorter than `n` tokens emit no grams and are
    * dropped (same on both engines).
    *
    * Plan: collapse occurrences to per-(doc, gram) counts first (ONE
    * map-side-combinable aggregate — the only pass over the full
    * occurrence stream); per-gram document counts then ride a window over
    * the already-collapsed pairs (shuffle carries distinct (doc, gram)
    * pairs, not occurrences — the natural-text dedup is large); one final
    * per-doc aggregate. No occurrence-stream join, no quadratic pair
    * generation anywhere — this is the scalable alternative to an
    * all-pairs overlap join. Hot grams concentrate a window partition;
    * AQE's skew handling applies, and the pair collapse bounds a gram's
    * rows by ndocs, not occurrences. */
  def dupNgramStats(docs: DataFrame, n: Int, textCol: String = "text"): DataFrame = {
    val pairs = docs.select(col("doc_id"),
      explode(wordNgrams(col(textCol), n)).as("gram"))
      .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("occ"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("gram"))
    pairs.withColumn("ndocs", count(lit(1)).over(w))
      .groupBy(col("doc_id"))
      .agg(sum(col("occ")).as("n_grams"),
        sum(when(col("ndocs") >= 2, col("occ")).otherwise(0L)).as("dup_grams"))
      .withColumn("dup_frac",
        round(col("dup_grams").cast("double") / col("n_grams").cast("double"), 4))
  }

  /** Per-document unigram-LM score: mean negative log-likelihood of the
    * document's tokens under the corpus unigram distribution
    * p(w) = cf(w)/N. Output: (doc_id, n_tokens, nll) with
    * nll = round(Σ tf·ln(N/cf) / n_tokens, 4) — low nll ≈ stereotypical
    * text, high nll ≈ rare-word text (CCNet buckets on exactly this).
    *
    * Plan: per-(doc,term) tf and per-term cf are both map-side-combinable
    * aggregates; cf is vocabulary-sized → broadcast join; the per-doc sum
    * folds left-to-right over the term-sorted contribution list so the
    * double sum is order-deterministic and matches the oracle bitwise. */
  def unigramNll(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(TextFunctions.tokens(col(textCol))).as("term"))
    val cf = toks.groupBy(col("term")).agg(count(lit(1)).as("cf"))
    val nTotal = cf.agg(sum(col("cf"))).head().getLong(0) // control-plane scalar
    nllScore(docs, textCol, cf, joinType = "inner",
      contrib = col("tf").cast("double") *
        log(lit(nTotal.toDouble) / col("cf").cast("double")),
      withOov = false)
  }

  /** Shared per-doc scoring tail of [[unigramNll]] and [[crossNll]]:
    * per-(doc,term) tf, the cf join, and the term-sorted left-to-right
    * contribution fold (ONE copy, so the oracle bit-parity discipline
    * cannot silently diverge between the self-LM and target-LM paths). */
  private def nllScore(
      docs: DataFrame,
      textCol: String,
      cf: DataFrame,
      joinType: String,
      contrib: org.apache.spark.sql.Column,
      withOov: Boolean): DataFrame = {
    val tf = docs.select(col("doc_id"),
      explode(TextFunctions.tokens(col(textCol))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val base = tf.join(broadcast(cf), Seq("term"), joinType)
      .withColumn("contrib", contrib)
    val aggs = Seq(
      Some(sum(col("tf")).as("n_tokens")),
      if (withOov)
        Some(sum(when(col("cf").isNull, col("tf")).otherwise(0L))
          .cast("long").as("oov_tokens"))
      else None,
      Some(sort_array(collect_list(struct(col("term"), col("contrib")))).as("lst"))
    ).flatten
    val outCols = Seq(col("doc_id"), col("n_tokens")) ++
      (if (withOov) Seq(col("oov_tokens")) else Nil) :+ col("nll")
    base.groupBy(col("doc_id"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("nll",
        round(
          aggregate(col("lst"), lit(0.0d), (acc, x) => acc + x.getField("contrib")) /
            col("n_tokens").cast("double"), 4))
      .select(outCols: _*)
  }

  /** TARGET-domain LM scoring — the actual CCNet configuration (Wenzek
    * et al. 2020 score Common Crawl with a WIKIPEDIA-trained LM, not a
    * self-LM): fit the unigram model on `lmCorpus`, score `docs`
    * against it with add-1 smoothing over a V+1-term event space (the
    * +1 is the shared OOV bucket — scored docs contain terms the target
    * never saw): p(w) = (cf_target(w)+1)/(N_target+V+1). Low nll =
    * target-like text; the DSIR importance weight is exactly the
    * difference of two of these scores.
    *
    * Scale: identical profile to [[unigramNll]] — the target cf table
    * is Heaps'-law vocabulary-sized and broadcasts; per-doc sums fold
    * left-to-right over term-sorted lists for oracle bit parity.
    * Output: (doc_id, n_tokens, oov_tokens, nll) ordered by doc_id. */
  def crossNll(docs: DataFrame, lmCorpus: DataFrame,
      textCol: String = "text"): DataFrame = {
    val lmToks = lmCorpus.select(explode(TextFunctions.tokens(col(textCol))).as("term"))
    val cf = lmToks.groupBy(col("term")).agg(count(lit(1)).as("cf"))
      .localCheckpoint(true) // one evaluation: N+V and the join both read it
    // one job for both scalars; sum is null (not 0) on an empty cf —
    // surface that as the real error, not a bare NPE
    val nv = cf.agg(sum(col("cf")), count(lit(1))).head()
    require(!nv.isNullAt(0),
      "crossNll: lmCorpus has no tokens — the target-LM corpus filter matched nothing")
    val denom = (nv.getLong(0) + nv.getLong(1) + 1).toDouble
    nllScore(docs, textCol, cf, joinType = "left",
      contrib = col("tf").cast("double") *
        log(lit(denom) / (coalesce(col("cf"), lit(0L)).cast("double") + 1.0d)),
      withOov = true)
      .orderBy(col("doc_id"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020: score each
    * doc with an LM, split every source into head/middle/tail thirds by
    * perplexity, train on head+middle): per-source NTILE(3) over the
    * [[unigramNll]] score, ascending — head = most fluent third under
    * the corpus LM. The LM here is the corpus unigram model (exact ⇒
    * oracle-replayable); a trained KenLM drops into the same shape.
    *
    * Scale: everything is [[unigramNll]]'s profile (vocab-sized cf
    * broadcast, per-doc sorted folds) plus ONE per-source window over
    * (nll, doc_id) — parallel across sources; nll is pre-rounded so the
    * tertile order is engine-stable. Output: (doc_id, source, n_tokens,
    * nll, bucket) ordered by doc_id. */
  def perplexityBuckets(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("nll"), col("doc_id"))
    unigramNll(docs, textCol)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .withColumn("tertile", ntile(3).over(w))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("nll"),
        when(col("tertile") === 1, "head")
          .when(col("tertile") === 2, "middle")
          .otherwise("tail").as("bucket"))
      .orderBy(col("doc_id"))
  }

  /** Cross-source duplication matrix — for every pair of sources, how
    * many near-duplicate pairs straddle them (the "who copied whom"
    * dedup analytics that decides which source to drop dups from).
    * `pairs` is any dedup pair set, e.g. [[Dedup.minhashLshDups]];
    * source pairs are canonicalized (source_a ≤ source_b), so intra-
    * source duplication shows on the diagonal.
    *
    * Scale: the pair set is LSH-bounded (small relative to the corpus)
    * and broadcasts; the corpus's (doc_id, source) projection streams
    * through two broadcast hash joins — no corpus shuffle. */
  def sourceOverlap(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val srcA = docs.select(col("doc_id").as("doc_a"), col("source").as("sa"))
    val srcB = docs.select(col("doc_id").as("doc_b"), col("source").as("sb"))
    pairs.join(srcA, Seq("doc_a")).join(srcB, Seq("doc_b"))
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Stupid-backoff bigram LM scoring — Brants et al. 2007 ("Large
    * Language Models in Machine Translation"), THE distributed n-gram
    * LM recipe (unnormalized scores, no discount estimation — designed
    * exactly so counts shard over a cluster): fit bigram+unigram counts
    * on `lmCorpus`, score each doc's bigram stream as
    *
    *   S(w₂|w₁) = c(w₁w₂)/c(w₁)              if c(w₁w₂) > 0
    *            = 0.4 · (c(w₂)+1)/(N+V+1)    otherwise
    *
    * (the paper's α = 0.4; the unigram stage carries the same shared
    * add-1 OOV bucket as [[crossNll]], so unseen words score finitely).
    * Per-doc score = Σ ln S / n_bigrams — the bigram upgrade of the
    * CCNet-style [[crossNll]] fluency signal.
    *
    * Scale: both count tables are vocabulary-sized (Heaps' law) and
    * broadcast; scoring is map-side per (doc, bigram) with the fold
    * over the BIGRAM-SORTED contribution list (the [[unigramNll]]
    * bit-parity discipline). Output: (doc_id, n_bigrams,
    * unseen_bigrams, sbo_ll) for docs with ≥ 1 bigram, ordered. */
  /** (k, gram, c) counts over the LM corpus — k 0 = unigram, k 1 =
    * adjacent bigram — from ONE tokenize pass (r15, guide §2.4): both
    * n-gram orders ride the same explode under a kind tag, so the LM
    * corpus is scanned once where the old per-order aggregates scanned
    * it twice. Vocabulary-sized (Heaps' law), cached MEMORY_AND_DISK
    * in the one LM slot ([[lastLmCache]]): an equal-plan call (both LM
    * scorers share the same LM-corpus split, and every bench iteration
    * replays the same plan) reuses the single cache-manager entry, and
    * a different LM corpus swaps the previous table out. */
  private def lmGramCounts(lmCorpus: DataFrame, textCol: String): DataFrame = {
    val tagged = concat(
      transform(TextFunctions.tokens(col(textCol)),
        t => struct(lit(0).as("k"), t.as("gram"))),
      transform(TextFunctions.wordBigrams(col(textCol)),
        b => struct(lit(1).as("k"), b.as("gram"))))
    val g = ScanSpread.spreadSmall(lmCorpus).select(explode(tagged).as("g"))
      .select(col("g.k").as("k"), col("g.gram").as("gram"))
      .groupBy(col("k"), col("gram")).agg(count(lit(1)).as("c"))
    // check + persist + swap serialized, as SparseTopK's tf slot: two
    // concurrent same-corpus scores must not both persist and then
    // unpersist each other's shared entry
    lastLmCache.synchronized {
      if (g.storageLevel != org.apache.spark.storage.StorageLevel.NONE) g
      else {
        val t = g.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val prior = lastLmCache.getAndSet(t)
        lastLmScalars.set(null)
        if (prior != null) prior.unpersist(blocking = false)
        t
      }
    }
  }

  /** The gram-count table cached by the most recent LM score — ONE per
    * process, the [[SparseTopK]] tf-slot discipline: a same-corpus score
    * reuses it, a different-corpus score swaps it out, so scores over
    * many LM corpora never stack cached tables. Alternating two corpora
    * recomputes on every swap (never wrong); callers that alternate
    * should hold their own cached gram inputs. */
  private val lastLmCache =
    new java.util.concurrent.atomic.AtomicReference[DataFrame]()

  /** Per-kind (Σ c, row count) of the cached gram table — every scalar
    * the two LM scorers need (N, V, B) — with the canonicalized plan they
    * belong to. Same lifecycle as [[lastLmCache]]: the scalars are pure
    * functions of the cached table, so repeat scores over the same LM
    * corpus skip their job; a different corpus swaps them out. */
  private val lastLmScalars = new java.util.concurrent.atomic.AtomicReference[
    (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Map[Int, (Long, Long)])]()

  /** Explicit lifecycle hook: unpersist the cached gram table and drop
    * its scalars (e.g. a pipeline done with its LM stage). Safe any time
    * — a later score recomputes through lineage. */
  def releaseLmCache(): Unit = lastLmCache.synchronized {
    val g = lastLmCache.getAndSet(null)
    lastLmScalars.set(null)
    if (g != null) g.unpersist(blocking = false)
  }

  /** The LM slots: the cached gram table, and whether scalars are
    * memoized. */
  private[graft] def lmCacheSlots: (Option[DataFrame], Boolean) =
    (Option(lastLmCache.get), lastLmScalars.get != null)

  /** [[lastLmScalars]] for `grams`, computed in ONE job on a miss
    * (r15, the SparseTopK scalars discipline). */
  private def lmGramScalars(grams: DataFrame): Map[Int, (Long, Long)] = {
    val plan = grams.queryExecution.analyzed.canonicalized
    Option(lastLmScalars.get).filter(_._1 == plan).map(_._2).getOrElse {
      val vals = grams.groupBy(col("k"))
        .agg(sum(col("c")).cast("long").as("s"), count(lit(1)).as("n"))
        .collect()
        .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
      lastLmCache.synchronized {
        // memoize only while `grams` is still the cached slot (a
        // concurrent different-corpus score may have swapped it)
        val cur = lastLmCache.get
        if (cur != null && cur.queryExecution.analyzed.canonicalized == plan)
          lastLmScalars.set((plan, vals))
      }
      vals
    }
  }

  def stupidBackoff(docs: DataFrame, lmCorpus: DataFrame,
      textCol: String = "text", alpha: Double = 0.4): DataFrame = {
    // ONE LM-corpus pass for BOTH count fits (r15, guide §2.4 — the old
    // form tokenized the LM corpus twice, once for unigrams and once
    // for bigrams): tokens and adjacent pairs ride the same explode
    // under a kind tag and collapse map-side into one vocab-sized
    // table; only that COUNT table caches/broadcasts — never the
    // corpus. Counts per (kind, gram) are exactly the two old tables'.
    val grams = lmGramCounts(lmCorpus, textCol)
    val uc = grams.where(col("k") === 0)
      .select(col("gram").as("term"), col("c").as("c1"))
    // one scalars job (memoized per corpus) — it doubles as the
    // gram-cache materialization on the first score
    val scalars = lmGramScalars(grams)
    require(scalars.contains(0),
      "stupidBackoff: lmCorpus has no tokens — the LM corpus filter matched nothing")
    val (nTok, vocab) = scalars(0)
    val denom = (nTok + vocab + 1).toDouble
    val bc = grams.where(col("k") === 1)
      .select(col("gram").as("bigram"), col("c").as("c2"))
    // per-doc bigram stream with its left word (for the c(w1) denom)
    // and right word (for the backoff numerator)
    val tf = docs.select(col("doc_id"),
        explode(TextFunctions.wordBigrams(col(textCol))).as("bigram"))
      .groupBy(col("doc_id"), col("bigram")).agg(count(lit(1)).as("tf"))
      .withColumn("w1", element_at(split(col("bigram"), " ", 2), 1))
      .withColumn("w2", element_at(split(col("bigram"), " ", 2), 2))
    val scored = tf
      .join(broadcast(bc), Seq("bigram"), "left")
      .join(broadcast(uc.select(col("term").as("w1"), col("c1").as("c1l"))),
        Seq("w1"), "left")
      .join(broadcast(uc.select(col("term").as("w2"), col("c1").as("c1r"))),
        Seq("w2"), "left")
      .withColumn("score",
        when(col("c2").isNotNull,
          col("c2").cast("double") / col("c1l").cast("double"))
          .otherwise(lit(alpha) *
            (coalesce(col("c1r"), lit(0L)).cast("double") + 1.0d) / lit(denom)))
      .withColumn("contrib", col("tf").cast("double") * log(col("score")))
    scored.groupBy(col("doc_id"))
      .agg(
        sum(col("tf")).as("n_bigrams"),
        sum(when(col("c2").isNull, col("tf")).otherwise(0L))
          .cast("long").as("unseen_bigrams"),
        sort_array(collect_list(struct(col("bigram"), col("contrib")))).as("lst"))
      .withColumn("sbo_ll",
        round(
          aggregate(col("lst"), lit(0.0d), (acc, x) => acc + x.getField("contrib")) /
            col("n_bigrams").cast("double"), 4))
      .select(col("doc_id"), col("n_bigrams"), col("unseen_bigrams"), col("sbo_ll"))
      .orderBy(col("doc_id"))
  }

  /** Interpolated Kneser-Ney bigram LM scoring — Kneser & Ney 1995 in
    * Chen & Goodman 1999's interpolated form, the smoothing KenLM (and
    * hence the CCNet quality pipeline) actually uses; the principled
    * upgrade of [[stupidBackoff]] (a fixed discount D and CONTINUATION
    * counts instead of a flat 0.4 backoff):
    *
    *   P(w|v)   = max(c(vw)−D, 0)/c(v·) + D·N1+(v•)/c(v·) · Pcont(w)
    *   Pcont(w) = (N1+(•w)+1)/(B+V+1)
    *
    * where c(v·) = Σ_w c(vw) is the CONTEXT MASS — derived from the
    * bigram table, not the unigram count c1(v), which over-counts
    * doc-final occurrences of v that contribute no bigram mass and
    * would deflate Σ_w P(w|v) below 1 (ADVICE r7) — N1+(v•)/N1+(•w) are
    * the distinct right-/left-neighbor counts, B the distinct-bigram
    * count and V the vocabulary size. Pcont carries the [[crossNll]]
    * add-1 OOV bucket so unseen continuations score finitely. A context
    * v with no LM continuation at all falls back to Pcont(w) outright.
    * Every branch is strictly positive, so the log never diverges. With
    * the context-mass denominator, Σ_w P(w|v) = 1 − D·N1+(v•)/c(v·) ·
    * (1 − Σ_w Pcont(w)) ≈ 1 up to the OOV bucket — a proper
    * distribution.
    *
    * Scale: all four model tables (unigram counts, bigram counts, and
    * the two continuation-count projections of the bigram table) are
    * vocabulary-sized (Heaps' law) and broadcast; scoring is map-side
    * per (doc, bigram) with the fold over the BIGRAM-SORTED contribution
    * list (the [[unigramNll]] bit-parity discipline). Output: (doc_id,
    * n_bigrams, unseen_bigrams, kn_ll) for docs with ≥ 1 bigram. */
  def knBigram(docs: DataFrame, lmCorpus: DataFrame,
      textCol: String = "text", discount: Double = 0.75): DataFrame = {
    // ONE LM-corpus pass for unigram + bigram counts (r15, guide §2.4;
    // shared cached table with [[stupidBackoff]] over the same corpus),
    // and ONE scalars job for BOTH the V and B counts — the old form
    // paid two corpus passes plus two single-scalar actions.
    val grams = lmGramCounts(lmCorpus, textCol)
    val bc = grams.where(col("k") === 1)
      .select(col("gram").as("bigram"), col("c").as("c2"))
      .withColumn("w1", element_at(split(col("bigram"), " ", 2), 1))
      .withColumn("w2", element_at(split(col("bigram"), " ", 2), 2))
    val vb = lmGramScalars(grams)
    val nv = vb.get(0).map(_._2).getOrElse(0L)
    val nb = vb.get(1).map(_._2).getOrElse(0L)
    require(nb > 0,
      "knBigram: lmCorpus has no bigrams — the LM corpus filter matched nothing")
    val pcontDenom = (nb + nv + 1).toDouble
    // context mass c(v·) = Σ_w c(vw), from the bigram table — NOT the
    // unigram count (ADVICE r7: c1 counts doc-final v's with no bigram
    // mass, a systematic score deflation vs the cited formula).
    // cm and n1l share the grouping key, so ONE groupBy(w1) derives both
    // (sum is order-insensitive over longs — values identical to two
    // passes) and the scoring join below pays one broadcast, not two.
    val ctx = bc.groupBy(col("w1")).agg(
      sum(col("c2")).cast("long").as("cm"),
      count(lit(1)).as("n1l"))
    val n1r = bc.groupBy(col("w2")).agg(count(lit(1)).as("n1r"))
    val tf = docs.select(col("doc_id"),
        explode(TextFunctions.wordBigrams(col(textCol))).as("bigram"))
      .groupBy(col("doc_id"), col("bigram")).agg(count(lit(1)).as("tf"))
      .withColumn("w1", element_at(split(col("bigram"), " ", 2), 1))
      .withColumn("w2", element_at(split(col("bigram"), " ", 2), 2))
    val pcont = (coalesce(col("n1r"), lit(0L)).cast("double") + 1.0d) / lit(pcontDenom)
    val interpolated =
      greatest(coalesce(col("c2"), lit(0L)).cast("double") - discount, lit(0.0d)) /
        col("cm").cast("double") +
        lit(discount) * col("n1l").cast("double") / col("cm").cast("double") * pcont
    val scored = tf
      .join(broadcast(bc.select(col("bigram"), col("c2"))), Seq("bigram"), "left")
      .join(broadcast(ctx), Seq("w1"), "left")
      .join(broadcast(n1r), Seq("w2"), "left")
      .withColumn("score",
        when(col("cm").isNotNull && col("n1l").isNotNull, interpolated)
          .otherwise(pcont))
      .withColumn("contrib", col("tf").cast("double") * log(col("score")))
    scored.groupBy(col("doc_id"))
      .agg(
        sum(col("tf")).as("n_bigrams"),
        sum(when(col("c2").isNull, col("tf")).otherwise(0L))
          .cast("long").as("unseen_bigrams"),
        sort_array(collect_list(struct(col("bigram"), col("contrib")))).as("lst"))
      .withColumn("kn_ll",
        round(
          aggregate(col("lst"), lit(0.0d), (acc, x) => acc + x.getField("contrib")) /
            col("n_bigrams").cast("double"), 4))
      .select(col("doc_id"), col("n_bigrams"), col("unseen_bigrams"), col("kn_ll"))
      .orderBy(col("doc_id"))
  }

  /** Source-distinctive terms — log-odds ratio with the informative
    * Dirichlet prior (Monroe, Colaresi & Quinn 2008, "Fightin' Words"),
    * the standard "what vocabulary marks this source" diagnostic (pure
    * frequency ranks stopwords; plain log-odds overweights rare terms —
    * the corpus-wide prior fixes both):
    *
    *   δ_sw = ln((y_sw+α_w)/(n_s+α0−y_sw−α_w))
    *        − ln((y_w−y_sw+α_w)/(n−n_s+α0−(y_w−y_sw)−α_w))
    *   z_sw = δ_sw / sqrt(1/(y_sw+α_w) + 1/(y_w−y_sw+α_w))
    *
    * with α_w = α0·y_w/n (corpus-proportional prior mass). Output: the
    * top `per` terms per source by z (ties term asc).
    *
    * Scale: the (source, term) count table is |sources|×vocab
    * (Heaps'-law bounded); source totals and corpus totals are
    * tiny/vocab-sized broadcasts; the z computation is one map-side
    * scalar expression per (source, term) row and the top-k is one
    * window per source. Nothing touches the corpus after the first
    * count aggregate. */
  def domainTerms(docs: DataFrame, per: Int = 3, alpha0: Double = 100.0,
      textCol: String = "text"): DataFrame = {
    val toks = docs.select(col("source"),
      explode(TextFunctions.tokens(col(textCol))).as("term"))
    val ysw = toks.groupBy(col("source"), col("term")).agg(count(lit(1)).as("ysw"))
      .localCheckpoint(true) // one evaluation: yw/ns/n all derive from it
    val yw = ysw.groupBy(col("term")).agg(sum(col("ysw")).as("yw"))
    val ns = ysw.groupBy(col("source")).agg(sum(col("ysw")).as("ns"))
    val n = ysw.agg(sum(col("ysw"))).head().getLong(0).toDouble
    val aw = lit(alpha0) * col("yw").cast("double") / lit(n)
    val ysdw = col("ysw").cast("double")
    val ywd = col("yw").cast("double")
    val nsd = col("ns").cast("double")
    val delta =
      log((ysdw + aw) / (nsd + alpha0 - ysdw - aw)) -
        log((ywd - ysdw + aw) / (lit(n) - nsd + alpha0 - (ywd - ysdw) - aw))
    val variance = lit(1.0) / (ysdw + aw) + lit(1.0) / (ywd - ysdw + aw)
    val w = Window.partitionBy(col("source"))
      .orderBy(col("z").desc, col("term"))
    ysw
      .join(broadcast(yw), Seq("term"))
      .join(broadcast(ns), Seq("source"))
      // rank on the PRE-rounded z so cross-engine ties resolve on the
      // deterministic (z, term) key, not on last-bit ln noise
      .withColumn("z", round(delta / sqrt(variance), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= per)
      .select(col("source"), col("rank"), col("term"), col("z"))
      .orderBy(col("source"), col("rank"))
  }

  /** PMI collocations (Church & Hanks 1990): top word pairs by
    * pointwise mutual information over the corpus bigram stream,
    *
    *   pmi(v,w) = ln( (c2(vw)/B) / ((c1(v)/N)·(c1(w)/N)) )
    *
    * gated by a minimum bigram count (PMI's known rare-pair pathology).
    * The phrase-mining primitive behind tokenizer vocab curation and
    * collocation-aware chunking. Output: top `topN` by (pmi desc,
    * bigram) with counts.
    *
    * Scale: bigram and unigram count tables are vocab-sized; the join
    * is broadcast; selection is orderBy.limit (per-partition top-N +
    * k-row merge). The corpus is read twice (unigram + bigram streams),
    * both map-side-combinable aggregates. */
  def collocations(docs: DataFrame, minCount: Long = 5, topN: Int = 20,
      textCol: String = "text"): DataFrame = {
    val uc = docs.select(explode(TextFunctions.tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c1"))
      .localCheckpoint(true) // N scalar + two joins
    val nTotal = uc.agg(sum(col("c1"))).head().getLong(0).toDouble
    val bc = docs.select(explode(TextFunctions.wordBigrams(col(textCol))).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("c2"))
    val bTotal = bc.agg(sum(col("c2"))).head().getLong(0).toDouble
    val pmi = log(
      (col("c2").cast("double") / lit(bTotal)) /
        ((col("c1l").cast("double") / lit(nTotal)) *
          (col("c1r").cast("double") / lit(nTotal))))
    bc.where(col("c2") >= minCount)
      .withColumn("w1", element_at(split(col("bigram"), " ", 2), 1))
      .withColumn("w2", element_at(split(col("bigram"), " ", 2), 2))
      .join(broadcast(uc.select(col("term").as("w1"), col("c1").as("c1l"))), Seq("w1"))
      .join(broadcast(uc.select(col("term").as("w2"), col("c1").as("c1r"))), Seq("w2"))
      .select(col("bigram"), col("c2"), round(pmi, 6).as("pmi"))
      .orderBy(col("pmi").desc, col("bigram"))
      .limit(topN)
  }

  /** Vocabulary coverage curve — the tokenizer-design question "what
    * fraction of token occurrences does a top-V vocabulary cover?" for
    * a ladder of V values (OOV rate = 1 − coverage; where the curve
    * flattens is where vocab growth stops paying).
    *
    * Scale: the cf table is vocab-sized; the rank is ONE vocab-plane
    * global window (the [[CorpusOps.mlmMask]] precedent — vocabulary ≪
    * corpus, this never touches corpus rows); the curve is a broadcast-
    * join of the ladder against cumulative sums, integer-exact until
    * the final rounded division. Output: (vocab_size, n_covered,
    * coverage) ordered by vocab_size. */
  def vocabCoverage(docs: DataFrame, sizes: Seq[Int] = Seq(16, 64, 256, 1024, 4096),
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val cf = docs.select(explode(TextFunctions.tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cf"))
      .localCheckpoint(true)
    val nTotal = cf.agg(sum(col("cf"))).head().getLong(0)
    val w = Window.orderBy(col("cf").desc, col("term"))
    val ranked = cf.withColumn("rank", row_number().over(w).cast("long"))
    val ladder = sizes.map(_.toLong).toDF("vocab_size")
    ranked.join(broadcast(ladder), col("rank") <= col("vocab_size"))
      .groupBy(col("vocab_size"))
      .agg(sum(col("cf")).as("n_covered"))
      .withColumn("coverage",
        round(col("n_covered").cast("double") / lit(nTotal.toDouble), 6))
      .orderBy(col("vocab_size"))
  }
}
