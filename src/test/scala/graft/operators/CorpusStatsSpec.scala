package graft

import org.apache.spark.sql.functions._

import graft.operators.CorpusStats

/** Cross-doc duplicated-n-gram fraction and unigram-LM NLL — checked
  * against brute-force recomputation on a tiny in-memory corpus where
  * the expected values are hand-derivable. */
class CorpusStatsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val tiny = Seq(
    (0L, "a b c d"),      // grams: "a b c", "b c d"
    (1L, "a b c x"),      // grams: "a b c", "b c x"
    (2L, "z z z z z"),    // grams: "z z z" ×3 (within-doc only)
    (3L, "q r")           // too short for 3-grams — dropped
  ).toDF("doc_id", "text")

  test("dupNgramStats counts cross-doc duplicated gram occurrences") {
    val out = CorpusStats.dupNgramStats(tiny, n = 3)
      .orderBy($"doc_id")
      .as[(Long, Long, Long, Double)].collect()
    // doc 0: 2 grams, "a b c" shared with doc 1 → 1 dup
    // doc 1: 2 grams, "a b c" shared → 1 dup
    // doc 2: 3 grams, "z z z" appears only in doc 2 → 0 dups
    // doc 3: dropped (no grams)
    assert(out === Seq(
      (0L, 2L, 1L, 0.5), (1L, 2L, 1L, 0.5), (2L, 3L, 0L, 0.0)))
  }

  test("dupNgramStats matches per-doc brute force on real docs") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").limit(60)
    val out = CorpusStats.dupNgramStats(docs, n = 3)
    // brute force: explode grams, mark each occurrence dup iff its gram's
    // distinct-doc count ≥ 2, aggregate per doc
    val g = docs.select($"doc_id", explode(CorpusStats.wordNgrams($"text", 3)).as("gram"))
    val nd = g.groupBy($"gram").agg(countDistinct($"doc_id").as("ndocs"))
    val brute = g.join(nd, Seq("gram"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when($"ndocs" >= 2, 1L).otherwise(0L)).as("dup_grams"))
      .withColumn("dup_frac",
        round($"dup_grams".cast("double") / $"n_grams".cast("double"), 4))
    assert(out.exceptAll(brute).isEmpty && brute.exceptAll(out).isEmpty)
  }

  test("unigramNll: uniform corpus scores ln(V) per token") {
    // 4 docs over a vocabulary of 2 tokens with equal frequency:
    // p(w) = 1/2 for both, so every doc's mean NLL is ln(2)
    val df = Seq((0L, "a b"), (1L, "b a"), (2L, "a b"), (3L, "b a"))
      .toDF("doc_id", "text")
    val out = CorpusStats.unigramNll(df).orderBy($"doc_id")
      .as[(Long, Long, Double)].collect()
    val ln2 = BigDecimal(math.log(2.0)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out === Seq((0L, 2L, ln2), (1L, 2L, ln2), (2L, 2L, ln2), (3L, 2L, ln2)))
  }

  test("unigramNll orders rare-word docs above stereotypical docs") {
    val df = Seq(
      (0L, "common common common common"),
      (1L, "common common rareword common")
    ).toDF("doc_id", "text")
    val out = CorpusStats.unigramNll(df).orderBy($"doc_id")
      .as[(Long, Long, Double)].collect()
    assert(out(0)._3 < out(1)._3) // doc with the rare word scores higher NLL
    assert(out.forall(_._2 == 4L))
  }

  test("crossNll: OOV terms hit the shared smoothing bucket; target-like docs score lower") {
    import spark.implicits._
    val lm = Seq((100L, "alpha beta gamma alpha beta alpha")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "alpha beta alpha"),      // all in-vocab, high-cf terms
      (2L, "zzz qqq www"))           // all OOV
      .toDF("doc_id", "text")
    val got = CorpusStats.crossNll(docs, lm)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val (n1, oov1, nll1) = got(1L)
    val (n2, oov2, nll2) = got(2L)
    assert(oov1 == 0L && oov2 == 3L && n1 == 3L && n2 == 3L)
    assert(nll1 < nll2, "target-like text must score lower than all-OOV text")
    // hand-check doc 2: every term gets p = 1/(N+V+1) = 1/(6+3+1)
    assert(math.abs(nll2 - math.log(10.0)) < 1e-3)
  }

  test("stupidBackoff: seen bigrams score c2/c1, unseen back off at 0.4 into the add-1 unigram") {
    // LM: "a b b" → unigrams a:1 b:2 (N=3, V=2, denom=6); bigrams "a b":1, "b b":1
    val lm = Seq((100L, "a b b")).toDF("doc_id", "text")
    // doc: bigrams "a b" (seen), "b z" (unseen, z OOV)
    val docs = Seq((1L, "a b z")).toDF("doc_id", "text")
    val got = CorpusStats.stupidBackoff(docs, lm).head()
    assert(got.getLong(1) == 2L, "two bigrams scored")
    assert(got.getLong(2) == 1L, "one unseen bigram")
    // contribs: ln(1/1) + ln(0.4 * (0+1)/6); mean over 2
    val expected = BigDecimal((math.log(1.0 / 1.0) + math.log(0.4 * 1.0 / 6.0)) / 2.0)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.getDouble(3) == expected)
  }

  test("stupidBackoff: a doc drawn from the LM scores higher than off-domain text") {
    val lm = Seq((100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "the quick brown cat naps under the warm sun")).toDF("doc_id", "text")
    val docs = Seq((1L, "the quick brown fox"), (2L, "zz yy xx ww")).toDF("doc_id", "text")
    val scores = CorpusStats.stupidBackoff(docs, lm).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(scores(1L) > scores(2L))
  }

  test("LM scores over two corpora in turn keep one cached gram table and one scalar memo") {
    import org.apache.spark.storage.StorageLevel.NONE
    val lmA = Seq((100L, "a b b a c")).toDF("doc_id", "text")
    val lmB = Seq((200L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val docs = Seq((1L, "a b z"), (2L, "the quick fox")).toDF("doc_id", "text")
    def score(lm: org.apache.spark.sql.DataFrame) =
      (CorpusStats.stupidBackoff(docs, lm).collect().toSeq, CorpusStats.knBigram(docs, lm).collect().toSeq)
    CorpusStats.releaseLmCache()
    assert(CorpusStats.lmCacheSlots == (None, false))
    val a = score(lmA)
    val gramsA = CorpusStats.lmCacheSlots._1.get
    val b = score(lmB)
    val (gramsB, memo) = CorpusStats.lmCacheSlots
    assert(memo && gramsB.exists(_.storageLevel != NONE))
    assert(gramsA.storageLevel == NONE, "a second LM corpus left the first one's gram table cached")
    // swapping back recomputes the same rows, and so does a cold score
    assert(score(lmA) == a)
    CorpusStats.releaseLmCache()
    assert(CorpusStats.lmCacheSlots == (None, false))
    assert(gramsA.storageLevel == NONE && gramsB.get.storageLevel == NONE)
    assert(score(lmB) == b)
    CorpusStats.releaseLmCache()
  }

  test("knBigram: hand-derived interpolated KN values on a tiny LM") {
    // LM "a b b a c": unigrams a:2 b:2 c:1 (V=3); bigrams a b/b b/b a/a c
    // each once (B=4); Pcont denom = B+V+1 = 8; D = 0.75
    // n1l: a→2 (b,c), b→2 (b,a); n1r: b→2, a→1, c→1
    val lm = Seq((100L, "a b b a c")).toDF("doc_id", "text")
    val docs = Seq((1L, "a b z")).toDF("doc_id", "text")
    val got = CorpusStats.knBigram(docs, lm).head()
    assert(got.getLong(1) == 2L && got.getLong(2) == 1L)
    // "a b": max(1-.75,0)/2 + .75*2/2 * (2+1)/8 = 0.40625
    // "b z": 0/2 + .75*2/2 * (0+1)/8 = 0.09375
    val expected = BigDecimal((math.log(0.40625) + math.log(0.09375)) / 2.0)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.getDouble(3) == expected)
  }

  test("knBigram: contexts with no LM continuation fall back to Pcont") {
    // c appears only LM-final → n1l(c) undefined; q unseen entirely
    val lm = Seq((100L, "a b b a c")).toDF("doc_id", "text")
    val docs = Seq((1L, "c q"), (2L, "q r")).toDF("doc_id", "text")
    val got = CorpusStats.knBigram(docs, lm).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // both score a single bigram at Pcont(unseen) = (0+1)/8
    val expected = BigDecimal(math.log(1.0 / 8.0))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L) == expected && got(2L) == expected)
  }

  test("domainTerms surfaces the source-exclusive marker term at rank 1") {
    // src A is marked by "alpha" (frequent there, absent elsewhere);
    // shared filler dominates raw frequency but not log-odds z
    val docs = Seq(
      (0L, "A", "alpha alpha alpha the the the and and"),
      (1L, "A", "alpha alpha the the and"),
      (2L, "B", "beta beta beta the the the and and"),
      (3L, "B", "beta beta the the and")
    ).toDF("doc_id", "source", "text")
    val top = CorpusStats.domainTerms(docs, per = 1).collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(top == Map("A" -> "alpha", "B" -> "beta"))
  }

  test("collocations: a glued pair outranks independent co-occurrence") {
    // "new york" always adjacent; "the" ubiquitous → low PMI
    val docs = Seq(
      (0L, "new york new york new york new york new york"),
      (1L, "the cat the dog the bird the fish the cow"),
      (2L, "new york the cat new york the dog new york a b")
    ).toDF("doc_id", "text")
    val out = CorpusStats.collocations(docs, minCount = 3, topN = 5).collect()
    assert(out.head.getString(0) == "new york")
    val pmis = out.map(r => r.getString(0) -> r.getDouble(2)).toMap
    pmis.collect { case (k, v) if k != "new york" => v }.foreach(v =>
      assert(v < pmis("new york")))
  }

  test("vocabCoverage: exact cumulative fractions on a known Zipf-ish fixture") {
    // counts: a:8 b:4 c:2 d:1 → top1 8/15, top2 12/15, top4 = 1.0
    val docs = Seq((0L, "a a a a a a a a b b b b c c d")).toDF("doc_id", "text")
    val got = CorpusStats.vocabCoverage(docs, Seq(1, 2, 4))
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 8L, BigDecimal(8.0 / 15).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble),
      (2L, 12L, 0.8),
      (4L, 15L, 1.0)))
  }

  test("knBigram: in-domain text outranks off-domain text") {
    val lm = Seq((100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "the quick brown cat naps under the warm sun")).toDF("doc_id", "text")
    val docs = Seq((1L, "the quick brown fox"), (2L, "zz yy xx ww")).toDF("doc_id", "text")
    val scores = CorpusStats.knBigram(docs, lm).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(scores(1L) > scores(2L))
  }
}
