package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.{CorpusStats, Dedup, HnswIndex, IvfIndex, KnnSearch, SparseTopK, VamanaIndex}

final case class Gate(name: String, ok: Boolean, detail: String)

/** One timed round of the closed loop: `calls` library operations, of
  * which `failed` failed or returned a malformed result. */
final case class Sample(seconds: Double, items: Long, calls: Int, failed: Int)

/** What a workload run produced; [[Main]] turns it into metrics. */
final case class Outcome(setup: Seq[Double], samples: Seq[Sample], quality: Double,
    gates: Seq[Gate], layer: Map[String, Double], detail: Map[String, Any])

final class Ctx(val spark: SparkSession, val tracer: Tracer, val data: String,
    val work: String, val reference: String, val seconds: Double, val corrupt: String,
    val meta: JsonNode) {
  val log = mutable.ArrayBuffer.empty[String]

  /** The closed loop: one client sends the next request when the last
    * one has returned. Requests come in rounds that each hold the
    * workload's full mix, and a round is the timed unit. A run makes at
    * least `minRounds` rounds, so that every run's median rests on the
    * same count, and starts more while its seconds last; a round always
    * runs to its end. A traced run records spans up to the loop's end. */
  def loop[T](rounds: Iterator[Seq[T]], name: String, minRounds: Int)(
      run: T => (Long, Boolean)): Seq[Sample] = {
    val out = mutable.ArrayBuffer.empty[Sample]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val cpu0 = Stats.cpuTicks()
    while (rounds.hasNext && (elapsed < seconds || out.size < minRounds)) {
      val round = rounds.next()
      val s = System.nanoTime()
      val results = tracer.op(name)(round.map { op =>
        try run(op)
        catch { case e: Throwable => note(s"$name failed: $e"); (0L, false) }
      })
      out += Sample((System.nanoTime() - s) / 1e9, results.map(_._1).sum, results.size,
        results.count(!_._2))
    }
    tracer.recording = false
    val (ext, steal) = Stats.externalAndSteal(cpu0, Stats.cpuTicks(), elapsed)
    loopDetail ++= Map("window_s" -> elapsed, "ext_cores" -> ext, "steal_cores" -> steal,
      "round_s" -> out.map(_.seconds))
    out.toSeq
  }
  val loopDetail = mutable.LinkedHashMap.empty[String, Any]

  /** Wall-clock phase boundaries of the run, for the detail output. */
  private val started = System.nanoTime()
  val phases = mutable.LinkedHashMap.empty[String, Double]
  def mark(phase: String): Unit = phases(phase) = (System.nanoTime() - started) / 1e9

  def note(s: String): Unit = { log += s; System.err.println(s"[perfbench] $s") }

  def gate(name: String)(check: => (Boolean, String)): Gate = {
    val (ok, detail) =
      try check
      catch { case e: Throwable => (false, s"threw $e") }
    if (!ok) note(s"gate $name FAILED: $detail")
    Gate(name, ok, detail)
  }

  /** Recall floors per workload and family, set below the recall the
    * reference runs measured (reference/floors.json). */
  lazy val floors: Map[String, Double] =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(new File(s"$reference/floors.json"))
      .properties().asScala.map(e => e.getKey -> e.getValue.asDouble).toMap
}

/** Inputs read back from the generator's files. */
object Inputs {
  def vectors(spark: SparkSession, path: String, id: String, vec: String): Array[(Long, Array[Float])] =
    spark.read.parquet(path).select(col(id), col(vec)).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)

  def queryFrame(spark: SparkSession, qs: Seq[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    qs.toDF("query_id", "qvec")
  }

  def vectorFrame(spark: SparkSession, vs: Seq[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    vs.toDF("vec_id", "embedding")
  }

  /** The generated schedule as blocks of (family, batch size, first query). */
  def blocks(meta: JsonNode): Seq[Seq[(String, Int, Int)]] =
    meta.get("ops").elements().asScala.map(o =>
      (o.get(0).asText, o.get(1).asInt, o.get(2).asInt)).toSeq.grouped(meta.get("block").asInt).toSeq

  /** Ids of the k vectors nearest to `q` by squared L2, ties to the lower id. */
  def exactTopK(q: Array[Float], vs: Seq[(Long, Array[Float])], k: Int): Set[Long] =
    vs.map { case (id, v) =>
      var d = 0.0
      var i = 0
      while (i < v.length) { val x = v(i).toDouble - q(i); d += x * x; i += 1 }
      (d, id)
    }.sorted.take(k).map(_._2).toSet

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def bytesUnder(f: File): Long =
    if (f.isFile) f.length else Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)
}

/** Ranked result rows, normalized for comparison: (query, rank, id, score). */
object Results {
  type R = (Long, Long, Long, Double)

  def ranked(rows: Array[Row], idCol: String, scoreCol: String): Seq[R] =
    rows.map(r => (r.getAs[Number]("query_id").longValue, r.getAs[Number]("rank").longValue,
      r.getAs[Number](idCol).longValue, r.getAs[Number](scoreCol).doubleValue))
      .sortBy(r => (r._1, r._2)).toSeq

  /** Every query is from the batch and has distinct ids ranked 1..n, with
    * n = k for each query of the batch when `exact`, n <= k otherwise. */
  def wellFormed(rs: Seq[R], queries: Set[Long], k: Int, exact: Boolean): Boolean = {
    val byQ = rs.groupBy(_._1)
    byQ.keySet.subsetOf(queries) && (!exact || byQ.size == queries.size) &&
      byQ.values.forall { q =>
        val ranks = q.map(_._2).sorted
        ranks == (1L to ranks.size.toLong) && (if (exact) q.size == k else q.size <= k) &&
          q.map(_._3).distinct.size == q.size
      }
  }

  def same(a: Seq[R], b: Seq[R]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      x._1 == y._1 && x._2 == y._2 && x._3 == y._3 &&
        math.abs(x._4 - y._4) <= 1e-9 * math.max(1.0, math.abs(x._4))
    }

  /** Mean share of each query's true top-k the approximate result returned. */
  def recall(approx: Seq[R], truth: Map[Long, Set[Long]], k: Int): Double = {
    val got = approx.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._3).toSet }
    truth.toSeq.map { case (q, ids) =>
      (got.getOrElse(q, Set.empty[Long]) intersect ids).size.toDouble / k
    }.sum / math.max(truth.size, 1)
  }

  def corrupt(rs: Seq[R]): Seq[R] =
    if (rs.isEmpty) rs else (rs.head._1, rs.head._2, rs.head._3 + 1, rs.head._4) +: rs.tail
}

object Workloads {
  val K = 10

  def run(ctx: Ctx, workload: String): Outcome = workload match {
    case "ann_serve" => annServe(ctx)
    case "ingest_serve" => ingestServe(ctx)
    case "dedup_pipeline" => dedupPipeline(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def nlistFor(rows: Long): Int = {
    var p = 8
    while (p * p * 2 < rows) p *= 2
    p
  }

  /** Read-only serving from persisted HNSW, Vamana, IVF, SPANN and TA
    * indexes. A round serves one batch from each family, in a seeded
    * order, with batch sizes from a skewed set that rotates by round. */
  def annServe(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val tr = ctx.tracer
    val emb = spark.read.parquet(s"${ctx.data}/embeddings.parquet")
    val docs = spark.read.parquet(s"${ctx.data}/documents.parquet")
    val qPool = Inputs.vectors(spark, s"${ctx.data}/queries.parquet", "query_id", "qvec")
    val lexical = spark.read.parquet(s"${ctx.data}/lexical.parquet").collect()
      .map(r => (r.getLong(0), r.getString(1))).groupBy(_._1)
    def lexFrame(from: Int, n: Int): DataFrame =
      (from until from + n).flatMap(q => lexical.getOrElse(q.toLong, Array.empty[(Long, String)]))
        .toDF("query_id", "term")
    val nRecall = ctx.meta.get("recall_queries").asInt
    val recallQ = qPool.take(nRecall).toSeq
    val rows = ctx.meta.get("rows").asLong
    val nlist = nlistFor(rows)
    val (ivfProbe, spannProbe, spannReplicas) = (8, 4, 2)

    val dir = s"${ctx.work}/ann"
    val t0 = System.nanoTime()
    val (taIndex, truth) = tr.op("setup") {
      tr.span("HnswIndex.writeIndex")(HnswIndex.writeIndex(emb, s"$dir/hnsw"))
      tr.span("VamanaIndex.writeIndex")(VamanaIndex.writeIndex(emb, s"$dir/vamana"))
      val cents = IvfIndex.seedCentroids(emb, nlist)
      tr.span("IvfIndex.build")(
        IvfIndex.writeIndex(IvfIndex.assign(emb, cents), cents, s"$dir/ivf"))
      tr.span("IvfIndex.buildMulti")(IvfIndex.writeIndex(
        IvfIndex.assignMulti(emb, cents, spannReplicas), cents, s"$dir/spann"))
      val idx = tr.span("SparseTopK.build") {
        val i = SparseTopK.buildImpactIndex(docs)
        SparseTopK.writeIndex(i, s"$dir/ta")
        i
      }
      val gt = tr.span("KnnSearch.topK") {
        KnnSearch.topK(Inputs.queryFrame(spark, recallQ),
          emb.select(col("vec_id"), col("embedding").as("vec")), K)
          .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id")))
          .groupBy(_._1).map { case (q, ids) => q -> ids.map(_._2).toSet }
      }
      (idx, gt)
    }
    val setup = Seq((System.nanoTime() - t0) / 1e9)
    ctx.mark("setup")

    def vectorSearch(family: String, qs: Seq[(Long, Array[Float])]): Seq[Results.R] = {
      val q = Inputs.queryFrame(spark, qs)
      family match {
        case "hnsw" => Results.ranked(tr.span("HnswIndex.searchPersisted")(
          HnswIndex.searchPersisted(q, s"$dir/hnsw", K).collect()), "vec_id", "dist")
        case "vamana" => Results.ranked(tr.span("VamanaIndex.searchPersisted")(
          VamanaIndex.searchPersisted(q, s"$dir/vamana", K).collect()), "vec_id", "dist")
        case "ivf" =>
          val (c, a) = tr.span("IvfIndex.loadIndex")(IvfIndex.loadIndex(spark, s"$dir/ivf"))
          Results.ranked(tr.span("IvfIndex.searchPruned")(
            IvfIndex.searchPruned(q, c, a, ivfProbe, K).collect()), "vec_id", "dist")
        case "spann" =>
          val (c, a) = tr.span("IvfIndex.loadIndex")(IvfIndex.loadIndex(spark, s"$dir/spann"))
          Results.ranked(tr.span("IvfIndex.searchMultiPruned")(
            IvfIndex.searchMultiPruned(q, c, a, spannProbe, K).collect()), "vec_id", "dist")
      }
    }
    def lexSearch(from: Int, n: Int): Seq[Results.R] =
      Results.ranked(tr.span("SparseTopK.taTopKBatchPersisted")(
        SparseTopK.taTopKBatchPersisted(spark, s"$dir/ta", lexFrame(from, n), K).collect()),
        "doc_id", "score")

    // The first serve per family after set-up is the cold one, kept out
    // of the timed loop: the recall batch for the vector families, the
    // check batch for TA. Their results feed the recall and the gates.
    val lexCheck = ctx.meta.get("lexical_check_queries").asInt
    val coldServe = mutable.LinkedHashMap.empty[String, Double]
    def cold[T](family: String)(body: => T): T = {
      val c0 = System.nanoTime()
      val r = tr.op("cold")(body)
      coldServe(family) = (System.nanoTime() - c0) / 1e9
      r
    }
    val recallRows = Seq("hnsw", "vamana", "ivf", "spann").map(f => f -> cold(f)(vectorSearch(f, recallQ))).toMap
    val taRows = cold("ta")(lexSearch(0, lexCheck))
    ctx.mark("cold")

    def serve(op: (String, Int, Int)): (Long, Boolean) = {
      val (family, size, from) = op
      val ids = (from until from + size).map(_.toLong).toSet
      val rs =
        if (family == "ta") lexSearch(from, size)
        else vectorSearch(family, qPool.slice(from, from + size).toSeq)
      tr.rows(rs.size)
      (size.toLong, Results.wellFormed(rs, ids, K, exact = family != "ta"))
    }
    // three rounds: the median then holds out the first, still warming up
    val samples = ctx.loop(Iterator.continually(Inputs.blocks(ctx.meta)).flatten, "serve_round",
      minRounds = 3)(serve)
    ctx.mark("loop")

    val recalls = recallRows.map { case (f, rs) =>
      f -> (if (ctx.corrupt == "recall") 0.0 else Results.recall(rs, truth, K))
    }
    val recallIds = recallQ.map(_._1).toSet
    val gates = Seq(
      ctx.gate("ta_persisted_equals_in_memory") {
        val inMemory = Results.ranked(
          SparseTopK.taTopKBatch(taIndex, lexFrame(0, lexCheck), K).collect(), "doc_id", "score")
        val p = if (ctx.corrupt == "ta") Results.corrupt(taRows) else taRows
        (p.nonEmpty && Results.same(p, inMemory), s"${p.size} vs ${inMemory.size} rows")
      },
      ctx.gate("ivf_pruned_equals_unpruned") {
        val (c, a) = IvfIndex.loadIndex(spark, s"$dir/ivf")
        val full = Results.ranked(IvfIndex.search(Inputs.queryFrame(spark, recallQ), c, a,
          ivfProbe, K).collect(), "vec_id", "dist")
        (Results.same(recallRows("ivf"), full), s"${recallRows("ivf").size} vs ${full.size} rows")
      },
      ctx.gate("spann_pruned_equals_unpruned") {
        val (c, a) = IvfIndex.loadIndex(spark, s"$dir/spann")
        val full = Results.ranked(IvfIndex.searchMulti(Inputs.queryFrame(spark, recallQ), c, a,
          spannProbe, K).collect(), "vec_id", "dist")
        (Results.same(recallRows("spann"), full), s"${recallRows("spann").size} vs ${full.size} rows")
      }) ++ recallRows.toSeq.sortBy(_._1).map { case (f, rs) =>
        Gate(s"well_formed_$f", Results.wellFormed(rs, recallIds, K, exact = true), s"${rs.size} rows")
      } ++ recalls.toSeq.sortBy(_._1).map { case (f, r) =>
        ctx.gate(s"recall_floor_$f") {
          val floor = ctx.floors(s"ann_serve.$f")
          (r >= floor, f"recall@10 $r%.4f, floor $floor%.4f")
        }
      }

    Outcome(setup, samples, recalls.values.sum / recalls.size, gates,
      Map("HnswIndex.recall_at_10" -> recalls("hnsw"), "VamanaIndex.recall_at_10" -> recalls("vamana"),
        "IvfIndex.recall_at_10" -> recalls("ivf"), "IvfIndex.spann_recall_at_10" -> recalls("spann")),
      Map("cold_serve_s" -> coldServe,
        "recall_at_10" -> recalls, "nlist" -> nlist, "index_bytes" -> Inputs.bytesUnder(new File(dir))))
  }

  /** Writes beside reads. Block i adds the i-th batch of the seeded add
    * stream to each index (IVF, HNSW, Vamana, in a seeded order); each
    * operation is one index's add followed by one serve batch from that
    * index. The stream is as long as the initial index, so a run that
    * uses it up has doubled every index. */
  def ingestServe(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val base = Inputs.vectors(spark, s"${ctx.data}/embeddings.parquet", "vec_id", "embedding")
    val adds = Inputs.vectors(spark, s"${ctx.data}/adds.parquet", "vec_id", "embedding")
    val qPool = Inputs.vectors(spark, s"${ctx.data}/queries.parquet", "query_id", "qvec")
    val emb = spark.read.parquet(s"${ctx.data}/embeddings.parquet")
    val nRecall = ctx.meta.get("recall_queries").asInt
    val batch = ctx.meta.get("add_batch").asInt
    val dim = ctx.meta.get("dim").asInt
    val nlist = nlistFor(base.length)
    val probe = 6
    val families = Seq("ivf", "hnsw", "vamana")
    val dir = s"${ctx.work}/ingest"
    val t0 = System.nanoTime()
    val cents = tr.op("setup") {
      val c = IvfIndex.seedCentroids(emb, nlist)
      tr.span("IvfIndex.build")(IvfIndex.writeIndex(IvfIndex.assign(emb, c), c, s"$dir/ivf"))
      tr.span("HnswIndex.writeIndex")(HnswIndex.writeIndex(emb, s"$dir/hnsw"))
      tr.span("VamanaIndex.writeIndex")(VamanaIndex.writeIndex(emb, s"$dir/vamana"))
      c
    }
    val setup = Seq((System.nanoTime() - t0) / 1e9)
    ctx.mark("setup")

    def search(family: String, qs: Seq[(Long, Array[Float])], k: Int, np: Int = probe): Seq[Results.R] = {
      val q = Inputs.queryFrame(spark, qs)
      family match {
        case "hnsw" => Results.ranked(tr.span("HnswIndex.searchPersisted")(
          HnswIndex.searchPersisted(q, s"$dir/hnsw", k).collect()), "vec_id", "dist")
        case "vamana" => Results.ranked(tr.span("VamanaIndex.searchPersisted")(
          VamanaIndex.searchPersisted(q, s"$dir/vamana", k).collect()), "vec_id", "dist")
        case "ivf" =>
          val (c, a) = tr.span("IvfIndex.loadIndex")(IvfIndex.loadIndex(spark, s"$dir/ivf"))
          Results.ranked(tr.span("IvfIndex.searchPruned")(
            IvfIndex.searchPruned(q, c, a, np, k).collect()), "vec_id", "dist")
      }
    }
    def add(family: String, b: Seq[(Long, Array[Float])]): Unit = {
      val df = Inputs.vectorFrame(spark, b)
      family match {
        case "ivf" => tr.span("IvfIndex.addToIndex")(IvfIndex.addToIndex(df, cents, s"$dir/ivf"))
        case "hnsw" => tr.span("HnswIndex.addToIndex")(HnswIndex.addToIndex(df, s"$dir/hnsw"))
        case "vamana" => tr.span("VamanaIndex.addToIndex")(VamanaIndex.addToIndex(df, s"$dir/vamana"))
      }
    }

    // block i adds the i-th batch of the stream to every index
    val batches = adds.grouped(batch).map(_.toSeq).toSeq
    val acked = families.map(f => f -> mutable.ArrayBuffer.empty[(Long, Array[Float])]).toMap
    val blocks = Inputs.blocks(ctx.meta).zip(batches).map { case (ops, b) => ops.map(_ -> b) }
    val samples = ctx.loop(blocks.iterator, "ingest_round", minRounds = 2) { case ((family, size, from), b) =>
      add(family, b)
      acked(family) ++= b
      val rs = search(family, qPool.slice(from, from + size).toSeq, K)
      tr.rows(rs.size)
      (b.size.toLong, Results.wellFormed(rs, (from until from + size).map(_.toLong).toSet, K, exact = true))
    }
    ctx.mark("loop")

    // Untimed: reopen every index from disk. One search per index serves
    // the recall queries (against exact truth over that index's contents,
    // computed here) and every acknowledged add, which must come back as
    // its own nearest neighbour, and only once.
    val truthQ = qPool.take(nRecall).toSeq
    val checks = families.map { f =>
      val rs = search(f, truthQ ++ acked(f), K, np = probe).groupBy(_._1)
      val contents = base.toSeq ++ acked(f)
      val truth = truthQ.map { case (q, v) => q -> Inputs.exactTopK(v, contents, K) }.toMap
      val recall = Results.recall(truthQ.flatMap(q => rs.getOrElse(q._1, Nil)), truth, K)
      val own = acked(f).count { case (id, _) => rs.get(id).exists(_.exists(r => r._2 == 1L && r._3 == id)) }
      val twice = acked(f).count { case (id, _) => rs.get(id).exists(_.count(_._3 == id) > 1) }
      f -> (if (ctx.corrupt == "recall") 0.0 else recall, own, twice)
    }.toMap
    val recalls = checks.map { case (f, c) => f -> c._1 }
    val gates = Seq(
      ctx.gate("durability_ivf_ids_once") {
        val (_, a) = IvfIndex.loadIndex(spark, s"$dir/ivf")
        val stored = a.select(col("vec_id")).collect().map(_.getLong(0))
        val got = if (ctx.corrupt == "durability") stored.drop(1) else stored
        val want = (base.map(_._1) ++ acked("ivf").map(_._1)).sorted.toSeq
        (got.sorted.toSeq == want, s"${got.length} stored, ${want.size} acknowledged")
      }) ++ families.map { f =>
        val (_, own, twice) = checks(f)
        ctx.gate(s"durability_${f}_own_neighbour")((own == acked(f).size && twice == 0,
          s"$own/${acked(f).size} own nearest, $twice twice"))
      } ++ recalls.toSeq.sortBy(_._1).map { case (f, r) =>
        ctx.gate(s"recall_floor_$f") {
          val floor = ctx.floors(s"ingest_serve.$f")
          (r >= floor, f"recall@10 $r%.4f, floor $floor%.4f")
        }
      }
    val stored = base.length * families.size + acked.values.map(_.size).sum
    Outcome(setup, samples, recalls.values.sum / recalls.size, gates,
      Map("HnswIndex.recall_at_10" -> recalls("hnsw"), "VamanaIndex.recall_at_10" -> recalls("vamana"),
        "IvfIndex.recall_at_10" -> recalls("ivf")),
      Map("recall_at_10" -> recalls, "added" -> acked.map { case (f, a) => f -> a.size },
        "initial" -> base.length, "index_bytes_per_vector_byte" ->
          Inputs.bytesUnder(new File(dir)).toDouble / (stored.toLong * dim * 4L)))
  }

  /** Batch curation, one document shard per operation: exactDedup →
    * minhashFastCandidatesScored → verifyScoredCandidates → dupClusters,
    * a CorpusStats LM-quality stage (cross-entropy under a reference
    * corpus), then keepBestByQuality on that score. */
  def dedupPipeline(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val shards = ctx.meta.get("shards").size
    val lm = spark.read.parquet(s"${ctx.data}/lm_corpus.parquet")
    final case class Pass(shard: Int, exact: Array[Row], cands: DataFrame, verified: DataFrame,
        clusters: DataFrame, kept: Array[Row])
    def pass(s: Int): Pass = {
      val docs = spark.read.parquet(s"${ctx.data}/shard$s.parquet")
      val exact = tr.span("Dedup.exactDedup")(Dedup.exactDedup(docs)
        .select(col("doc_id"), col("canonical_id"), col("is_dup")).collect())
      val cands = tr.span("Dedup.minhashFastCandidatesScored")(
        Dedup.minhashFastCandidatesScored(docs, shingleN = 3, numHashes = 16, bands = 4)
          .localCheckpoint(true))
      val verified = tr.span("Dedup.verifyScoredCandidates")(
        Dedup.verifyScoredCandidates(docs, cands, shingleN = 3, threshold = 0.8).localCheckpoint(true))
      val clusters = tr.span("Dedup.dupClusters")(Dedup.dupClusters(docs, verified).localCheckpoint(true))
      val quality = tr.span("CorpusStats.crossNll")(CorpusStats.crossNll(docs, lm)
        .select(col("doc_id"), (-col("nll")).as("quality")).localCheckpoint(true))
      val kept = tr.span("Dedup.keepBestByQuality")(Dedup.keepBestByQuality(
        clusters.select(col("doc_id"), col("canonical_id")), quality).collect())
      tr.rows(kept.length)
      Pass(s, exact, cands, verified, clusters, kept)
    }
    val t0 = System.nanoTime()
    val first = tr.op("setup")(pass(0))
    val setup = Seq((System.nanoTime() - t0) / 1e9)
    ctx.mark("setup")
    var last = first
    val order = Iterator.continually(1 until shards).flatten.map(Seq(_))
    val samples = ctx.loop(order, "shard_pass", minRounds = 2) { s =>
      val p = pass(s)
      last = p
      (ctx.meta.get("shards").get(s).get("docs").asLong, p.kept.nonEmpty)
    }

    ctx.mark("loop")
    // untimed gates over the set-up shard and the last timed shard
    val planted = ctx.meta.get("planted").elements().asScala.map(p =>
      (p.get(0).asInt, p.get(1).asLong, p.get(2).asLong, p.get(3).asText)).toSeq
    var found, total = 0
    var cand, ver = 0L
    val gates = Seq(first, last).distinctBy(_.shard).flatMap { p =>
      val texts = spark.read.parquet(s"${ctx.data}/shard${p.shard}.parquet").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
      val canon = p.clusters.collect().map(r =>
        r.getAs[Long]("doc_id") -> r.getAs[Long]("canonical_id")).toMap
      val pairs0 = p.verified.select(col("doc_a"), col("doc_b")).collect().map(r => (r.getLong(0), r.getLong(1)))
      val pairs = if (ctx.corrupt == "dedup") pairs0 :+ (texts.keys.min -> texts.keys.max) else pairs0
      cand += p.cands.count(); ver += pairs0.length
      val mine = planted.filter(_._1 == p.shard)
      val inCluster = mine.filter { case (_, a, b, _) => canon.get(a).exists(canon.get(b).contains) }
      found += inCluster.size; total += mine.size
      val verbatim = mine.filter(_._4 == "verbatim")
      val exactDup = p.exact.map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      Seq(
        ctx.gate(s"shard${p.shard}_verified_pairs_jaccard") {
          val sh = mutable.Map.empty[Long, Set[String]]
          def shingles(id: Long) = sh.getOrElseUpdate(id, {
            val t = texts(id).trim.split("\\s+")
            if (t.length < 3) Set.empty[String] else t.sliding(3).map(_.mkString(" ")).toSet
          })
          val bad = pairs.count { case (a, b) =>
            val (x, y) = (shingles(a), shingles(b))
            val u = (x union y).size
            u == 0 || (x intersect y).size.toDouble / u < 0.8 - 1e-9
          }
          (bad == 0, s"$bad of ${pairs.length} verified pairs below Jaccard 0.8")
        },
        ctx.gate(s"shard${p.shard}_verbatim_pairs_found") {
          val missed = verbatim.count { case (_, a, b, _) =>
            !(canon.get(a).exists(canon.get(b).contains) && exactDup.getOrElse(b, false))
          }
          (missed == 0, s"$missed of ${verbatim.size} planted verbatim pairs missed")
        })
    }
    val dupRecall = if (total == 0) 0.0 else found.toDouble / total
    val stats = ctx.meta.get("shards").elements().asScala.toSeq
    Outcome(setup, samples, dupRecall, gates,
      Map("Dedup.verified_per_candidate" -> (if (cand > 0) ver.toDouble / cand else 0.0)),
      Map("dup_recall" -> dupRecall, "planted_pairs_checked" -> total,
        "distinct_ratio" -> Stats.median(stats.map(_.get("distinct_ratio").asDouble)),
        "sum_g2_over_n" -> Stats.median(stats.map(_.get("sum_g2_over_n").asDouble)),
        "docs_per_shard" -> stats.head.get("docs").asLong))
  }
}
