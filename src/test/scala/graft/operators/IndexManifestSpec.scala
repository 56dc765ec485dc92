package graft.operators

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.{IncompleteIndexException, IndexManifest}

/** The index manifest is the only thing an open reads: every family's
  * recorded schemas equal what footer inference would report, opening
  * launches no Spark job, a directory whose write never committed is
  * rejected by every reader, and incremental graph adds keep the row
  * count and the near-dup estimate exact. */
class IndexManifestSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet").cache()
  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private lazy val hnswDir = {
    val d = tmp("mf_hnsw"); HnswIndex.writeIndex(emb, d, numPartitions = 4); d
  }
  private lazy val vamanaDir = {
    val d = tmp("mf_vamana"); VamanaIndex.writeIndex(emb, d, numPartitions = 4); d
  }
  private lazy val cents = IvfIndex.seedCentroids(emb, 16)
  private lazy val ivfDir = {
    val d = tmp("mf_ivf"); IvfIndex.writeIndex(IvfIndex.assign(emb, cents), cents, d); d
  }
  private lazy val spannDir = {
    val d = tmp("mf_spann")
    IvfIndex.writeIndex(IvfIndex.assignMulti(emb, cents, r = 2), cents, d); d
  }
  private lazy val coarseDir = {
    val d = tmp("mf_coarse"); HnswIndex.writeCoarseIndex(spark, cents, d); d
  }
  private lazy val taDir = {
    val d = tmp("mf_ta")
    SparseTopK.writeIndex(SparseTopK.buildImpactIndex(
      spark.read.parquet(s"$sf0001/documents.parquet")), d)
    d
  }
  private def all: Seq[(String, String)] = Seq(hnswDir -> "hnsw", vamanaDir -> "vamana",
    ivfDir -> "ivf", spannDir -> "ivf", coarseDir -> "hnsw-coarse", taDir -> "ta")

  private def tablePath(dir: String, name: String): String =
    if (name == IndexManifest.Root) dir else s"$dir/$name"

  /** Jobs started while `body` runs: counted between two sentinel jobs,
    * so listener-bus delivery order (not timing) bounds the window. */
  private def jobsDuring(body: => Unit): Int = {
    val (open, close) = (s"mf-open-${System.nanoTime}", s"mf-close-${System.nanoTime}")
    val counting = new CountDownLatch(1)
    val closed = new CountDownLatch(1)
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.job.description")).orNull match {
          case `open` => counting.countDown()
          case `close` => closed.countDown()
          case _ => if (counting.getCount == 0 && closed.getCount > 0) jobs.incrementAndGet()
        }
    }
    def sentinel(tag: String): Unit = {
      spark.sparkContext.setJobDescription(tag)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      sentinel(open)
      body
      sentinel(close)
      assert(closed.await(60, TimeUnit.SECONDS), "listener never saw the closing sentinel")
      jobs.get
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("every recorded schema equals the schema footer inference reports") {
    all.foreach { case (dir, family) =>
      val m = IndexManifest.read(spark, dir, family)
      assert(m.tables.nonEmpty)
      m.tables.foreach { case (name, recorded) =>
        assert(recorded == spark.read.parquet(tablePath(dir, name)).schema, s"$family/$name")
      }
    }
  }

  test("reading the manifest and opening every table launches no job; loadIndex at nlist 16 at most one") {
    all.foreach(_._1) // build every index outside the counted window
    // control: the footer-inferring open this replaces does run a job
    assert(jobsDuring(spark.read.parquet(s"$hnswDir/nodes")) >= 1)
    val opens = jobsDuring {
      all.foreach { case (dir, family) =>
        val m = IndexManifest.read(spark, dir, family)
        m.tables.keys.foreach(t => m.table(spark, dir, t).schema)
      }
    }
    assert(opens == 0, s"$opens jobs while opening committed indexes")
    Seq(ivfDir, spannDir).foreach { d =>
      val loads = jobsDuring(IvfIndex.loadIndex(spark, d))
      assert(loads <= 1, s"loadIndex($d) launched $loads jobs")
    }
  }

  test("a directory whose write died before the commit is rejected by every reader") {
    val q = emb.where($"vec_id" < 4).select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val batch = emb.where($"vec_id" < 4).select($"vec_id", $"embedding")
    val allowed = emb.select($"vec_id")
    val readers: Seq[(String, String, Seq[() => Any])] = Seq(
      (hnswDir, "hnsw", Seq(
        () => HnswIndex.searchPersisted(q, hnswDir, k = 3),
        () => HnswIndex.selfSearchPersisted(spark, hnswDir, numQueries = 4, k = 3),
        () => HnswIndex.selfSearchPersistedExact(spark, hnswDir, numQueries = 4, k = 3),
        () => HnswIndex.selfSearchPersistedSweep(spark, hnswDir, numQueries = 4, k = 3, efs = Seq(8)),
        () => HnswIndex.selfSearchFilteredPersisted(spark, hnswDir, allowed, numQueries = 4, k = 3),
        () => HnswIndex.addToIndex(batch, hnswDir))),
      (vamanaDir, "vamana", Seq(
        () => VamanaIndex.searchPersisted(q, vamanaDir, k = 3),
        () => VamanaIndex.selfSearchPersisted(spark, vamanaDir, numQueries = 4, k = 3),
        () => VamanaIndex.selfSearchFilteredPersisted(spark, vamanaDir, allowed, numQueries = 4, k = 3),
        () => VamanaIndex.addToIndex(batch, vamanaDir))),
      (ivfDir, "ivf", Seq(
        () => IvfIndex.loadIndex(spark, ivfDir),
        () => IvfIndex.addToIndex(batch, cents, ivfDir))),
      (spannDir, "ivf", Seq(
        () => IvfIndex.loadIndex(spark, spannDir),
        () => IvfIndex.addToIndex(batch, cents, spannDir))),
      (coarseDir, "hnsw-coarse", Seq(
        () => HnswIndex.coarseProbesPersisted(q, coarseDir, nprobe = 2))),
      (taDir, "ta", Seq(
        () => SparseTopK.taTopKPersisted(spark, taDir, Seq("vector"), 3),
        () => SparseTopK.taTopKBatchPersisted(spark, taDir,
          Seq((0L, "vector")).toDF("query_id", "term"), 3),
        () => SparseTopK.readIndex(spark, taDir))))
    readers.foreach { case (dir, family, calls) =>
      val m = IndexManifest.read(spark, dir, family)
      val before = spark.read.parquet(tablePath(dir, m.tables.keys.min)).count()
      IndexManifest.delete(spark, dir)
      try calls.zipWithIndex.foreach { case (call, i) =>
        intercept[IncompleteIndexException](call())
        assert(!IndexManifest.exists(spark, dir), s"$family reader $i committed a manifest")
      } finally IndexManifest.write(spark, dir, m)
      // rejected adds stored nothing
      assert(spark.read.parquet(tablePath(dir, m.tables.keys.min)).count() == before, family)
    }
    // and the restored manifests serve again
    assert(HnswIndex.searchPersisted(q, hnswDir, k = 3).count() == 12)
  }

  test("a failed _termstats rename raises before the TA manifest is written") {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = tmp("mf_ta_rename")
    conf.set("fs.file.impl", classOf[FailingTermstatsRenameFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    try intercept[IncompleteIndexException](SparseTopK.writeIndex(
      SparseTopK.buildImpactIndex(spark.read.parquet(s"$sf0001/documents.parquet")), dir))
    finally {
      conf.unset("fs.file.impl")
      conf.unset("fs.file.impl.disable.cache")
    }
    assert(!IndexManifest.exists(spark, dir))
    intercept[IncompleteIndexException](SparseTopK.taTopKPersisted(spark, dir, Seq("vector"), 3))
  }

  test("after two adds the manifest's rows equal the stored nodes and its estimate is a fresh one over them") {
    def nodes(dir: String) = spark.read.parquet(s"$dir/nodes")
    def fresh(dir: String) = FilteredSearchPlanner.estimateDupMultiplicity(
      nodes(dir).select($"vec_id", $"vec".as("embedding")))
    val slice = (lo: Long, hi: Long) =>
      emb.where($"vec_id" >= lo && $"vec_id" < hi).select($"vec_id", $"embedding")
    Seq[(String, String => Unit, (org.apache.spark.sql.DataFrame, String) => Unit)](
      ("hnsw", d => HnswIndex.writeIndex(slice(0, 300), d, numPartitions = 4), HnswIndex.addToIndex),
      ("vamana", d => VamanaIndex.writeIndex(slice(0, 300), d, numPartitions = 4), VamanaIndex.addToIndex)
    ).foreach { case (family, write, add) =>
      val dir = tmp(s"mf_add_$family")
      write(dir)
      add(slice(300, 400), dir) // +33 %: refresh
      add(slice(400, 490), dir) // +22 %: refresh
      add(slice(400, 490), dir) // replay: nothing inserted
      val m = IndexManifest.read(spark, dir, family)
      assert(m.rows.contains(nodes(dir).count()) && m.rows.contains(490L), s"$family rows ${m.rows}")
      assert(m.rowsAtEstimate.contains(490L), family)
      assert(m.dupMultiplicity.contains(fresh(dir)), family)
      add(slice(490, 500), dir) // +2 %: below the refresh growth
      val m2 = IndexManifest.read(spark, dir, family)
      assert(m2.rows.contains(500L) && nodes(dir).count() == 500L, family)
      assert(m2.rowsAtEstimate.contains(490L) && m2.dupMultiplicity == m.dupMultiplicity, family)
    }
  }
}

/** Local filesystem whose rename of TA's `_termstats` staging directory
  * reports failure, as an object store or a full disk can. */
class FailingTermstatsRenameFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def rename(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Boolean =
    !src.getName.endsWith("__termstats_tmp") && super.rename(src, dst)
}
