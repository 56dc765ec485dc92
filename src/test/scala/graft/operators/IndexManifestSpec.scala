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
  * launches no Spark job and lists no directory at any partition count,
  * a directory whose write never committed is rejected by every reader,
  * a file no committed manifest names is never served, and incremental
  * graph adds keep the row count and the near-dup estimate exact and
  * retire the files they supersede. */
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

  private lazy val cents64 = IvfIndex.seedCentroids(emb, 64)
  private lazy val ivf64Dir = {
    val d = tmp("mf_ivf64"); IvfIndex.writeIndex(IvfIndex.assign(emb, cents64), cents64, d); d
  }
  private lazy val spann64Dir = {
    val d = tmp("mf_spann64")
    IvfIndex.writeIndex(IvfIndex.assignMulti(emb, cents64, r = 2), cents64, d); d
  }
  private lazy val ta64Dir = {
    val d = tmp("mf_ta64")
    SparseTopK.writeIndex(SparseTopK.buildImpactIndex(
      spark.read.parquet(s"$sf0001/documents.parquet")), d, numBuckets = 64)
    d
  }
  private lazy val ivfpqCodes =
    IvfPqIndex.buildSeeded(emb, nlist = 8, m = 8, subDim = 8, ksub = 16)._3
  private lazy val ivfpqDir = { val d = tmp("mf_ivfpq"); IvfPqIndex.writeIndex(ivfpqCodes, d); d }
  private def queries(lo: Long, hi: Long) =
    emb.where($"vec_id" >= lo && $"vec_id" < hi).select($"vec_id".as("query_id"), $"embedding".as("qvec"))

  /** Directory listings of the local filesystem while `body` runs. */
  private def listingsDuring(body: => Unit): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.file.impl", classOf[CountingListFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    CountingListFs.calls.set(0)
    try { body; CountingListFs.calls.get }
    finally {
      conf.unset("fs.file.impl")
      conf.unset("fs.file.impl.disable.cache")
    }
  }

  test("at nlist 64 and 64 TA buckets, opens launch no job, and opens and serves list no directory") {
    val dirs = Seq(ivf64Dir -> "ivf", spann64Dir -> "ivf", ta64Dir -> "ta", ivfpqDir -> "ivfpq")
    val m = IndexManifest.read(spark, ivf64Dir, "ivf")
    assert(m.files("assignments").map(_.partitionDir).distinct.size > 32, "fixture spans > 32 lists")
    // controls: the listing open this replaces runs Spark's parallel
    // listing job past 32 directories, and the counting FS does count
    assert(jobsDuring(spark.read.schema(m.tables("assignments"))
      .parquet(s"$ivf64Dir/assignments").schema) >= 1)
    assert(listingsDuring(spark.read.schema(m.tables("assignments"))
      .parquet(s"$ivf64Dir/assignments").schema) > 0)
    def openAll(): Unit = dirs.foreach { case (d, f) =>
      val mf = IndexManifest.read(spark, d, f)
      mf.tables.keys.foreach(t => mf.table(spark, d, t).schema)
    }
    assert(jobsDuring(openAll()) == 0, "opening the committed indexes launched a job")
    Seq(ivf64Dir, spann64Dir).foreach { d =>
      val loads = jobsDuring(IvfIndex.loadIndex(spark, d))
      assert(loads <= 1, s"loadIndex($d) launched $loads jobs")
    }
    val q = queries(0, 4)
    val terms = Seq((0L, "vector"), (1L, "spark")).toDF("query_id", "term")
    val listed = listingsDuring {
      openAll()
      val (c, a) = IvfIndex.loadIndex(spark, ivf64Dir)
      assert(IvfIndex.searchPruned(q, c, a, nprobe = 4, k = 5).collect().length == 20)
      val (c2, a2) = IvfIndex.loadIndex(spark, spann64Dir)
      assert(IvfIndex.searchMultiPruned(q, c2, a2, nprobe = 4, k = 5).collect().length == 20)
      assert(SparseTopK.taTopKBatchPersisted(spark, ta64Dir, terms, 3).collect().nonEmpty)
    }
    assert(listed == 0, s"$listed directory listings while opening and serving")
  }

  test("IVFPQ commits a manifest: recorded schema and rows equal the written codes") {
    val opened = IvfPqIndex.readIndex(spark, ivfpqDir)
    assert(opened.schema == spark.read.parquet(ivfpqDir).schema)
    val cols = Seq($"vec_id", $"cluster_id".cast("long"), $"codes")
    assert(opened.select(cols: _*).exceptAll(ivfpqCodes.select(cols: _*)).isEmpty &&
      ivfpqCodes.select(cols: _*).exceptAll(opened.select(cols: _*)).isEmpty)
  }

  test("a file no committed manifest names is never served, before or after a later add") {
    val dir = tmp("mf_orphan")
    IvfIndex.writeIndex(IvfIndex.assign(emb.where($"vec_id" < 400), cents), cents, dir)
    val q = queries(0, 8)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    def served(a: org.apache.spark.sql.DataFrame, c: Array[IvfIndex.Centroid]) =
      (rows(a.select($"vec_id", $"cluster_id".cast("long"))),
        rows(IvfIndex.searchPruned(q, c, a, nprobe = 4, k = 5)))
    def persisted = { val (c, a) = IvfIndex.loadIndex(spark, dir); served(a, c) }
    def inMemory(hi: Long) = served(IvfIndex.assign(emb.where($"vec_id" < hi), cents), cents)
    assert(persisted == inMemory(400))
    // what an add that died before its commit leaves: a parquet file in
    // a list directory — here a copy of a list's own file, so serving it
    // would duplicate that list's vectors
    val f = IndexManifest.read(spark, dir, "ivf").files("assignments").head
    val src = java.nio.file.Paths.get(s"$dir/assignments/${f.path}")
    Files.copy(src, src.resolveSibling(s"part-99999-orphan.c000.snappy.parquet"))
    assert(spark.read.parquet(s"$dir/assignments").count() > 400, "a listing open serves the orphan")
    assert(persisted == inMemory(400))
    IvfIndex.addToIndex(emb.where($"vec_id" >= 400 && $"vec_id" < 450), cents, dir)
    assert(persisted == inMemory(450))
  }

  test("a cached open of one committed record is not served for a later one") {
    val dir = tmp("mf_cached")
    HnswIndex.writeIndex(emb.where($"vec_id" < 300), dir, numPartitions = 4)
    def open() = IndexManifest.read(spark, dir, "hnsw").table(spark, dir, "nodes")
    val before = open().cache()
    try {
      assert(before.count() == 300L)
      HnswIndex.addToIndex(emb.where($"vec_id" >= 300 && $"vec_id" < 400).select($"vec_id", $"embedding"), dir)
      assert(open().count() == 400L)
      assert(open().sameSemantics(open()), "one record opens as one relation")
    } finally before.unpersist()
  }

  test("graph adds retire the files they supersede, and a serve beside an add reads one snapshot") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val slice = (lo: Long, hi: Long) =>
      emb.where($"vec_id" >= lo && $"vec_id" < hi).select($"vec_id", $"embedding")
    Seq[(String, (org.apache.spark.sql.DataFrame, String) => Unit,
        (org.apache.spark.sql.DataFrame, String) => Unit,
        (org.apache.spark.sql.DataFrame, String) => org.apache.spark.sql.DataFrame)](
      ("hnsw", HnswIndex.writeIndex(_, _, numPartitions = 4), HnswIndex.addToIndex,
        HnswIndex.searchPersisted(_, _, k = 1)),
      ("vamana", VamanaIndex.writeIndex(_, _, numPartitions = 4), VamanaIndex.addToIndex,
        VamanaIndex.searchPersisted(_, _, k = 1))
    ).foreach { case (family, write, add, serve) =>
      val dir = tmp(s"mf_retire_$family")
      write(slice(0, 300), dir)
      // the queries are the vectors added next: each finds itself only
      // once the add has committed
      val q = queries(300, 340)
      def served() = serve(q, dir).collect().map(r => (r.getLong(0), r.getLong(2))).sorted.toSeq
      val before = served()
      val during = Future(served())
      add(slice(300, 400), dir)
      val after = served()
      assert(after == (300L until 340L).map(i => (i, i)), family)
      val concurrent = Await.result(during, Duration.Inf)
      assert(concurrent == before || concurrent == after, s"$family serve mixed snapshots")
      add(slice(400, 450), dir)
      val nodes = IndexManifest.read(spark, dir, family).table(spark, dir, "nodes")
      val plain = spark.read.parquet(s"$dir/nodes")
      assert(nodes.count() == 450L, family)
      assert(plain.exceptAll(nodes).isEmpty && nodes.exceptAll(plain).isEmpty,
        s"$family: a listing read differs from the manifest open")
      val leftovers = Files.walk(java.nio.file.Paths.get(s"$dir/nodes")).toArray
        .map(_.toString).filter(_.contains("_staging"))
      assert(leftovers.isEmpty, s"$family staging left behind: ${leftovers.mkString(", ")}")
    }
  }
}


/** Local filesystem that counts directory listings. */
class CountingListFs extends org.apache.hadoop.fs.LocalFileSystem {
  import org.apache.hadoop.fs.{FileStatus, LocatedFileStatus, Path, RemoteIterator}
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingListFs.calls.incrementAndGet(); super.listStatus(f)
  }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    CountingListFs.calls.incrementAndGet(); super.listLocatedStatus(f)
  }
  override def listFiles(f: Path, recursive: Boolean): RemoteIterator[LocatedFileStatus] = {
    CountingListFs.calls.incrementAndGet(); super.listFiles(f, recursive)
  }
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] = {
    CountingListFs.calls.incrementAndGet(); super.listStatusIterator(f)
  }
}

object CountingListFs {
  val calls = new AtomicInteger()
}

/** Local filesystem whose rename of TA's `_termstats` staging directory
  * reports failure, as an object store or a full disk can. */
class FailingTermstatsRenameFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def rename(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Boolean =
    !src.getName.endsWith("__termstats_tmp") && super.rename(src, dst)
}
