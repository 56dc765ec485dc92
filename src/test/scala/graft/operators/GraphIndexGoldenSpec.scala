package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.sources.IndexManifest

/** Golden pins for the persisted graph families: on one fixed synthetic
  * fixture at production beams (ef = L = 64), the stored node rows after
  * a write, after an add plus a replay of the same batch, the served and
  * filtered-served rows, and the recorded node schema are pinned to
  * literal md5s and a literal schema. Any change to build order,
  * routing, insert, walk or merge shows up here, whichever code path
  * produces it. */
class GraphIndexGoldenSpec extends SparkSpec {
  import spark.implicits._

  /** 3000 × 64-d vectors from a fixed seed — large enough that a
    * 64-wide beam over a quarter of them is approximate; every 50th
    * repeats its predecessor exactly, so distance ties (broken on
    * vec_id) occur. The served queries are 40 further draws. */
  private lazy val fixture: DataFrame = {
    val rnd = new java.util.Random(20240917L)
    val vs = new Array[Array[Float]](3040)
    (0 until 3040).foreach { i =>
      vs(i) = if (i % 50 == 49) vs(i - 1).clone() else Array.fill(64)(rnd.nextGaussian().toFloat)
    }
    vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq
      .toDF("vec_id", "embedding").cache()
  }
  private def base = fixture.where($"vec_id" < 2500)
  private def batch = fixture.where($"vec_id" >= 2500 && $"vec_id" < 3000)
  private def queries = fixture.where($"vec_id" >= 3000)
    .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
  private def allowed = fixture.where($"vec_id" % 3 =!= 0).select($"vec_id")

  private def canon(v: Any): String = v match {
    case null => "null"
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }
  private def md5(df: DataFrame): String = {
    val text = df.collect().map(canon).sorted.mkString("\n")
    java.security.MessageDigest.getInstance("MD5").digest(text.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  private def f(name: String, t: DataType) = StructField(name, t, nullable = true)
  private val vec = ArrayType(FloatType, containsNull = true)
  private val adj0 = ArrayType(IntegerType, containsNull = true)
  private val hnswNodes = StructType(Seq(f("seq", IntegerType), f("vec_id", LongType),
    f("level", IntegerType), f("vec", vec), f("adj", ArrayType(adj0, containsNull = true)),
    f("part_id", IntegerType)))
  private val coarseNodes = StructType(Seq(f("part_id", IntegerType), f("seq", IntegerType),
    f("vec_id", LongType), f("level", IntegerType), f("vec", vec),
    f("adj", ArrayType(adj0, containsNull = true))))
  private val vamanaNodes = StructType(Seq(f("seq", IntegerType), f("vec_id", LongType),
    f("vec", vec), f("adj", adj0), f("medoid_seq", IntegerType), f("part_id", IntegerType)))

  /** One family: how to write, add, serve and filter-serve it, the table
    * its nodes live in, and its pins (absent pins: the family has no
    * such path). */
  private case class Family(
      name: String,
      table: String,
      schema: StructType,
      write: String => Unit,
      serve: String => DataFrame,
      filtered: Option[String => DataFrame],
      add: Option[String => Unit],
      pins: Map[String, String])

  private val families = Seq(
    Family("hnsw", "nodes", hnswNodes,
      dir => HnswIndex.writeIndex(base, dir, numPartitions = 4),
      dir => HnswIndex.searchPersisted(queries, dir, k = 10),
      Some(dir => HnswIndex.selfSearchFilteredPersisted(spark, dir, allowed, numQueries = 40, k = 10)),
      Some(dir => HnswIndex.addToIndex(batch, dir)),
      Map("written" -> "9e9b961a0becad2c83b829e841be2208",
        "served" -> "e001365ea529468ac86d1e476d04ebe9",
        "filtered" -> "e761ae43ef2b053c33aeadc406aeb0f9",
        "added" -> "edb2b050856cca70a32241c3290c2e66",
        "added_served" -> "a168dc7e4b06bfe116367a48a8a4d175")),
    Family("hnsw-coarse", "coarse_nodes", coarseNodes,
      dir => HnswIndex.writeCoarseIndex(spark,
        base.where($"vec_id" < 64).as[(Long, Array[Float])].collect(), dir),
      dir => HnswIndex.coarseProbesPersisted(queries, dir, nprobe = 4)
        .select($"query_id", $"cluster_id"),
      None, None,
      Map("written" -> "a39e86448273db04f98440cbe0db7b39",
        "served" -> "c789151c0ae661b19953d27773101c06")),
    Family("vamana", "nodes", vamanaNodes,
      dir => VamanaIndex.writeIndex(base, dir, numPartitions = 4),
      dir => VamanaIndex.searchPersisted(queries, dir, k = 10),
      Some(dir => VamanaIndex.selfSearchFilteredPersisted(spark, dir, allowed, numQueries = 40, k = 10)),
      Some(dir => VamanaIndex.addToIndex(batch, dir)),
      Map("written" -> "bbe274ed8425ac4e96a1b2c1f2b46c31",
        "served" -> "5e77f5a9f1acca009220aac97581e646",
        "filtered" -> "40e5ff2bbda57a6b3565eae04d0c5c03",
        "added" -> "fe6c45589ad69838f8464591323830af",
        "added_served" -> "9fe5ebef1cf0133cf53b5ee4240e3d24")))

  families.foreach { fam =>
    test(s"golden pins: ${fam.name} stored, served, filtered and post-add rows and node schema") {
      val dir = Files.createTempDirectory(s"golden_${fam.name}").toString
      def stored = spark.read.parquet(s"$dir/${fam.table}")
      fam.write(dir)
      val m = IndexManifest.read(spark, dir, fam.name)
      val got = scala.collection.mutable.LinkedHashMap(
        "written" -> md5(stored), "served" -> md5(fam.serve(dir)))
      fam.filtered.foreach(fs => got("filtered") = md5(fs(dir)))
      fam.add.foreach { add =>
        add(dir)
        add(dir) // the replay of the same batch inserts nothing
        got("added") = md5(stored)
        got("added_served") = md5(fam.serve(dir))
        assert(IndexManifest.read(spark, dir, fam.name).rows.contains(3000L))
      }
      info(got.map { case (k, v) => s"$k=$v" }.mkString(" "))
      assert(m.formatVersion == 2)
      assert(m.tables(fam.table) == fam.schema)
      assert(got.toMap == fam.pins)
    }
  }
}
