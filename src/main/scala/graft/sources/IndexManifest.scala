package graft.sources

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** A persisted index directory that is not a complete, committed index:
  * its manifest is missing (the write died before its commit, or the
  * directory never held an index), unreadable, or a side artifact failed
  * to land before the commit. */
final class IncompleteIndexException(dir: String, reason: String)
    extends IllegalStateException(s"$dir is not a committed index: $reason")

/** The one descriptor of a persisted index: `dir/_graft_manifest.json`.
  *
  * It carries everything an open needs so that opening costs a file read
  * instead of Spark jobs — the build params, the exact row count and
  * vector dimension, the near-dup multiplicity and the row count it was
  * estimated at (graph families), the bucket count and posting total
  * (TA), and the Spark schema of every table in the index, so each table
  * opens through `spark.read.schema(recorded)` with no footer-inference
  * job. Absent fields do not apply to the family.
  *
  * Commit protocol: a write deletes the old manifest first, writes the
  * data, and writes the manifest LAST (temp file + overwriting rename).
  * An incremental add rewrites the manifest the same way but never
  * deletes it, so serves keep working beside the add. A directory
  * without a manifest raises [[IncompleteIndexException]] on every
  * reader. */
final case class IndexManifest(
    family: String,
    params: Map[String, Double] = Map.empty,
    rows: Option[Long] = None,
    dim: Option[Int] = None,
    dupMultiplicity: Option[Double] = None,
    rowsAtEstimate: Option[Long] = None,
    numBuckets: Option[Int] = None,
    totalPostings: Option[Long] = None,
    tables: Map[String, StructType] = Map.empty,
    formatVersion: Int = IndexManifest.FormatVersion) {

  /** A recorded build param (stored as a JSON number). */
  def param(name: String): Double =
    params.getOrElse(name, throw new IllegalStateException(
      s"$family index manifest has no param '$name'"))

  /** Open one of the index's tables with its recorded schema — partition
    * discovery still lists the directories, but no footer is read. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.schema(tables(name)).parquet(
      if (name == IndexManifest.Root) dir else s"$dir/$name")
}

object IndexManifest {

  val FileName = "_graft_manifest.json"
  val FormatVersion = 1
  /** Table name of an index whose main table is the directory itself (TA). */
  val Root = "."

  private val mapper = new ObjectMapper()

  private def path(spark: SparkSession, dir: String): (org.apache.hadoop.fs.FileSystem, Path) = {
    val p = new Path(s"$dir/$FileName")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs, fs.makeQualified(p))
  }

  def exists(spark: SparkSession, dir: String): Boolean = {
    val (fs, p) = path(spark, dir)
    fs.exists(p)
  }

  /** Step 1 of a (re)write: from here until [[write]] the directory is
    * not an index. */
  def delete(spark: SparkSession, dir: String): Unit = {
    val (fs, p) = path(spark, dir)
    fs.delete(p, false)
  }

  /** The commit: temp-write, then one overwriting rename
    * (`FileContext.rename` throws on failure), so the manifest is never
    * observed half-written and is never absent during an add's rewrite
    * (the [[IndexVersions.setPointer]] discipline). */
  def write(spark: SparkSession, dir: String, m: IndexManifest): Unit = {
    val (fs, p) = path(spark, dir)
    val tmp = fs.makeQualified(new Path(s"$dir/$FileName.tmp"))
    val out = fs.create(tmp, true)
    try out.write(toJson(m).getBytes("UTF-8")) finally out.close()
    FileContext.getFileContext(p.toUri, spark.sparkContext.hadoopConfiguration)
      .rename(tmp, p, Options.Rename.OVERWRITE)
  }

  /** The committed manifest of `dir`, which must belong to `family`. */
  def read(spark: SparkSession, dir: String, family: String): IndexManifest = {
    val (fs, p) = path(spark, dir)
    val bytes =
      try {
        val in = fs.open(p)
        try in.readAllBytes() finally in.close()
      } catch {
        case _: java.io.FileNotFoundException =>
          throw new IncompleteIndexException(dir, s"no $FileName (the write never committed)")
      }
    val m = fromJson(dir, new String(bytes, "UTF-8"))
    require(m.family == family, s"$dir holds a ${m.family} index, not $family")
    m
  }

  /** The schema footer inference reports for `df` written with
    * `partitionBy(partition._1)`: the data columns in order, nullable (the
    * parquet reader makes every column nullable), then the partition
    * column typed from its directory names — int when every value fits
    * (`partition._2` bounds their magnitude), long otherwise, string when
    * the session turns partition type inference off. */
  def writtenSchema(df: DataFrame, partition: Option[(String, Long)] = None): StructType = {
    val data = df.schema.fields.filterNot(f => partition.exists(_._1 == f.name))
      .map(f => StructField(f.name, nullable(f.dataType), nullable = true, f.metadata))
    StructType(data ++ partition.map { case (name, maxAbs) =>
      val inferTypes = df.sparkSession.conf
        .get("spark.sql.sources.partitionColumnTypeInference.enabled", "true").toBoolean
      StructField(name,
        if (!inferTypes) StringType else if (maxAbs <= Int.MaxValue) IntegerType else LongType,
        nullable = true)
    })
  }

  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  private def toJson(m: IndexManifest): String = {
    val o = mapper.createObjectNode()
    o.put("family", m.family)
    o.put("format_version", m.formatVersion)
    val ps = o.putObject("params")
    m.params.toSeq.sortBy(_._1).foreach { case (k, v) => ps.put(k, v) }
    m.rows.foreach(o.put("rows", _))
    m.dim.foreach(o.put("dim", _))
    m.dupMultiplicity.foreach(o.put("dup_multiplicity", _))
    m.rowsAtEstimate.foreach(o.put("rows_at_estimate", _))
    m.numBuckets.foreach(o.put("num_buckets", _))
    m.totalPostings.foreach(o.put("total_postings", _))
    val ts = o.putObject("tables")
    m.tables.toSeq.sortBy(_._1).foreach { case (k, s) => ts.set[JsonNode](k, mapper.readTree(s.json)) }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(o)
  }

  private def fromJson(dir: String, s: String): IndexManifest = {
    val n =
      try mapper.readTree(s)
      catch {
        case e: com.fasterxml.jackson.core.JsonProcessingException =>
          throw new IncompleteIndexException(dir, s"unreadable $FileName: ${e.getOriginalMessage}")
      }
    val version = Option(n.get("format_version")).map(_.asInt).getOrElse(-1)
    if (version != FormatVersion)
      throw new IncompleteIndexException(dir,
        s"manifest format version $version, this build reads $FormatVersion")
    def opt[T](key: String)(f: JsonNode => T): Option[T] =
      Option(n.get(key)).filterNot(_.isNull).map(f)
    def fields(key: String): Seq[(String, JsonNode)] =
      Option(n.get(key)).toSeq.flatMap(_.properties().asScala.map(e => e.getKey -> e.getValue))
    IndexManifest(
      family = n.get("family").asText,
      params = fields("params").map { case (k, v) => k -> v.asDouble }.toMap,
      rows = opt("rows")(_.asLong),
      dim = opt("dim")(_.asInt),
      dupMultiplicity = opt("dup_multiplicity")(_.asDouble),
      rowsAtEstimate = opt("rows_at_estimate")(_.asLong),
      numBuckets = opt("num_buckets")(_.asInt),
      totalPostings = opt("total_postings")(_.asLong),
      tables = fields("tables").map { case (k, v) =>
        k -> DataType.fromJson(v.toString).asInstanceOf[StructType]
      }.toMap,
      formatVersion = version)
  }
}
