package graft.sources

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.RecordedFiles
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
  * instead of Spark jobs or directory listings — the build params, the
  * exact row count and vector dimension, the near-dup multiplicity and
  * the row count it was estimated at (graph families), the bucket count
  * and posting total (TA), and for every table of the index its Spark
  * schema and the exact data files the committed write produced (path
  * relative to the table directory, length, modification time). Each
  * table opens from that record ([[table]]): no footer-inference job and
  * no listing, at any partition count. Absent fields do not apply to the
  * family.
  *
  * Commit protocol: a write deletes the old manifest first, writes the
  * data, and writes the manifest LAST (temp file + overwriting rename),
  * listing each table once to record its files. An incremental add
  * ([[commitAdd]]) stages its files, publishes them, and rewrites the
  * manifest with the old record plus its own files, never deleting it,
  * so serves keep working beside the add. A file no committed manifest
  * names is never served. A directory without a manifest at this
  * format version raises [[IncompleteIndexException]] on every reader. */
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
    files: Map[String, Seq[IndexManifest.DataFile]] = Map.empty,
    formatVersion: Int = IndexManifest.FormatVersion) {

  /** A recorded build param (stored as a JSON number). */
  def param(name: String): Double =
    params.getOrElse(name, throw new IllegalStateException(
      s"$family index manifest has no param '$name'"))

  /** Open one of the index's tables from its record: the recorded schema
    * and the recorded files, so the open reads no footer and lists no
    * directory ([[org.apache.spark.sql.graft.RecordedFiles]]). Partition
    * filters (`cluster_id IN …`, `bucket IN …`) prune the recorded paths
    * in memory. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val (_, root) = IndexManifest.tableDir(spark, dir, name)
    val recorded = files.getOrElse(name, throw new IllegalStateException(
      s"$family index manifest has no file record for table '$name'"))
    RecordedFiles.parquet(spark, root, recorded.map(_.status(root)), tables(name))
  }
}

object IndexManifest {

  val FileName = "_graft_manifest.json"
  val FormatVersion = 2
  /** Table name of an index whose main table is the directory itself (TA). */
  val Root = "."

  /** One recorded data file of a table: its path relative to the table
    * directory, its length and its modification time. */
  final case class DataFile(path: String, length: Long, modTime: Long) {
    def status(root: Path): FileStatus =
      new FileStatus(length, false, 1, 0L, modTime, new Path(root, path))
    /** The partition directory holding the file, relative ("" at the root). */
    def partitionDir: String = path.substring(0, path.lastIndexOf('/') + 1)
  }

  private val mapper = new ObjectMapper()

  private def path(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(s"$dir/$FileName")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs, fs.makeQualified(p))
  }

  private def tableDir(spark: SparkSession, dir: String, name: String): (FileSystem, Path) = {
    val p = new Path(if (name == Root) dir else s"$dir/$name")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs, fs.makeQualified(p))
  }

  /** Whether `dir` holds a committed index this build reads. */
  def exists(spark: SparkSession, dir: String): Boolean =
    try { fromJson(dir, readText(spark, dir)); true }
    catch { case _: IncompleteIndexException => false }

  /** Step 1 of a (re)write: from here until [[write]] the directory is
    * not an index. */
  def delete(spark: SparkSession, dir: String): Unit = {
    val (fs, p) = path(spark, dir)
    fs.delete(p, false)
  }

  /** The commit: temp-write, then one overwriting rename
    * (`FileContext.rename` throws on failure), so the manifest is never
    * observed half-written and is never absent during an add's rewrite
    * (the [[IndexVersions.setPointer]] discipline). A table `m` carries
    * no file record for is listed here, once, recursively, skipping
    * `_`- and `.`-prefixed names as Spark's own discovery does, and its
    * int partition columns widen to long when a listed directory name
    * needs it. */
  def write(spark: SparkSession, dir: String, m: IndexManifest): Unit = {
    val listed = (m.tables.keySet -- m.files.keySet).map { name =>
      val (fs, root) = tableDir(spark, dir, name)
      name -> listData(fs, root)
    }.toMap
    val recorded = m.copy(
      tables = m.tables.map { case (name, s) =>
        name -> listed.get(name).fold(s)(partitionTyped(s, _))
      },
      files = m.files ++ listed)
    val (fs, p) = path(spark, dir)
    val tmp = fs.makeQualified(new Path(s"$dir/$FileName.tmp"))
    val out = fs.create(tmp, true)
    try out.write(toJson(recorded).getBytes("UTF-8")) finally out.close()
    FileContext.getFileContext(p.toUri, spark.sparkContext.hadoopConfiguration)
      .rename(tmp, p, Options.Rename.OVERWRITE)
  }

  /** The committed manifest of `dir`, which must belong to `family`. */
  def read(spark: SparkSession, dir: String, family: String): IndexManifest = {
    val m = fromJson(dir, readText(spark, dir))
    require(m.family == family, s"$dir holds a ${m.family} index, not $family")
    m
  }

  private def readText(spark: SparkSession, dir: String): String = {
    val (fs, p) = path(spark, dir)
    val bytes =
      try {
        val in = fs.open(p)
        try in.readAllBytes() finally in.close()
      } catch {
        case _: java.io.FileNotFoundException =>
          throw new IncompleteIndexException(dir, s"no $FileName (the write never committed)")
      }
    new String(bytes, "UTF-8")
  }

  /** An incremental add to `table` of the committed index `m` at `dir`.
    * `stage` writes the add's rows (partitioned like the table) to the
    * path it is given: a hidden staging directory under the table, which
    * no listing and no record sees. Its data files are then published,
    * each renamed into its partition directory of the table, and the
    * manifest `commit(grown)` is written, where `grown` is `m` whose
    * record for `table` holds the old files, minus — when
    * `replacePartitions` — every old file in a partition directory the
    * staged write produced, plus the published files. Only after that
    * commit are the replaced files deleted. Until the commit, every open
    * reads the old record, so an add that dies leaves at most published
    * files no manifest names, which are never served. A serve still
    * scanning the replaced files of an older record when they are
    * deleted fails rather than mixing snapshots. Adds to one index must
    * not run concurrently with each other. */
  def commitAdd(spark: SparkSession, dir: String, m: IndexManifest, table: String,
      replacePartitions: Boolean, commit: IndexManifest => IndexManifest = identity)(
      stage: String => Unit): Unit = {
    val (fs, root) = tableDir(spark, dir, table)
    val staging = new Path(root, s"_staging-${java.util.UUID.randomUUID}")
    try {
      stage(staging.toString)
      val published = listData(fs, staging)
      published.foreach { f =>
        val dst = new Path(root, f.path)
        fs.mkdirs(dst.getParent)
        if (!fs.rename(new Path(staging, f.path), dst))
          throw new IncompleteIndexException(dir, s"publishing $dst failed")
      }
      val touched = published.map(_.partitionDir).toSet
      val (replaced, kept) =
        m.files(table).partition(f => replacePartitions && touched(f.partitionDir))
      write(spark, dir, commit(m.copy(files = m.files.updated(table, kept ++ published))))
      replaced.foreach(f => fs.delete(new Path(root, f.path), false))
    } finally fs.delete(staging, true)
  }

  /** The data files under `root` (one recursive listing), relative to it.
    * A `_`- or `.`-prefixed name is not data and is not descended into —
    * the rule Spark's partition discovery applies, so `_SUCCESS`,
    * checksum files, staging directories and TA's `_termstats` sidecar
    * (its own table) are skipped. The walk uses `listStatus`, as Spark's
    * own listing does: `listFiles` builds a `LocatedFileStatus` per file,
    * which on the local filesystem forks a process to read its
    * permissions. */
  private def listData(fs: FileSystem, root: Path): Seq[DataFile] = {
    val prefix = s"$root/"
    val out = Seq.newBuilder[DataFile]
    def walk(d: Path): Unit = fs.listStatus(d).foreach { s =>
      if (!hidden(s.getPath.getName)) {
        if (s.isDirectory) walk(s.getPath)
        else {
          val full = s.getPath.toString
          require(full.startsWith(prefix), s"$full listed outside $root")
          out += DataFile(full.substring(prefix.length), s.getLen, s.getModificationTime)
        }
      }
    }
    walk(root)
    out.result().sortBy(_.path)
  }

  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")

  /** `schema` with each int partition column widened to long when a
    * recorded directory name does not fit an int — the type Spark's
    * inference gives that column. */
  private def partitionTyped(schema: StructType, files: Seq[DataFile]): StructType = {
    val values = files.flatMap(_.partitionDir.split('/').filter(_.contains('=')))
      .map { seg => val i = seg.indexOf('='); seg.take(i) -> seg.drop(i + 1) }
      .groupMap(_._1)(_._2)
    StructType(schema.fields.map { f =>
      val wide = f.dataType == IntegerType && values.get(f.name).exists(_.exists(v =>
        v != DefaultPartition && v.toIntOption.isEmpty))
      if (wide) f.copy(dataType = LongType) else f
    })
  }

  /** The directory name of a null partition value. */
  private val DefaultPartition = "__HIVE_DEFAULT_PARTITION__"

  /** The schema footer inference reports for `df` written with
    * `partitionBy(partition)`: the data columns in order, nullable (the
    * parquet reader makes every column nullable), then the partition
    * column typed as its directory names infer — int ([[write]] widens it
    * to long when a written value does not fit), string when the session
    * turns partition type inference off. */
  def writtenSchema(df: DataFrame, partition: Option[String] = None): StructType = {
    val data = df.schema.fields.filterNot(f => partition.contains(f.name))
      .map(f => StructField(f.name, nullable(f.dataType), nullable = true, f.metadata))
    val inferTypes = df.sparkSession.conf
      .get("spark.sql.sources.partitionColumnTypeInference.enabled", "true").toBoolean
    StructType(data ++ partition.map(
      StructField(_, if (inferTypes) IntegerType else StringType, nullable = true)))
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
    m.tables.toSeq.sortBy(_._1).foreach { case (k, s) =>
      val t = ts.putObject(k)
      t.set[JsonNode]("schema", mapper.readTree(s.json))
      val fs = t.putArray("files")
      m.files.getOrElse(k, Nil).foreach { f =>
        fs.addObject().put("path", f.path).put("length", f.length).put("mtime", f.modTime)
      }
    }
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
        k -> DataType.fromJson(v.get("schema").toString).asInstanceOf[StructType]
      }.toMap,
      files = fields("tables").map { case (k, v) =>
        k -> v.get("files").elements().asScala.map(f =>
          DataFile(f.get("path").asText, f.get("length").asLong, f.get("mtime").asLong)).toSeq
      }.toMap,
      formatVersion = version)
  }
}
