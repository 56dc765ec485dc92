package org.apache.spark.sql.graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Bridge from a recorded file list to a parquet DataFrame that never
  * lists a directory. The file index's status cache is pre-filled with
  * the recorded leaf files of `root`, so the index finds every file it
  * would have listed already cached; partition discovery and partition
  * pruning then run in memory over the recorded paths, exactly as they
  * do over a listing. The relation is the one `spark.read.schema(schema)
  * .parquet(root)` builds: partition columns come from the directory
  * names, typed by `schema`; the data columns are the rest of `schema`. */
object RecordedFiles {

  def parquet(spark: SparkSession, root: Path, files: Seq[FileStatus], schema: StructType): DataFrame = {
    val index = new RecordedFileIndex(spark, root, files.toArray, schema)
    val partitionCols = index.partitionSchema.fieldNames.toSet
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      StructType(schema.filterNot(f => partitionCols(f.name))), None,
      new ParquetFileFormat, Map.empty)(spark))
  }

  /** Equal only to an index over the same files (path, length,
    * modification time). Spark's file index compares root paths alone,
    * so the cache manager would serve a cached read of one committed
    * record for any later record of the same table. */
  private final class RecordedFileIndex(spark: SparkSession, root: Path, leaves: Array[FileStatus],
      schema: StructType)
      extends InMemoryFileIndex(spark, Seq(root), Map.empty, Some(schema), new Leaves(root, leaves)) {
    private lazy val files = root -> leaves.toSeq.map(f => (f.getPath, f.getLen, f.getModificationTime))
    override def equals(other: Any): Boolean = other match {
      case r: RecordedFileIndex => files == r.files
      case _ => false
    }
    override def hashCode: Int = files.hashCode
  }

  private final class Leaves(root: Path, leaves: Array[FileStatus]) extends FileStatusCache {
    override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
      if (path == root) Some(leaves) else None
    override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
    override def invalidateAll(): Unit = ()
  }
}
