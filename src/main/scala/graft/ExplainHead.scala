package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.SparseTopK

/** Dossier helper (local tool): print the persisted TA serve's
  * formatted plan with the big regime + head mode FORCED, so the
  * impact_rank ≤ p* row-group prune and the bucket PartitionFilters
  * are evidenced in plans/r15 (at sf0.01 the bench serve takes the
  * small regime and the head never shows).
  *   sbt "runMain graft.ExplainHead <sfDir>"
  */
object ExplainHead {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val idxDir = java.nio.file.Files.createTempDirectory("ta_explain_head").toString
    SparseTopK.writeIndex(SparseTopK.buildImpactIndex(
      spark.read.parquet(s"$dir/documents.parquet")), idxDir)
    System.setProperty("graft.ta.serveFloorPostings", "0") // force big regime
    System.setProperty("graft.ta.headMaxFrac", "1.0")      // head whenever bounded
    try {
      val terms = Seq("merge", "vector", "batch", "slow", "spark")
      println("========== q_ta_persisted (forced big regime + head mode) ==========")
      SparseTopK.taTopKPersisted(spark, idxDir, terms, 15).explain("formatted")
      // the head working-set scan hides inside the localCheckpoint
      // materialization job (the r14 dossier gap) — print the
      // PRE-CHECKPOINT frame the serve materializes, with a
      // representative p* rung, so the bucket PartitionFilters + term +
      // impact_rank row-group prune are evidenced in the dossier
      val nb = SparseTopK.manifest(spark, idxDir).numBuckets.get
      val bucketOf = terms.map(SparseTopK.bucketOfTerm(_, nb)).distinct
      println("========== head working-set scan (pre-checkpoint frame, p* = 16) ==========")
      SparseTopK.readIndex(spark, idxDir)
        .where(col("bucket").isin(bucketOf: _*))
        .where(col("term").isin(terms: _*) && col("impact_rank") <= 16L)
        .explain("formatted")
    } finally {
      System.clearProperty("graft.ta.serveFloorPostings")
      System.clearProperty("graft.ta.headMaxFrac")
    }
    spark.stop()
  }
}
