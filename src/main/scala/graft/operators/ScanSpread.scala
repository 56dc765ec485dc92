package graft.operators

import org.apache.spark.sql.DataFrame

/** Spread a SMALL scan across the executor parallelism before a
  * CPU-heavy per-row stage (guide §2.5 input skew: "one huge
  * unsplittable file — repartition immediately after the read").
  * Tokenize/explode/hash passes are compute-bound, and a corpus that
  * fits one parquet split otherwise runs them single-task while the
  * other cores idle. Scale-safe by construction: the repartition only
  * fires when the scan yields FEWER splits than the execution
  * parallelism — i.e. only when the input is small enough that the
  * round-robin shuffle is trivial; at real scale (splits ≥ cores) it
  * is the identity. */
private[graft] object ScanSpread {

  /** Precondition: `df` must be scan-rooted — a file scan plus narrow
    * per-row operators, no exchange (join, aggregate, repartition)
    * upstream. The split count comes from `df.rdd`; for a plan with an
    * exchange, adaptive execution can run the upstream stages eagerly
    * while building that RDD, and the count would then measure
    * post-shuffle partitions, not scan splits. */
  def spreadSmall(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    if (df.rdd.getNumPartitions >= sc.defaultParallelism) df
    else df.repartition(sc.defaultParallelism)
  }
}
