package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Hive-style partitioned layout (`dir/dt=2024-01-02/part-*.parquet`) —
  * the other half of the storage-layout story next to [[Bucketing]]:
  * bucketing kills the JOIN shuffle, partitioning kills the SCAN. A
  * filter on the partition column prunes at the FILE INDEX — unmatched
  * partitions contribute zero files to the scan, so a one-day query
  * over a 1000-day corpus reads ~0.1% of the bytes before a single
  * row is decoded (`PartitionFilters` in the plan; PartitionPruneSpec
  * asserts the pruned file count, not just the plan string).
  *
  * [[overwritePartitions]] is the production incremental pattern:
  * dynamic partition overwrite replaces ONLY the partitions present in
  * the incoming frame — re-running one day's ingest (late data,
  * backfill, a bugfix replay) rewrites `dt=X` alone, leaving the other
  * 999 days' files untouched. Static `SaveMode.Overwrite` would drop
  * the whole table first; append-only would duplicate the re-run day.
  *
  * Partition-column choice at 100 TB: low cardinality, coarse enough
  * that each partition holds many row-group-sized files (a date, not a
  * user id — a high-cardinality partition column is the classic
  * small-files failure). Within a partition, pair with [[Bucketing]]
  * or a sort column for row-group skipping.
  */
object PartitionedLayout {

  /** Full (re)write of `df` under `dir`, partitioned by `cols`. */
  def writePartitioned(df: DataFrame, dir: String, cols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(cols: _*)
      .parquet(dir)

  /** Dynamic partition overwrite: replaces exactly the partitions
    * present in `df`, leaves all others' files untouched. The mode is
    * set per-WRITE via the DataFrameWriter option (not the session
    * conf), so concurrent static-overwrite writes elsewhere in the
    * session are unaffected. */
  def overwritePartitions(df: DataFrame, dir: String, cols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(cols: _*)
      .parquet(dir)

  /** [[overwritePartitions]] with the rows CLUSTERED into few files
    * per partition value (guide §6's small-files rule): without it
    * every write task emits one file per partition value it holds — a
    * 32-task delta over 8 cells commits 256 tiny files per day, and
    * the commit protocol + every later scan pays per file.
    *
    * Clustering is a narrow `coalesce(n)` with
    * `n = max(1, ⌈plan size estimate / advisoryPartitionSizeInBytes⌉)`
    * (the optimizer's `sizeInBytes`, the session's own AQE advisory
    * size; no knob of its own). `coalesce` never raises the partition
    * count and adds no exchange, so the write stays MAP-ONLY at every
    * scale: at the gate SF the day's trickle lands in one task and
    * ~one file per partition value; at 100 TB/day `n` exceeds the
    * scan's task count and the coalesce is a no-op. REBALANCE (or
    * `repartition`) is deliberately NOT used: it is a full-data
    * exchange of the whole day on the daily ingest path, and
    * `IvfStore.append` (cells and PQ codes) is documented as map-only;
    * `DedupStore.commitDay` shares this write and pays the same
    * exchange under a REBALANCE. Callers that need an intra-file SORT
    * order (TextIndexStore's word-sorted postings) keep their own
    * pre-shaped write path. */
  def overwriteClustered(df: DataFrame, dir: String, cols: Seq[String]): Unit = {
    val advisory = df.sparkSession.sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val n = ((size + advisory - 1) / advisory).max(1).min(Int.MaxValue).toInt
    overwritePartitions(df.coalesce(n), dir, cols)
  }

  /** Read the layout with an EXPLICIT schema. Explicit for two
    * reasons: an empty layout (day-zero: zero input rows wrote zero
    * partition dirs) has nothing to infer from and a bare
    * `spark.read.parquet(dir)` throws, and at real scale schema
    * inference over a 10⁶-file listing is a driver-side job the
    * caller shouldn't pay when the schema is known. `schema` is the
    * DATA schema including the partition columns (they come back as
    * directory-derived values, same names/types). */
  def read(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(dir)

  /** [[read]] restricted to an explicit `dt=` partition-dir list — the
    * view a reader of a COMPACTED store must take (round 14): a
    * whole-`dir` listing also walks replaced-day debris awaiting the
    * next compaction's sweep, and the sweep deleting such a dir
    * mid-listing kills the reader with FileNotFound — partition
    * pruning protects the TASKS, never the listing. Explicit paths
    * keep the listing O(named days) and sweep-proof. Absent days
    * (zero-survivor commits write no partition) drop out of the path
    * list; an all-absent set degrades to the typed empty frame.
    * `basePath` recovers the partition column(s) from the remaining
    * path segments. */
  def readDays(spark: SparkSession, dir: String, schema: StructType,
      days: Seq[String]): DataFrame = {
    val hp = new org.apache.hadoop.fs.Path(dir)
    val f = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = days.map(d => new org.apache.hadoop.fs.Path(s"$dir/dt=$d"))
      .filter(f.exists).map(_.toString)
    if (dirs.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).option("basePath", dir).parquet(dirs: _*)
  }
}
