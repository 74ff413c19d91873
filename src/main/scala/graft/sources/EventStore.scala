package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The physical layout of the dt/hour event store — the Spark-native
  * re-expression of the reference's Firehose→S3 landing zone
  * (terraform/main.tf:84-96: `dt=yyyy-MM-dd/hour=H` partition
  * projection over Snappy parquet).
  *
  * - Files are hive-partitioned on (dt, hour), so any query with a
  *   time predicate prunes partitions at planning time — the Spark
  *   analog of Athena partition projection, visible as
  *   "PartitionFilters" in `.explain`.
  * - `maxRecordsPerFile` caps file size; at 100 TB the knob that
  *   matters is files-per-partition ≈ ingest parallelism, and hourly
  *   partitions keep each directory listing small.
  *
  * The store's table is its manifests: every write, read and
  * maintenance verb goes through [[SnapshotEventStore]]. This object
  * keeps only what that face and [[Bucketing.writeBucketedEvents]]
  * share: the partition derivation, the partitioned file write, and
  * the whole-store drop.
  */
object EventStore {

  /** Add the dt/hour partition columns derived from epoch-ms `time`.
    *
    * Pure integer epoch arithmetic (floor-division via pmod), NOT
    * date_format over a timestamp: the latter renders in the session
    * timezone, so a non-UTC session would disagree with the UTC
    * partition-start math of [[SnapshotEventStore.clearExpired]] and
    * break its `partStartMs <= time < partStartMs + 1h` invariant.
    * This form is timezone- and sign-independent (UTC calendar by
    * construction).
    */
  def withPartitionColumns(events: DataFrame): DataFrame =
    events
      .withColumn("dt", date_from_unix_date(
        expr("(time - pmod(time, 86400000)) DIV 86400000").cast("int"))
        .cast("string"))
      .withColumn("hour", expr("pmod(time, 86400000) DIV 3600000").cast("int"))

  /** Write a KeycloakEvent-shaped batch under `path`, partitioned
    * dt/hour — the file-landing body of [[SnapshotEventStore.append]]
    * and [[SnapshotEventStore.appendBatch]], which write into an
    * invisible temp root and publish the files afterwards.
    *
    * `sortWithin` optionally clusters rows inside each hour partition
    * by secondary columns (e.g. userid): combined with
    * maxRecordsPerFile this yields files with tight parquet min/max
    * stats on those columns, so selective equality queries skip whole
    * files/row-groups — the single-dimension analog of Z-ordering,
    * and the cheap answer for "point lookups on a non-partition
    * column" at scale. */
  private[sources] def write(events: DataFrame, path: String,
      maxRecordsPerFile: Int, sortWithin: Seq[String]): Unit = {
    val partitioned = withPartitionColumns(events)
    val arranged =
      if (sortWithin.isEmpty) partitioned
      else partitioned
        .repartition(col("dt"), col("hour"))
        .sortWithinPartitions(
          (Seq("dt", "hour") ++ sortWithin).map(col): _*)
    arranged
      .write
      .mode("append")
      .option("maxRecordsPerFile", maxRecordsPerFile.toLong)
      .partitionBy("dt", "hour")
      .parquet(path)
  }

  /** Drop the whole store — the reference's `clear()` /
    * `clearAdmin()` (FirehoseEventStoreProvider.java:103, 115).
    * Metadata-only (directory delete, no scan); the path itself is
    * removed, manifests included, and the next write recreates it.
    * The store's memoized scans go with it
    * ([[SnapshotEventStore.read]]). */
  def clearAll(spark: SparkSession, path: String): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) fs.delete(root, true)
    SnapshotEventStore.forget(path)
  }
}
