package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Output sizing + parquet sink (reference Y1–Y3, S6; notebook.py:419–437).
  *
  * The reference estimates in-memory size with SizeEstimator over a
  * re-serialized RDD (a Py4J hack); plan statistics give the same signal
  * with NO materialization: `optimizedPlan.stats.sizeInBytes`. Partition
  * count targets ~200 MB per output file, floor 1, and shrinks with
  * `coalesce` (no shuffle) exactly like the reference.
  *
  * At cluster scale the modern alternative is AQE coalescing +
  * `spark.sql.files.maxRecordsPerFile`; this util keeps the reference's
  * explicit policy available where deterministic file counts matter.
  */
object Writer {

  val targetPartitionBytes: Long = 200L * 1024 * 1024

  /** Y1: size estimate from Catalyst plan statistics (no job run). */
  def estimatedBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** Y2: ceil(size / 200MB), floor 1. Clamped into Int range: plan
    * statistics over joins are MULTIPLIED row estimates and can reach
    * 1e18 bytes, where a bare BigInt.toInt wraps NEGATIVE and
    * coalesce(n) throws (caught live in the streaming pairs sink). */
  def partitionCount(bytes: BigInt): Int =
    ((bytes + targetPartitionBytes - 1) / targetPartitionBytes)
      .max(1).min(Int.MaxValue).toInt

  /** SCALE-ADAPTIVE bucket count for a bucketed index write (r21,
    * guide §6: size files to the data, not a constant tuned for
    * either local mode or the cluster): plan-estimated bytes against
    * a ~32 MB-per-bucket target, clamped to [1, 4096]. A fixed 16
    * buckets writes 16 near-empty files for a KB-scale build (and 16
    * commit renames, the measured cost) while undershooting a TB
    * build by orders of magnitude. Bucket count is physical layout
    * only — results are bucket-count-invariant; probes read the
    * catalog bucket spec, so they adapt with the table. Callers pass
    * an explicit count when a fixture pins one. */
  def scaledBuckets(df: DataFrame,
                    targetBytes: Long = 32L * 1024 * 1024,
                    maxBuckets: Int = 4096): Int =
    scaledBucketsForBytes(estimatedBytes(df), targetBytes, maxBuckets)

  /** [[scaledBuckets]] from a KNOWN byte count — the streaming-sink
    * path (r22, VERDICT r21 #4): a micro-batch sink is created before
    * any batch frame exists, so its bucket count derives from the
    * stream's SOURCE file bytes (StreamOps.sourceBytes) instead of a
    * plan estimate. Zero/unknown bytes → 1 bucket (a micro-fixture
    * writes one file per batch, not 16 near-empty ones; at TB-scale
    * sources the count grows with the data). */
  def scaledBucketsForBytes(bytes: BigInt,
                            targetBytes: Long = 32L * 1024 * 1024,
                            maxBuckets: Int = 4096): Int =
    ((bytes + targetBytes - 1) / targetBytes)
      .max(1).min(maxBuckets).toInt

  /** The bucket count an EXISTING table was written with — the count
    * a purge/compact REWRITE must reuse so the rewrite preserves the
    * table's layout instead of resetting it to a constant. */
  def bucketsOf(spark: SparkSession, table: String): Option[Int] =
    if (!spark.catalog.tableExists(table)) None
    else spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .bucketSpec.map(_.numBuckets)

  /** Y3+S6: coalesce to the size-derived partition count, write snappy
    * parquet, overwrite.
    */
  def sizedParquet(df: DataFrame, path: String): Int = {
    val n = partitionCount(estimatedBytes(df))
    df.coalesce(n).write.mode(SaveMode.Overwrite).parquet(path)
    n
  }

  /** Hive-style partitioned layout (`path/col=value/...`): the scale
    * upgrade over the reference's flat write — a reader filtering on
    * the partition column scans only matching directories (partition
    * pruning shows as PartitionFilters in the scan, with no data files
    * of other partitions opened at all). Partition by a LOW-cardinality
    * column (a date, a split label): one directory per value, and at
    * 100 TB a high-cardinality partition column is a small-files
    * disaster.
    */
  def partitionedParquet(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Bucketed + sorted table: both join sides pre-hashed into the same
    * bucket count on the join key mean Catalyst plans the join with NO
    * shuffle exchange — the co-location strategy for a fact table
    * joined repeatedly on the same key at cluster scale. Requires the
    * session catalog (saveAsTable), not a bare path.
    */
  def bucketedTable(df: DataFrame, table: String, key: String, buckets: Int): Unit = {
    dropTableAndLocation(df.sparkSession, table)
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)
  }

  /** An EMPTY bucketed+sorted table with the given schema — catalog
    * DDL only, no Spark write job. The streaming-ingest gates
    * re-create their index fresh per run (append mutates it), and a
    * full empty WRITE per run was pure fixed cost; the DDL bucket
    * spec matches [[bucketedTable]]'s, so insertInto appends land in
    * the identical layout. */
  def emptyBucketedTable(spark: SparkSession, table: String,
                         schema: org.apache.spark.sql.types.StructType,
                         key: String, buckets: Int): Unit = {
    dropTableAndLocation(spark, table)
    val cols = schema.fields
      .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
    spark.sql(s"CREATE TABLE `$table` ($cols) USING PARQUET " +
      s"CLUSTERED BY (`$key`) SORTED BY (`$key`) INTO $buckets BUCKETS")
  }

  /** An EMPTY partitioned table with the given schema — catalog DDL
    * only, no write job (same rationale as [[emptyBucketedTable]]).
    * `partitionCol` must be the LAST schema field (Spark moves
    * partition columns to the end of a table's schema; declaring them
    * there keeps position-based insertInto aligned). The streaming
    * ingest sinks partition by batch id, so a redelivered batch can
    * dynamic-partition-overwrite exactly its own directory.
    *
    * This is also the ONLY safe staging shape for a PurgeSwap of a
    * partitioned table: partitions registered by insertInto resolve
    * under the table location, whereas a saveAsTable(partitionBy)
    * staging registers partitions with EXPLICIT locations under the
    * staging path, which ALTER TABLE RENAME does not rewrite — the
    * renamed table then scans a vanished directory (found by
    * IvfRebalanceSpec). */
  def emptyPartitionedTable(spark: SparkSession, table: String,
                            schema: org.apache.spark.sql.types.StructType,
                            partitionCol: String): Unit = {
    require(schema.fields.last.name == partitionCol,
      s"partition column $partitionCol must be last in the schema")
    dropTableAndLocation(spark, table)
    val cols = schema.fields
      .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
    spark.sql(s"CREATE TABLE `$table` ($cols) USING PARQUET " +
      s"PARTITIONED BY (`$partitionCol`)")
  }

  /** An EMPTY table both PARTITIONED (by `partitionCol`, last schema
    * field) and BUCKETED (on `key`) — the streaming incremental-index
    * layout: each micro-batch dynamic-partition-overwrites exactly its
    * own partition (idempotent append with NO existence anti-join —
    * redelivery replaces the partition), while every partition shares
    * the bucket spec so probes still run off the stored clustering.
    * The per-batch partitions are the small-files cost the index
    * compaction operator exists to reclaim. */
  def emptyPartitionedBucketedTable(spark: SparkSession, table: String,
                                    schema: org.apache.spark.sql.types.StructType,
                                    partitionCol: String,
                                    key: String, buckets: Int): Unit = {
    require(schema.fields.last.name == partitionCol,
      s"partition column $partitionCol must be last in the schema")
    dropTableAndLocation(spark, table)
    val cols = schema.fields
      .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
    spark.sql(s"CREATE TABLE `$table` ($cols) USING PARQUET " +
      s"PARTITIONED BY (`$partitionCol`) " +
      s"CLUSTERED BY (`$key`) SORTED BY (`$key`) INTO $buckets BUCKETS")
  }
  /** Create-if-missing twin of [[emptyPartitionedBucketedTable]] — the
    * restartable-ingest path: a streamIngest resuming from a stream
    * checkpoint must KEEP the partitions an earlier driver accumulated,
    * so the table is created only when absent and never dropped. */
  def ensurePartitionedBucketedTable(spark: SparkSession, table: String,
                                     schema: org.apache.spark.sql.types.StructType,
                                     partitionCol: String,
                                     key: String, buckets: Int): Unit =
    if (!spark.catalog.tableExists(table))
      emptyPartitionedBucketedTable(spark, table, schema, partitionCol, key, buckets)

  /** The house partitioned insert: `rows`, their partition tag already
    * set, DYNAMIC-overwrite exactly their own partitions of `table`
    * (a redelivered batch or a retried wave replaces itself, never
    * duplicates). The one-way latch ([[ensureDynamicOverwrite]]) goes
    * on the ROWS' session — the conf is read at write planning from
    * that session (a foreachBatch micro-batch clone, not necessarily
    * the caller's). The rows are aligned to the table's columns by
    * name, then shaped to its layout BEFORE the insert: a micro-batch
    * arrives in up-to-shuffle-partitions slices, and a bucketed insert
    * writes one file per (task, bucket) — 32 tasks × 16 buckets was
    * ~500 tiny files per batch, and the dynamic-overwrite commit
    * (staging list + rename per file) dominated the profile at ~1.2 s
    * per insert. repartition(n, bucketCols) routes with the SAME
    * pmod(murmur3, n) the bucketed write uses for bucket ids, so each
    * task holds exactly one bucket → n files per write, the floor for
    * a bucketed layout. Unbucketed tables coalesce to the size-derived
    * count ([[partitionCount]] — 1 file at micro-batch scale, growing
    * with actual bytes, capped at shuffle parallelism: join-inflated
    * plan-stats estimates must degrade to "no coalesce", not a
    * 5-billion-partition request). One `.columns` and one
    * getTableMetadata per call. */
  def insertOverwrite(rows: DataFrame, table: String): Unit = {
    import org.apache.spark.sql.functions.col
    val sess = rows.sparkSession
    ensureDynamicOverwrite(sess)
    val aligned = rows.select(sess.table(table).columns.toIndexedSeq.map(col): _*)
    val shaped = sess.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .bucketSpec match {
      case Some(bs) =>
        aligned.repartition(bs.numBuckets, bs.bucketColumnNames.map(col): _*)
      case None =>
        aligned.coalesce(partitionCount(estimatedBytes(rows))
          .min(sess.sessionState.conf.numShufflePartitions))
    }
    shaped.write.mode(SaveMode.Overwrite).insertInto(table)
  }

  /** Training-shard export: exactly `shards` files, rows routed by the
    * deterministic id-hash (stable under repartitioning and reruns —
    * a row's shard never changes, so shard-level dedup bookkeeping and
    * resumable training epochs survive a re-export), each file sorted
    * by `sortCol`. repartition(expr) gives hash-partitioned
    * co-location; sortWithinPartitions is a partition-local sort — no
    * global ordering shuffle. At 100 TB this is the write shape for
    * "N equal-ish shards a data loader streams independently".
    *
    * `shard` is part of the OUTPUT layout (the partitionBy directory
    * column); a pre-existing input column named `shard` is replaced.
    */
  def shardedParquet(df: DataFrame, path: String, idCol: String,
                     shards: Int, sortCol: String): Unit = {
    import org.apache.spark.sql.functions.col
    df.withColumn("shard", graft.ext.Packing.shardOf(col(idCol), shards))
      // One task per shard hash → each shard=k directory holds exactly
      // ONE file; the partition-local sort leads with the shard so
      // every file's rows come out ordered by sortCol.
      .repartition(shards, col("shard"))
      .sortWithinPartitions(col("shard"), col(sortCol))
      .write.partitionBy("shard").mode(SaveMode.Overwrite).parquet(path)
  }

  /** Ensure `spark.sql.sources.partitionOverwriteMode=dynamic` on the
    * given session — the house overwrite discipline: EVERY partitioned
    * overwrite-insert in this codebase is a dynamic per-partition
    * replace (waves, batch sinks, cell purges); nothing relies on
    * static truncate-everything semantics. A one-way latch, not a
    * save/restore: with r21's overlapped disjoint-table writes
    * (guide §2.6 via Par) a concurrent restore could flip an
    * in-flight plan back to STATIC overwrite, which truncates every
    * other partition — the writeBatchSinks lesson, now house-wide.
    * GraftSession.local sets the conf at startup, so this
    * is normally a no-op check. */
  def ensureDynamicOverwrite(spark: SparkSession): Unit = {
    val key = "spark.sql.sources.partitionOverwriteMode"
    if (!spark.conf.getOption(key).exists(_.equalsIgnoreCase("dynamic")))
      spark.conf.set(key, "dynamic")
  }

  /** True-overwrite for a managed table in the default database: drop
    * the catalog entry AND delete any orphaned warehouse directory. A
    * table written by a previous JVM survives only as files (the
    * in-memory catalog dies with its session), and saveAsTable's
    * Overwrite refuses to adopt such a location
    * (LOCATION_ALREADY_EXISTS) — so rebuildable index tables must
    * clear both before writing. */
  def dropTableAndLocation(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val loc = new Path(new Path(warehouse), table.toLowerCase(java.util.Locale.ROOT))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }
}
