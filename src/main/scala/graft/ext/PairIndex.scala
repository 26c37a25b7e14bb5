package graft.ext

import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

import graft.io.Writer
import graft.streaming.StreamOps

/** The keyed-pair index behind [[DedupIndex]] and [[WinnowIndex]]: a
  * posting table `(id, key…)` bucketed+sorted on one key column (the
  * selective one), probed by the keys a new batch posts — touch only
  * what the new batch needs. The two facades are key specs over it:
  * each keeps its key producer (`Dedup.bands`, `WinnowIndex.postings`),
  * its key columns, its bucket column and its pair finisher; build,
  * append, purge, probe, stream ingest and compact live here once.
  * [[IvfIndex]]'s stream ingest shares [[touchedIndex]],
  * [[streamIngest]] and [[compact]] with its own cosine probe.
  *
  * Cost model at 100 TB:
  *   - build: one key pass over the corpus, paid ONCE;
  *   - probe: keys the NEW batch (O(batch)), then semi-joins the index
  *     down to the keys the batch posts before any sizing or pair
  *     generation — the corpus-side read is O(touched keys), never a
  *     rescan of the corpus text;
  *   - append: insertInto the same bucketed layout, so the index stays
  *     probe-able shard after shard.
  *
  * Equivalence contract (pinned per family by DedupSpec and the
  * x_incremental_dedup / x_winnow_incremental oracles): probe pairs
  * equal the family's one-shot operator over old ∪ new, restricted to
  * pairs touching a new id. That holds because (a) keys are per-row —
  * a doc's keys don't depend on the rest of the corpus — (b) the cap
  * is applied to key counts over old ∪ new (complete within every
  * touched key; an untouched key cannot produce a new-touching pair),
  * and (c) every pair of a kept key has a new member, which explodes
  * it at least once.
  */
private[ext] object PairIndex {

  /** A family's key columns (after the leading `id`) and the one of
    * them the table is bucketed on. */
  final case class Spec(keys: Seq[StructField], bucket: String) {
    val keyCols: Seq[String] = keys.map(_.name)
    val cols: Seq[String] = "id" +: keyCols
    def fields(idType: DataType): Seq[StructField] =
      StructField("id", idType) +: keys
  }

  /** Persist `rows` (the spec's columns) bucketed+sorted on the bucket
    * column; overwrites `table`, then drops any takedown list an
    * earlier index under the same name left (a fresh index must not
    * hide the ids it took down). The drop runs AFTER the write — the
    * tombstones-last rule: a crash in between leaves the new index
    * hiding ids it no longer needs to hide, never the old index
    * serving its taken-down ids. `nBuckets` ≤ 0 sizes buckets to the
    * frame's estimated bytes (Writer.scaledBuckets — r21, guide §6).
    * Keys are per-row, so any row-subset of a larger key table is a
    * valid index for that subset of docs. */
  def build(rows: DataFrame, table: String, spec: Spec, nBuckets: Int): Unit = {
    Writer.bucketedTable(rows, table, spec.bucket,
      if (nBuckets > 0) nBuckets else Writer.scaledBuckets(rows))
    Writer.dropTableAndLocation(rows.sparkSession, IndexLifecycle.tombstonesOf(table))
  }

  /** Append a batch's (materialized) key rows to a batch-layout index.
    *
    * IDEMPOTENT: rows already present are anti-joined away before the
    * write, so a retried append (or a shard re-ingesting an indexed
    * id) never double-counts — duplicates would inflate the key census
    * and silently push real keys over the cap, breaking the probe ≡
    * one-shot equivalence. Keying is deterministic per (id, text), so
    * a duplicate id's rows are EXACT duplicates and the all-column
    * anti-join removes them all; the existence check reads only the
    * keys the batch touches, same contact pattern as the probe. */
  def append(spark: SparkSession, table: String, spec: Spec,
             rows: DataFrame): Unit = {
    val touched = rows.select(spec.keyCols.map(col): _*).distinct()
    val existing = spark.table(table).join(touched, spec.keyCols, "left_semi")
    rows.join(existing, spec.cols, "left_anti")
      .write.mode("append").insertInto(table)
    // insertInto refreshes the WRITING session's relation cache — which
    // is the rows' session, and in the streaming path that is the
    // foreachBatch micro-batch CLONE, not `spark`. The reader session
    // passed in here would keep serving the pre-append file listing
    // (measured: the second micro-batch probed an apparently-empty
    // index), so refresh it explicitly.
    spark.catalog.refreshTable(table)
  }

  /** Physically purge tombstoned rows via STAGE-AND-SWAP
    * ([[PurgeSwap]]): write the live rows (index anti-join tombstones,
    * the tombstone side broadcast) to a staging table in the same
    * bucketed layout, then swap it into place — the old table is
    * readable and serving until the staged copy is fully committed, a
    * crash anywhere leaves the index recoverable (old or staged state,
    * never lost), and nothing corpus-sized is ever snapshotted into
    * executor memory. `removed` comes from ONE tombstone-side
    * semi-join count over the id column, not two full-table counts.
    * Probe results are IDENTICAL before and after (the probe already
    * filters) — purging reclaims bytes, it never changes answers. The
    * rewrite reuses the LIVE table's bucket count by default (r21 — a
    * purge must not reset the layout). Returns rows removed. */
  def purgeTombstones(spark: SparkSession, table: String, spec: Spec,
                      nBuckets: Int): Long = {
    PurgeSwap.recover(spark, table)
    val t = IndexLifecycle.tombstonesOf(table)
    if (!spark.catalog.tableExists(t)) return 0L
    IndexLifecycle.requireBatchLayout(spark, table, Seq.empty, "purgeTombstones")
    val stones = broadcast(spark.table(t))
    val removed = spark.table(table).select(col("id"))
      .join(stones, Seq("id"), "left_semi").count()
    Writer.bucketedTable(
      spark.table(table).select(spec.cols.map(col): _*)
        .join(stones, Seq("id"), "left_anti"),
      PurgeSwap.stagingOf(table), spec.bucket,
      if (nBuckets > 0) nBuckets
      else Writer.bucketsOf(spark, table).getOrElse(16))
    PurgeSwap.swap(spark, table)
    spark.sql(s"DROP TABLE `$t`")
    removed
  }

  /** The probe prelude: the index rows (`cols`, id column first) that
    * share a `keys` value with `batch` — the probe's only contact with
    * the corpus index.
    *
    *   1. `excludeBatch`: on the STREAMING (batch-id-partitioned)
    *      layout, the in-flight batch's OWN partition is excluded — a
    *      crashed prior attempt can land the index append without the
    *      sink write (the two inserts run concurrently in
    *      writeBatchSinks), and on redelivery the probe would see the
    *      batch's rows on both sides: an inflated census that can push
    *      real keys over the cap and silently drop pairs (or duplicate
    *      them). A partition filter (pruning, not a scan); a fresh run,
    *      where the partition doesn't exist, reads exactly what it read
    *      before. CAVEAT: the guarantee assumes the crashed batch's
    *      rows still sit in their OWN partition — a compact between
    *      the crash and the restart merges them where the filter
    *      cannot see them (StreamOps.compactSink's crash-then-compact
    *      hazard): restart the stream before compacting.
    *   2. Explicit projection: the streaming layout adds the batch-id
    *      partition column the census must not see; on the batch
    *      layout an identity projection the optimizer collapses.
    *   3. Tombstoned ids vanish BEFORE the census
    *      ([[IndexLifecycle.minusTombstones]]), so cap decisions and
    *      pairs equal a rebuild on the live corpus.
    *   4. `left_semi` on the batch's keys. NO broadcast hint: a typical
    *      shard's key set is small and AQE converts the shuffle join
    *      to a broadcast at runtime, but a forced hint would make a
    *      large shard a driver OOM; the index side is bucketed on the
    *      key, so the shuffle form co-locates off the stored
    *      clustering. No distinct on the batch side: duplicate right
    *      rows never change a semi-join. */
  def touchedIndex(spark: SparkSession, table: String, cols: Seq[String],
                   keys: Seq[String], batch: DataFrame,
                   excludeBatch: Option[Long]): DataFrame = {
    val idxRead = excludeBatch.foldLeft(spark.table(table))((df, b) =>
      df.where(col(StreamOps.BatchTag) =!= lit(b)))
    IndexLifecycle.minusTombstones(spark, table,
        idxRead.select(cols.map(col): _*), cols.head)
      .join(batch.select(keys.map(col): _*), keys, "left_semi")
  }

  /** Pairs TOUCHING the batch (new-vs-indexed and new-vs-new),
    * canonicalized id_a < id_b, from the batch's materialized key rows
    * `batch` (the spec's columns).
    *
    * Grouped plan: after [[touchedIndex]], ONE groupBy(keys) over the
    * tagged rows (touched index ∪ batch) computes the key census
    * ([[SkipReport.census]] — the cap decision over old ∪ new), every
    * member id, and the batch's member ids; keys within `cap` explode
    * new × all, self-pairs drop, and `finish` folds the (id_a, id_b,
    * key…) rows into the family's pair set (Dedup: distinct; Winnow:
    * count(DISTINCT fp) — a new–new pair yields one row per direction).
    * The collected member lists cost O(key) memory per touched key,
    * hot ones included (they are collected before the cap filter drops
    * them); the cap still bounds the O(key²) explode.
    *
    * `stager` stages the final pair set: that barrier is the probe's
    * one contact with the mutable index, so a caller that mutates the
    * index afterwards (the stream ingest's append) never changes what
    * the returned pairs read. PlanAuditSpec injects `identity` to pin
    * the UNSTAGED plan — the left_semi restriction below the one
    * census, no inner join, no hints. */
  def probe(spark: SparkSession, table: String, spec: Spec, batch: DataFrame,
            cap: Long, stager: DataFrame => DataFrame,
            excludeBatch: Option[Long])(
      finish: DataFrame => DataFrame): DataFrame = {
    val keys = spec.keyCols.map(col)
    val tagged = touchedIndex(spark, table, spec.cols, spec.keyCols, batch,
        excludeBatch)
      .withColumn("__new", lit(false))
      .unionByName(batch.select(spec.cols.map(col): _*)
        .withColumn("__new", lit(true)))
    // collect_list skips nulls, so `__new_ids` holds the batch's ids.
    SkipReport.within(
        SkipReport.census(tagged, keys,
          collect_list(col("id")).as("__all_ids"),
          collect_list(when(col("__new"), col("id"))).as("__new_ids")),
        cap)
      .select(keys :+ explode(col("__new_ids")).as("id_n") :+ col("__all_ids"): _*)
      .select(keys :+ col("id_n") :+ explode(col("__all_ids")).as("id_o"): _*)
      .where(col("id_n") =!= col("id_o"))
      .select(least(col("id_n"), col("id_o")).as("id_a") +:
        greatest(col("id_n"), col("id_o")).as("id_b") +: keys: _*)
      .pipe(finish)
      .pipe(stager)
  }

  /** The pair-sink stream ingest: runs the bounded stream to completion
    * (StreamOps.sinkBatches — foreachBatch + AvailableNow), and per
    * micro-batch refreshes the index listing, stages the batch's keyed
    * rows (`keyed` — the batch's one barrier: the probe and the append
    * both read them), probes with the batch's own partition excluded,
    * and writes the pairs to `<table>_pairs` while the keyed rows
    * append to the index as a concurrent side write (writeBatchSinks).
    * Returns (the sink's accumulated pairs, batches processed).
    *
    * Tables: the index (`indexFields`, id first, bucketed on `bucket`)
    * and the sink (id_a, id_b, `pairFields`, bucketed on id_a — the
    * write shapes to one file per bucket per batch, and the pairs feed
    * id-keyed consumers) are both batch-id-partitioned, so each batch
    * write is a dynamic overwrite of its own partition: redelivery-
    * idempotent with NO existence anti-join. Bucket counts derive from
    * the stream's source bytes (StreamOps.scaledSinkBuckets). With a
    * checkpoint the ingest is RESTARTABLE: prior tables are kept only
    * when the checkpoint has committed batches
    * ([[IndexLifecycle.resumeAwareTableMaker]]); a restart MUST pass
    * the same keying parameters, since the kept rows were keyed by run
    * 1.
    *
    * Equivalence contract: every doc arrives in exactly one batch and
    * a pair is generated when its LATER member arrives (earlier member
    * indexed, or same batch), so the accumulated pairs equal the
    * family's one-shot operator over the whole stream — independent of
    * batch order. Caveat: the cap is decided on indexed-so-far ∪ batch
    * counts, so a key that crosses the cap only after later shards
    * arrive can leave EXTRA early pairs vs the one-shot; at the default
    * caps this needs a cluster larger than the cap, which the cap
    * exists to drop anyway. The probe's staged pair set materializes
    * BEFORE the append mutates the index, so the two inserts share no
    * live table; the one-small-partition-per-batch growth is what
    * [[compact]] reclaims. */
  def streamIngest(spark: SparkSession, table: String, stream: DataFrame,
                   queryName: String, checkpointLocation: Option[String],
                   indexFields: Seq[StructField], bucket: String,
                   pairFields: Seq[StructField])(
      keyed: DataFrame => DataFrame)(
      probe: (DataFrame, Long) => DataFrame): (DataFrame, Int) = {
    def tagged(fields: Seq[StructField]) =
      StructType(fields :+ StructField(StreamOps.BatchTag, LongType))
    val idType = indexFields.head.dataType
    val mkTable = IndexLifecycle.resumeAwareTableMaker(spark, checkpointLocation)
    val nBuckets = StreamOps.scaledSinkBuckets(stream)
    mkTable(spark, table, tagged(indexFields), StreamOps.BatchTag, bucket,
      nBuckets)
    val sink = table + "_pairs"
    mkTable(spark, sink,
      tagged(StructField("id_a", idType) +: StructField("id_b", idType) +:
        pairFields),
      StreamOps.BatchTag, "id_a", nBuckets)
    StreamOps.sinkBatches(spark, stream, queryName, sink,
        checkpointLocation) { (b, batchId) =>
      // Refresh the index's cached file listing HERE — the previous
      // batch's append ran concurrently with its pairs write, so the
      // refresh lands at the start of the next probe instead of
      // serializing after the append.
      spark.catalog.refreshTable(table)
      val staged = Checkpoints.stage(keyed(b))
      (probe(staged, batchId), Seq(table -> staged))
    }
  }

  /** Compact a [[streamIngest]] index and its `<table>_pairs` sink:
    * every batch partition merges into one compacted partition holding
    * one file per bucket, so probe scans stop paying a parquet footer
    * per shard ingested. Quiesce the stream first — see
    * StreamOps.compactSink for the redelivery and crash contract; pass
    * the ingest's `checkpointLocation` and a compact that would swallow
    * a crashed attempt's orphaned partition REFUSES instead.
    * `purge = true` is the streaming layout's physical purge:
    * tombstoned ids (`idCol`) are anti-joined out of the merged
    * rewrite and the tombstone list drops only AFTER it commits
    * ([[IndexLifecycle.compactStreaming]]), so probes filter until the
    * purge is durable and a crashed compact(purge) re-runs to the same
    * state. The pairs sink is never purged — pair rows are results,
    * takedown-filtered at probe time. Returns the index's merged
    * partition count. */
  def compact(spark: SparkSession, table: String,
              checkpointLocation: Option[String], purge: Boolean,
              idCol: String = "id"): Int =
    IndexLifecycle.compactStreaming(spark, table, checkpointLocation,
        purge, idCol) { _ =>
      val sink = table + "_pairs"
      if (spark.catalog.tableExists(sink))
        StreamOps.compactSink(spark, sink,
          checkpointLocation = checkpointLocation)
    }
}
