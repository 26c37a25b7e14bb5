package graft.ext

import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Writer

/** Incremental near-dup dedup: persist the corpus LSH band table once,
  * then dedup each arriving shard against the index WITHOUT
  * re-shingling the indexed corpus — the shape a real pipeline runs
  * (dedup shard-N against everything ingested so far), vs
  * [[Dedup.candidatePairs]] which re-hashes the full corpus per call.
  *
  * Index layout: the (id, band_id, band_hash) table bucketed+sorted on
  * `band_hash` (16 `band_id` values × high-cardinality hashes — the
  * hash is the selective key; bucketing on it lets the probe's
  * semi-join and the bucket-sizing groupBy run off the stored
  * clustering). Cost model at 100 TB:
  *   - build: one full-corpus banding pass (exactly [[Dedup.bands]]),
  *     paid ONCE;
  *   - probe: bands the NEW batch (O(batch)), then semi-joins the
  *     index down to buckets the batch touches before any sizing or
  *     pair generation — the corpus-side read is O(touched buckets),
  *     never a rescan of the corpus text;
  *   - append: insertInto the same bucketed layout, so the index stays
  *     probe-able shard after shard.
  *
  * Equivalence contract (pinned by x_incremental_dedup and
  * DedupSpec): probe candidates == the full-recompute
  * [[Dedup.candidatePairsFromBands]] over old ∪ new, restricted to
  * pairs touching a new id. That holds because (a) banding is
  * per-row — a doc's bands don't depend on the rest of the corpus —
  * and (b) the `maxBucketSize` cap is applied to bucket counts over
  * old ∪ new (complete within every touched bucket; untouched buckets
  * can't produce a new-touching pair).
  */
object DedupIndex {

  /** Band the corpus and persist as a bucketed+sorted table keyed on
    * `band_hash`. Overwrites `table`. */
  def build(docs: DataFrame, idCol: String, textCol: String, table: String,
            params: Dedup.MinHashParams = Dedup.MinHashParams(),
            nBuckets: Int = 0): Unit =
    buildFromBands(Dedup.bands(docs, idCol, textCol, params), table, nBuckets)

  /** Persist a PRECOMPUTED (id, band_id, band_hash) table — for
    * pipelines that already banded the corpus for another consumer
    * (a dedup run, a gate query), so the index write is just the
    * bucketed save, never a second shingle+minhash pass. Bands are
    * per-row, so any row-subset of a larger band table is a valid
    * index for that subset of docs. */
  def buildFromBands(bands: DataFrame, table: String, nBuckets: Int = 0): Unit =
    // nBuckets ≤ 0 sizes buckets to the band frame's estimated bytes
    // (Writer.scaledBuckets — r21, guide §6).
    Writer.bucketedTable(bands, table, "band_hash",
      if (nBuckets > 0) nBuckets else Writer.scaledBuckets(bands))

  /** Tombstone-delete docs from the band index — the takedown pattern
    * shared across the four index families (WinnowIndex's doc has the
    * contract): probes hide tombstoned ids BEFORE the bucket census,
    * so cap decisions and candidate pairs equal a rebuild on the live
    * corpus; [[purgeTombstones]] rewrites physically later. Pinned in
    * DedupSpec (probe-equals-live + purge stability). */
  def delete(spark: SparkSession, table: String, ids: DataFrame): Unit =
    IndexLifecycle.registerTombstones(spark, table, ids)

  private def minusTombstones(spark: SparkSession, table: String,
                              bands: DataFrame): DataFrame =
    IndexLifecycle.minusTombstones(spark, table, bands)

  /** Physically purge tombstoned bands via STAGE-AND-SWAP
    * ([[PurgeSwap]] — WinnowIndex.purgeTombstones has the full
    * contract): live rows staged into the same bucketed layout, then
    * a metadata swap; no corpus-sized snapshot, crash-safe at every
    * point, `removed` from one tombstone-side semi-join count.
    * Answer-stable; returns rows removed. */
  def purgeTombstones(spark: SparkSession, table: String,
                      nBuckets: Int = 0): Long = {
    PurgeSwap.recover(spark, table)
    val t = table + "_tombstones"
    if (!spark.catalog.tableExists(t)) return 0L
    IndexLifecycle.requireBatchLayout(spark, table, Seq.empty, "purgeTombstones")
    val stones = broadcast(spark.table(t))
    val removed = spark.table(table).select(col("id"))
      .join(stones, Seq("id"), "left_semi").count()
    // Rewrite reuses the LIVE table's bucket count by default (r21).
    Writer.bucketedTable(
      spark.table(table)
        .select(col("id"), col("band_id"), col("band_hash"))
        .join(stones, Seq("id"), "left_anti"),
      PurgeSwap.stagingOf(table), "band_hash",
      if (nBuckets > 0) nBuckets
      else Writer.bucketsOf(spark, table).getOrElse(16))
    PurgeSwap.swap(spark, table)
    spark.sql(s"DROP TABLE `$t`")
    removed
  }

  /** Append a new batch's bands to an existing index (after a
    * [[probeNewBatch]] has deduped the batch, persist the survivors'
    * bands so the NEXT shard probes against them too). insertInto
    * keeps the table's bucketed layout.
    *
    * IDEMPOTENT: rows already present are anti-joined away before the
    * write, so a retried append (or a shard re-ingesting an indexed
    * id) never double-counts band rows — duplicates would inflate the
    * bucket census and silently push real buckets over
    * `maxBucketSize`, breaking the probe ≡ full-recompute
    * equivalence. Banding is deterministic per (id, text), so a
    * duplicate id's rows are EXACT duplicates and the three-column
    * anti-join removes them all; the existence check reads only the
    * buckets the batch touches, same contact pattern as the probe. */
  def append(spark: SparkSession, table: String, newDocs: DataFrame,
             idCol: String, textCol: String,
             params: Dedup.MinHashParams = Dedup.MinHashParams()): Unit =
    appendFromBands(spark, table,
      Dedup.bands(newDocs, idCol, textCol, params).pipe(Checkpoints.stage))

  /** [[append]] from a PRECOMPUTED (materialized) band table of the
    * batch — so a probe-then-append cycle ([[streamIngest]]) bands
    * each batch ONCE, not once per call. */
  def appendFromBands(spark: SparkSession, table: String,
                      nb: DataFrame): Unit = {
    val touched = nb.select(col("band_id"), col("band_hash")).distinct()
    val existing = spark.table(table)
      .join(touched, Seq("band_id", "band_hash"), "left_semi")
    nb.join(existing, Seq("id", "band_id", "band_hash"), "left_anti")
      .write.mode("append").insertInto(table)
    // insertInto refreshes the WRITING session's relation cache — which
    // is newDocs' session, and in the streaming path that is the
    // foreachBatch micro-batch CLONE, not `spark`. The reader session
    // passed in here would keep serving the pre-append file listing
    // (measured: the second micro-batch probed an apparently-empty
    // index), so refresh it explicitly.
    spark.catalog.refreshTable(table)
  }

  /** Candidate near-dup pairs TOUCHING the new batch (new-vs-indexed
    * and new-vs-new), canonicalized id_a < id_b. Only the new batch is
    * shingled; the corpus side comes from the saved band table,
    * restricted up front to buckets the batch touches.
    *
    * `stager` is the materialization barrier (Checkpoints.stage in
    * production) for the batch's bands, which the probe reads twice,
    * and for the returned pair set; PlanAuditSpec injects `identity`
    * to pin the UNSTAGED logical plan — the left_semi restriction
    * sitting below the one grouped census, no inner join, and no
    * broadcast hint on the index side — which the barriers would
    * otherwise hide behind LogicalRDD leaves. */
  def probeNewBatch(spark: SparkSession, table: String, newDocs: DataFrame,
                    idCol: String, textCol: String,
                    params: Dedup.MinHashParams = Dedup.MinHashParams(),
                    stager: DataFrame => DataFrame = Checkpoints.stage): DataFrame =
    probeNewBatchFromBands(spark, table,
      Dedup.bands(newDocs, idCol, textCol, params).pipe(stager),
      params, stager)

  /** [[probeNewBatch]] from a PRECOMPUTED band table of the batch
    * (materialized unless `stager` is identity — it feeds the touched
    * restriction and the tagged union).
    *
    * Grouped plan: ONE groupBy(band_id, band_hash) over the tagged
    * rows (touched index ∪ batch) computes the bucket census
    * ([[SkipReport.census]] — the cap decision over old ∪ new, as
    * before), every member id, and the batch's member ids; buckets
    * within the cap explode new × all, self-pairs drop, and the pair
    * set is canonicalized and distinct'ed. Two shuffles (the census,
    * the distinct) where the join form paid five. The collected member
    * lists cost O(bucket) memory per bucket, hot ones included (they
    * are collected before the cap filter drops them); the cap still
    * bounds the O(bucket²) explode.
    *
    * `stager` stages the final pair set: that barrier is the probe's
    * one contact with the mutable index, so a caller that mutates the
    * index afterwards (streamIngest's append) never changes what the
    * returned pairs read.
    *
    * `excludeBatch`: on the STREAMING (batch-id-partitioned) index
    * layout, the in-flight batch's OWN partition is excluded from the
    * index read — a crashed prior attempt can land the index append
    * without the sink write (the two inserts run concurrently in
    * writeBatchSinks), and on redelivery the probe would then see the
    * batch's rows on BOTH sides of the union: an inflated bucket
    * census that can push real buckets over `maxBucketSize` and
    * silently drop pairs. The exclusion is a partition filter
    * (pruning, not a scan), and a fresh run — where the partition
    * doesn't exist — reads exactly what it read before.
    *
    * CAVEAT: the guarantee assumes the crashed batch's rows still sit
    * in their OWN partition. A compact run between the crash and the
    * restart merges the orphaned append into the compacted partition,
    * where the exclusion filter cannot see it — see the
    * crash-then-compact hazard on StreamOps.compactSink: restart the
    * stream before compacting. */
  def probeNewBatchFromBands(spark: SparkSession, table: String,
                             newBands: DataFrame,
                             params: Dedup.MinHashParams = Dedup.MinHashParams(),
                             stager: DataFrame => DataFrame = Checkpoints.stage,
                             excludeBatch: Option[Long] = None): DataFrame = {
    val keys = Seq(col("band_id"), col("band_hash"))
    // Buckets untouched by the batch cannot yield a new-touching pair:
    // cut the index to touched buckets BEFORE sizing — the semi-join
    // is the probe's only contact with the corpus index. NO broadcast
    // hint: a typical shard's bucket set is small and AQE converts the
    // shuffle join to a broadcast at runtime, but a forced hint would
    // make a large shard (millions of docs × bands rows) a driver
    // OOM; the index side is bucketed on band_hash, so the shuffle
    // form co-locates off the stored clustering. No distinct on the
    // batch side: duplicate right rows never change a semi-join.
    val touched = newBands.select(keys: _*)
    // Explicit band-column projection: the STREAMING index layout adds
    // a batch-id partition column the union must not see; on the
    // unpartitioned batch layout this is an identity projection the
    // optimizer collapses (the PlanAuditSpec pins are unchanged).
    val idxRead = excludeBatch.foldLeft(spark.table(table))((df, b) =>
      df.where(col(graft.streaming.StreamOps.BatchTag) =!= lit(b)))
    // Tombstoned docs vanish BEFORE the bucket census — cap decisions
    // and pairs equal a rebuild on the live corpus.
    val idxTouched = minusTombstones(spark, table,
        idxRead.select(col("id"), col("band_id"), col("band_hash")))
      .join(touched, Seq("band_id", "band_hash"), "left_semi")
    val tagged = idxTouched.withColumn("__new", lit(false))
      .unionByName(newBands.select(col("id"), col("band_id"), col("band_hash"))
        .withColumn("__new", lit(true)))
    // Bucket counts over old ∪ new — the SAME cap decision the batch
    // pipeline would make on the union corpus (see the object doc), so
    // incremental == full-recompute holds even on capped buckets.
    // collect_list skips nulls, so `__new_ids` holds the batch's ids.
    val kept = SkipReport.within(
      SkipReport.census(tagged, keys,
        collect_list(col("id")).as("__all_ids"),
        collect_list(when(col("__new"), col("id"))).as("__new_ids")),
      params.maxBucketSize)
    kept
      .select(explode(col("__new_ids")).as("id_n"), col("__all_ids"))
      .select(col("id_n"), explode(col("__all_ids")).as("id_o"))
      .where(col("id_n") =!= col("id_o"))
      .select(least(col("id_n"), col("id_o")).as("id_a"),
        greatest(col("id_n"), col("id_o")).as("id_b"))
      .distinct()
      .pipe(stager)
  }

  /** Streaming incremental dedup — the actual 100 TB ingest shape:
    * shards arrive as micro-batches, each batch PROBES the persisted
    * band index for candidate pairs (new-vs-indexed and new-vs-new,
    * never re-shingling the corpus) and then APPENDS its bands, so the
    * next shard probes against everything ingested so far. Runs the
    * bounded stream to completion (foreachBatch + AvailableNow),
    * writing each batch's pairs idempotently (batch-id partition
    * overwrite — StreamOps.sinkBatches) to the `<table>_pairs` sink
    * table, and returns (the sink's accumulated pairs, batches
    * processed). The sink is the unbounded-ingest shape: per-batch
    * appends to a table, nothing held in driver memory, redelivery
    * overwrites its own partition (DedupSpec pins that), and a driver
    * restart re-reads it.
    *
    * Equivalence contract (oracle-gated by x_stream_incremental_dedup,
    * spec-pinned in DedupSpec): because every doc arrives in exactly
    * one batch and a pair is generated when its LATER member arrives
    * (earlier member indexed, or same batch), the accumulated set over
    * all batches equals the one-shot [[Dedup.candidatePairs]] over the
    * full corpus — independent of batch order. Caveat shared with the
    * per-probe contract: the maxBucketSize cap is decided on
    * indexed-so-far ∪ batch counts, so a bucket that crosses the cap
    * only after later shards arrive can leave EXTRA early pairs vs the
    * full recompute; with the default cap (1000) this needs a
    * near-dup cluster larger than the cap, which the cap exists to
    * drop anyway.
    *
    * Per-batch plumbing: the raw micro-batch is read once, by the
    * banding pass, and the staged bands are the batch's one barrier
    * (shingle+minhash is the batch-side cost; the probe and the append
    * both read them). The probe's staged pair set — its only contact
    * with the mutable table — materializes BEFORE the append mutates
    * it, so the pairs the sink write inserts afterwards never read the
    * live table. The INDEX here is batch-partitioned
    * on top of the bucket spec (Writer.emptyPartitionedBucketedTable,
    * created fresh by this call — the stream owns its index): the
    * append is a dynamic overwrite of exactly the batch's own
    * partition, which makes it redelivery-idempotent with NO
    * existence anti-join and no second index read — the r9 anti-join
    * append was the largest per-batch term in the profile. Probes run
    * off the shared bucket clustering exactly as on the batch layout;
    * the one-small-partition-per-shard growth is what
    * [[compact]] reclaims. */
  def streamIngest(spark: SparkSession, table: String, stream: DataFrame,
                   idCol: String, textCol: String,
                   params: Dedup.MinHashParams = Dedup.MinHashParams(),
                   queryName: String = "graft_stream_ingest",
                   checkpointLocation: Option[String] = None): (DataFrame, Int) = {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
    val idType = stream.schema(idCol).dataType
    // With a checkpoint the ingest is RESTARTABLE: keep whatever index
    // state a previous driver accumulated (the checkpoint guarantees
    // committed batches are not redelivered) — but ONLY when that
    // checkpoint has actually committed something. A fresh/empty
    // checkpoint means a fresh run, so a leftover index table from an
    // earlier run (whose batch ids would collide with the restarting
    // counter and survive dynamic partition overwrite) is dropped, not
    // silently merged — table and checkpoint stay in lockstep. Without
    // a checkpoint, the stream owns a fresh index. A restart MUST pass
    // the same MinHash params: the kept index rows are run-1 bands, so
    // changed params would probe incomparable signatures.
    val mkTable = IndexLifecycle.resumeAwareTableMaker(spark, checkpointLocation)
    // Source-byte-derived buckets (r22, guide §6 — scaledSinkBuckets).
    val nBuckets = StreamOps.scaledSinkBuckets(stream)
    mkTable(spark, table,
      StructType(Seq(
        StructField("id", idType),
        StructField("band_id", IntegerType),
        StructField("band_hash", LongType),
        StructField(StreamOps.BatchTag, LongType))),
      StreamOps.BatchTag, "band_hash", nBuckets)
    // Pairs sink bucketed on id_a: the write shapes to one file per
    // bucket per batch (vs one per upstream slice), and the
    // accumulated pairs feed id-keyed consumers (cluster label-prop,
    // survivor anti-join) that can ride the stored clustering.
    val sink = table + "_pairs"
    mkTable(spark, sink,
      StructType(Seq(
        StructField("id_a", idType),
        StructField("id_b", idType),
        StructField(StreamOps.BatchTag, LongType))),
      StreamOps.BatchTag, "id_a", nBuckets)
    StreamOps.sinkBatches(spark, stream, queryName, sink,
        checkpointLocation) { (b, batchId) =>
      // Refresh the index's cached file listing HERE — the previous
      // batch's append ran concurrently with its pairs write, so the
      // refresh lands at the start of the next probe instead of
      // serializing after the append.
      spark.catalog.refreshTable(table)
      val nb = Dedup.bands(b, idCol, textCol, params).localCheckpoint(true)
      val pairs = probeNewBatchFromBands(spark, table, nb, params,
        excludeBatch = Some(batchId))
      // The index append rides as a side write: its rows (nb) and the
      // pairs share no live table (the probe's staged pair set already
      // materialized the index contact), so both inserts overlap in
      // writeBatchSinks.
      (pairs, Seq(table -> nb))
    }
  }

  /** Compact a [[streamIngest]] band index (and its `<table>_pairs`
    * sink, when present) after many per-shard appends: every batch
    * partition merges into one compacted partition holding one file
    * per bucket, so probe scans stop paying a parquet footer per
    * shard ingested. Quiesce the stream first — see
    * StreamOps.compactSink for the redelivery and crash contract;
    * pass the ingest's `checkpointLocation` and a compact that would
    * swallow a crashed attempt's orphaned partition REFUSES instead
    * (spec-pinned crash → refuse → restart → compact case).
    * Probe results are unchanged (spec-pinned in DedupSpec; measured
    * probe recovery in ScaleBench's compaction point). */
  def compact(spark: SparkSession, table: String,
              checkpointLocation: Option[String] = None,
              purge: Boolean = false): Int =
    // `purge = true`: the streaming layout's physical purge —
    // tombstoned ids anti-joined out of the merged rewrite, tombstone
    // list dropped after it commits (WinnowIndex.compact documents
    // the shared contract; IndexLifecycle.compactStreaming is the
    // shared driver).
    IndexLifecycle.compactStreaming(spark, table, checkpointLocation,
      purge) { _ =>
      IndexLifecycle.compactPairsSink(spark, table, checkpointLocation)
    }

  /** End-to-end incremental near-dup pairs: probe candidates, then
    * exact-Jaccard verification against the UNION corpus (only docs
    * that appear in a candidate pair are shingled — Dedup.verifyPairs'
    * semi-join contract). `allDocs` must cover both indexed and new
    * ids (the verification needs the text of indexed docs a new doc
    * collides with). */
  def nearDupPairsNewBatch(spark: SparkSession, table: String,
                           newDocs: DataFrame, allDocs: DataFrame,
                           idCol: String, textCol: String,
                           params: Dedup.MinHashParams = Dedup.MinHashParams(),
                           threshold: Double = 0.8): DataFrame =
    Dedup.verifyPairs(allDocs,
      probeNewBatch(spark, table, newDocs, idCol, textCol, params),
      idCol, textCol, params, threshold)
}
