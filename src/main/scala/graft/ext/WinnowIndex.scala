package graft.ext

import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Writer

/** Incremental shared-passage detection: persist the corpus's winnow
  * fingerprint POSTINGS once (Dedup.winnowedPacked — int-packed
  * md5-prefix fingerprints), then probe each arriving shard against
  * the index WITHOUT re-fingerprinting the corpus — the
  * contamination/plagiarism shape a real pipeline runs (does shard-N
  * quote anything already ingested?), the [[DedupIndex]] pattern
  * applied to the winnowing family.
  *
  * Index layout: (id, fp) postings bucketed+sorted on `fp` (the
  * selective key), so the probe's semi-join and the posting-size
  * census run off the stored clustering. Cost model at 100 TB:
  *   - build: one fingerprint pass over the corpus, paid ONCE;
  *   - probe: fingerprint the NEW batch (O(batch)), semi-join the
  *     index down to fingerprints the batch posts (O(touched
  *     postings) — never a corpus re-read), apply the maxPostings
  *     hot-key cap on old ∪ new counts, count shared fingerprints
  *     per new-touching pair;
  *   - append: idempotent insertInto of the batch's postings in the
  *     same bucketed layout.
  *
  * Equivalence contract (pinned by x_winnow_incremental and
  * DedupSpec): probe pairs — including their n_shared counts — EQUAL
  * [[Dedup.winnowPairs]] over old ∪ new restricted to pairs touching
  * a new id. Holds because (a) fingerprinting is per-row, (b) the
  * posting cap is decided on old ∪ new counts (a fingerprint the
  * batch doesn't post cannot contribute a new-touching pair, and for
  * touched fingerprints the union census is complete), and (c) each
  * doc's fingerprint set is distinct, so count(DISTINCT fp) per
  * canonical pair is exactly the shared-fingerprint count whichever
  * side(s) of the join the pair's members enter from. Unlike the
  * MinHash twin the whole thing is VALUE-exact across engines —
  * portable fingerprints — so the oracle replays the probe itself,
  * not just invariant bits.
  */
object WinnowIndex {

  /** Fingerprint the corpus and persist its postings as a
    * bucketed+sorted table keyed on `fp`. Overwrites `table`.
    * `nBuckets` ≤ 0 (the default) sizes buckets to the posting
    * frame's estimated bytes (Writer.scaledBuckets — r21, guide §6). */
  def build(docs: DataFrame, idCol: String, textCol: String, table: String,
            k: Int = 8, w: Int = 4, nBuckets: Int = 0): Unit =
    buildFromPostings(postings(docs, idCol, textCol, k, w), table, nBuckets)

  /** Persist a PRECOMPUTED (id, fp) posting table — postings are
    * per-row, so any row-subset of a larger posting table is a valid
    * index for that subset of docs. */
  def buildFromPostings(p: DataFrame, table: String, nBuckets: Int = 0): Unit =
    Writer.bucketedTable(p, table, "fp",
      if (nBuckets > 0) nBuckets else Writer.scaledBuckets(p))

  /** (id, fp) exploded posting list of `docs` — one row per distinct
    * fingerprint per doc (winnow sets are distinct by construction). */
  def postings(docs: DataFrame, idCol: String, textCol: String,
               k: Int, w: Int): DataFrame =
    Dedup.winnowedPacked(docs.select(col(idCol).as("id"), col(textCol)),
        textCol, "fps", k, w)
      .select(col("id"), explode(col("fps")).as("fp"))

  /** Append a new batch's postings to an existing index. IDEMPOTENT
    * (same contract and contact pattern as [[DedupIndex.append]]):
    * rows already present are anti-joined away, reading only the
    * fingerprints the batch posts; the reader session's relation
    * cache is refreshed explicitly (the write may run from a
    * foreachBatch clone session). */
  def append(spark: SparkSession, table: String, newDocs: DataFrame,
             idCol: String, textCol: String,
             k: Int = 8, w: Int = 4): Unit =
    appendFromPostings(spark, table,
      postings(newDocs, idCol, textCol, k, w).pipe(Checkpoints.stage))

  /** [[append]] from a PRECOMPUTED (materialized) posting table of the
    * batch — a probe-then-append cycle fingerprints each batch once. */
  def appendFromPostings(spark: SparkSession, table: String,
                         np: DataFrame): Unit = {
    val touched = np.select(col("fp")).distinct()
    val existing = spark.table(table).join(touched, Seq("fp"), "left_semi")
    np.join(existing, Seq("id", "fp"), "left_anti")
      .write.mode("append").insertInto(table)
    spark.catalog.refreshTable(table)
  }

  /** Shared-passage pairs TOUCHING the new batch (new-vs-indexed and
    * new-vs-new), canonicalized id_a < id_b with the shared-
    * fingerprint count. Only the new batch is fingerprinted; the
    * corpus side comes from the saved posting table, cut up front to
    * fingerprints the batch posts. `stager` as in
    * [[DedupIndex.probeNewBatch]] (PlanAuditSpec injects identity). */
  def probeNewBatch(spark: SparkSession, table: String, newDocs: DataFrame,
                    idCol: String, textCol: String,
                    k: Int = 8, w: Int = 4, minShared: Int = 2,
                    maxPostings: Int = 1000,
                    stager: DataFrame => DataFrame = Checkpoints.stage): DataFrame =
    probeNewBatchFromPostings(spark, table,
      postings(newDocs, idCol, textCol, k, w).pipe(stager),
      minShared, maxPostings, stager)

  /** [[probeNewBatch]] from a PRECOMPUTED posting table of the batch
    * (materialized unless `stager` is identity).
    *
    * `excludeBatch`: on the streaming index layout, exclude the
    * in-flight batch's own partition from the index read — a crashed
    * attempt that landed the index append but not the sink write would
    * otherwise double-count the batch's postings on redelivery,
    * inflating the posting census (cap decisions) AND `n_shared`
    * counts. Partition-pruned; a no-op on fresh runs. Same contract as
    * [[DedupIndex.probeNewBatchFromBands]]. */
  def probeNewBatchFromPostings(spark: SparkSession, table: String,
                                np: DataFrame, minShared: Int = 2,
                                maxPostings: Int = 1000,
                                stager: DataFrame => DataFrame = Checkpoints.stage,
                                excludeBatch: Option[Long] = None): DataFrame = {
    // Fingerprints the batch doesn't post cannot yield a new-touching
    // pair: cut the index BEFORE the posting census — the semi-join is
    // the probe's only contact with the corpus index.
    val touched = np.select(col("fp")).distinct()
    // Explicit posting-column projection: the streaming index layout
    // adds a batch-id partition column the union must not see; an
    // identity projection on the batch layout (optimizer-collapsed).
    val idxRead = excludeBatch.foldLeft(spark.table(table))((df, b) =>
      df.where(col(graft.streaming.StreamOps.BatchTag) =!= lit(b)))
    // Tombstoned docs are invisible BEFORE the posting census, so the
    // cap decision and every pair equal a rebuild on the live corpus.
    val idxTouched = minusTombstones(spark, table,
        idxRead.select(col("id"), col("fp")))
      .join(touched, Seq("fp"), "left_semi")
    // Posting counts over old ∪ new — the same cap decision the batch
    // pipeline makes on the union corpus. Feeds sizing + both join
    // sides; stage once.
    val union = idxTouched.unionByName(np).pipe(stager)
    val sized = SkipReport.within(
      SkipReport.census(union, Seq(col("fp"))), maxPostings)
    val inPost = union.join(sized.select(col("fp")), Seq("fp"))
    val newSide = np.join(sized.select(col("fp")), Seq("fp"))
      .select(col("fp"), col("id").as("id_n"))
    val allSide = inPost.select(col("fp"), col("id").as("id_o"))
    newSide.join(allSide, Seq("fp"))
      .where(col("id_n") =!= col("id_o"))
      .select(least(col("id_n"), col("id_o")).as("id_a"),
        greatest(col("id_n"), col("id_o")).as("id_b"), col("fp"))
      // A new-new pair enters from BOTH join directions — one row per
      // (pair, fp) per direction; count DISTINCT fp so the shared
      // count matches the one-shot winnowPairs exactly.
      .groupBy(col("id_a"), col("id_b"))
      .agg(count_distinct(col("fp")).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Streaming shared-passage ingest — the winnowing twin of
    * [[DedupIndex.streamIngest]] (same batch-partitioned bucketed
    * index created fresh here, same anti-join-free partition-overwrite
    * append, same batch-id-partitioned sink table `<table>_pairs`,
    * same disjointness and one-batch-per-id contract, same over-cap
    * caveat): each micro-batch is fingerprinted ONCE, probes the
    * persisted posting table for shared-passage pairs touching it,
    * then appends its postings for later shards to probe against —
    * continuous contamination screening of an ingest stream. The
    * accumulated pair set (n_shared included) equals the one-shot
    * [[Dedup.winnowPairs]] over everything ingested, which
    * x_stream_winnow's value-exact oracle replays wholesale. */
  def streamIngest(spark: SparkSession, table: String, stream: DataFrame,
                   idCol: String, textCol: String,
                   k: Int = 8, w: Int = 4, minShared: Int = 2,
                   maxPostings: Int = 1000,
                   queryName: String = "graft_stream_winnow",
                   checkpointLocation: Option[String] = None): (DataFrame, Int) = {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val idType = stream.schema(idCol).dataType
    // Restartable with a checkpoint — see the dedup twin's comment.
    // Keep prior state only when the checkpoint has committed batches
    // (fresh checkpoint + leftover table = drop, not silent merge).
    val mkTable = IndexLifecycle.resumeAwareTableMaker(spark, checkpointLocation)
    // Sink/index buckets derive from the stream's source bytes (r22,
    // guide §6 — StreamOps.scaledSinkBuckets doc).
    val nBuckets = StreamOps.scaledSinkBuckets(stream)
    mkTable(spark, table,
      StructType(Seq(
        StructField("id", idType),
        StructField("fp", LongType),
        StructField(StreamOps.BatchTag, LongType))),
      StreamOps.BatchTag, "fp", nBuckets)
    // Pairs sink bucketed on id_a — see the dedup twin's rationale.
    val sink = table + "_pairs"
    mkTable(spark, sink,
      StructType(Seq(
        StructField("id_a", idType),
        StructField("id_b", idType),
        StructField("n_shared", LongType),
        StructField(StreamOps.BatchTag, LongType))),
      StreamOps.BatchTag, "id_a", nBuckets)
    StreamOps.sinkBatches(spark, stream, queryName, sink,
        checkpointLocation) { (b, batchId) =>
      // Refresh-at-probe + index append as a concurrent side write —
      // see the dedup twin's comments.
      spark.catalog.refreshTable(table)
      val np = postings(b, idCol, textCol, k, w).localCheckpoint(true)
      val pairs = probeNewBatchFromPostings(spark, table, np, minShared,
        maxPostings, excludeBatch = Some(batchId))
      (pairs, Seq(table -> np))
    }
  }

  /** Tombstone-delete documents from the index — the
    * right-to-be-forgotten path a 100 TB corpus index must support
    * without rewriting petabytes on every takedown: deleted ids land
    * in the side table `<table>_tombstones`; every probe anti-joins it
    * BEFORE the posting census (so cap decisions and pair counts equal
    * a rebuild on the live corpus — x_index_delete's value-exact
    * contract), and [[purgeTombstones]] later rewrites the postings
    * physically in one batch. Idempotent: re-deleting an id is a
    * no-op. The tombstone table stays takedown-sized (≪ index), so the
    * probe-time anti-join broadcasts. */
  def delete(spark: SparkSession, table: String, ids: DataFrame): Unit =
    IndexLifecycle.registerTombstones(spark, table, ids)

  private def minusTombstones(spark: SparkSession, table: String,
                              postings: DataFrame): DataFrame =
    IndexLifecycle.minusTombstones(spark, table, postings)

  /** Physically purge tombstoned postings via STAGE-AND-SWAP
    * ([[PurgeSwap]]): write the live rows (index anti-join tombstones,
    * the tombstone side broadcast) to a staging table in the same
    * bucketed layout, then swap it into place — the old table is
    * readable and serving until the staged copy is fully committed, a
    * crash anywhere leaves the index recoverable (old or staged state,
    * never lost), and nothing corpus-sized is ever snapshotted into
    * executor memory. `removed` comes from ONE tombstone-side
    * semi-join count over the id column, not two full-table counts.
    * Probe results are IDENTICAL before and after (the probe already
    * filters) — purging reclaims bytes, it never changes answers.
    * Returns the number of postings removed. */
  def purgeTombstones(spark: SparkSession, table: String,
                      nBuckets: Int = 0): Long = {
    PurgeSwap.recover(spark, table)
    val t = table + "_tombstones"
    if (!spark.catalog.tableExists(t)) return 0L
    IndexLifecycle.requireBatchLayout(spark, table, Seq.empty, "purgeTombstones")
    val stones = broadcast(spark.table(t))
    val removed = spark.table(table).select(col("id"))
      .join(stones, Seq("id"), "left_semi").count()
    // STAGE: live rows into the staging table (reads the live index,
    // never overwrites what it reads); then SWAP metadata-only. The
    // rewrite reuses the LIVE table's bucket count by default (r21 —
    // a purge reclaims bytes, it must not reset the layout).
    Writer.bucketedTable(
      spark.table(table).join(stones, Seq("id"), "left_anti"),
      PurgeSwap.stagingOf(table), "fp",
      if (nBuckets > 0) nBuckets
      else Writer.bucketsOf(spark, table).getOrElse(16))
    PurgeSwap.swap(spark, table)
    spark.sql(s"DROP TABLE `$t`")
    removed
  }

  /** Streaming cross-corpus DECONTAMINATION: probe arriving TRAIN
    * shards against a STATIC eval/benchmark fingerprint index — the
    * "screen pretraining data against the eval suite DURING ingest"
    * twin of [[Dedup.crossCorpusPairs]]. Unlike [[streamIngest]] the
    * index is never appended to (the eval suite is fixed), so batches
    * are fully independent: each micro-batch is fingerprinted once,
    * joined against the eval postings, and its flagged (train_id,
    * eval_id, n_shared ≥ minShared) pairs land in the batch-tagged
    * sink `<evalTable>_flags` (dynamic partition overwrite — the
    * redelivery/crash discipline of the index-ingest family).
    *
    * Cap semantics — the ONE deliberate difference from the one-shot
    * operator: the hot-fingerprint cap is decided on EVAL-side
    * posting counts alone (computed once from the static index before
    * the stream starts), not on the train ∪ eval union census, which
    * a stream cannot know mid-flight. That makes every batch's flags
    * a pure function of (batch docs, capped eval index), so the
    * accumulated flag set is ingestion-order- and shard-split-
    * invariant and equals the same eval-capped one-shot — which the
    * x_stream_decontaminate oracle replays end-to-end, value-exact.
    *
    * Scale shape: per batch O(batch fingerprints + touched eval
    * postings); the eval side is benchmark-sized and pre-capped; the
    * corpus never re-reads. */
  def streamDecontaminate(spark: SparkSession, evalTable: String,
                          stream: DataFrame, idCol: String, textCol: String,
                          k: Int = 20, w: Int = 8, minShared: Int = 2,
                          maxPostings: Int = 1000,
                          queryName: String = "graft_stream_decon",
                          checkpointLocation: Option[String] = None): (DataFrame, Int) = {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val idType = stream.schema(idCol).dataType
    val mkTable = IndexLifecycle.resumeAwareTableMaker(spark, checkpointLocation)
    val sink = evalTable + "_flags"
    mkTable(spark, sink,
      StructType(Seq(
        StructField("train_id", idType),
        StructField("eval_id", idType),
        StructField("n_shared", LongType),
        StructField(StreamOps.BatchTag, LongType))),
      StreamOps.BatchTag, "train_id", StreamOps.scaledSinkBuckets(stream))
    // Eval-side posting cap decided ONCE from the static index —
    // batch-independent by construction; materialized so the stream
    // never recomputes the census.
    val evCapped = spark.table(evalTable)
      .join(spark.table(evalTable).groupBy(col("fp"))
          .agg(count(lit(1)).as("__df")).where(col("__df") <= maxPostings)
          .select(col("fp")),
        Seq("fp"))
      .select(col("fp"), col("id").as("eval_id"))
      .localCheckpoint(true)
    StreamOps.sinkBatches(spark, stream, queryName, sink,
        checkpointLocation) { (b, batchId) =>
      val np = postings(b, idCol, textCol, k, w).localCheckpoint(true)
      // Winnow fp sets are distinct per doc, so count(*) per pair IS
      // the shared-fingerprint count.
      val flags = np.join(evCapped, Seq("fp"))
        .groupBy(col("id"), col("eval_id"))
        .agg(count(lit(1)).as("n_shared"))
        .where(col("n_shared") >= minShared)
        .select(col("id").as("train_id"), col("eval_id"), col("n_shared"))
      (flags, Seq.empty)
    }
  }

  /** Compact a [[streamIngest]] posting index (and its pairs sink) —
    * the winnowing twin of [[DedupIndex.compact]], same quiesce /
    * redelivery / crash contract (StreamOps.compactSink); pass the
    * ingest's `checkpointLocation` to refuse crash-then-compact
    * corruption.
    *
    * `purge = true` physically drops tombstoned ids during the
    * rewrite and clears the tombstone list — the streaming layout's
    * physical purge, closing the lifecycle cell [[purgeTombstones]]
    * refuses (it cannot restore the batch-tag contract). The
    * tombstone table drops only AFTER the rewrite commits, so probes
    * filter until the purge is fully durable and a crashed
    * compact(purge) re-runs to the same state. Post-purge probes
    * equal a fresh index built on the live docs (spec-pinned). */
  def compact(spark: SparkSession, table: String,
              checkpointLocation: Option[String] = None,
              purge: Boolean = false): Int =
    IndexLifecycle.compactStreaming(spark, table, checkpointLocation,
      purge) { _ =>
      IndexLifecycle.compactPairsSink(spark, table, checkpointLocation)
    }
}
