package graft.ext

import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField}

/** Incremental near-dup dedup: persist the corpus LSH band table once,
  * then dedup each arriving shard against the index WITHOUT
  * re-shingling the indexed corpus — the shape a real pipeline runs
  * (dedup shard-N against everything ingested so far), vs
  * [[Dedup.candidatePairs]] which re-hashes the full corpus per call.
  *
  * A key spec over [[PairIndex]] (which holds the layout, cost model
  * and lifecycle): the (id, band_id, band_hash) table bucketed+sorted
  * on `band_hash` (16 `band_id` values × high-cardinality hashes — the
  * hash is the selective key), keyed by [[Dedup.bands]], capped by
  * `maxBucketSize`, pairs finished by `distinct`.
  *
  * Equivalence contract (pinned by x_incremental_dedup and
  * DedupSpec): probe candidates == the full-recompute
  * [[Dedup.candidatePairsFromBands]] over old ∪ new, restricted to
  * pairs touching a new id (PairIndex's (a)–(c): banding is per-row,
  * and the cap is decided on bucket counts over old ∪ new).
  */
object DedupIndex {

  private val spec = PairIndex.Spec(
    Seq(StructField("band_id", IntegerType), StructField("band_hash", LongType)),
    "band_hash")

  /** This family's declared state ([[IndexState]]): the band table and its
    * tombstone list, taken down through [[delete]]. */
  def state(table: String): IndexState =
    IndexState.tombstoned(Seq(table), "id", delete)

  /** Band the corpus and persist as a bucketed+sorted table keyed on
    * `band_hash`. Overwrites `table`. */
  def build(docs: DataFrame, idCol: String, textCol: String, table: String,
            params: Dedup.MinHashParams = Dedup.MinHashParams(),
            nBuckets: Int = 0): Unit =
    buildFromBands(Dedup.bands(docs, idCol, textCol, params), table, nBuckets)

  /** Persist a PRECOMPUTED (id, band_id, band_hash) table — for
    * pipelines that already banded the corpus for another consumer
    * (a dedup run, a gate query), so the index write is just the
    * bucketed save, never a second shingle+minhash pass. `nBuckets`
    * ≤ 0 sizes buckets to the band frame ([[PairIndex.build]]). */
  def buildFromBands(bands: DataFrame, table: String, nBuckets: Int = 0): Unit =
    PairIndex.build(bands, state(table), spec, nBuckets)

  /** Tombstone-delete docs from the band index — the takedown pattern
    * shared across the index families (WinnowIndex's doc has the
    * contract): probes hide tombstoned ids BEFORE the bucket census,
    * so cap decisions and candidate pairs equal a rebuild on the live
    * corpus; [[purgeTombstones]] rewrites physically later. Pinned in
    * DedupSpec (probe-equals-live + purge stability). */
  def delete(spark: SparkSession, table: String, ids: DataFrame): Unit =
    IndexLifecycle.registerTombstones(spark, table, ids)

  /** Physically purge tombstoned bands via stage-and-swap
    * ([[PairIndex.purgeTombstones]] has the contract). Answer-stable;
    * returns rows removed. */
  def purgeTombstones(spark: SparkSession, table: String,
                      nBuckets: Int = 0): Long =
    PairIndex.purgeTombstones(spark, table, spec, nBuckets)

  /** Append a new batch's bands to an existing index (after a
    * [[probeNewBatch]] has deduped the batch, persist the survivors'
    * bands so the NEXT shard probes against them too). IDEMPOTENT —
    * [[PairIndex.append]]. */
  def append(spark: SparkSession, table: String, newDocs: DataFrame,
             idCol: String, textCol: String,
             params: Dedup.MinHashParams = Dedup.MinHashParams()): Unit =
    appendFromBands(spark, table,
      Dedup.bands(newDocs, idCol, textCol, params).pipe(Checkpoints.stage))

  /** [[append]] from a PRECOMPUTED (materialized) band table of the
    * batch — so a probe-then-append cycle bands each batch ONCE, not
    * once per call. */
  def appendFromBands(spark: SparkSession, table: String,
                      nb: DataFrame): Unit =
    PairIndex.append(spark, table, spec, nb)

  /** Candidate near-dup pairs TOUCHING the new batch (new-vs-indexed
    * and new-vs-new), canonicalized id_a < id_b. Only the new batch is
    * shingled; the corpus side comes from the saved band table,
    * restricted up front to buckets the batch touches.
    *
    * `stager` is the materialization barrier (Checkpoints.stage in
    * production) for the batch's bands, which the probe reads twice,
    * and for the returned pair set; PlanAuditSpec injects `identity`
    * to pin the UNSTAGED logical plan. */
  def probeNewBatch(spark: SparkSession, table: String, newDocs: DataFrame,
                    idCol: String, textCol: String,
                    params: Dedup.MinHashParams = Dedup.MinHashParams(),
                    stager: DataFrame => DataFrame = Checkpoints.stage): DataFrame =
    probeNewBatchFromBands(spark, table,
      Dedup.bands(newDocs, idCol, textCol, params).pipe(stager),
      params, stager)

  /** [[probeNewBatch]] from a PRECOMPUTED band table of the batch
    * (materialized unless `stager` is identity — it feeds the touched
    * restriction and the tagged union): [[PairIndex.probe]]'s one
    * grouped census on (band_id, band_hash), capped at
    * `maxBucketSize`, pairs distinct'ed. `excludeBatch` cuts the
    * in-flight batch's own partition on the streaming layout
    * ([[PairIndex.touchedIndex]]). */
  def probeNewBatchFromBands(spark: SparkSession, table: String,
                             newBands: DataFrame,
                             params: Dedup.MinHashParams = Dedup.MinHashParams(),
                             stager: DataFrame => DataFrame = Checkpoints.stage,
                             excludeBatch: Option[Long] = None): DataFrame =
    PairIndex.probe(spark, table, spec, newBands, params.maxBucketSize,
        stager, excludeBatch)(
      _.select(col("id_a"), col("id_b")).distinct())

  /** Streaming incremental dedup — the actual 100 TB ingest shape:
    * shards arrive as micro-batches, each batch is banded ONCE, PROBES
    * the persisted band index for candidate pairs (never re-shingling
    * the corpus) and then APPENDS its bands, so the next shard probes
    * against everything ingested so far; each batch's pairs land in
    * the `<table>_pairs` sink table. [[PairIndex.streamIngest]] has the
    * layout, restart and redelivery contract; returns (the sink's
    * accumulated pairs, batches processed).
    *
    * Equivalence contract (oracle-gated by x_stream_incremental_dedup,
    * spec-pinned in DedupSpec): the accumulated set over all batches
    * equals the one-shot [[Dedup.candidatePairs]] over the full corpus
    * — independent of batch order, with the over-cap caveat of
    * [[PairIndex.streamIngest]]. A restart MUST pass the same MinHash
    * params: the kept index rows are run-1 bands. */
  def streamIngest(spark: SparkSession, table: String, stream: DataFrame,
                   idCol: String, textCol: String,
                   params: Dedup.MinHashParams = Dedup.MinHashParams(),
                   queryName: String = "graft_stream_ingest",
                   checkpointLocation: Option[String] = None): (DataFrame, Int) =
    PairIndex.streamIngest(spark, state(table), stream, queryName,
        checkpointLocation, spec.fields(stream.schema(idCol).dataType),
        spec.bucket, Nil)(
      Dedup.bands(_, idCol, textCol, params))(
      (nb, batchId) => probeNewBatchFromBands(spark, table, nb, params,
        excludeBatch = Some(batchId)))

  /** Compact a [[streamIngest]] band index and its `<table>_pairs`
    * sink ([[PairIndex.compact]] has the quiesce / crash / purge
    * contract). Probe results are unchanged (spec-pinned in DedupSpec;
    * measured probe recovery in ScaleBench's compaction point). */
  def compact(spark: SparkSession, table: String,
              checkpointLocation: Option[String] = None,
              purge: Boolean = false): Int =
    PairIndex.compact(spark, state(table), checkpointLocation, purge)

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
