package graft.ext

import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}

/** Incremental shared-passage detection: persist the corpus's winnow
  * fingerprint POSTINGS once (Dedup.winnowedPacked — int-packed
  * md5-prefix fingerprints), then probe each arriving shard against
  * the index WITHOUT re-fingerprinting the corpus — the
  * contamination/plagiarism shape a real pipeline runs (does shard-N
  * quote anything already ingested?).
  *
  * A key spec over [[PairIndex]] (which holds the layout, cost model
  * and lifecycle), the [[DedupIndex]] twin: (id, fp) postings
  * bucketed+sorted on `fp`, keyed by [[postings]], capped by
  * `maxPostings`, pairs finished by count(DISTINCT fp) ≥ minShared as
  * `n_shared`.
  *
  * Equivalence contract (pinned by x_winnow_incremental and
  * DedupSpec): probe pairs — including their n_shared counts — EQUAL
  * [[Dedup.winnowPairs]] over old ∪ new restricted to pairs touching
  * a new id. Holds because (a) fingerprinting is per-row, (b) the
  * posting cap is decided on old ∪ new counts (a fingerprint the
  * batch doesn't post cannot contribute a new-touching pair, and for
  * touched fingerprints the union census is complete), and (c) each
  * doc's fingerprint set is distinct, and every kept fingerprint two
  * docs share yields at least one exploded row for their pair (two
  * when both are new), so count(DISTINCT fp) per canonical pair is
  * exactly the shared-fingerprint count. Unlike the MinHash twin the
  * whole thing is VALUE-exact across engines — portable fingerprints
  * — so the oracle replays the probe itself, not just invariant bits.
  */
object WinnowIndex {

  private val spec = PairIndex.Spec(Seq(StructField("fp", LongType)), "fp")

  /** This family's declared state ([[IndexState]]): the posting table and its
    * tombstone list, taken down through [[delete]]. */
  def state(table: String): IndexState =
    IndexState.tombstoned(Seq(table), "id", delete)

  /** Fingerprint the corpus and persist its postings as a
    * bucketed+sorted table keyed on `fp`. Overwrites `table`.
    * `nBuckets` ≤ 0 (the default) sizes buckets to the posting
    * frame's estimated bytes ([[PairIndex.build]]). */
  def build(docs: DataFrame, idCol: String, textCol: String, table: String,
            k: Int = 8, w: Int = 4, nBuckets: Int = 0): Unit =
    buildFromPostings(postings(docs, idCol, textCol, k, w), table, nBuckets)

  /** Persist a PRECOMPUTED (id, fp) posting table — postings are
    * per-row, so any row-subset of a larger posting table is a valid
    * index for that subset of docs. */
  def buildFromPostings(p: DataFrame, table: String, nBuckets: Int = 0): Unit =
    PairIndex.build(p, state(table), spec, nBuckets)

  /** (id, fp) exploded posting list of `docs` — one row per distinct
    * fingerprint per doc (winnow sets are distinct by construction). */
  def postings(docs: DataFrame, idCol: String, textCol: String,
               k: Int, w: Int): DataFrame =
    Dedup.winnowedPacked(docs.select(col(idCol).as("id"), col(textCol)),
        textCol, "fps", k, w)
      .select(col("id"), explode(col("fps")).as("fp"))

  /** Append a new batch's postings to an existing index. IDEMPOTENT
    * ([[PairIndex.append]]). */
  def append(spark: SparkSession, table: String, newDocs: DataFrame,
             idCol: String, textCol: String,
             k: Int = 8, w: Int = 4): Unit =
    appendFromPostings(spark, table,
      postings(newDocs, idCol, textCol, k, w).pipe(Checkpoints.stage))

  /** [[append]] from a PRECOMPUTED (materialized) posting table of the
    * batch — a probe-then-append cycle fingerprints each batch once. */
  def appendFromPostings(spark: SparkSession, table: String,
                         np: DataFrame): Unit =
    PairIndex.append(spark, table, spec, np)

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
    * (materialized unless `stager` is identity): [[PairIndex.probe]]'s
    * one grouped census on `fp`, capped at `maxPostings`, pairs
    * counted as count(DISTINCT fp) — a new–new pair explodes once per
    * direction. `excludeBatch` cuts the in-flight batch's own
    * partition on the streaming layout ([[PairIndex.touchedIndex]]):
    * without it a crashed attempt's orphaned append would inflate the
    * census AND `n_shared`. */
  def probeNewBatchFromPostings(spark: SparkSession, table: String,
                                np: DataFrame, minShared: Int = 2,
                                maxPostings: Int = 1000,
                                stager: DataFrame => DataFrame = Checkpoints.stage,
                                excludeBatch: Option[Long] = None): DataFrame =
    PairIndex.probe(spark, table, spec, np, maxPostings, stager,
        excludeBatch)(
      _.groupBy(col("id_a"), col("id_b"))
        .agg(count_distinct(col("fp")).as("n_shared"))
        .where(col("n_shared") >= minShared))

  /** Streaming shared-passage ingest — the winnowing twin of
    * [[DedupIndex.streamIngest]] ([[PairIndex.streamIngest]] has the
    * shared layout, restart, redelivery and over-cap contract): each
    * micro-batch is fingerprinted ONCE, probes the persisted posting
    * table for shared-passage pairs touching it, then appends its
    * postings for later shards to probe against — continuous
    * contamination screening of an ingest stream. The accumulated pair
    * set (n_shared included) equals the one-shot [[Dedup.winnowPairs]]
    * over everything ingested, which x_stream_winnow's value-exact
    * oracle replays wholesale. */
  def streamIngest(spark: SparkSession, table: String, stream: DataFrame,
                   idCol: String, textCol: String,
                   k: Int = 8, w: Int = 4, minShared: Int = 2,
                   maxPostings: Int = 1000,
                   queryName: String = "graft_stream_winnow",
                   checkpointLocation: Option[String] = None): (DataFrame, Int) =
    PairIndex.streamIngest(spark, state(table), stream, queryName,
        checkpointLocation, spec.fields(stream.schema(idCol).dataType),
        spec.bucket,
        Seq(StructField("n_shared", LongType)))(
      postings(_, idCol, textCol, k, w))(
      (np, batchId) => probeNewBatchFromPostings(spark, table, np, minShared,
        maxPostings, excludeBatch = Some(batchId)))

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

  /** Physically purge tombstoned postings via stage-and-swap
    * ([[PairIndex.purgeTombstones]] has the contract). Probe results
    * are IDENTICAL before and after. Returns the number of postings
    * removed. */
  def purgeTombstones(spark: SparkSession, table: String,
                      nBuckets: Int = 0): Long =
    PairIndex.purgeTombstones(spark, table, spec, nBuckets)

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
    import org.apache.spark.sql.types.StructType
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
      .pipe(Checkpoints.stage)
    StreamOps.sinkBatches(spark, stream, queryName, sink,
        checkpointLocation) { (b, batchId) =>
      val np = postings(b, idCol, textCol, k, w).pipe(Checkpoints.stage)
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

  /** Compact a [[streamIngest]] posting index and its pairs sink —
    * the winnowing twin of [[DedupIndex.compact]]. `purge = true`
    * physically drops tombstoned ids during the rewrite and clears the
    * tombstone list — the streaming layout's physical purge, closing
    * the lifecycle cell [[purgeTombstones]] refuses (it cannot restore
    * the batch-tag contract); [[PairIndex.compact]] has the quiesce /
    * crash / drop-last contract. Post-purge probes equal a fresh index
    * built on the live docs (spec-pinned). */
  def compact(spark: SparkSession, table: String,
              checkpointLocation: Option[String] = None,
              purge: Boolean = false): Int =
    PairIndex.compact(spark, state(table), checkpointLocation, purge)
}
