package graft.ext

import scala.util.chaining._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}

import graft.io.Writer
import IndexLifecycle.{docsOf, tombstonesOf}

/** Persisted incremental bigram-LM index — the SIXTH index family
  * (after MinHash bands, winnow postings, BM25 postings, IVF cells,
  * IVFADC), closing the gap that every corpus-LM quality operator
  * ([[TextAnalysis.surprisalStats]], the DSIR contrast, the per-source
  * dashboard) recomputes its bigram census from scratch per run: a
  * production pipeline scores each ARRIVING shard against the
  * corpus-so-far LM (the CCNet shape with a growing reference corpus)
  * and lets takedowns update the LM they trained.
  *
  * COUNTS ARE ADDITIVE INTEGERS, which buys this family stronger
  * contracts than the other families, all value-exact:
  *   - probe ≡ [[TextAnalysis.surprisalStats]] bit-for-bit whenever
  *     the index holds exactly the probed corpus's census (the DuckDB
  *     oracle replays the whole thing);
  *   - append/delete are EXACT count deltas — after any
  *     build/append/delete sequence, probes equal a fresh build over
  *     the surviving docs, including the prefix masses;
  *   - every lifecycle write is RETRY-IDEMPOTENT BY CONSTRUCTION: the
  *     delta table is partitioned by a `__wave` tag derived
  *     deterministically from the wave's doc-id set, and each write is
  *     a dynamic partition overwrite of exactly its own wave — a
  *     crashed append/delete re-runs into the same partitions, whatever
  *     landed before (no anti-join existence machinery, no
  *     tombstone-vs-delta ordering hazard).
  *
  * Layout, three tables, all partitioned by `__wave` (string) so waves
  * overwrite idempotently — one DDL helper ([[createLayout]]) serves build,
  * the resume-aware stream ingest and compact's staging set, and every
  * write is one Writer.insertOverwrite of a `__wave`-tagged frame
  * ([[insertWave]]), the same layout-shaped dynamic-overwrite insert
  * the streaming sinks use:
  *   - `<t>`       (w1, g, c, __wave) bucketed+sorted on `w1` — the
  *     bigram count DELTAS (negative for deletions). `w1` is the probe
  *     prune key: a doc's surprisal needs the prefix mass c1(w1) =
  *     Σ c over grams sharing its first token, so the probe semi-joins
  *     on touched w1 values and bucket pruning bounds the contact.
  *   - `<t>_docs`  (id, __wave) — the indexed-doc registry; append
  *     skips ids already present (cross-wave dedup of whole docs).
  *   - `<t>_tombstones` (id, __wave) — ids whose counts were
  *     subtracted; blocked from re-append until [[compact]] absorbs
  *     the deltas and clears them. This is the family's whole takedown
  *     state ([[state]]): the deltas themselves live in `<t>`, so a
  *     build or a fresh stream ingest that recreates the three tables
  *     starts clean.
  *
  * Scale shape: build/append cost one gram census of their input
  * (output vocabulary-sized); probe contact = the probed docs' touched
  * w1 postings (bucket-pruned) — never a corpus rescan; delete costs a
  * census of the deleted docs only. Waves accumulate small partitions
  * — [[compact]] is the summed stage-and-swap rewrite that collapses
  * them (and drops zeroed grams), the same reclaim cycle the other
  * families run.
  */
object LmIndex {

  /** (id, w1, g, c_doc) per-doc bigram census — the same whitespace
    * bigrams [[TextAnalysis.surprisalStats]] builds, so index counts
    * can never drift from the scan-time operator's. */
  private def bigramsOf(textCol: String): Column = {
    val t = TextAnalysis.tokens(col(textCol))
    when(size(t) >= 2,
      transform(sequence(lit(0), size(t) - 2),
        i => concat_ws(" ", element_at(t, i + 1), element_at(t, i + 2))))
      .otherwise(array())
  }

  private[ext] def docGrams(docs: DataFrame, idCol: String,
                            textCol: String): DataFrame =
    docs.where(col(textCol).isNotNull)
      .select(col(idCol).as("id"), explode(bigramsOf(textCol)).as("g"))
      .groupBy(col("id"), col("g"))
      .agg(count(lit(1)).as("c_doc"))
      .select(col("id"), element_at(split(col("g"), " "), 1).as("w1"),
        col("g"), col("c_doc"))

  /** (w1, g, c) corpus census of a doc frame — ONE aggregation
    * straight off the exploded gram stream (Σ over docs of the per-doc
    * counts ≡ the total count, so the old docGrams → re-aggregate
    * two-exchange shape priced a per-doc census nobody read; partial
    * map-side aggregation still bounds the shuffle to
    * vocabulary-sized bytes — guide §2.3/§2.4). */
  private def gramCensus(docs: DataFrame, idCol: String,
                         textCol: String): DataFrame =
    docs.where(col(textCol).isNotNull)
      .select(explode(bigramsOf(textCol)).as("g"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("c"))
      .select(element_at(split(col("g"), " "), 1).as("w1"),
        col("g"), col("c"))

  /** (doc count, wave tag) in ONE aggregation — the tag is
    * deterministic in the doc-id set (count + two order-independent
    * hash sums), so a retried write overwrites its own partition
    * instead of double-counting. Append/delete run it
    * over their LAZILY staged `fresh` barrier (Checkpoints.stageLazy),
    * so one job materializes the barrier AND answers both "is there
    * anything to do" and "what wave is it" (r22; these were three
    * separate driver actions — stage, isEmpty, wave tag — per
    * append/delete, pure fixed overhead at any scale). */
  private def waveCensus(docs: DataFrame, idCol: String): (Long, String) = {
    val r = docs.agg(count(lit(1)).as("n"),
      coalesce(sum(xxhash64(col(idCol))), lit(0L)).as("h1"),
      coalesce(sum(xxhash64(col(idCol), lit(7))), lit(0L)).as("h2")).head()
    (r.getLong(0),
      f"w${r.getLong(0)}%x_${r.getLong(1)}%016x_${r.getLong(2)}%016x")
  }

  /** `rows` land as wave `wave` of `table` — Writer.insertOverwrite,
    * the shared layout-shaped dynamic-overwrite insert (one file per
    * bucket, only that wave's partition replaced; the one-way
    * dynamic-overwrite latch goes on the ROWS' session, so r21's
    * overlapped disjoint-table writes can never flip an in-flight plan
    * back to STATIC overwrite) — then the reading session drops its
    * cached listing. Every LmIndex write goes through it; the ordered
    * lifecycle ops take it as a parameter so LmIndexSpec can crash
    * them between their two waves. */
  private[ext] def insertWave(spark: SparkSession)(table: String,
                                                   rows: DataFrame,
                                                   wave: String): Unit = {
    Writer.insertOverwrite(rows.withColumn("__wave", lit(wave)), table)
    spark.catalog.refreshTable(table)
  }

  private val deltaSchema: StructType =
    StructType(Seq(
      StructField("w1", StringType), StructField("g", StringType),
      StructField("c", LongType), StructField("__wave", StringType)))

  /** This family's declared state ([[IndexState]]): the delta table
    * and the `_docs` registry (the id-bearing table — the delta table
    * holds gram counts, not ids), then the tombstone list. No id-only
    * delete: [[delete]] subtracts the docs' counts and needs their
    * text, so IndexOps.takedown refuses this family. */
  def state(table: String): IndexState =
    IndexState(Seq(table, docsOf(table)), Seq(tombstonesOf(table)),
      docsOf(table), "id", None, zeroedGrams(_, table))

  /** Grams whose live summed delta is 0 (all their mass deleted) —
    * dead rows a [[compact]] reclaims; one vocabulary-sized sum. */
  private def zeroedGrams(spark: SparkSession, table: String): Long =
    spark.table(table).groupBy(col("g"))
      .agg(sum(col("c")).as("c")).where(col("c") === 0L).count()

  /** Create the family's three tables (class doc) with ONE DDL each,
    * run concurrently (disjoint tables — guide §2.6 via Par). `make`
    * has the signature Writer.emptyPartitionedBucketedTable and
    * IndexLifecycle.resumeAwareTableMaker's maker share; `nameOf` maps
    * each layout name to the table to create — identity for build and
    * the stream ingest, PurgeSwap.stagingOf for compact's staging set. */
  private def createLayout(spark: SparkSession,
      make: (SparkSession, String, StructType, String, String, Int) => Unit,
      nameOf: String => String, table: String, idType: DataType,
      nBuckets: Int): Unit = {
    val ids = StructType(Seq(StructField("id", idType),
      StructField("__wave", StringType)))
    Par.all(
      () => make(spark, nameOf(table), deltaSchema, "__wave", "w1", nBuckets),
      () => make(spark, nameOf(docsOf(table)), ids, "__wave", "id", nBuckets),
      () => make(spark, nameOf(tombstonesOf(table)), ids, "__wave", "id", 1))
  }

  /** Heal any crashed stage-and-swap across the family's three tables
    * — run at every lifecycle entry point (the [[PurgeSwap.recover]]
    * discipline), so a crash inside a swap's drop→rename window never
    * leaves a reader facing a missing table. */
  private def recoverAll(spark: SparkSession, table: String): Unit =
    state(table).tables.foreach(PurgeSwap.recover(spark, _))

  /** Census the corpus and create the three-table index. Overwrites.
    * `nBuckets` ≤ 0 (the default) sizes buckets to the doc frame's
    * estimated bytes (Writer.scaledBuckets — r21, guide §6: a KB
    * fixture gets 1 bucket, not 16 near-empty files per wave). */
  def build(spark: SparkSession, docs: DataFrame, idCol: String,
            textCol: String, table: String, nBuckets0: Int = 0): Unit = {
    val nBuckets =
      if (nBuckets0 > 0) nBuckets0 else Writer.scaledBuckets(docs)
    state(table).stagings.foreach(Writer.dropTableAndLocation(spark, _))
    createLayout(spark, Writer.emptyPartitionedBucketedTable, identity,
      table, docs.schema(idCol).dataType, nBuckets)
    append(spark, table, docs, idCol, textCol, overlapWaves = true,
      insertWave(spark))
  }

  /** Add a batch's counts. IDEMPOTENT two ways: ids already indexed
    * (or tombstoned) drop whole before any census, and the surviving
    * wave overwrites its own deterministic partition — a retried
    * append can never double-count. */
  def append(spark: SparkSession, table: String, newDocs: DataFrame,
             idCol: String, textCol: String): Unit =
    append(spark, table, newDocs, idCol, textCol, overlapWaves = false,
      insertWave(spark))

  /** [[append]] with the delta/registry wave ORDER relaxed to a §2.6
    * overlap — legal ONLY from [[build]] (r22): build just dropped and
    * recreated every table, so its retry path is build-again-from-
    * scratch, not the registry-anti-join idempotence an interrupted
    * APPEND retry relies on (the ADVICE r21 crash contract). A crashed
    * build leaves an index that was never consistent; re-running build
    * drops both waves whole. `write` is [[insertWave]] (a spec passes a
    * crashing one). */
  private[ext] def append(spark: SparkSession, table: String,
                          newDocs: DataFrame, idCol: String, textCol: String,
                          overlapWaves: Boolean,
                          write: (String, DataFrame, String) => Unit): Unit = {
    recoverAll(spark, table)
    val known = spark.table(docsOf(table)).select(col("id"))
      .unionByName(spark.table(tombstonesOf(table))
        .select(col("id")))
    // Lazy barrier: the wave census below is the action that
    // materializes it — one job for barrier + emptiness + wave tag
    // (waveCensus doc) instead of three.
    val fresh = newDocs.dropDuplicates(Seq(idCol))
      .join(known.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
      .pipe(Checkpoints.stageLazy)
    val (nFresh, wave) = waveCensus(fresh, idCol)
    if (nFresh == 0L) return
    // ORDER IS THE CRASH CONTRACT (ADVICE r21, high): the count-delta
    // wave must COMMIT strictly before the `_docs` registry wave.
    // Retry idempotence anti-joins on the registry — if the registry
    // landed but the deltas did not (r21 ran the two under Par.all,
    // so a crash between the commits could order them either way), a
    // retried append classifies the ids as already processed and the
    // counts are silently never written: permanent index drift no
    // census can see. Delta-first, a crash between the writes leaves
    // counts committed but unregistered, and the retry re-censuses the
    // same doc set into the SAME deterministic wave partition — a
    // self-overwrite, never a double count. (The ~0.2 s the overlap
    // bought at fixture scale is not worth an undetectable-drift
    // window; Par stays on the genuinely commutable overlaps — which
    // includes the BUILD path: `overlapWaves` doc.)
    if (overlapWaves) Par.all(
      () => write(table, gramCensus(fresh, idCol, textCol), wave),
      () => write(docsOf(table), fresh.select(col(idCol).as("id")), wave))
    else {
      write(table, gramCensus(fresh, idCol, textCol), wave)
      write(docsOf(table), fresh.select(col(idCol).as("id")), wave)
    }
  }

  /** Subtract deleted docs' counts — the LM takedown: the reference
    * model itself forgets the removed text, not just a downstream
    * probe filter. Requires the doc rows (id + text) because the
    * subtraction is their exact census × −1; only ids actually indexed
    * and not already tombstoned subtract (idempotent), and the wave's
    * negative deltas + tombstone ids overwrite their own deterministic
    * partitions, so a crashed delete re-runs to the same state —
    * never a double subtraction, never a blocked-but-counted limbo. */
  def delete(spark: SparkSession, table: String, docsToDelete: DataFrame,
             idCol: String, textCol: String): Long =
    delete(spark, table, docsToDelete, idCol, textCol, insertWave(spark))

  /** [[delete]] through the wave writer `write` ([[insertWave]]; a spec
    * passes a crashing one). */
  private[ext] def delete(spark: SparkSession, table: String,
                          docsToDelete: DataFrame, idCol: String,
                          textCol: String,
                          write: (String, DataFrame, String) => Unit): Long = {
    recoverAll(spark, table)
    // Lazy barrier + one-job wave census — see append.
    val fresh = docsToDelete.dropDuplicates(Seq(idCol))
      .join(spark.table(docsOf(table)).select(col("id").as(idCol)),
        Seq(idCol), "left_semi")
      .join(spark.table(tombstonesOf(table))
          .select(col("id").as(idCol)),
        Seq(idCol), "left_anti")
      .pipe(Checkpoints.stageLazy)
    val (removed, tag) = waveCensus(fresh, idCol)
    if (removed == 0) return 0L
    val wave = "del_" + tag
    // Negative-delta wave strictly BEFORE the tombstone wave — same
    // crash contract as append (ADVICE r21, high): the retry anti-joins
    // on `_tombstones`, so tombstones-without-deltas would block the
    // re-delete while the counts were never subtracted. Delta-first, a
    // crash leaves subtracted-but-untombstoned ids the retry re-deletes
    // into the same deterministic wave — a self-overwrite.
    write(table,
      gramCensus(fresh, idCol, textCol)
        .select(col("w1"), col("g"), (lit(0L) - col("c")).as("c")),
      wave)
    write(tombstonesOf(table),
      fresh.select(col(idCol).as("id")), wave)
    removed
  }

  /** Stage the probe's per-doc gram census AHEAD of the probe — it
    * reads only the docs, never the index, so a lifecycle caller can
    * compute it CONCURRENTLY with its build/append/delete/compact
    * chain (guide §2.6 via Par) and hand it to [[probe]]'s `prepared`
    * parameter. Identical frame to what probe stages itself. */
  def prepareProbe(docs: DataFrame, idCol: String,
                   textCol: String): DataFrame =
    docGrams(docs, idCol, textCol).pipe(Checkpoints.stage)

  /** Live whole-bit surprisal `(g, outCol)` of one index over the
    * `touched` w1 postings — the summed-delta reconstruction [[probe]]
    * and [[dsirProbe]] both serve: per-gram wave deltas summed (zeroed
    * grams drop), staged, against their c1 prefix masses. Pruning to
    * touched w1 keys cannot change any c1 prefix mass (every gram
    * sharing a touched w1 IS in the pruned set). */
  private def liveBits(spark: SparkSession, table: String,
                       touched: DataFrame, outCol: String): DataFrame = {
    val live = spark.table(table)
      .join(touched, Seq("w1"), "left_semi")
      .groupBy(col("w1"), col("g"))
      .agg(sum(col("c")).as("c"))
      .where(col("c") > 0)
      .pipe(Checkpoints.stage)
    val prefix = live.groupBy(col("w1")).agg(sum(col("c")).as("c1"))
    live.join(prefix, "w1").select(col("g"),
      (length(conv(expr("c1 DIV c"), 10, 2)) - 1).cast("long").as(outCol))
  }

  /** One row per probed doc, ordered by id: `perDoc`'s `counts` with
    * the docs that produced no bigram zero-filled, then `derived`
    * columns computed off the filled counts — [[probe]]'s and
    * [[dsirProbe]]'s shared tail. */
  private def zeroFilled(docs: DataFrame, idCol: String, perDoc: DataFrame,
                         counts: Seq[String], derived: Column*): DataFrame =
    docs.select(col(idCol).as("id"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id").as(idCol) +:
        counts.map(c => coalesce(col(c), lit(0L)).as(c)): _*)
      .select((col(idCol) +: counts.map(col)) ++ derived: _*)
      .orderBy(col(idCol))

  /** Per-doc surprisal of `docs` against the CURRENT index counts —
    * the probe. Output (id, n_bigrams, n_oov, bits_sum, mean_bits):
    * grams absent from the live LM (or zeroed by deletions) count as
    * OOV and contribute no bits; `mean_bits` averages over the scored
    * grams, so when the index holds exactly the probed corpus the row
    * is BIT-IDENTICAL to [[TextAnalysis.surprisalStats]]'s (n_oov = 0,
    * same integer sums, same one double division). Contact: the
    * probed docs' touched-w1 postings (bucket-pruned semi-join), never
    * a corpus rescan. */
  def probe(spark: SparkSession, table: String, docs: DataFrame,
            idCol: String, textCol: String,
            prepared: Option[DataFrame] = None): DataFrame = {
    recoverAll(spark, table)
    val pairs = prepared.getOrElse(prepareProbe(docs, idCol, textCol))
    val gramBits = liveBits(spark, table, pairs.select(col("w1")).distinct(),
      "bits")
    val perDoc = pairs.join(gramBits, Seq("g"), "left")
      .groupBy(col("id"))
      .agg(sum(col("c_doc")).as("n_bigrams"),
        coalesce(sum(when(col("bits").isNull, col("c_doc"))), lit(0L))
          .as("n_oov"),
        coalesce(sum(when(col("bits").isNotNull, col("c_doc") * col("bits"))),
          lit(0L)).as("bits_sum"))
    zeroFilled(docs, idCol, perDoc, Seq("n_bigrams", "n_oov", "bits_sum"),
      when(col("n_bigrams") - col("n_oov") > 0,
        col("bits_sum").cast("double") /
          (col("n_bigrams") - col("n_oov")).cast("double"))
        .otherwise(0.0).as("mean_bits"))
  }

  /** Streaming DSIR scoring — [[dsirProbe]]'s streaming twin, the
    * quality-scoring loop next to the serving loops (streamServe) and
    * the monitoring loops (Drift.streamCensus): every micro-batch of
    * arriving documents is importance-weighted against the SAME two
    * persisted LM indexes, rows landing batch-tagged under the
    * redelivery discipline into a resume-aware sink (the shared
    * StreamOps.sinkBatches loop). The accumulated
    * table is the scored corpus a mixing/curation stage reads, built
    * shard-by-shard as the crawl arrives instead of in one batch
    * pass. Per batch the contact is dsirProbe's: the shard's
    * touched-w1 bucket-pruned postings of each index — never a corpus
    * or full-vocabulary scan. Each batch is a pure function of
    * (indexes, shard), so every accumulated slice value-replays —
    * gated by x_stream_dsir, restart + redelivery spec-pinned
    * (LmIndexSpec). Returns the number of batches processed. */
  def streamDsir(spark: SparkSession, rawTable: String, targetTable: String,
                 stream: DataFrame, idCol: String, textCol: String,
                 sinkTable: String, queryName: String,
                 checkpointLocation: Option[String] = None): Int = {
    import graft.streaming.StreamOps
    val idType = spark.table(docsOf(targetTable)).schema("id").dataType
    val sinkSchema = StructType(Seq(
      StructField(idCol, idType), StructField("n_bigrams", LongType),
      StructField("n_oov_target", LongType), StructField("w_bits", LongType),
      StructField("n_oov_raw", LongType),
      StructField(StreamOps.BatchTag, LongType)))
    IndexLifecycle.resumeAwareTableMaker(spark, checkpointLocation)(
      spark, sinkTable, sinkSchema, StreamOps.BatchTag, idCol, 1)
    StreamOps.sinkBatches(spark, stream, queryName, sinkTable,
        checkpointLocation) { (batch, _) =>
      (dsirProbe(spark, rawTable, targetTable, batch, idCol, textCol), Nil)
    }._2
  }

  /** DSIR importance weights served from TWO persisted LM indexes —
    * the incremental twin of [[TextAnalysis.dsirContrastBits]]
    * (VERDICT r16 #2): `rawTable` holds the growing raw-corpus LM,
    * `targetTable` the (typically fixed) target-domain LM, and an
    * ARRIVING SHARD gets its importance log-weights at PROBE COST —
    * the shard's touched-w1 bucket-pruned postings of each index —
    * instead of the scan-time operator's two full-corpus censuses per
    * run (the exact amortization the lm-inc ScaleBench point measured
    * at 5.4× and growing).
    *
    * Output (id, n_bigrams, n_oov_target, w_bits, n_oov_raw): the
    * first four columns are BIT-IDENTICAL to
    * [[TextAnalysis.dsirContrastBits]]'s whenever the indexes hold the
    * probed corpora's censuses (the x_lm_index contract): live counts
    * are the same summed-delta reconstruction [[probe]] serves, the
    * whole-bit arithmetic is the same integer construction, and the
    * target-OOV mass column is preserved untouched. The divergence
    * channel the contract forbids is SURFACED, not absorbed
    * (round-17 advice #2): a probed gram ABSENT from the raw index —
    * the natural probe-before-append flow, where a shard is weighted
    * to decide whether to ingest it — has no raw surprisal to
    * contrast against, contributes no bits, and lands in its OWN
    * `n_oov_raw` column (always 0 under the contract, when
    * dsirContrastBits never sees one: it censuses raw over the probed
    * docs themselves). `n_oov_target` counts only grams the raw index
    * DOES hold whose target surprisal is missing, so a nonzero
    * `n_oov_raw` is the detectable misuse signal instead of
    * plausible-looking target-OOV mass. */
  def dsirProbe(spark: SparkSession, rawTable: String, targetTable: String,
                docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    recoverAll(spark, rawTable)
    recoverAll(spark, targetTable)
    val pairs = docGrams(docs, idCol, textCol).pipe(Checkpoints.stage)
    // Staged: both indexes' live reconstructions semi-join it.
    val touched = pairs.select(col("w1")).distinct().pipe(Checkpoints.stage)
    val gramBits = liveBits(spark, rawTable, touched, "bits_raw")
      .join(liveBits(spark, targetTable, touched, "bits_t"), Seq("g"), "left")
    // gramBits is LEFT-joined FROM the raw side, so within it bits_raw
    // is never null — after the pairs left join, bits_raw null ⇔ the
    // gram is absent from the raw index (raw-OOV, whether or not the
    // target holds it: either way there is no raw surprisal to
    // contrast). bits_t null with bits_raw present ⇔ genuine
    // target-OOV, the scan-time column's meaning.
    val perDoc = pairs.join(gramBits, Seq("g"), "left")
      .groupBy(col("id"))
      .agg(sum(col("c_doc")).as("n_bigrams"),
        coalesce(sum(when(col("bits_raw").isNotNull && col("bits_t").isNull,
          col("c_doc"))), lit(0L)).as("n_oov_target"),
        coalesce(sum(when(col("bits_t").isNotNull,
          col("c_doc") * (col("bits_raw") - col("bits_t")))), lit(0L))
          .as("w_bits"),
        coalesce(sum(when(col("bits_raw").isNull, col("c_doc"))), lit(0L))
          .as("n_oov_raw"))
    zeroFilled(docs, idCol, perDoc,
      Seq("n_bigrams", "n_oov_target", "w_bits", "n_oov_raw"))
  }

  /** Collapse the accumulated waves into one summed partition via
    * STAGE-AND-SWAP ([[PurgeSwap]] — no corpus-sized snapshot, crash
    * anywhere leaves old or staged state, never double counts):
    * grams are re-summed (zeroed grams DROP — deleted mass reclaims),
    * the `_docs` registry sheds tombstoned ids, and the tombstone
    * waves clear, which UNBLOCKS deleted ids for future re-appends.
    * The merged wave's tag digests the absorbed waves, so a repeated
    * compact is a no-op-shaped rewrite. Answer-stable: probes sum
    * deltas, and the sum of the summed rewrite is the same integer.
    * Returns the number of wave partitions merged away.
    *
    * `checkpointLocation`: pass the [[streamIngest]] checkpoint when
    * compacting a streaming LM — a `batch-N` wave BEYOND the
    * checkpoint's last committed batch is a crashed attempt's orphan
    * (the batch's counts landed but the commit didn't), and absorbing
    * it into the merged wave would let the restarted stream redeliver
    * the same docs into a FRESH batch-N wave, double-counting their
    * grams. Refused by the same StreamOps.refuseOrphans check
    * StreamOps.compactSink runs (the family-wide crash-then-compact
    * contract: restart, then compact). Batch compacts (no checkpoint)
    * skip the check — their waves are doc-set-keyed, where a retry
    * overwrites itself; `del_` waves are never candidates. */
  def compact(spark: SparkSession, table: String, nBuckets0: Int = 0,
              checkpointLocation: Option[String] = None): Int = {
    recoverAll(spark, table)
    // The compacted rewrite reuses the LIVE table's bucket count by
    // default (r21 — compaction reclaims waves, it must not reset the
    // layout).
    val nBuckets =
      if (nBuckets0 > 0) nBuckets0
      else Writer.bucketsOf(spark, table).getOrElse(16)
    val waves = spark.sessionState.catalog
      .listPartitionNames(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .map(_.split("=", 2)(1)).sorted
    graft.streaming.StreamOps.refuseOrphans(spark, table, checkpointLocation,
      waves.filter(_.startsWith("batch-")).flatMap(w =>
        scala.util.Try(w.stripPrefix("batch-").toLong).toOption.map(_ -> w)))
    val mergedWave = "m_" + java.security.MessageDigest.getInstance("MD5")
      .digest(waves.mkString(",").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
    val t = tombstonesOf(table)
    // All three staging tables first, created concurrently (the empty
    // replacement-tombstone table is a pure DDL that reads nothing),
    // then the summed delta table and the live doc registry staged
    // CONCURRENTLY (disjoint staging tables reading disjoint live
    // tables — guide §2.6 via Par); the swaps run after both, in the
    // same order as before.
    createLayout(spark, Writer.emptyPartitionedBucketedTable,
      PurgeSwap.stagingOf, table,
      spark.table(docsOf(table)).schema("id").dataType, nBuckets)
    Par.all(
      () => insertWave(spark)(PurgeSwap.stagingOf(table),
        spark.table(table).groupBy(col("w1"), col("g"))
          .agg(sum(col("c")).as("c")).where(col("c") =!= 0),
        mergedWave),
      () => insertWave(spark)(PurgeSwap.stagingOf(docsOf(table)),
        spark.table(docsOf(table)).select(col("id"))
          .join(spark.table(t).select(col("id")), Seq("id"), "left_anti"),
        mergedWave))
    // Swaps in declaration order: the delta table, `_docs`, then the
    // tombstones LAST, and ATOMICALLY (swap in the empty table staged
    // above — the PurgeSwap pattern, not drop-then-recreate): a crash
    // before that swap leaves the ids blocked (conservative) and a
    // compact re-run finishes the job; a crash INSIDE the swap's
    // drop→rename window is healed by the recover() every lifecycle
    // entry point runs — drop-then-recreate had a window where the
    // tombstone table was simply missing and every reader threw.
    state(table).tables.foreach(PurgeSwap.swap(spark, _))
    math.max(0, waves.size - 1)
  }

  /** Streaming ingest — micro-batched shards accumulate counts with
    * the family's redelivery discipline for free: each batch's census
    * lands as wave `batch-<id>` (dynamic overwrite — a redelivered
    * batch replaces exactly its own partitions), so the accumulated
    * counts equal a one-shot [[build]] over everything ingested in any
    * shard split, and probes serve mid-ingest. Same
    * one-batch-per-doc-id contract as the other streamIngests. The
    * three tables come from [[createLayout]] with
    * IndexLifecycle.resumeAwareTableMaker: kept when the checkpoint
    * has committed batches, recreated (takedowns included, the
    * declared stale state dropped first) otherwise.
    *
    * TAKEDOWNS INTERLEAVE: [[delete]] waves land between batch waves
    * with no coordination needed — additive deltas commute, a
    * redelivered batch still overwrites only its own `batch-N`
    * partition (a deleted doc's batch counts + its `del_` wave still
    * net to zero), and [[compact]]'s checkpoint-gated orphan refusal
    * ignores `del_` waves. Visibility rule: delete subtracts INDEXED
    * counts only, so a takedown arriving before its doc's batch is a
    * no-op (returns 0) and the doc lands normally — re-issue the
    * takedown after ingest (LmIndexSpec pins the whole interleaving).
    * Returns the number of batches processed. */
  def streamIngest(spark: SparkSession, table: String, stream: DataFrame,
                   idCol: String, textCol: String,
                   queryName: String = "graft_stream_lm",
                   checkpointLocation: Option[String] = None): Int = {
    import graft.streaming.StreamOps
    // Source-byte-derived buckets (r22, guide §6 — the streaming twin
    // of build's scaledBuckets; scaledSinkBuckets doc).
    createLayout(spark, IndexLifecycle.resumeAwareTableMaker(spark,
        checkpointLocation, Some(state(table))),
      identity, table, stream.schema(idCol).dataType,
      StreamOps.scaledSinkBuckets(stream))
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = StreamOps.foreachBatchSink(stream, queryName,
        checkpointLocation) { (batch, batchId) =>
      val b = Checkpoints.stage(batch)
      n.incrementAndGet()
      val wave = s"batch-$batchId"
      // The two batch waves OVERLAP (r22, guide §2.6): unlike append,
      // the streaming retry discipline is CHECKPOINT REDELIVERY, not a
      // registry anti-join — a crash between (or inside) these writes
      // means batch-N never committed, the restarted stream redelivers
      // it, and both waves dynamic-overwrite their own batch-N
      // partitions whole. No ordering can leak state across the retry.
      Par.all(
        () => insertWave(spark)(table, gramCensus(b, idCol, textCol), wave),
        () => insertWave(spark)(docsOf(table),
          b.select(col(idCol).as("id")), wave))
    }
    q.awaitTermination()
    spark.catalog.refreshTable(table)
    n.get()
  }
}
