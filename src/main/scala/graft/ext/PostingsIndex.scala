package graft.ext

import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Writer

/** Persisted BM25 retrieval index — the index-backed twin of
  * [[TextAnalysis.bm25TopK]], completing the same
  * build → probe → append → streaming-ingest lifecycle the dedup
  * (DedupIndex), shared-passage (WinnowIndex) and embedding (IvfIndex)
  * families already have: tokenize the corpus ONCE into a persisted
  * posting table, then answer ad-hoc term queries by reading only the
  * query terms' postings — never a corpus rescan per query, which is
  * what the scan-time scorer costs.
  *
  * Index layout, three tables:
  *   - `<table>`       (term, id, tf, dl) bucketed+sorted on `term` —
  *     the selective probe key. `dl` is DENORMALIZED into the posting
  *     row (+8 bytes) so a probe never joins a corpus-sized length
  *     table: the probe's only corpus contact is the query terms'
  *     postings.
  *   - `<table>_docs`  (id, dl) bucketed on `id` — one row per
  *     indexed doc INCLUDING zero-posting docs (empty/whitespace
  *     text); the doc-granularity idempotence anchor for [[append]]
  *     and the corpus census ground truth.
  *   - `<table>_stats` (n_docs, sum_dl) — one row per build/append
  *     batch; a probe SUMS this k-row table for the corpus scalars
  *     (N, avgdl) instead of scanning `_docs` (2-col but
  *     corpus-sized — a 20 B-doc corpus would pay ~300 GB per probe).
  *
  * Takedown state: `<table>_tombstones` (registered through
  * IndexLifecycle.registerTombstones, hiding the ids' postings) and
  * `<table>_stats_deltas` ([[statsDeltasOf]] — the negative
  * corpus-mass rows [[delete]] snapshots). [[build]], a fresh
  * (checkpoint-less or never-committed) [[streamIngest]] and
  * compact(purge) drop both, so a fresh index never scores against an
  * old one's takedowns: the shared lifecycle helpers drop the
  * tombstone list themselves and take `_stats_deltas` as the family's
  * extra drop.
  * The streaming layout's per-batch writes go through
  * StreamOps.sinkBatches, i.e. the shared Writer.insertOverwrite
  * (layout-shaped dynamic overwrite of the batch's partition).
  *
  * Cost model at 100 TB: build is one tokenize+census pass, paid once;
  * probe reads |terms| posting ranges off the stored bucketing (term
  * equality/In predicates prune buckets) + a k-row stats sum; append
  * touches only the new batch's postings and the `_docs` buckets its
  * ids hash to. BM25's global terms (idf, avgdl) are resolved at PROBE
  * time from current stats, so appends never rewrite old postings.
  *
  * Equivalence contract (pinned by PostingsIndexSpec, oracle-gated by
  * x_bm25_index / x_stream_bm25): probe(terms, k) over an index built
  * from any build/append/ingest partition of the corpus equals
  * [[TextAnalysis.bm25TopK]] over the whole corpus — postings are
  * per-doc, stats are additive over disjoint doc sets, and the ranking
  * arithmetic is the SAME code ([[TextAnalysis.bm25Rank]]).
  */
object PostingsIndex {

  /** (term, id, tf, dl) posting rows of a doc frame — whitespace
    * tokens, exactly [[TextAnalysis.tokens]]' split (so scan-time and
    * index-time token censuses agree bit-for-bit, empty-string token
    * included). Zero-token docs yield no posting rows; their corpus
    * mass rides in [[docLengths]]. */
  def postings(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = TextAnalysis.tokens(col(textCol))
    docs.where(col(textCol).isNotNull)
      .select(col(idCol).as("id"), size(t).cast("long").as("dl"),
        explode(t).as("term"))
      .groupBy(col("term"), col("id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .select(col("term"), col("id"), col("tf"), col("dl"))
  }

  /** (id, dl) for every non-null-text doc — including docs with no
    * postings, which still count toward N and avgdl. */
  def docLengths(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.where(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        size(TextAnalysis.tokens(col(textCol))).cast("long").as("dl"))

  /** 1-row corpus-mass delta of a doc-length frame. */
  def statsOf(dls: DataFrame): DataFrame =
    dls.agg(count(lit(1)).as("n_docs"),
      coalesce(sum(col("dl")), lit(0L)).as("sum_dl"))

  /** The k-row takedown stats side table [[delete]] writes. Every
    * path that starts an index afresh drops it (class doc): a leftover
    * `_stats_deltas` would keep subtracting an old index's takedowns
    * from the fresh one's N and avgdl. */
  private def statsDeltasOf(table: String): String = table + "_stats_deltas"

  /** Tokenize `docs` and persist the three-table index. Overwrites —
    * including any leftover takedown state (class doc) from a
    * previous index under the same name, which would otherwise
    * silently hide/miscount the fresh build's docs. */
  def build(spark: SparkSession, docs: DataFrame, idCol: String,
            textCol: String, table: String, nBuckets: Int = 0): Unit = {
    // Location-aware drop: a killed JVM can leave the warehouse
    // DIRECTORY behind with no catalog entry (fresh in-memory
    // metastore on restart), and a later saveAsTable under the same
    // name fails with LOCATION_ALREADY_EXISTS.
    Seq(IndexLifecycle.tombstonesOf(table), statsDeltasOf(table))
      .foreach(Writer.dropTableAndLocation(spark, _))
    val dls = docLengths(docs, idCol, textCol).pipe(Checkpoints.stage)
    // nBuckets ≤ 0 sizes each table's buckets to its own estimated
    // bytes (Writer.scaledBuckets — r21, guide §6).
    def bCount(df: DataFrame) =
      if (nBuckets > 0) nBuckets else Writer.scaledBuckets(df)
    // Three disjoint-table writes off independent inputs (docs / the
    // staged dls barrier) — overlap them (guide §2.6 via Par). Build
    // is an overwrite with no mid-build crash contract (a crashed
    // build is rebuilt), so write order carries no semantics.
    val post = postings(docs, idCol, textCol)
    Par.all(
      () => Writer.bucketedTable(post, table, "term", bCount(post)),
      () => Writer.bucketedTable(dls, table + "_docs", "id", bCount(dls)),
      // 1-row scalar table; the single bucket is just the uniform writer.
      () => Writer.bucketedTable(statsOf(dls), table + "_stats", "n_docs", 1))
  }

  /** Append a new batch. IDEMPOTENT at doc granularity: ids already in
    * `_docs` are dropped whole before any write (postings are a pure
    * function of (id, text), so partial presence cannot happen), and
    * the batch's stats row counts only the surviving docs — a retried
    * append or a shard re-ingesting an indexed id never inflates tf,
    * N, or avgdl. The existence check semi-joins the id-bucketed
    * `_docs` table on the batch's ids only — contact is the batch's
    * buckets, never an index scan. */
  def append(spark: SparkSession, table: String, newDocs: DataFrame,
             idCol: String, textCol: String): Unit = {
    val dls = docLengths(newDocs, idCol, textCol).pipe(Checkpoints.stage)
    val indexed = spark.table(table + "_docs")
      .join(dls.select(col("id")), Seq("id"), "left_semi")
      .select(col("id"))
    val fresh = dls.join(indexed, Seq("id"), "left_anti")
      .pipe(Checkpoints.stage)
    val freshDocs = newDocs.join(fresh.select(col("id").as(idCol)),
      Seq(idCol), "left_semi")
    postings(freshDocs, idCol, textCol).write.mode("append").insertInto(table)
    fresh.write.mode("append").insertInto(table + "_docs")
    statsOf(fresh).write.mode("append").insertInto(table + "_stats")
    // insertInto refreshes the WRITING session's relation cache only;
    // keep the reading session honest (same hazard as DedupIndex).
    Seq(table, table + "_docs", table + "_stats")
      .foreach(spark.catalog.refreshTable)
  }

  /** Tombstone-delete documents from the index — the WinnowIndex
    * takedown pattern, with the BM25 twist that the STATS must shed
    * the deleted docs too (idf and avgdl change when docs leave).
    * The stats correction is SNAPSHOTTED HERE, once per takedown
    * wave: the newly tombstoned docs' (count, Σdl) — read from the
    * id-bucketed `_docs` table via a semi-join against the
    * takedown-sized wave, so the contact is the wave's buckets — is
    * written as a NEGATIVE row to the k-row `_stats_deltas` side
    * table. Probes then sum `_stats` + `_stats_deltas` (both k-row)
    * and NEVER touch `_docs`: the previous per-probe correction
    * semi-joined the corpus-sized `_docs` on every probe batch
    * (~300 GB per batch at 20 B docs); this pays that cost once, at
    * delete time, against the wave only. Postings are still hidden by
    * the tombstone anti-join, so every score equals a rebuild on the
    * live corpus (x_bm25_delete replays that rebuild value-exact).
    * [[purgeTombstones]] rewrites physically later, absorbing the
    * deltas back into a recomputed `_stats`.
    *
    * The wave of NEWLY taken-down ids is staged lazily
    * (Checkpoints.stageLazy): the tombstone registration
    * (IndexLifecycle.registerTombstones) is the one action that
    * materializes it, and the delta reads the staged wave back.
    *
    * Crash contract: the wave is committed tombstones-first. A crash
    * between the tombstone write and the delta write leaves probes
    * hiding the wave's postings while the stats still count its mass
    * (scores drift low vs a rebuild, bounded to the one wave — the
    * conservative direction for takedowns: the docs ARE gone from
    * results); a retried delete() of the same ids is a no-op either
    * side of the crash (the anti-join empties the wave), and
    * [[purgeTombstones]] heals the drift exactly. */
  def delete(spark: SparkSession, table: String, ids: DataFrame): Unit = {
    val fresh = Checkpoints.stageLazy(IndexLifecycle.minusTombstones(
      spark, table, ids.select(col("id")).distinct()))
    IndexLifecycle.registerTombstones(spark, table, fresh)
    // The wave's corpus mass off the `_docs` table (never tombstone-
    // filtered): docs never in `_docs` (unknown ids) contribute
    // nothing; docs of an earlier wave were filtered by the anti-join.
    val delta = spark.table(table + "_docs")
      .select(col("id"), col("dl"))
      .join(broadcast(fresh), Seq("id"), "left_semi")
      .agg((lit(0L) - count(lit(1))).as("n_docs"),
        (lit(0L) - coalesce(sum(col("dl")), lit(0L))).as("sum_dl"))
    val dt = statsDeltasOf(table)
    if (!spark.catalog.tableExists(dt)) {
      Writer.dropTableAndLocation(spark, dt)
      delta.write.format("parquet").saveAsTable(dt)
    } else delta.write.mode("append").insertInto(dt)
    spark.catalog.refreshTable(dt)
  }

  /** 1-row (n_docs, sum_dl) of the LIVE corpus: the k-row stats-table
    * sum plus the (negative) takedown deltas [[delete]] snapshotted —
    * never a `_docs` contact, so probe cost stays independent of
    * corpus size after any number of takedown waves. */
  private def liveStats(spark: SparkSession, table: String): DataFrame = {
    val total = spark.table(table + "_stats")
      .agg(coalesce(sum(col("n_docs")), lit(0L)).as("__n_docs"),
        coalesce(sum(col("sum_dl")), lit(0L)).as("__sum_dl"))
    val dt = statsDeltasOf(table)
    if (!spark.catalog.tableExists(dt)) total
    else {
      val del = spark.table(dt)
        .agg(coalesce(sum(col("n_docs")), lit(0L)).as("__dn"),
          coalesce(sum(col("sum_dl")), lit(0L)).as("__ds"))
      total.crossJoin(del).select(
        (col("__n_docs") + col("__dn")).as("__n_docs"),
        (col("__sum_dl") + col("__ds")).as("__sum_dl"))
    }
  }

  /** Physically purge tombstoned docs from all three tables via
    * STAGE-AND-SWAP ([[PurgeSwap]] — PairIndex.purgeTombstones has
    * the full contract): the live postings, doc lengths, and a
    * recomputed stats row are each staged into the same bucketed
    * layouts (every stage write reads only live tables), then swapped
    * in sequence — no corpus-sized snapshot, and the index is readable
    * at every point (a crash between swaps leaves some tables purged
    * and some not, but the tombstone list is dropped LAST, so probes
    * keep filtering and the stats keep their takedown deltas until
    * everything committed; a re-run completes idempotently).
    * `removed` comes from one tombstone-side semi-join count.
    * Answer-stable by construction; returns postings removed. */
  def purgeTombstones(spark: SparkSession, table: String,
                      nBuckets: Int = 0): Long = {
    val parts = Seq(table, table + "_docs", table + "_stats")
    parts.foreach(PurgeSwap.recover(spark, _))
    val t = IndexLifecycle.tombstonesOf(table)
    if (!spark.catalog.tableExists(t)) return 0L
    IndexLifecycle.requireBatchLayout(spark, table, Seq.empty, "purgeTombstones")
    val stones = broadcast(spark.table(t))
    val removed = spark.table(table).select(col("id"))
      .join(stones, Seq("id"), "left_semi").count()
    // Rewrites reuse each LIVE table's bucket count by default (r21).
    def bCount(live: String) =
      if (nBuckets > 0) nBuckets
      else Writer.bucketsOf(spark, live).getOrElse(16)
    // STAGE all three, reading only the live tables; the stats row
    // recomputes off the already-staged live docs (one `_docs` scan).
    Writer.bucketedTable(
      spark.table(table)
        .select(col("term"), col("id"), col("tf"), col("dl"))
        .join(stones, Seq("id"), "left_anti"),
      PurgeSwap.stagingOf(table), "term", bCount(table))
    Writer.bucketedTable(
      spark.table(table + "_docs").select(col("id"), col("dl"))
        .join(stones, Seq("id"), "left_anti"),
      PurgeSwap.stagingOf(table + "_docs"), "id", bCount(table + "_docs"))
    Writer.bucketedTable(
      statsOf(spark.table(PurgeSwap.stagingOf(table + "_docs"))),
      PurgeSwap.stagingOf(table + "_stats"), "n_docs", 1)
    PurgeSwap.swap(spark, table)
    PurgeSwap.swap(spark, table + "_docs")
    // The recomputed stats row IS the live corpus, so the delta table
    // must go WITH the stats swap — and it goes FIRST: a crash between
    // the two leaves old-stats-without-deltas (scores drift by the
    // wave's mass in the same bounded direction delete()'s crash
    // contract documents, healed exactly by a purge re-run), whereas
    // new-stats-plus-deltas would double-count the removal.
    val dt = statsDeltasOf(table)
    if (spark.catalog.tableExists(dt)) spark.sql(s"DROP TABLE `$dt`")
    PurgeSwap.swap(spark, table + "_stats")
    spark.sql(s"DROP TABLE `$t`")
    removed
  }

  /** The probe prelude [[probe]] and [[probeBatch]] share: the query
    * terms' postings (term-bucket-pruned scan; the explicit projection
    * drops a streaming layout's partition tag) minus tombstones,
    * staged — they feed both the tf and the df aggregates, so the
    * pruned postings are read once. */
  private def livePostings(spark: SparkSession, table: String,
                           terms: Seq[String]): DataFrame =
    IndexLifecycle.minusTombstones(spark, table,
        spark.table(table)
          .select(col("term"), col("id"), col("tf"), col("dl"))
          .where(col("term").isin(terms: _*)))
      .pipe(Checkpoints.stage)

  /** BM25 top-k for 1–8 query terms off the persisted index: reads the
    * query terms' postings (term-bucket-pruned scan, `dl` riding in
    * the row), sums the k-row stats table for (N, avgdl), and ranks
    * with the shared [[TextAnalysis.bm25Rank]] kernel — score-identical
    * to the scan-time scorer, corpus contact O(|terms' postings|).
    * Works on both the batch and the streaming (batch-partitioned)
    * layouts — the explicit projection drops the partition tag. */
  def probe(spark: SparkSession, table: String, terms: Seq[String],
            topK: Int): DataFrame = {
    require(terms.nonEmpty && terms.size <= 8,
      s"probe takes 1–8 query terms, got ${terms.size}")
    require(terms.distinct.size == terms.size, "query terms must be distinct")
    val post = livePostings(spark, table, terms)
    val st = liveStats(spark, table)
    val tfCols = terms.zipWithIndex.map { case (tm, i) =>
      sum(when(col("term") === tm, col("tf")).otherwise(0L)).as(s"tf_$i")
    }
    val tf = post.groupBy(col("id"), col("dl"))
      .agg(tfCols.head, tfCols.tail: _*)
    // Postings are unique per (term, id), so a plain conditional count
    // IS the document frequency — no distinct pass, unlike scan-time.
    val dfCols = terms.zipWithIndex.map { case (tm, i) =>
      count(when(col("term") === tm, lit(1))).as(s"__df_$i")
    }
    val dfs = post.agg(dfCols.head, dfCols.tail: _*)
    TextAnalysis.bm25Rank(tf.crossJoin(dfs).crossJoin(st), "id",
      terms.size, topK)
  }

  /** Batched multi-query probe — the SERVING shape: N term queries
    * answered in ONE postings contact (a query-at-a-time loop pays the
    * stats sum and the postings scan setup N times; the batch joins
    * the union of all query terms once and fans per-query scores out
    * of it). Per (query, doc) the per-term score components fold in
    * term-index order through an array_sort-ed aggregate, so the float
    * sum is the SAME left-to-right order as [[probe]]'s explicit
    * column chain — batch and single-query scores are bit-identical
    * (0 + x and x + 0 are exact for the non-negative components, and
    * absent terms contribute exactly the 0.0 the single path adds), a
    * contract PostingsIndexSpec pins per query. Top-k per query rides
    * a rank window partitioned by query_id — the WindowGroupLimit
    * shape, k rows per partition pre-shuffle, never a global sort.
    * Output: (query_id, id, dl, score), ordered (query_id, rank). */
  def probeBatch(spark: SparkSession, table: String,
                 queries: Seq[(Long, Seq[String])], topK: Int): DataFrame = {
    require(queries.nonEmpty, "probeBatch needs at least one query")
    require(queries.map(_._1).distinct.size == queries.size,
      "query ids must be distinct")
    queries.foreach { case (qid, ts) =>
      require(ts.nonEmpty && ts.size <= 8,
        s"query $qid takes 1–8 terms, got ${ts.size}")
      require(ts.distinct.size == ts.size, s"query $qid terms must be distinct")
    }
    import spark.implicits._
    val q = queries.flatMap { case (qid, ts) =>
      ts.zipWithIndex.map { case (t, i) => (qid, i, t) }
    }.toDF("query_id", "term_idx", "term")
    val post = livePostings(spark, table, queries.flatMap(_._2).distinct)
    val st = liveStats(spark, table)
    // Document frequency per DISTINCT term, computed once and shared
    // across every query that uses the term.
    val dfs = post.groupBy(col("term")).agg(count(lit(1)).as("__df"))
    // bm25Rank's own per-term builder (tf > 0 always holds on a
    // posting row; the guard keeps the expression form identical).
    val component = TextAnalysis.bm25Term(col("tf"), col("__df"),
      col("__sum_dl").cast("double") / col("__n_docs").cast("double"))
    val scored = post
      .join(broadcast(q), Seq("term"))
      .join(broadcast(dfs), Seq("term"))
      .crossJoin(st)
      .select(col("query_id"), col("id"), col("dl"),
        col("term_idx"), component.as("__comp"))
      .groupBy(col("query_id"), col("id"), col("dl"))
      .agg(aggregate(
        array_sort(collect_list(struct(col("term_idx"), col("__comp")))),
        lit(0.0),
        (acc, x) => acc + x.getField("__comp")).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("id"))
    scored.withColumn("__rank", row_number().over(w))
      .where(col("__rank") <= topK)
      .orderBy(col("query_id"), col("__rank"))
      .drop("__rank")
  }

  /** Streaming ingest — micro-batches append postings + doc lengths +
    * a per-batch stats row, all as DYNAMIC overwrites of the batch's
    * own partition (redelivery-idempotent, nothing driver-held), so
    * the index is probe-able the moment the stream quiesces and after
    * any driver restart. With a `checkpointLocation` the ingest is
    * RESTARTABLE under the same fresh-checkpoint contract as
    * DedupIndex.streamIngest: leftover tables are dropped unless the
    * checkpoint has committed batches. Contract shared with the other
    * streaming ingests: every doc id arrives in exactly ONE batch
    * (cross-batch duplicate ids are the batch [[append]]'s job — the
    * streaming path trades the existence anti-join for partition
    * overwrite, the same trade DedupIndex made in r10). Returns (the
    * accumulated per-batch stats rows, batches processed). */
  def streamIngest(spark: SparkSession, table: String, stream: DataFrame,
                   idCol: String, textCol: String,
                   queryName: String = "graft_bm25_ingest",
                   checkpointLocation: Option[String] = None,
                   nBuckets0: Int = 0): (DataFrame, Int) = {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val idType = stream.schema(idCol).dataType
    // nBuckets0 ≤ 0 (the default) derives the bucket count from the
    // stream's source bytes (r22, guide §6 — scaledSinkBuckets doc).
    val nBuckets =
      if (nBuckets0 > 0) nBuckets0 else StreamOps.scaledSinkBuckets(stream)
    val mkTable = IndexLifecycle.resumeAwareTableMaker(spark,
      checkpointLocation, dropsWhenFresh = Seq(statsDeltasOf(table)))
    mkTable(spark, table,
      StructType(Seq(
        StructField("term", StringType),
        StructField("id", idType),
        StructField("tf", LongType),
        StructField("dl", LongType),
        StructField(StreamOps.BatchTag, LongType))),
      StreamOps.BatchTag, "term", nBuckets)
    mkTable(spark, table + "_docs",
      StructType(Seq(
        StructField("id", idType),
        StructField("dl", LongType),
        StructField(StreamOps.BatchTag, LongType))),
      StreamOps.BatchTag, "id", nBuckets)
    mkTable(spark, table + "_stats",
      StructType(Seq(
        StructField("n_docs", LongType),
        StructField("sum_dl", LongType),
        StructField(StreamOps.BatchTag, LongType))),
      StreamOps.BatchTag, "n_docs", 1)
    StreamOps.sinkBatches(spark, stream, queryName, table + "_stats",
        checkpointLocation) { (raw, _) =>
      // Postings and doc lengths both read the batch; stage it once.
      // dls feeds both the stats and the `_docs` write.
      val b = Checkpoints.stage(raw)
      val dls = Checkpoints.stage(docLengths(b, idCol, textCol))
      val post = postings(b, idCol, textCol)
      (statsOf(dls), Seq(table -> post, (table + "_docs") -> dls))
    }
  }

  /** Compact a [[streamIngest]] index after many per-shard appends —
    * all three tables merge their batch partitions (probe results
    * unchanged). Postings and `_docs` rows are unique per doc, so they
    * ride compactSink's distinct() rewrite; `_stats` rows are ADDITIVE
    * deltas where distinct() is a corruption (two batches with
    * identical (n_docs, sum_dl) would collapse to one — entirely
    * plausible for uniform micro-batches), so the stats table merges
    * through [[graft.streaming.StreamOps.compactSinkAdditive]]'s
    * summed, watermark-tagged rewrite instead. Same quiesce/crash
    * contract as DedupIndex.compact: pass the ingest's checkpoint and
    * a compact that would swallow a crashed attempt's orphan REFUSES. */
  def compact(spark: SparkSession, table: String,
              checkpointLocation: Option[String] = None,
              purge: Boolean = false): Int = {
    // `purge = true`: the streaming layout's physical purge
    // (PairIndex.compact documents the shared contract) with the
    // BM25 twist purgeTombstones has in batch form — the stats must
    // shed the purged docs' mass. Postings and `_docs` anti-join the
    // tombstones during their rewrites; `_stats` is then RECOMPUTED
    // from the purged `_docs` (summing the per-batch rows or the
    // takedown deltas would describe the pre-purge corpus), and the
    // delta side table and tombstone list drop last — probes score
    // the live corpus at every point in between, and a crashed
    // compact(purge) re-runs to the same state.
    IndexLifecycle.compactStreaming(spark, table, checkpointLocation,
      purge, extraDropsOnPurge = Seq(statsDeltasOf(table))) { stones =>
      if (spark.catalog.tableExists(table + "_docs"))
        graft.streaming.StreamOps.compactSink(spark, table + "_docs",
          checkpointLocation = checkpointLocation, purgeIds = stones)
      if (spark.catalog.tableExists(table + "_stats")) {
        if (stones.isEmpty)
          graft.streaming.StreamOps.compactSinkAdditive(spark, table + "_stats",
            _.agg(coalesce(sum(col("n_docs")), lit(0L)).as("n_docs"),
              coalesce(sum(col("sum_dl")), lit(0L)).as("sum_dl")),
            checkpointLocation = checkpointLocation)
        else recomputeStreamStats(spark, table)
      }
    }
  }

  /** Rewrite a streaming `_stats` table as ONE row recomputed from the
    * (already purged and compacted) `_docs` table, keeping
    * compactSinkAdditive's watermark discipline so later additive
    * compactions still recognize what was absorbed: the new merged
    * partition's tag encodes max(absorbed batch) and every other
    * partition drops. Orphan refusal already ran — the postings
    * compactSink (same checkpoint, same batch set) throws BEFORE any
    * table mutates, so this never sees an unchecked orphan. */
  private def recomputeStreamStats(spark: SparkSession, table: String): Unit = {
    import graft.streaming.StreamOps
    val st = table + "_stats"
    spark.catalog.refreshTable(st)
    val tags = spark.table(st).select(col(StreamOps.BatchTag)).distinct()
      .collect().map(_.getLong(0))
    val maxAbsorbed = math.max(
      tags.filter(_ >= 0L).maxOption.getOrElse(-1L),
      tags.filter(_ <= -2L).map(tg => -tg - 2).maxOption.getOrElse(-1L))
    val newTag = -(maxAbsorbed + 2)
    StreamOps.writeBatchToSink(spark, st,
      statsOf(spark.table(table + "_docs").select(col("id"), col("dl"))),
      newTag)
    tags.filter(_ != newTag).foreach(id =>
      spark.sql(s"ALTER TABLE `$st` DROP PARTITION (`${StreamOps.BatchTag}`=$id)"))
    spark.catalog.refreshTable(st)
  }
}
