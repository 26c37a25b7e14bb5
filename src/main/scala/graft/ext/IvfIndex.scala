package graft.ext

import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Writer

/** Persist-and-reuse IVF index — the trained twin of [[AnnIndex]].
  *
  * `build` pays the expensive part ONCE: Lloyd training (one distributed
  * pass per iteration) plus one assignment pass, saved as a catalog
  * table PARTITIONED by `cluster_id` alongside a k-row centroids side
  * table. `probeTopK` then serves any number of queries from the saved
  * layout: centroid ranking is driver-side over k small vectors, and
  * the `cluster_id IN (...)` filter is a PARTITION filter — the scan
  * opens only the probed clusters' directories (~nProbe/k of the data,
  * `PartitionFilters` in the plan, pinned by IvfIndexSpec) and the
  * probe plan carries no shuffle: filter → project →
  * TakeOrderedAndProject.
  *
  * Without this shape every consumer retrains: round-4's x_ivf_recall
  * ran ~5 full corpus passes per execution. On a repeated-query
  * pipeline the index is built at ingest and probed per request.
  */
object IvfIndex {

  def centroidsTable(table: String): String = table + "_centroids"

  /** This family's declared state ([[IndexState]]): the cell table and
    * its centroids (the tables a build writes and a rebalance swaps,
    * main first), the tombstone list, and the build-time id column. */
  def state(table: String, idCol: String = "id"): IndexState =
    IndexState.tombstoned(Seq(table, centroidsTable(table)), idCol, delete)

  // Rebalance marker/swap machinery lives in IndexLifecycle
  // (rebalanceMarkerOf/markSwap/finishSwap/recoverSwap): the marker's
  // rows name the tables to swap, so one recovery serves this family's
  // two-table swap and IvfPq's three-table one alike.

  /** Per-cell LIVE row counts of a saved index — the layout-health
    * census behind [[cellSkew]]: one single-column scan (id +
    * partition metadata), tombstones filtered, ≤ k rows out. */
  def cellCensus(spark: SparkSession, table: String,
                 idCol: String): DataFrame = {
    // Heal BEFORE touching spark.table(table): the argument to
    // minusTombstones is evaluated first, so without this a census in
    // the post-marker crash window (main table dropped mid-swap) would
    // throw instead of healing — the one lifecycle entry that broke
    // the "heals at every contact" doctrine (ADVICE r18).
    recoverRebalance(spark, table)
    minusTombstones(spark, table, idCol, spark.table(table))
      .groupBy(col("cluster_id").cast("int").as("cluster_id"))
      .agg(count(lit(1)).as("n_live"))
      .orderBy(col("cluster_id"))
  }

  /** Cell-skew summary — the when-to-REBALANCE decision next to
    * IndexOps.census's when-to-compact: distribution drift piles new
    * vectors into few cells (every probe of those cells then scans the
    * pile), and the integer milli-ratio max_cell/mean_cell against
    * `dueMilli` makes the rebalance decision a queryable fact.
    * One row: (n_cells, n_live, max_cell, max_over_mean_milli,
    * rebalance_due). */
  def cellSkew(spark: SparkSession, table: String, idCol: String,
               dueMilli: Long = 4000L): DataFrame = {
    cellCensus(spark, table, idCol)
      .agg(count(lit(1)).as("n_cells"),
        coalesce(sum(col("n_live")), lit(0L)).as("n_live"),
        coalesce(max(col("n_live")), lit(0L)).as("max_cell"))
      .select(col("n_cells"), col("n_live"), col("max_cell"),
        floor(lit(1000L) * col("max_cell") * col("n_cells") /
          greatest(col("n_live"), lit(1L))).cast("long")
          .as("max_over_mean_milli"))
      .withColumn("rebalance_due",
        (col("max_over_mean_milli") >= dueMilli).cast("long"))
  }

  /** Cell-mass DRIFT census of a live index against a PERSISTED
    * reference census (VERDICT r18 #6) — the monitoring row the ANN
    * families get BEFORE skew piles up: [[cellSkew]] only sees the
    * live state, so an operator learns about a drift blob when it has
    * already made a cell hot; contrasting today's [[cellCensus]]
    * against a census snapshotted at (re)build time through the
    * [[Drift.contrastCounts]] whole-bit PSI twin localizes WHICH cells
    * the arriving distribution is filling and how fast, while the
    * index still serves fine. Cell ids ARE the buckets; the smoothing
    * mass is the centroid count k (the cell-space size, read from the
    * k-row centroids table), so both snapshots smooth identically
    * regardless of which cells happen to be occupied.
    *
    * `reference` carries (cluster_id, n_live) — a [[cellCensus]]
    * persisted earlier (the operating loop: build → save census →
    * ingest → cellDrift each monitoring tick → rebalance_due when
    * [[cellSkew]] confirms). Output = [[Drift.census]]'s row shape
    * with cells as buckets, fully integer, DuckDB-replayed by
    * x_vec_drift. Contact: one id-column scan for the live census
    * (≤ k rows out), k-row joins after that. Heals a crashed swap at
    * entry (the census contact does). */
  def cellDrift(spark: SparkSession, table: String, idCol: String,
                reference: DataFrame): DataFrame = {
    val live = cellCensus(spark, table, idCol) // heals before any read
    val k = spark.table(centroidsTable(table)).count()
    Drift.contrastCounts(
      reference.select(col("cluster_id").cast("long").as("bucket"),
        col("n_live").as("n_old")),
      live.select(col("cluster_id").cast("long").as("bucket"),
        col("n_live").as("n_new")),
      smoothingMass = k)
  }

  /** Streaming vector-drift monitor — [[cellDrift]]'s streaming twin,
    * completing the monitoring symmetry with the metric family
    * ([[Drift.census]]/[[Drift.streamCensus]]): every micro-batch of
    * ARRIVING vectors is cell-assigned under the FIXED centroids (the
    * per-row argmax — no index contact at all) and its per-cell census
    * is contrasted against the reference census through the whole-bit
    * PSI twin; each batch's drift rows land under its own
    * [[graft.streaming.StreamOps.BatchTag]] partition (idempotent
    * redelivery, resume-aware sink), so the accumulated table is a
    * drift TIME SERIES showing WHEN the arriving embedding
    * distribution left the layout's cell space — BEFORE those vectors
    * ever pile into a live index. Each batch's census is a pure
    * function of (reference, centroids, that batch), so every
    * accumulated slice equals the batch-mode contrast replayed on its
    * shard — the x_stream_classify batch-replay contract, gated by
    * x_stream_vec_drift. `smoothingMass` defaults to the centroid
    * count (the cell-space size). Returns batches processed. */
  def streamCellDrift(spark: SparkSession, reference: DataFrame,
                      stream: DataFrame, idCol: String, vecCol: String,
                      centroids: Seq[Seq[Float]], sinkTable: String,
                      queryName: String,
                      checkpointLocation: Option[String] = None): Int = {
    import graft.streaming.StreamOps
    IndexLifecycle.resumeAwareTableMaker(spark, checkpointLocation)(
      spark, sinkTable, Drift.censusSinkSchema, StreamOps.BatchTag, "bucket", 1)
    val ref = reference.select(
      col("cluster_id").cast("long").as("bucket"),
      col("n_live").as("n_old"))
    StreamOps.sinkBatches(spark, stream, queryName, sinkTable,
        checkpointLocation) { (batch, _) =>
      val census = Similarity.ivfAssign(batch, idCol, vecCol, centroids)
        .groupBy(col("cluster_id").cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_new"))
      (Drift.contrastCounts(ref, census, centroids.size.toLong), Nil)
    }._2
  }

  /** REBALANCE — the index-maintenance answer to distribution drift
    * ([[cellSkew]] detects it): retrain Lloyd centroids on the LIVE
    * corpus (current rows minus tombstones) and rewrite the index
    * under the new cell layout, physically purging tombstoned rows in
    * the same pass. It runs [[build]]'s own encoder and [[publish]],
    * only into the staging names, so the result is BIT-IDENTICAL to
    * `build(live)` with the same (k, iters) by construction (Lloyd is
    * deterministic) — the contract IvfRebalanceSpec pins
    * probe-for-probe.
    *
    * Crash discipline (the PurgeSwap doctrine extended to a TWO-table
    * swap, [[rebalanceCells]]): both staged tables are written FIRST
    * (reads only — the live index keeps serving), then the 1-row
    * in-flight marker appears, then both swaps run and the tombstone
    * list drops, then the marker drops. A crash before the marker
    * leaves the old index intact (stagings are garbage). A crash after
    * it leaves the staged layout as the index-of-record:
    * [[recoverRebalance]] — run at every probe and lifecycle entry —
    * completes the remaining swaps idempotently, so the mixed-layout
    * window (new cells + old centroids) lasts only until ANY next
    * contact, and the index is never lost. */
  def rebalance(spark: SparkSession, table: String, idCol: String,
                vecCol: String, k: Int = 16, iters: Int = 2): Unit =
    rebalanceCells(spark, state(table).live, idCol, vecCol)(
      encodeAndPublish(_, idCol, vecCol, table, PurgeSwap.stagingOf, k, iters))

  /** Heal a crashed rebalance swap (marker present) — delegated to
    * [[IndexLifecycle.recoverSwap]] (the marker's rows name the tables
    * to swap); run at every probe/lifecycle entry, the sibling of
    * PurgeSwap.recover. */
  def recoverRebalance(spark: SparkSession, table: String): Boolean =
    IndexLifecycle.recoverSwap(spark, table)

  /** Train (Lloyd, exact-decimal means — deterministic), assign, and
    * save through [[publish]]. Returns the trained centroids so a
    * caller that also wants on-the-fly queries needn't read them back.
    * A build into a reused name starts clean (IndexLifecycle.clear of
    * the declared state): no takedowns of the old index, no leftover
    * rebalance marker or staging.
    *
    * Alongside the float vector, the saved row carries `qv` — the
    * per-vector-scaled int8 quantization (graft.ext.Quantize) stored
    * as array<tinyint>: [[probeTopKQuantized]] pre-ranks off that
    * column alone, cutting the probe's scan bytes ~3.8× vs the float
    * column (measured as compressed chunk bytes by ScaleBench's
    * ivf_quantized point; parquet stores tinyint as physical INT32,
    * so the cut comes through encoding+snappy rather than raw width —
    * slightly under the nominal 4×). */
  def build(corpus: DataFrame, idCol: String, vecCol: String, table: String,
            k: Int = 16, iters: Int = 2): Seq[Seq[Float]] = {
    IndexLifecycle.clear(corpus.sparkSession, state(table))
    encodeAndPublish(corpus, idCol, vecCol, table, identity, k, iters)
  }

  /** This family's encoder — Lloyd centroids on `rows`, each row's
    * cell, and its int8 `qv` column — published under `name` of the
    * index's table names (live for [[build]], staging for
    * [[rebalance]]). Returns the centroids. */
  private def encodeAndPublish(rows: DataFrame, idCol: String, vecCol: String,
                               table: String, name: String => String,
                               k: Int, iters: Int): Seq[Seq[Float]] = {
    val cents = Similarity.ivfTrain(rows, idCol, vecCol, k, iters)
    publish(rows.sparkSession, table, name,
      Quantize.withQuantized(
          Similarity.ivfAssign(rows, idCol, vecCol, cents), vecCol, "qv")
        .withColumn("qv", col("qv").cast("array<tinyint>"))
        .select(col(idCol), col(vecCol), col("qv"), col("cluster_id")),
      idCol, cents, None)
    cents
  }

  /** Centroids of a saved index, in cluster-id order (k small rows).
    * Every probe's FIRST contact — so a crashed rebalance heals here,
    * before the probe reads either table (no mixed-layout probe). */
  def centroids(spark: SparkSession, table: String): Seq[Seq[Float]] = {
    recoverRebalance(spark, table)
    spark.table(centroidsTable(table)).orderBy(col("cluster_id"))
      .select(col("centroid")).collect().map(_.getSeq[Float](0)).toSeq
  }

  /** Top-k cosine over the `nProbe` most-query-similar clusters of a
    * saved index. Results are identical to `Similarity.ivfTopK` with
    * the same centroids (same driver-side ranking, same cosine
    * expression) — only the training and assignment work is amortized
    * away, and the scan is partition-pruned to the probed clusters. */

  /** Tombstone-delete vectors from the index — the takedown pattern
    * shared across the index families (WinnowIndex's doc has the
    * contract). Probes — the stream ingest's screening probe included
    * — hide tombstoned ids; [[purgeTombstones]]
    * rewrites the partitioned layout later. Pinned in IvfIndexSpec. */
  def delete(spark: SparkSession, table: String, ids: DataFrame): Unit =
    IndexLifecycle.registerTombstones(spark, table, ids)

  /** Both cell-partitioned families' probe chokepoint. It doubles as
    * the rebalance-recovery hook: a crashed marked swap completes
    * before any read, so the mixed-layout window never outlives one
    * contact. */
  private[ext] def minusTombstones(spark: SparkSession, table: String,
                                   idCol: String, rows: DataFrame): DataFrame = {
    recoverRebalance(spark, table)
    IndexLifecycle.minusTombstones(spark, table, rows, idCol)
  }

  /** Physically purge tombstoned vectors by DYNAMIC PARTITION
    * OVERWRITE of ONLY the cells holding tombstoned ids — the
    * deployment-scale shape the doc comment used to only promise:
    * purge bytes written are proportional to the TOUCHED cells, not
    * the corpus (ScaleBench's purge point measures the ratio), and
    * untouched cells' files are never rewritten. Answer-stable;
    * returns rows removed. Shared core in [[purgeTouchedCells]]
    * (IvfPq rides the same code). */
  def purgeTombstones(spark: SparkSession, table: String,
                      idCol: String): Long =
    purgeTouchedCells(spark, table, idCol)

  /** The cell-partitioned purge core, shared by [[purgeTombstones]]
    * and [[IvfPq.purgeTombstones]]. Three phases, each crash-safe:
    *
    *   1. DISCOVER — one tombstone-side semi-join over the id column
    *      (the partition column is metadata): which cells hold
    *      tombstoned rows, and how many (`removed`). ≤ k rows out.
    *   2. STAGE — the touched cells' LIVE rows land in a staging
    *      table (touched-cell-sized, never corpus-sized, nothing
    *      pinned in memory). The write reads the live table; a crash
    *      here leaves the index untouched and serving.
    *   3. OVERWRITE — dynamic partition overwrite replaces exactly
    *      the touched partitions from the staged copy; cells the
    *      purge EMPTIED (no staged rows for the overwrite to replace)
    *      are dropped explicitly. A crash mid-phase leaves some cells
    *      purged and some not — but the tombstone list drops LAST, so
    *      probes keep filtering either way, and a purge re-run
    *      completes idempotently (already-purged cells are no longer
    *      touched).
    */
  private[ext] def purgeTouchedCells(spark: SparkSession, table: String,
                                     idCol: String): Long = {
    val t = IndexLifecycle.tombstonesOf(table)
    if (!spark.catalog.tableExists(t)) return 0L
    IndexLifecycle.requireBatchLayout(spark, table, Seq("cluster_id"),
      "purgeTombstones")
    val stones = broadcast(spark.table(t).select(col("id").as(idCol)))
    val perCell = spark.table(table).join(stones, Seq(idCol), "left_semi")
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("__n"))
      .collect()
    if (perCell.isEmpty) { // nothing tombstoned is actually indexed
      spark.sql(s"DROP TABLE `$t`")
      return 0L
    }
    val touched = perCell.map(_.getAs[Int]("cluster_id")).toIndexedSeq
    val removed = perCell.map(_.getAs[Long]("__n")).sum
    val staging = PurgeSwap.stagingOf(table)
    val kept = spark.table(table)
      .where(col("cluster_id").isin(touched: _*))
      .join(stones, Seq(idCol), "left_anti")
    Writer.emptyPartitionedTable(spark, staging, kept.schema, "cluster_id")
    writeCells(kept, idCol, staging)
    // One-way dynamic-overwrite latch (Writer.ensureDynamicOverwrite):
    // the old save/set/restore could race a concurrent family's
    // in-flight dynamic write under r21's overlapped sweep phases
    // (guide §2.6 via Par) and silently degrade it to STATIC overwrite.
    graft.io.Writer.ensureDynamicOverwrite(spark)
    spark.table(staging).write.mode(SaveMode.Overwrite).insertInto(table)
    val present = spark.table(staging).select(col("cluster_id"))
      .distinct().collect().map(_.getInt(0)).toSet
    touched.filterNot(present).foreach(c =>
      spark.sql(s"ALTER TABLE `$table` DROP PARTITION (cluster_id=$c)"))
    Writer.dropTableAndLocation(spark, staging)
    spark.sql(s"DROP TABLE `$t`")
    spark.catalog.refreshTable(table)
    removed
  }

  /** Rebalance for both cell-partitioned families: heal a crashed
    * swap, hand the LIVE rows (tombstones filtered) to `publishStaged`
    * — the family's build encoder plus [[publish]] under the
    * PurgeSwap.stagingOf names — then the marked swap of `tables`.
    * Every staging table is complete before the marker is written. */
  private[ext] def rebalanceCells(spark: SparkSession, tables: Seq[String],
                                  idCol: String, vecCol: String)(
      publishStaged: DataFrame => Unit): Unit = {
    val table = tables.head
    IndexLifecycle.recoverSwap(spark, table)
    publishStaged(minusTombstones(spark, table, idCol, spark.table(table))
      .select(col(idCol), col(vecCol)))
    IndexLifecycle.markSwap(spark, table, tables)
    IndexLifecycle.finishSwap(spark, table)
  }

  /** Write an encoded cell layout under `name` of the index's table
    * names: the cell-partitioned main table — DDL-created, then
    * [[writeCells]] (a saveAsTable(partitionBy) table registers its
    * partitions at explicit locations that a swap's RENAME cannot
    * rewrite, the Writer.emptyPartitionedTable doc) — then the
    * quantizer side tables (`books` only for IvfPq). */
  private[ext] def publish(spark: SparkSession, table: String,
                           name: String => String, cells: DataFrame,
                           idCol: String, cents: Seq[Seq[Float]],
                           books: Option[Seq[Seq[Seq[Float]]]]): Unit = {
    Writer.emptyPartitionedTable(spark, name(table), cells.schema, "cluster_id")
    writeCells(cells, idCol, name(table))
    writeCentroids(spark, name(centroidsTable(table)), cents)
    books.foreach(writeCodebooks(spark, name(IvfPq.codebooksTable(table)), _))
  }

  /** Append cell rows (partition column last) to a cell-partitioned
    * table. COMPACT layout: repartition on cluster_id first — one file
    * per cluster directory instead of one per input partition per
    * cluster (up to 32x fewer files; measured: probe input bytes were
    * DOMINATED by footer reads of the tiny files, not column data).
    * Rows sorted by id within each file so the quantized re-rank's
    * pushed In(id) filter can skip row groups at volume. A cluster is
    * one write task here; a deployment whose single cluster exceeds a
    * task adds a salt expression to the repartition (more, still-large
    * files per cluster). */
  private[ext] def writeCells(cells: DataFrame, idCol: String,
                              target: String): Unit =
    cells.repartition(col("cluster_id"))
      .sortWithinPartitions(col("cluster_id"), col(idCol))
      .write.insertInto(target)

  /** The k-row centroids side table (cluster_id, centroid). */
  private[ext] def writeCentroids(spark: SparkSession, target: String,
                                  cents: Seq[Seq[Float]]): Unit = {
    import spark.implicits._
    Writer.dropTableAndLocation(spark, target)
    cents.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("cluster_id", "centroid")
      .write.format("parquet").saveAsTable(target)
  }

  /** The (m·kPq)-row codebooks side table (subspace, code, centroid). */
  private[ext] def writeCodebooks(spark: SparkSession, target: String,
                                  books: Seq[Seq[Seq[Float]]]): Unit = {
    import spark.implicits._
    Writer.dropTableAndLocation(spark, target)
    books.zipWithIndex.flatMap { case (bk, j) =>
      bk.zipWithIndex.map { case (c, code) => (j, code, c) }
    }.toDF("subspace", "code", "centroid")
      .write.format("parquet").saveAsTable(target)
  }

  def probeTopK(spark: SparkSession, table: String, idCol: String,
                vecCol: String, query: Seq[Float], k: Int,
                nProbe: Int): DataFrame = {
    val cents = centroids(spark, table)
    val probe = Similarity.probeClusters(cents, query, nProbe)
    val q = array(query.map(v => lit(v.toDouble)): _*)
    minusTombstones(spark, table, idCol,
        spark.table(table).where(col("cluster_id").isin(probe: _*)))
      .select(col(idCol), Similarity.cosineIn(col(vecCol), q).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** [[probeTopK]] with an INT8 pre-rank: the probed partitions are
    * first ranked by quantized cosine reading ONLY the `qv`
    * array<tinyint> column (~3.8× fewer scan bytes than the float
    * column — at 100 TB the probe cost IS that scan; measured by
    * ScaleBench's ivf_quantized point), then the top `shortlist`
    * (default 4k) ids
    * are re-ranked with the exact float cosine, so the returned scores
    * are identical to [[probeTopK]]'s for every id that survives the
    * pre-rank. Recall vs the float probe is bounded by the shortlist
    * (a true top-k member must rank ≤ shortlist in quantized score —
    * int8 rounding noise is tiny next to a 4× margin; measured in
    * IvfIndexSpec and gated by x_ivf_quantized).
    *
    * The shortlist ids are collected to the driver (shortlist rows —
    * a k-scale scalar collect, same class as [[centroids]]) so the
    * float re-rank reads the shortlist through a PUSHED `In` filter
    * instead of rescanning every probed partition's float column — a
    * semi-join shape would scan exactly the bytes the int8 pre-rank
    * just saved.
    *
    * Arithmetic: byte values promote to double EXACTLY, so the
    * quantized dot is the same integers Quantize.dotQ computes; the
    * query is quantized driver-side with the identical scheme. The
    * query-norm factor is a constant and cannot change ranking, so the
    * pre-rank divides by |qv| only (zero vectors guard to null and
    * sort last, never NaN-first). */
  /** The int8 pre-rank of [[probeTopKQuantized]], split out LAZY so
    * its scan shape is plan-pinnable (PlanAuditSpec: ReadSchema carries
    * `qv`, never the float column): quantized cosine over the probed
    * partitions, top-`shortlist` ids. */
  private[graft] def quantizedPreRank(spark: SparkSession, table: String,
                                      idCol: String, query: Seq[Float],
                                      nProbe: Int, shortlist: Int): DataFrame = {
    val cents = centroids(spark, table)
    val probe = Similarity.probeClusters(cents, query, nProbe)
    val qq = Quantize.quantizeLocal(query)
    val qlit = array(qq.toIndexedSeq.map(lit(_)): _*)
    val qnorm2 = Similarity.dotIn(col("qv"), col("qv"))
    minusTombstones(spark, table, idCol,
        spark.table(table).where(col("cluster_id").isin(probe: _*)))
      .select(col(idCol),
        when(qnorm2 === 0.0, lit(null).cast("double"))
          .otherwise(Similarity.dotIn(col("qv"), qlit) / sqrt(qnorm2))
          .as("qscore"))
      .orderBy(col("qscore").desc_nulls_last, col(idCol))
      .limit(shortlist)
  }

  /** Same-cell cosine pairs TOUCHING a new batch of vectors — the
    * vector-family incremental probe ([[DedupIndex.probeNewBatch]] /
    * [[WinnowIndex.probeNewBatchFromPostings]] shape applied to the
    * IVF cells): `assigned` is the batch WITH its `cluster_id` column
    * (one [[Similarity.ivfAssign]] pass — per-row argmax, no shuffle),
    * and the index side is cut to the batch's touched cells BEFORE any
    * pair work — the semi-join is the probe's only contact with the
    * corpus index, so probe cost is O(touched cells), never a corpus
    * re-read. Pair generation is keyed on `cluster_id` (Σ cell², the
    * [[Similarity.cosinePairsWithin]] cost shape — never n²), with
    * per-vector norms precomputed per SIDE so the cosine is the
    * identical IEEE expression dot/(nrm·nrm) cosinePairsWithin
    * evaluates — dot and the norm product both commute bit-exactly, so
    * probe scores equal the one-shot's whichever side a pair's members
    * enter from.
    *
    * Equivalence contract (pinned by IvfIndexSpec and the
    * x_stream_embed_ingest gate): with centroids FIXED, a pair (a, b)
    * lands in the same cell iff cell assignment says so regardless of
    * arrival order, so probe pairs over a sequence of batches
    * accumulate to EXACTLY `cosinePairsWithin(assigned corpus,
    * "cluster_id")` — each pair emitted once, by the batch its
    * later-arriving member lands in (new-new pairs enter the join from
    * both directions with bit-identical scores; the groupBy collapses
    * them). `maxCellSize` mirrors cosinePairsWithin's `maxBlockSize`
    * (same 10k default, so the contract holds cap-for-cap below it —
    * see the inline caveat on incremental cap decisions). */
  def probeNewBatch(spark: SparkSession, table: String, assigned: DataFrame,
                    idCol: String, vecCol: String, threshold: Double,
                    stager: DataFrame => DataFrame = Checkpoints.stage,
                    excludeBatch: Option[Long] = None,
                    maxCellSize: Int = 10000): DataFrame = {
    // The shared probe prelude (PairIndex.touchedIndex): `excludeBatch`
    // cuts the in-flight batch's own partition (a crashed attempt's
    // orphaned append would otherwise sit on both union sides —
    // inflated cell census, duplicate same-score pairs), tombstoned
    // vectors vanish before the cell census, and the index is cut to
    // the batch's cells.
    val idxTouched = PairIndex.touchedIndex(spark, table,
      Seq(idCol, vecCol, "cluster_id"), Seq("cluster_id"), assigned,
      excludeBatch)
    val union = idxTouched
      .unionByName(assigned.select(col(idCol), col(vecCol), col("cluster_id")))
      .pipe(stager)
    // Hot-cell cap — the cosinePairsWithin.maxBlockSize doctrine
    // applied to the incremental probe: pair work is Σ cell², so one
    // degenerate cell (a black-image / empty-doc embedding attractor)
    // would make a batch's probe quadratic in that cell with no
    // backpressure. Cells whose old ∪ new count exceeds `maxCellSize`
    // are DROPPED from pair generation (the batch's rows still index —
    // later batches see them). The cap is decided on indexed-so-far ∪
    // batch counts — PairIndex.streamIngest's over-cap caveat.
    val sized = union.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cell_n"))
      .where(col("cell_n") <= maxCellSize)
      .select(col("cluster_id"))
    val newSide = assigned.join(sized, Seq("cluster_id"))
      .select(col("cluster_id"), col(idCol).as("__id_n"),
      col(vecCol).as("__v_n"), Similarity.normIn(col(vecCol)).as("__nrm_n"))
    val allSide = union.join(sized, Seq("cluster_id"))
      .select(col("cluster_id"), col(idCol).as("__id_o"),
      col(vecCol).as("__v_o"), Similarity.normIn(col(vecCol)).as("__nrm_o"))
    newSide.join(allSide, Seq("cluster_id"))
      .where(col("__id_n") =!= col("__id_o"))
      .withColumn("cos_sim",
        Similarity.dotIn(col("__v_n"), col("__v_o")) /
          (col("__nrm_n") * col("__nrm_o")))
      .where(col("cos_sim") >= threshold)
      .select(least(col("__id_n"), col("__id_o")).as("id_a"),
        greatest(col("__id_n"), col("__id_o")).as("id_b"), col("cos_sim"))
      // A new-new pair enters from both join directions with the same
      // bit-exact score; max() collapses the duplicate.
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("cos_sim")).as("cos_sim"))
  }

  /** Streaming vector ingest with near-dup screening — the vector twin
    * of [[DedupIndex.streamIngest]] / [[WinnowIndex.streamIngest]]
    * (same batch-id-partitioned bucketed index created fresh here,
    * same partition-overwrite idempotent append, same
    * `<table>_pairs` sink, same one-batch-per-id contract): centroids
    * are FIXED up front (a seed corpus's [[Similarity.ivfTrain]] in
    * production; any fixed set preserves the contract), and each
    * micro-batch is cell-assigned ONCE (per-row argmax over broadcast
    * centroid literals — no shuffle, no join), probes the persisted
    * index for same-cell cosine pairs at `threshold` touching it, then
    * appends its rows for later batches to probe against. The
    * accumulated pair set equals the one-shot cell-blocked
    * [[Similarity.cosinePairsWithin]] over everything ingested
    * ([[probeNewBatch]]'s contract), and the index rows double as a
    * servable ANN index: the centroids side table is persisted too, so
    * [[probeTopK]] runs against `table` directly — ingest screening
    * and query serving share one growing structure.
    *
    * Layout note: unlike [[build]]'s cluster-partitioned layout, the
    * streaming index is PARTITIONED by batch id (idempotent appends)
    * and BUCKETED on `cluster_id`, so a [[probeTopK]] scan prunes
    * buckets rather than partition directories until [[compact]]
    * collapses the per-batch partitions; the batch [[build]] remains
    * the scan-optimal layout for a frozen corpus. */
  def streamIngest(spark: SparkSession, table: String, stream: DataFrame,
                   idCol: String, vecCol: String, centroids: Seq[Seq[Float]],
                   threshold: Double = 0.9,
                   queryName: String = "graft_stream_ivf",
                   checkpointLocation: Option[String] = None): (DataFrame, Int) = {
    import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField}
    // Restartable with a checkpoint (PairIndex.streamIngest). A restart
    // MUST pass the same centroids (and threshold): run 1's rows are
    // indexed under run 1's cell assignment, so different centroids
    // would silently mis-prune probes against them. The centroids
    // table is rewritten on restart because it is derived from the
    // argument, not state.
    writeCentroids(spark, centroidsTable(table), centroids)
    PairIndex.streamIngest(spark, state(table, idCol), stream, queryName,
        checkpointLocation,
        Seq(StructField(idCol, stream.schema(idCol).dataType),
          StructField(vecCol, stream.schema(vecCol).dataType),
          StructField("cluster_id", IntegerType)),
        "cluster_id", Seq(StructField("cos_sim", DoubleType)))(
      Similarity.ivfAssign(_, idCol, vecCol, centroids)
        .select(col(idCol), col(vecCol), col("cluster_id")))(
      (assigned, batchId) => probeNewBatch(spark, table, assigned, idCol,
        vecCol, threshold, excludeBatch = Some(batchId)))
  }

  /** Compact a [[streamIngest]] vector index (and its pairs sink) —
    * same quiesce / redelivery / crash contract as the dedup and
    * winnow twins (StreamOps.compactSink); pass the ingest's
    * `checkpointLocation` to refuse crash-then-compact corruption.
    * `purge = true` physically drops tombstoned vectors during the
    * rewrite and clears the tombstone list (the streaming layout's
    * purge — PairIndex.compact documents the shared contract);
    * `idCol` names the index's id column for the purge anti-join. */
  def compact(spark: SparkSession, table: String,
              checkpointLocation: Option[String] = None,
              purge: Boolean = false, idCol: String = "id"): Int =
    PairIndex.compact(spark, state(table, idCol), checkpointLocation, purge)

  def probeTopKQuantized(spark: SparkSession, table: String, idCol: String,
                         vecCol: String, query: Seq[Float], k: Int,
                         nProbe: Int, shortlist: Int = 0): DataFrame = {
    val sl = if (shortlist > 0) shortlist else 4 * k
    require(sl >= k, s"shortlist $sl < topK $k")
    rerankShortlist(spark, table, idCol, vecCol, query, k, nProbe,
      quantizedPreRank(spark, table, idCol, query, nProbe, sl))
  }

  /** The single probes' exact float re-rank, shared by
    * [[probeTopKQuantized]] and [[IvfPq.probeTopK]]: collect the
    * shortlist's ids (a k-scale driver collect), read their float
    * vectors through a pushed In(id) filter over the probed cells,
    * top-k by exact cosine. */
  private[ext] def rerankShortlist(spark: SparkSession, table: String,
                                   idCol: String, vecCol: String,
                                   query: Seq[Float], k: Int, nProbe: Int,
                                   shortlist: DataFrame): DataFrame = {
    val shortIds = shortlist.select(col(idCol)).collect().map(_.get(0))
    val probe = Similarity.probeClusters(centroids(spark, table), query, nProbe)
    val q = array(query.map(v => lit(v.toDouble)): _*)
    spark.table(table).where(col("cluster_id").isin(probe: _*))
      .where(col(idCol).isin(shortIds.toIndexedSeq: _*))
      .select(col(idCol), Similarity.cosineIn(col(vecCol), q).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Per-query probed cells and their union — the one set of
    * partitions a batch probe's scans open; shared head of both batch
    * tiers. */
  private[ext] def batchCells(cents: Seq[Seq[Float]],
                         queries: Seq[(Long, Seq[Float])], nProbe: Int)
      : (Map[Long, Seq[Int]], Seq[Int]) = {
    val probedCells = queries.map { case (qid, q) =>
      qid -> Similarity.probeClusters(cents, q, nProbe)
    }.toMap
    (probedCells, probedCells.values.flatten.toSeq.distinct)
  }

  private[ext] def requireBatch(queries: Seq[(Long, Seq[Float])]): Unit = {
    require(queries.nonEmpty && queries.size <= 64,
      s"probeBatch takes 1-64 queries, got ${queries.size}")
    require(queries.map(_._1).distinct.size == queries.size,
      "query ids must be distinct")
  }

  /** Batched FLOAT-tier serving — N queries answered in ONE corpus
    * contact (VERDICT r16 #1: [[probeTopK]] was the last ANN serving
    * path answering one query per scan — and the float tier is the
    * documented regime where IVFADC code resolution fails, NN margins
    * below ~4e-3): one scan of the UNION of the per-query probed-cell
    * sets (partition-pruned, tombstone-filtered) fans each row into
    * per-query cosine scores gated to that query's OWN probed cells —
    * the [[BatchProbe.cellGatedScores]] ladder, kernel-backed at any
    * batch size — then a per-query top-k rank window
    * (WindowGroupLimit) under the single probe's exact order. No
    * second contact: the float tier's scores ARE the exact cosines.
    *
    * Output (query_id, idCol, cos_sim), ordered (query_id, cos_sim
    * DESC, id); per query the rows are BIT-IDENTICAL to
    * [[probeTopK]]'s with the same (k, nProbe) — the x_ivfpq_batch
    * both-direction exceptAll contract, gated by x_ivf_batch and
    * pinned in IvfIndexSpec. */
  def probeBatch(spark: SparkSession, table: String, idCol: String,
                 vecCol: String, queries: Seq[(Long, Seq[Float])], k: Int,
                 nProbe: Int,
                 preparedCents: Option[Seq[Seq[Float]]] = None): DataFrame = {
    requireBatch(queries)
    import org.apache.spark.sql.expressions.Window
    // `preparedCents` = centroids loaded ONCE by a serving loop (r22,
    // guide §2.6): an index constant between lifecycle ops that costs
    // a driver collect + heal pass per call otherwise — a chunked
    // stream paid that per chunk per batch. Identical values either
    // way; callers that mutate the index between probes don't pass it.
    val cents = preparedCents.getOrElse(centroids(spark, table))
    val (probedCells, unionCells) = batchCells(cents, queries, nProbe)
    val base = minusTombstones(spark, table, idCol,
        spark.table(table).where(col("cluster_id").isin(unionCells: _*)))
      .select(col(idCol), col("cluster_id"), col(vecCol))
    // The widened query doubles and the constant-folded query norms —
    // the same doubles the single probe's cosineIn literal tree holds
    // after folding (sequential fold, exactly Kernels.dotT's order).
    val qd = queries.map { case (qid, q) =>
      qid -> q.map(_.toDouble).toIndexedSeq
    }
    val qdiv = qd.map { case (_, q) =>
      math.sqrt(q.foldLeft(0.0)((a, x) => a + x * x))
    }.toIndexedSeq
    val scored = BatchProbe.cellGatedScores(base, idCol, vecCol,
      qd, qdiv, probedCells, zeroNull = false)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col(idCol))
    scored.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .select(col("query_id"), col(idCol), col("score").as("cos_sim"))
      .orderBy(col("query_id"), col("cos_sim").desc, col(idCol))
  }

  /** Batched INT8-tier serving — N queries in TWO corpus contacts
    * (the [[IvfPq.probeBatch]] shape applied to [[probeTopKQuantized]],
    * whose pre-rank reads the d-byte `qv` column instead of 8-byte PQ
    * codes — the tier that serves NN margins below PQ code
    * resolution):
    *
    *   1. ONE int8 pre-rank scan of the union cells reading ONLY `qv`:
    *      per-query quantized scores gated to each query's own probed
    *      cells ([[BatchProbe.cellGatedScores]] with the
    *      zero-direction null guard, queries quantized driver-side
    *      with the identical scheme), per-query top-`shortlist` under
    *      [[quantizedPreRank]]'s exact (qscore DESC NULLS LAST, id)
    *      order.
    *   2. ONE exact float re-rank over the shortlist union through a
    *      single pushed In(id) filter ([[BatchProbe.rerankFloat]] —
    *      the same stage IVFADC serves with), per-query top-k.
    *
    * Output (query_id, idCol, cos_sim), ordered (query_id, cos_sim
    * DESC, id); per query BIT-IDENTICAL to [[probeTopKQuantized]]'s
    * rows with the same (k, nProbe, shortlist) — gated by x_ivf_batch
    * and pinned in IvfIndexSpec. */
  def probeBatchQuantized(spark: SparkSession, table: String, idCol: String,
                          vecCol: String, queries: Seq[(Long, Seq[Float])],
                          k: Int, nProbe: Int,
                          shortlist: Int = 0): DataFrame = {
    requireBatch(queries)
    val sl = if (shortlist > 0) shortlist else 4 * k
    require(sl >= k, s"shortlist $sl < topK $k")
    import org.apache.spark.sql.expressions.Window
    val cents = centroids(spark, table)
    val (probedCells, unionCells) = batchCells(cents, queries, nProbe)
    val base = minusTombstones(spark, table, idCol,
        spark.table(table).where(col("cluster_id").isin(unionCells: _*)))
      .select(col(idCol), col("cluster_id"), col("qv"))
    val qq = queries.map { case (qid, q) =>
      qid -> Quantize.quantizeLocal(q).toIndexedSeq
    }
    // qdiv = 1.0: the quantized pre-rank divides by the ROW norm only
    // (the query-norm factor is constant per query and cannot change
    // its ranking); x · 1.0 is IEEE-exact in the kernel's shared
    // denominator shape.
    val ones = IndexedSeq.fill(queries.size)(1.0)
    val scored = BatchProbe.cellGatedScores(base, idCol, "qv",
      qq, ones, probedCells, zeroNull = true)
    val wQ = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc_nulls_last, col(idCol))
    val shortRanked = scored.withColumn("__rn", row_number().over(wQ))
      .where(col("__rn") <= sl)
    BatchProbe.rerankFloat(spark, table, idCol, vecCol, queries, unionCells,
      shortRanked, k)
  }
}
