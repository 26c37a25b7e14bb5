package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.io.Writer

/** The index-family lifecycle contract glue, shared (VERDICT r16 #4:
  * six families hand-rolled the same ensure-tables / takedown-register
  * / tombstone-filter / resume plumbing, so every lifecycle fix had to
  * land six times). The CONTRACTS these helpers encode are documented
  * once at their doc comments and referenced by every family:
  *
  *   - takedowns REGISTER first ([[registerTombstones]]): probes hide
  *     tombstoned ids immediately ([[minusTombstones]] — the takedown
  *     list stays takedown-sized, so the anti-join broadcasts); the
  *     physical purge rewrites the layout later and drops the list
  *     LAST, so probes keep filtering through any crash.
  *   - batch-layout-only operations REFUSE the streaming layout
  *     ([[requireBatchLayout]]) instead of silently doing the wrong
  *     rewrite — the streaming layout purges through
  *     compact(purge = true).
  *   - a streaming ingest keeps prior state ONLY when its checkpoint
  *     has committed batches ([[resumeAwareTableMaker]]): a fresh
  *     checkpoint with a leftover table is a drop-and-recreate, never
  *     a silent merge, and the recreate drops the table's takedown
  *     list with it (plus any other takedown state the family names —
  *     PostingsIndex's `_stats_deltas`). LmIndex creates its
  *     three-table layout through the same maker.
  *
  * The keyed-pair families (DedupIndex, WinnowIndex, and IvfIndex's
  * stream ingest) go one step further: build, append, purge, the probe
  * prelude, the pair-sink stream ingest and compact have one body,
  * in [[PairIndex]]. Every family's partitioned writes go through one
  * insert, Writer.insertOverwrite (dynamic overwrite shaped to the
  * bucket spec — the batch-tag sinks via StreamOps.writeBatchSinks,
  * LmIndex's `__wave` waves directly), and every batch-tagged compact
  * refuses a checkpoint's orphans through one check,
  * StreamOps.refuseOrphans.
  */
private[graft] object IndexLifecycle {

  def tombstonesOf(table: String): String = table + "_tombstones"

  /** Register takedown ids in `<table>_tombstones` — the shared
    * takedown-register step (WinnowIndex's doc has the family
    * contract). Idempotent: re-deleting an id is a no-op (the
    * anti-join empties the duplicate), and the table stays
    * takedown-sized. */
  def registerTombstones(spark: SparkSession, table: String,
                         ids: DataFrame): Unit = {
    val t = tombstonesOf(table)
    val d = ids.select(col("id")).distinct()
    if (!spark.catalog.tableExists(t)) {
      Writer.dropTableAndLocation(spark, t) // clear any stale location
      d.write.saveAsTable(t)
    } else d.join(spark.table(t), Seq("id"), "left_anti")
      .write.mode("append").insertInto(t)
    spark.catalog.refreshTable(t)
  }

  /** Anti-join `rows` against the takedown list (broadcast —
    * takedown-sized by the [[registerTombstones]] contract); identity
    * when no takedown has happened. `idCol` names the id column on the
    * rows side. */
  def minusTombstones(spark: SparkSession, table: String, rows: DataFrame,
                      idCol: String = "id"): DataFrame = {
    val t = tombstonesOf(table)
    if (spark.catalog.tableExists(t))
      rows.join(broadcast(spark.table(t).select(col("id").as(idCol))),
        Seq(idCol), "left_anti")
    else rows
  }

  /** Refuse a batch-layout-only operation on a streaming
    * (batch-partitioned) index: `expectedPartCols` is the batch
    * layout's partition spec (empty for the bucketed-only families,
    * Seq("cluster_id") for the IVF cell layouts). */
  def requireBatchLayout(spark: SparkSession, table: String,
                         expectedPartCols: Seq[String], what: String): Unit =
    require(spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table))
      .partitionColumnNames == expectedPartCols,
      s"$what supports the batch layout only — `$table` is a streaming " +
        "(batch-partitioned) index; tombstoned probes already exclude " +
        "deleted ids there, and a physical purge belongs in " +
        "compact(purge = true)")

  /** The streaming-layout compact driver shared by the tombstoned
    * families (VERDICT r17 #6: the quiesce → merged-rewrite → sibling
    * rewrites → tombstone-drop skeleton was hand-rolled five times;
    * the three pair families call it through PairIndex.compact,
    * whose sibling rewrite is the `_pairs` sink): read the
    * tombstone list when purging, [[graft.streaming.StreamOps
    * .compactSink]] the MAIN table with it (the merged rewrite a
    * compaction pays anyway also reclaims tombstoned bytes), run the
    * family's sibling rewrites with the SAME purge ids, then drop the
    * tombstone list LAST — probes keep filtering until every sibling
    * rewrote, so any crash point leaves answers unchanged and a re-run
    * heals (compactSink's contract). `extraDropsOnPurge` lists side
    * tables the purge obsoletes (PostingsIndex's `_stats_deltas`),
    * dropped in the same drop-last window. Returns the main table's
    * merged partition count. */
  def compactStreaming(spark: SparkSession, table: String,
                       checkpointLocation: Option[String], purge: Boolean,
                       idCol: String = "id",
                       extraDropsOnPurge: Seq[String] = Nil)
                      (siblings: Option[DataFrame] => Unit): Int = {
    val t = tombstonesOf(table)
    val stones = if (purge && spark.catalog.tableExists(t))
      Some(spark.table(t)) else None
    val merged = graft.streaming.StreamOps.compactSink(spark, table,
      checkpointLocation = checkpointLocation, purgeIds = stones,
      purgeIdCol = idCol)
    siblings(stones)
    stones.foreach { _ =>
      extraDropsOnPurge.filter(spark.catalog.tableExists)
        .foreach(x => spark.sql(s"DROP TABLE `$x`"))
      spark.sql(s"DROP TABLE `$t`")
      spark.catalog.refreshTable(table)
    }
    merged
  }

  /** The rebalance in-flight marker of `table` — present exactly
    * between "all staged tables fully written" and "all swaps +
    * tombstone drop committed". Its ROWS are the ordered list of
    * tables to swap, so recovery is family-agnostic: IvfIndex swaps
    * (main, centroids), IvfPq (main, centroids, codebooks), and a
    * probe's first contact heals either without knowing which family
    * it serves. A staging table WITHOUT the marker is a crashed STAGE
    * phase's garbage (old index intact) — the PurgeSwap doctrine. */
  def rebalanceMarkerOf(table: String): String =
    table + "_rebalance_inflight"

  /** Write the marker AFTER every staged table is complete: from this
    * instant the staged layout is the index-of-record. */
  def markSwap(spark: SparkSession, table: String,
               swapTables: Seq[String]): Unit = {
    val m = rebalanceMarkerOf(table)
    graft.io.Writer.dropTableAndLocation(spark, m)
    import spark.implicits._
    swapTables.zipWithIndex.map { case (t, i) => (i, t) }
      .toDF("idx", "t")
      .write.format("parquet").saveAsTable(m)
  }

  /** Complete a marked multi-table swap: swap every listed table
    * (PurgeSwap.swap when its staging exists, PurgeSwap.recover for a
    * crash inside a swap's drop→rename window), drop the tombstone
    * list (the staged rows are live-only — a rebalance purges), drop
    * the marker LAST. Idempotent at every crash point. */
  def finishSwap(spark: SparkSession, table: String): Unit = {
    val m = rebalanceMarkerOf(table)
    val list = spark.table(m).orderBy(col("idx"))
      .collect().map(_.getString(1)).toSeq
    // Sanity-gate the marker before acting on it (ADVICE r18): the
    // marker's rows are the swap's WHOLE instruction set, and a marker
    // visible with missing/partial rows (a non-atomic commit, an
    // external writer) must abort the heal rather than half-swap —
    // half-swapping would drop the tombstone list and marker below,
    // silently resurrecting takedowns or leaving a mixed layout. A
    // LEGITIMATE marker always lists >= 1 table, and every listed
    // table has its staging or live table present at every crash
    // point (stagings are fully written before markSwap runs).
    require(list.nonEmpty,
      s"rebalance marker `$m` has no rows — refusing to heal a " +
        "corrupt/partial marker; inspect and drop it manually")
    val broken = list.filterNot(t =>
      spark.catalog.tableExists(PurgeSwap.stagingOf(t)) ||
        spark.catalog.tableExists(t))
    require(broken.isEmpty,
      s"rebalance marker `$m` lists table(s) with neither staging nor " +
        s"live present: ${broken.mkString(", ")} — marker corrupt; " +
        "refusing to swap")
    list.foreach { t =>
      if (spark.catalog.tableExists(PurgeSwap.stagingOf(t)))
        PurgeSwap.swap(spark, t)
      else
        PurgeSwap.recover(spark, t)
    }
    val tomb = tombstonesOf(table)
    if (spark.catalog.tableExists(tomb)) spark.sql(s"DROP TABLE `$tomb`")
    graft.io.Writer.dropTableAndLocation(spark, m)
    list.foreach(spark.catalog.refreshTable)
  }

  /** Heal a crashed marked swap; no-op without the marker. Run at
    * every probe/lifecycle first contact of the families that
    * rebalance. Returns true when a heal ran. */
  def recoverSwap(spark: SparkSession, table: String): Boolean =
    if (!spark.catalog.tableExists(rebalanceMarkerOf(table))) false
    else { finishSwap(spark, table); true }

  /** The streaming-resume table maker: keep prior state only when the
    * checkpoint has committed batches (fresh checkpoint + leftover
    * table = drop-and-recreate, not a silent merge — the DedupIndex
    * streamIngest lesson, shared by every family's ingest). The
    * recreate drops the table's `<table>_tombstones` too: a fresh
    * index must not hide ids an earlier run took down.
    * `dropsWhenFresh` names a family's other takedown state (tables
    * that are not some created table's tombstone list — PostingsIndex's
    * `_stats_deltas`), dropped once when the maker is built fresh. */
  def resumeAwareTableMaker(spark: SparkSession,
                            checkpointLocation: Option[String],
                            dropsWhenFresh: Seq[String] = Nil)
      : (SparkSession, String, StructType, String, String, Int) => Unit = {
    val resuming = checkpointLocation.exists(cp =>
      graft.streaming.StreamOps.lastCommittedBatch(spark, cp).isDefined)
    if (resuming) Writer.ensurePartitionedBucketedTable _
    else {
      dropsWhenFresh.foreach(Writer.dropTableAndLocation(spark, _))
      (s, table, schema, partitionCol, key, buckets) => {
        Writer.dropTableAndLocation(s, tombstonesOf(table))
        Writer.emptyPartitionedBucketedTable(s, table, schema, partitionCol, key, buckets)
      }
    }
  }
}
