package graft.ext

import org.apache.spark.sql.SparkSession

import graft.io.Writer

/** Stage-and-swap machinery for the index families' physical purges.
  *
  * The r14/r15 purge implementations snapshotted the ENTIRE index into
  * an eager local checkpoint before a `SaveMode.Overwrite` that dropped
  * the only other copy — a corpus-sized memory/storage spike, and a
  * mid-purge executor loss could lose the snapshot blocks while the
  * table files were already gone. Stage-and-swap removes both hazards:
  *
  *   1. STAGE — write the live rows (index anti-join tombstones) to a
  *      staging table `<table>_purge_stage` in the index's own layout.
  *      The write READS the live table and never mutates it, so a
  *      crash anywhere in this phase leaves the index fully intact and
  *      serving (probes keep filtering through the tombstone list).
  *      Nothing is ever pinned in executor memory.
  *   2. SWAP — drop the old table (catalog entry + warehouse files),
  *      then `ALTER TABLE ... RENAME` the staging table into place
  *      (for a managed table the catalog moves the directory — a
  *      metadata move, no data rewrite). The only vulnerable window is
  *      between the drop and the rename, and it is metadata-only: the
  *      data survives as the staging table, and [[recover]] — run at
  *      the top of every purge — completes the rename.
  *
  * A leftover staging table from a crashed STAGE phase is garbage (the
  * old table still exists); the next purge's staging write drops and
  * replaces it. A leftover from a crashed SWAP (old table gone) is the
  * new index; [[recover]] adopts it. Either way the index is never
  * lost and never serves wrong answers (tombstones are dropped last,
  * so probes filter until the purge fully commits).
  */
object PurgeSwap {

  /** The staging-table name of a purge-in-flight for `table`. */
  def stagingOf(table: String): String = table + "_purge_stage"

  /** Complete a purge whose swap crashed between dropping the old
    * table and renaming the staging table into place: if the staging
    * table exists and the index table does not, the staged (already
    * purged) rows ARE the index — rename them into place. Returns
    * true when a crashed swap was healed. Safe to call always; a
    * no-op unless exactly that crash state is present. */
  def recover(spark: SparkSession, table: String): Boolean = {
    val staging = stagingOf(table)
    if (spark.catalog.tableExists(staging) &&
        !spark.catalog.tableExists(table)) {
      spark.sql(s"ALTER TABLE `$staging` RENAME TO `$table`")
      spark.catalog.refreshTable(table)
      true
    } else false
  }

  /** SWAP phase: drop the old table (entry + files), rename the staged
    * table into place, refresh the reader's relation cache. Callers
    * must have fully written `stagingOf(table)` first. */
  def swap(spark: SparkSession, table: String): Unit = {
    Writer.dropTableAndLocation(spark, table)
    spark.sql(s"ALTER TABLE `${stagingOf(table)}` RENAME TO `$table`")
    spark.catalog.refreshTable(table)
  }
}
