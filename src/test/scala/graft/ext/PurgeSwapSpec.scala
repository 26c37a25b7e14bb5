package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** Kill-mid-purge: the stage-and-swap purge must leave the index
  * READABLE (old or new state, never lost, never answer-changed) at
  * every crash point, and a purge re-run must complete from any of
  * them. The crash states are constructed by running exactly the
  * purge's own phases and stopping — the same on-disk/catalog states a
  * killed JVM leaves.
  */
class PurgeSwapSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def winnowFixture(idx: String) = {
    import spark.implicits._
    val shared = "this exact passage appears verbatim in both documents today"
    val old = Seq(
      (1L, s"left context totally different $shared and then some more"),
      (2L, s"$shared trailing content that matches nothing else at all"),
      (3L, "an unrelated document with none of that text anywhere")).toDF("doc_id", "text")
    val probeDocs = Seq(
      (10L, s"late arrival also containing $shared in its middle part")).toDF("doc_id", "text")
    IndexLifecycle.clear(spark, WinnowIndex.state(idx))
    WinnowIndex.build(old, "doc_id", "text", idx)
    (probeDocs, () => WinnowIndex
      .probeNewBatch(spark, idx, probeDocs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  test("crash after STAGE: index intact and serving; purge re-run completes over the leftover staging") {
    import spark.implicits._
    val idx = "purge_crash_stage_idx"
    val (_, probe) = winnowFixture(idx)
    assert(probe() == Set((1L, 10L), (2L, 10L)))
    WinnowIndex.delete(spark, idx, Seq(1L).toDF("id"))
    val expected = probe()
    assert(expected == Set((2L, 10L)))
    // CRASH STATE A — the STAGE phase ran (same code path: live rows
    // into the staging table, same bucketed layout), then the JVM died
    // before the swap.
    graft.io.Writer.bucketedTable(
      spark.table(idx).join(broadcast(spark.table(idx + "_tombstones")),
        Seq("id"), "left_anti"),
      PurgeSwap.stagingOf(idx), "fp", 16)
    // The index is untouched: still holds the tombstoned postings,
    // still answers through the tombstone filter.
    assert(spark.table(idx).where(col("id") === 1L).count() > 0,
      "crash-after-stage must leave the old table intact")
    assert(probe() == expected, "index must keep serving, answers unchanged")
    // Re-run completes: re-stages over the leftover, swaps, drops stones.
    val removed = WinnowIndex.purgeTombstones(spark, idx)
    assert(removed > 0)
    assert(!spark.catalog.tableExists(PurgeSwap.stagingOf(idx)))
    assert(!spark.catalog.tableExists(idx + "_tombstones"))
    assert(spark.table(idx).where(col("id") === 1L).count() == 0)
    assert(probe() == expected, "purge never changes answers")
  }

  test("crash mid-SWAP (old dropped, rename pending): recover() adopts the staged rows, nothing lost") {
    import spark.implicits._
    val idx = "purge_crash_swap_idx"
    val (_, probe) = winnowFixture(idx)
    WinnowIndex.delete(spark, idx, Seq(1L).toDF("id"))
    val expected = probe()
    val livePostings = spark.table(idx)
      .join(broadcast(spark.table(idx + "_tombstones")), Seq("id"), "left_anti")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // CRASH STATE B — STAGE completed, then the swap's DROP of the old
    // table ran (swap's own first step) and the JVM died before the
    // RENAME. The catalog has no index table; the staged table holds
    // the complete purged index.
    graft.io.Writer.bucketedTable(
      spark.table(idx).join(broadcast(spark.table(idx + "_tombstones")),
        Seq("id"), "left_anti"),
      PurgeSwap.stagingOf(idx), "fp", 16)
    graft.io.Writer.dropTableAndLocation(spark, idx)
    assert(!spark.catalog.tableExists(idx))
    // Re-run: recover() renames the staging table into place; the
    // (already-applied) tombstones then purge as a no-op and drop.
    val removed = WinnowIndex.purgeTombstones(spark, idx)
    assert(removed == 0L, "the crashed attempt already removed the rows")
    assert(spark.catalog.tableExists(idx))
    assert(!spark.catalog.tableExists(PurgeSwap.stagingOf(idx)))
    assert(!spark.catalog.tableExists(idx + "_tombstones"))
    assert(spark.table(idx).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == livePostings,
      "recovered index must hold exactly the staged live postings")
    assert(probe() == expected, "recovery never changes answers")
  }

  test("cell-partitioned purge rewrites ONLY the touched cells' files (purge bytes ∝ touched partitions)") {
    import spark.implicits._
    val e = Tables.embeddings(spark, TestSpark.sf0001)
    val corpus = e.where(col("vec_id") =!= 0)
    val t = "purge_touched_cells_idx"
    IndexLifecycle.clear(spark, IvfIndex.state(t, "vec_id"))
    IvfIndex.build(corpus, "vec_id", "embedding", t, k = 8, iters = 1)
    val q = e.where(col("vec_id") === 0)
      .select(col("embedding")).first().getSeq[Float](0)
    def top() = IvfIndex.probeTopK(spark, t, "vec_id", "embedding", q, 10, nProbe = 8)
      .collect().map(_.getLong(0)).toSeq
    // Tombstone two ids out of ONE cell.
    val victimCell = spark.table(t).select(col("cluster_id"))
      .groupBy(col("cluster_id")).count().orderBy(col("count").desc)
      .first().getInt(0)
    val victims = spark.table(t)
      .where(col("cluster_id") === victimCell)
      .select(col("vec_id")).orderBy(col("vec_id")).limit(2)
      .collect().map(_.getLong(0)).toSeq
    IvfIndex.delete(spark, t, victims.toDF("id"))
    val expected = top()
    // Snapshot every partition directory's file listing (name, mtime,
    // length) BEFORE the purge.
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val loc = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(warehouse),
      t.toLowerCase(java.util.Locale.ROOT))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def listing(): Map[String, Set[(String, Long, Long)]] =
      fs.listStatus(loc).filter(_.isDirectory).map { d =>
        d.getPath.getName -> fs.listStatus(d.getPath)
          .filter(s => !s.getPath.getName.startsWith("_"))
          .map(s => (s.getPath.getName, s.getModificationTime, s.getLen))
          .toSet
      }.toMap
    val before = listing()
    // A stale staging table from an earlier crashed attempt must be
    // dropped and replaced, never merged.
    Seq((999L, Seq.fill(64)(0.1f), 0L, 0))
      .toDF("vec_id", "embedding", "pq_code", "cluster_id")
      .write.saveAsTable(PurgeSwap.stagingOf(t))
    val removed = IvfIndex.purgeTombstones(spark, t, "vec_id")
    assert(removed == 2L)
    val after = listing()
    val touchedDir = s"cluster_id=$victimCell"
    assert(after(touchedDir) != before(touchedDir),
      "the touched cell's files must be rewritten")
    (before.keySet - touchedDir).foreach { d =>
      assert(after(d) == before(d),
        s"untouched cell $d was rewritten — purge bytes must be " +
          "proportional to the touched partitions only")
    }
    assert(top() == expected, "purge never changes answers")
    assert(spark.table(t).where(col("vec_id").isin(victims: _*)).count() == 0)
    assert(!spark.catalog.tableExists(t + "_tombstones"))
    assert(!spark.catalog.tableExists(PurgeSwap.stagingOf(t)))
    assert(IvfIndex.purgeTombstones(spark, t, "vec_id") == 0L)
  }

  test("streaming layout: compact(purge=true) ≡ rebuild-on-live — winnow postings") {
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import graft.streaming.StreamOps
    val shared = "this exact passage appears verbatim in both documents today"
    val batch0 = Seq(
      (1L, s"left context totally different $shared and then some more"),
      (3L, "an unrelated document with none of that text anywhere")).toDF("doc_id", "text")
    val batch1 = Seq(
      (2L, s"$shared trailing content that matches nothing else at all"),
      (4L, "yet another fully unrelated body of prose entirely")).toDF("doc_id", "text")
    val idx = "stream_purge_winnow_idx"
    IndexLifecycle.clear(spark, WinnowIndex.state(idx))
    graft.io.Writer.dropTableAndLocation(spark, idx + "_rebuild")
    graft.io.Writer.emptyPartitionedBucketedTable(spark, idx,
      StructType(Seq(StructField("id", LongType), StructField("fp", LongType),
        StructField(StreamOps.BatchTag, LongType))),
      StreamOps.BatchTag, "fp", 16)
    // Two micro-batch appends, exactly streamIngest's per-batch write.
    StreamOps.writeBatchToSink(spark, idx,
      WinnowIndex.postings(batch0, "doc_id", "text", 8, 4), 0L)
    StreamOps.writeBatchToSink(spark, idx,
      WinnowIndex.postings(batch1, "doc_id", "text", 8, 4), 1L)
    val probeDocs = Seq(
      (10L, s"late arrival also containing $shared in its middle part")).toDF("doc_id", "text")
    def probe(table: String) = WinnowIndex
      .probeNewBatch(spark, table, probeDocs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(probe(idx).map(p => (p._1, p._2)) == Set((1L, 10L), (2L, 10L)))
    WinnowIndex.delete(spark, idx, Seq(1L).toDF("id"))
    // The lifecycle cell purgeTombstones refuses:
    intercept[IllegalArgumentException] { WinnowIndex.purgeTombstones(spark, idx) }
    val merged = WinnowIndex.compact(spark, idx, purge = true)
    assert(merged == 2, s"two batch partitions must merge, got $merged")
    assert(!spark.catalog.tableExists(idx + "_tombstones"),
      "purge-compact must clear the tombstone list")
    assert(spark.table(idx).where(col("id") === 1L).count() == 0,
      "tombstoned postings must be physically gone")
    // ≡ rebuild-on-live: same probe pairs AND n_shared counts as a
    // fresh batch index built on the live docs only.
    WinnowIndex.build(
      batch0.unionByName(batch1).where(col("doc_id") =!= 1L),
      "doc_id", "text", idx + "_rebuild")
    assert(probe(idx) == probe(idx + "_rebuild"),
      "purged streaming index must probe exactly like a rebuild on live docs")
    // A second purge-compact is a safe no-op (nothing to merge or purge).
    assert(WinnowIndex.compact(spark, idx, purge = true) == 0)
  }

  test("streaming layout: compact(purge=true) recomputes BM25 stats — probe equals live-corpus scan bit-for-bit") {
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import graft.streaming.StreamOps
    val docs = Seq(
      (0L, "data dedup data pipeline"),
      (1L, "dedup of data at scale"),
      (2L, "a wholly different subject"),
      (3L, "data data data everywhere"),
      (4L, "dedup dedup and more dedup"),
      (5L, "short data note")).toDF("doc_id", "text")
    val table = "stream_purge_bm25_idx"
    IndexLifecycle.clear(spark, PostingsIndex.state(table))
    val idT = LongType
    graft.io.Writer.emptyPartitionedBucketedTable(spark, table,
      StructType(Seq(StructField("term", StringType), StructField("id", idT),
        StructField("tf", LongType), StructField("dl", LongType),
        StructField(StreamOps.BatchTag, LongType))),
      StreamOps.BatchTag, "term", 16)
    graft.io.Writer.emptyPartitionedBucketedTable(spark, table + "_docs",
      StructType(Seq(StructField("id", idT), StructField("dl", LongType),
        StructField(StreamOps.BatchTag, LongType))),
      StreamOps.BatchTag, "id", 16)
    graft.io.Writer.emptyPartitionedBucketedTable(spark, table + "_stats",
      StructType(Seq(StructField("n_docs", LongType),
        StructField("sum_dl", LongType),
        StructField(StreamOps.BatchTag, LongType))),
      StreamOps.BatchTag, "n_docs", 1)
    // Two micro-batches, exactly streamIngest's per-batch writes.
    Seq(0L, 1L).foreach { b =>
      val part = docs.where(pmod(col("doc_id"), lit(2L)) === b)
      val dls = PostingsIndex.docLengths(part, "doc_id", "text")
        .localCheckpoint(true)
      StreamOps.writeBatchSinks(spark, b, Seq(
        table -> PostingsIndex.postings(part, "doc_id", "text"),
        (table + "_docs") -> dls,
        (table + "_stats") -> PostingsIndex.statsOf(dls)))
    }
    def probed() = PostingsIndex.probe(spark, table, Seq("dup", "data"), 10)
      .select(col("id"), col("dl"), col("score"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // Delete two docs (stats deltas snapshot), then purge via compact.
    PostingsIndex.delete(spark, table, Seq(0L, 4L).toDF("id"))
    val liveDocs = docs.where(!col("doc_id").isin(0L, 4L))
    val expected = TextAnalysis
      .bm25TopK(liveDocs, "doc_id", "text", Seq("dup", "data"), 10)
      .select(col("doc_id"), col("dl"), col("score"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(probed() == expected,
      "tombstone-filtered probe must already equal the live-corpus scan")
    PostingsIndex.compact(spark, table, purge = true)
    assert(!spark.catalog.tableExists(table + "_tombstones"))
    assert(!spark.catalog.tableExists(table + "_stats_deltas"))
    assert(spark.table(table).where(col("id").isin(0L, 4L)).count() == 0,
      "tombstoned postings must be physically gone")
    assert(spark.table(table + "_docs").where(col("id").isin(0L, 4L)).count() == 0)
    assert(probed() == expected,
      "post-purge probe must equal the live-corpus scan bit-for-bit")
    val st = spark.table(table + "_stats")
      .agg(sum(col("n_docs")), sum(col("sum_dl"))).head()
    assert(st.getLong(0) == 4L, "stats must describe the live corpus only")
    // Another append + additive compact still works on the recomputed
    // watermark (the purge tag must not confuse the additive reader).
    val extra = Seq((6L, "data appendix")).toDF("doc_id", "text")
    val dls6 = PostingsIndex.docLengths(extra, "doc_id", "text").localCheckpoint(true)
    StreamOps.writeBatchSinks(spark, 2L, Seq(
      table -> PostingsIndex.postings(extra, "doc_id", "text"),
      (table + "_docs") -> dls6,
      (table + "_stats") -> PostingsIndex.statsOf(dls6)))
    PostingsIndex.compact(spark, table)
    val expected2 = TextAnalysis
      .bm25TopK(liveDocs.unionByName(extra), "doc_id", "text",
        Seq("dup", "data"), 10)
      .select(col("doc_id"), col("dl"), col("score"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(probed() == expected2,
      "post-purge appends and additive compaction must keep probing the live corpus")
  }

  test("cell-partitioned purge drops a cell the takedown EMPTIES") {
    import spark.implicits._
    val e = Tables.embeddings(spark, TestSpark.sf0001)
    val corpus = e.where(col("vec_id") =!= 0)
    val t = "purge_empty_cell_idx"
    IndexLifecycle.clear(spark, IvfIndex.state(t, "vec_id"))
    IvfIndex.build(corpus, "vec_id", "embedding", t, k = 8, iters = 1)
    // Tombstone EVERY id of the smallest cell.
    val victimCell = spark.table(t).select(col("cluster_id"))
      .groupBy(col("cluster_id")).count().orderBy(col("count").asc)
      .first().getInt(0)
    val victims = spark.table(t).where(col("cluster_id") === victimCell)
      .select(col("vec_id").as("id"))
    val nVictims = victims.count()
    IvfIndex.delete(spark, t, victims)
    val removed = IvfIndex.purgeTombstones(spark, t, "vec_id")
    assert(removed == nVictims)
    assert(spark.table(t).where(col("cluster_id") === victimCell).count() == 0,
      "an emptied cell must not resurrect its tombstoned rows")
    assert(spark.table(t).count() > 0)
  }
}
