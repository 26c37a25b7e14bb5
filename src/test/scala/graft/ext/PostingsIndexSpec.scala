package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** PostingsIndex lifecycle semantics: an index built/appended in any
  * partition of the corpus must probe score-identically to the
  * scan-time BM25 (shared bm25Rank kernel), appends must be
  * doc-granularly idempotent, and zero-posting docs must still count
  * toward the corpus scalars (N, avgdl).
  */
class PostingsIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Small corpus with controlled term overlap: "dup" rare, "data"
    * common, plus an empty-text doc (dl = 1 via the single empty
    * token — same on scan and index paths) and a doc with neither
    * query term. */
  private lazy val corpus = Seq(
    (1L, "dup data alpha bravo"),
    (2L, "data data charlie delta data"),
    (3L, "alpha bravo charlie"),
    (4L, "dup dup data echo"),
    (5L, ""),
    (6L, "echo fox golf hotel india julia kilo lima"),
    (7L, "data alpha"),
    (8L, "dup zulu")).toDF("doc_id", "text")

  private val terms = Seq("dup", "data")

  private def scanTopK(df: org.apache.spark.sql.DataFrame, k: Int = 10) =
    TextAnalysis.bm25TopK(df, "doc_id", "text", terms, k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSeq

  private def probeTopK(table: String, k: Int = 10) =
    PostingsIndex.probe(spark, table, terms, k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSeq

  test("build + probe equals scan-time bm25TopK bit-for-bit") {
    PostingsIndex.build(spark, corpus, "doc_id", "text", "pidx_t1")
    assert(probeTopK("pidx_t1") == scanTopK(corpus),
      "index probe must reproduce the scan-time scores exactly")
  }

  test("append completes the corpus; a redelivered append is a no-op") {
    val old = corpus.where(col("doc_id") <= 5)
    val batch = corpus.where(col("doc_id") > 5)
    PostingsIndex.build(spark, old, "doc_id", "text", "pidx_t2")
    PostingsIndex.append(spark, "pidx_t2", batch, "doc_id", "text")
    val once = probeTopK("pidx_t2")
    assert(once == scanTopK(corpus),
      "built 5/8 + appended 3/8 must equal the one-shot scan")
    // Redelivery: same batch again — doc-granular anti-join must keep
    // postings, _docs AND _stats untouched or every score drifts.
    PostingsIndex.append(spark, "pidx_t2", batch, "doc_id", "text")
    assert(probeTopK("pidx_t2") == once, "re-appended batch must be a no-op")
    val st = spark.table("pidx_t2_stats")
      .agg(sum(col("n_docs")), sum(col("sum_dl"))).head()
    assert(st.getLong(0) == 8L, s"N inflated: ${st.getLong(0)}")
  }

  test("zero-posting and no-query-term docs still shape N and avgdl") {
    // Drop doc 5 ("" → dl 1, no query terms) and doc 6 (8 tokens, no
    // query terms): neither ever matches, but both move avgdl — the
    // probe must rank differently without them.
    val without = corpus.where(col("doc_id") =!= 5 && col("doc_id") =!= 6)
    PostingsIndex.build(spark, corpus, "doc_id", "text", "pidx_t3a")
    PostingsIndex.build(spark, without, "doc_id", "text", "pidx_t3b")
    val full = probeTopK("pidx_t3a")
    assert(full == scanTopK(corpus))
    assert(probeTopK("pidx_t3b") == scanTopK(without))
    assert(full.map(_._5) != probeTopK("pidx_t3b").map(_._5),
      "removing non-matching docs must still move the scores via avgdl/N")
  }

  test("probeBatch: N queries, one postings contact, bit-identical to per-query probes") {
    PostingsIndex.build(spark, corpus, "doc_id", "text", "pidx_t5")
    val batch = Seq((0L, Seq("dup", "data")), (1L, Seq("data")),
      (2L, Seq("dup", "echo", "alpha")))
    val got = PostingsIndex.probeBatch(spark, "pidx_t5", batch, topK = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    batch.foreach { case (qid, ts) =>
      val single = PostingsIndex.probe(spark, "pidx_t5", ts, 5)
        .select(col("id"), col("dl"), col("score"))
        .collect().map(r => (qid, r.getLong(0), r.getLong(1),
          r.getDouble(2))).toSeq
      assert(got.filter(_._1 == qid).toSeq == single,
        s"batch result for query $qid must equal the single probe bit-for-bit")
    }
  }

  test("streamIngest: checkpointed restart resumes; probe == scan; compact preserves probe and stats") {
    import java.nio.file.{Files, Paths}
    val base = Files.createTempDirectory("graft_pidx_restart_").toString
    val inDir = s"$base/in"
    val ckpt = s"$base/ckpt"
    Files.createDirectories(Paths.get(inDir))
    val table = "pidx_stream_spec"
    def addShard(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val w = s"$base/w_$name"
      df.coalesce(1).write.mode("overwrite").parquet(w)
      val part = new java.io.File(w).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(inDir, s"$name.parquet"))
    }
    def run(): Int = {
      val stream = spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir)
      PostingsIndex.streamIngest(spark, table, stream, "doc_id", "text",
        queryName = "pidx_stream_spec_q", checkpointLocation = Some(ckpt))._2
    }
    // Run 1 ingests shard 0, then the driver "dies" (query ended).
    addShard(corpus.where(col("doc_id") <= 4), "shard_0")
    assert(run() == 1, "first run must process exactly its one file")
    // Restart with the same checkpoint: only the new file is
    // processed, run 1's partitions survive, and the probe over the
    // stream-built index equals the one-shot corpus scan bit-for-bit.
    addShard(corpus.where(col("doc_id") > 4), "shard_1")
    assert(run() == 1, "restart must process only the uncommitted file")
    val probe = probeTopK(table)
    assert(probe == scanTopK(corpus),
      "stream-built index must probe identically to the scan")
    def nIndexed() = spark.table(table + "_stats")
      .agg(sum(col("n_docs"))).head().getLong(0)
    assert(nIndexed() == 8L, "per-batch stats rows must sum to the corpus")
    // Compact all three tables: probe results and the additive stats
    // sum must be unchanged (compact is a row-preserving rewrite).
    val merged = PostingsIndex.compact(spark, table,
      checkpointLocation = Some(ckpt))
    assert(merged >= 2, s"expected >= 2 partitions merged, got $merged")
    assert(probeTopK(table) == probe, "compact must not change probe results")
    assert(nIndexed() == 8L, "compact must not change the stats mass")
  }

  test("a fresh streamIngest into a reused name drops the old index's takedown state") {
    import java.nio.file.{Files, Paths}
    val base = Files.createTempDirectory("graft_pidx_reuse_").toString
    val inDir = s"$base/in"
    Files.createDirectories(Paths.get(inDir))
    corpus.coalesce(1).write.mode("overwrite").parquet(s"$base/w")
    val part = new java.io.File(s"$base/w").listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    Files.move(part.toPath, Paths.get(inDir, "all.parquet"))
    val table = "pidx_reuse_spec"
    def ingest(): Unit = {
      val stream = spark.readStream.schema(corpus.schema).parquet(inDir)
      PostingsIndex.streamIngest(spark, table, stream, "doc_id", "text",
        queryName = "pidx_reuse_spec_q")
    }
    ingest()
    PostingsIndex.delete(spark, table, Seq(4L).toDF("id"))
    assert(probeTopK(table) == scanTopK(corpus.where(col("doc_id") =!= 4L)))
    // No checkpoint: the second ingest is fresh, so it starts from an
    // empty index — no tombstones AND no stats deltas of the old one.
    ingest()
    assert(!spark.catalog.tableExists(table + "_tombstones"))
    assert(!spark.catalog.tableExists(table + "_stats_deltas"),
      "a fresh ingest must drop the old index's takedown stats deltas")
    assert(probeTopK(table) == scanTopK(corpus),
      "a fresh ingest must score like the scan over the whole corpus")
  }

  test("delete: probe equals scan on the live corpus (idf/avgdl shift too); purge stable") {
    val table = "pidx_del"
    if (spark.catalog.tableExists(table + "_tombstones"))
      spark.sql(s"DROP TABLE ${table}_tombstones")
    PostingsIndex.build(spark, corpus, "doc_id", "text", table)
    // Delete doc 4 (two 'dup' postings + a 'data' one): df, N and
    // avgdl all change — the probe must equal a scan on the rest.
    PostingsIndex.delete(spark, table, Seq(4L).toDF("id"))
    val live = corpus.where(col("doc_id") =!= 4L)
    assert(probeTopK(table) == scanTopK(live),
      "tombstoned probe must equal the live-corpus scan bit-for-bit")
    // Idempotent re-delete; then a second id.
    PostingsIndex.delete(spark, table, Seq(4L, 4L).toDF("id"))
    PostingsIndex.delete(spark, table, Seq(2L).toDF("id"))
    val live2 = corpus.where(!col("doc_id").isin(2L, 4L))
    val before = probeTopK(table)
    assert(before == scanTopK(live2))
    val purged = PostingsIndex.purgeTombstones(spark, table)
    assert(purged > 0, "purge must remove the deleted docs' postings")
    assert(!spark.catalog.tableExists(table + "_tombstones"))
    assert(!spark.catalog.tableExists(table + "_stats_deltas"),
      "purge must absorb the takedown deltas into the recomputed stats")
    assert(probeTopK(table) == before, "purge never changes answers")
    assert(PostingsIndex.purgeTombstones(spark, table) == 0L)
  }

  test("delete snapshots the stats correction: post-takedown probe plan never touches _docs") {
    val table = "pidx_del_plan"
    PostingsIndex.build(spark, corpus, "doc_id", "text", table)
    PostingsIndex.delete(spark, table, Seq(4L).toDF("id"))
    // The correction was paid once, at delete time, into the k-row
    // _stats_deltas table — so the probe's corpus contact stays the
    // query terms' postings even with tombstones standing.
    val plan = PostingsIndex.probe(spark, table, terms, 10)
      .queryExecution.executedPlan.toString
    assert(!plan.contains(table + "_docs"),
      "post-takedown probe must not semi-join the corpus-sized _docs " +
        "table for the stats correction — that is the per-probe cost " +
        "the delete-time snapshot exists to remove")
    assert(plan.contains(table + "_stats_deltas"),
      "probe must read the k-row takedown delta table instead")
    // And the scores off that plan are still the live-corpus scan's.
    assert(probeTopK(table) == scanTopK(corpus.where(col("doc_id") =!= 4L)))
  }

  test("stats compact is additive: identical per-batch rows never collapse; crash leftovers never double-count") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import graft.io.Writer
    import graft.streaming.StreamOps
    val t = "pidx_stats_additive"
    Writer.emptyPartitionedBucketedTable(spark, t,
      StructType(Seq(StructField("n_docs", LongType),
        StructField("sum_dl", LongType),
        StructField(StreamOps.BatchTag, LongType))),
      StreamOps.BatchTag, "n_docs", 1)
    def statsRow() = Seq((4L, 20L)).toDF("n_docs", "sum_dl")
    def mass() = spark.table(t)
      .agg(coalesce(sum(col("n_docs")), lit(0L)),
        coalesce(sum(col("sum_dl")), lit(0L))).head()
    val agg: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      _.agg(coalesce(sum(col("n_docs")), lit(0L)).as("n_docs"),
        coalesce(sum(col("sum_dl")), lit(0L)).as("sum_dl"))
    // Two batches with IDENTICAL delta rows — compactSink's distinct()
    // would collapse them to one and halve the corpus mass.
    StreamOps.writeBatchToSink(spark, t, statsRow(), 0L)
    StreamOps.writeBatchToSink(spark, t, statsRow(), 1L)
    assert(mass().getLong(0) == 8L)
    StreamOps.compactSinkAdditive(spark, t, agg)
    assert(mass().getLong(0) == 8L && mass().getLong(1) == 40L,
      "additive compact must sum identical per-batch rows, never distinct them")
    assert(spark.table(t).count() == 1L, "compacted stats is one row")
    // Crash simulation: batch 2 arrives, a compact writes its merged
    // partition (watermark 2 → tag -4) and dies before dropping the
    // absorbed partitions. A re-run must retire the leftovers without
    // re-summing them.
    StreamOps.writeBatchToSink(spark, t, statsRow(), 2L)
    StreamOps.writeBatchToSink(spark, t,
      Seq((12L, 60L)).toDF("n_docs", "sum_dl"), -4L)
    assert(mass().getLong(0) == 24L, "precondition: leftovers double-count")
    StreamOps.compactSinkAdditive(spark, t, agg)
    assert(mass().getLong(0) == 12L && mass().getLong(1) == 60L,
      "re-run must keep the newest merged partition and drop absorbed leftovers")
    // A distinct-compacted (-1) partition poisons the watermark space:
    // additive compact must refuse, not corrupt.
    StreamOps.writeBatchToSink(spark, t, statsRow(), -1L)
    intercept[IllegalStateException] {
      StreamOps.compactSinkAdditive(spark, t, agg)
    }
  }

  test("probe plan: term-pruned postings scan, no _docs contact, no corpus-keyed join") {
    PostingsIndex.build(spark, corpus, "doc_id", "text", "pidx_t4")
    val plan = PostingsIndex.probe(spark, "pidx_t4", terms, 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("pidx_t4"), "probe must read the posting table")
    assert(!plan.contains("pidx_t4_docs"),
      "probe must never touch the corpus-sized _docs table — dl rides in the posting row")
    assert(plan.contains("term IN (dup,data)") || plan.contains("term#"),
      "term filter missing from the probe plan")
    assert(!plan.contains("SortMergeJoin"),
      "probe joins are 1-row report assembly — a sort-merge join means a corpus-keyed join crept in")
  }
}
