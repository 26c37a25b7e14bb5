package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Streaming/batch parity + stateful-operator semantics. Bounded parity
  * runs use the driver events table; sessionization is pinned with a
  * MemoryStream so multi-batch state transitions and event-time
  * timeouts are actually exercised.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("streaming daily counts equal the batch daily series (bounded parity)") {
    val streamed = StreamOps.runAvailableNow(
      StreamOps.dailyCounts(StreamOps.eventsStream(spark, TestSpark.sf0001)),
      "t_daily")
    val batch = graft.quality.Timeliness.dailyCounts(
      graft.Tables.events(spark, TestSpark.sf0001), col("ts"))
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("sourceBytes sees a file stream's bytes before any batch exists") {
    // Regression pin for the r22 bucket-scaling finding: collecting
    // StreamingRelation from the UNANALYZED plan read 0 bytes for
    // every file stream (Spark 4.1 keeps one UnresolvedDataSource
    // there), silently flooring every micro-batch sink at 1 bucket
    // whatever the source size.
    val stream = StreamOps.eventsStream(spark, TestSpark.sf0001)
    val bytes = StreamOps.sourceBytes(stream)
    assert(bytes > 0, "a file-backed stream must report its source bytes")
    // The derivation actually scales: at a 1-byte target the bucket
    // count must leave the clamp floor.
    assert(StreamOps.scaledSinkBuckets(stream, targetBytes = 1L) > 1)
    // Non-file sources read 0 and size conservatively.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[Long](spark)
    assert(StreamOps.sourceBytes(mem.toDF()) == 0L)
    assert(StreamOps.scaledSinkBuckets(mem.toDF()) == 1)
  }

  test("sourceBytes: nested dirs counted, hidden and metadata entries skipped, glob honoured") {
    import java.nio.file.Files
    // The per-directory walk sourceBytes replaced — the reference its
    // one recursive listing must agree with byte for byte.
    def walked(stream: org.apache.spark.sql.DataFrame): Long = {
      val conf = spark.sessionState.newHadoopConf()
      stream.queryExecution.analyzed.collect {
        case sr: org.apache.spark.sql.execution.streaming.runtime.StreamingRelation =>
          val glob = sr.dataSource.options.get("pathGlobFilter")
            .map(g => new org.apache.hadoop.fs.GlobFilter(g))
          (sr.dataSource.paths ++ sr.dataSource.options.get("path")).distinct.map { raw =>
            val p = new org.apache.hadoop.fs.Path(raw)
            val fs = p.getFileSystem(conf)
            def walk(p0: org.apache.hadoop.fs.Path): Long =
              fs.listStatus(p0).map { st =>
                val name = st.getPath.getName
                if (name.startsWith(".") || name.startsWith("_")) 0L
                else if (st.isDirectory) walk(st.getPath)
                else if (glob.forall(_.accept(st.getPath))) st.getLen
                else 0L
              }.sum
            if (fs.exists(p)) walk(p) else 0L
          }.sum
      }.sum
    }
    val root = Files.createTempDirectory("graft_source_bytes_")
    try {
      def put(rel: String, n: Int): Unit = {
        val f = root.resolve(rel)
        Files.createDirectories(f.getParent)
        Files.write(f, Array.fill[Byte](n)(1))
      }
      put("a.json", 100)
      put("sub/b.json", 200)
      put("sub/deeper/c.json", 300)
      put("sub/notes.txt", 7)
      put("_SUCCESS", 11)
      put(".a.json.crc", 13)
      put("sub/.b.json.crc", 17)
      put("_spark_metadata/0", 19)
      put(".hidden/d.json", 23)
      put("sub/_tmp/e.json", 29)
      val schema = "id LONG, text STRING"
      val all = spark.readStream.schema(schema).json(root.toString)
      assert(StreamOps.sourceBytes(all) == 607L)
      assert(StreamOps.sourceBytes(all) == walked(all))
      val globbed = spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.json").json(root.toString)
      assert(StreamOps.sourceBytes(globbed) == 600L)
      assert(StreamOps.sourceBytes(globbed) == walked(globbed))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
    // The existing fixtures: a Spark-written parquet directory (with
    // its _SUCCESS marker and .crc side files) and the glob-filtered
    // events stream over a shared sf directory.
    val staged = Files.createTempDirectory("graft_source_bytes_pq_").resolve("t")
    try {
      spark.range(0, 5000, 1, 4).selectExpr("id", "cast(id as string) as text")
        .write.parquet(staged.toString)
      val pq = spark.readStream.schema("id LONG, text STRING").parquet(staged.toString)
      assert(StreamOps.sourceBytes(pq) > 0L)
      assert(StreamOps.sourceBytes(pq) == walked(pq))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(staged.getParent.toFile)
    val events = StreamOps.eventsStream(spark, TestSpark.sf0001)
    assert(StreamOps.sourceBytes(events) == walked(events))
  }

  test("withScaledStatePartitions refuses Par threads and restores the conf") {
    // The conf-scope guard (VERDICT r21 #8 / ADVICE r21): a Par-thread
    // caller would leak the stream-sized shuffle.partitions into
    // sibling actions planning on the same session.
    val e = intercept[IllegalArgumentException] {
      graft.ext.Par.await(graft.ext.Par.future(
        StreamOps.withScaledStatePartitions(spark, 100L)(1)))
    }
    assert(e.getMessage.contains("Par thread"))
    // Off a Par thread the scope applies and restores.
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    val inside = StreamOps.withScaledStatePartitions(spark, 100L)(
      spark.conf.get("spark.sql.shuffle.partitions"))
    assert(inside == "1", "100 bytes must scale to 1 state partition")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == saved)
  }

  test("streaming dedup removes planted duplicate keys") {
    val input = MemoryStream[(Long, String)](spark)
    input.addData((1L, "a"), (1L, "a"), (2L, "b"), (3L, "a"), (2L, "b"))
    val q = StreamOps.dedup(input.toDF().toDF("id", "kind"), Seq("id", "kind"))
      .writeStream.format("memory").queryName("t_dedup")
      .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("t_dedup").count() == 3)
  }

  test("sessionization: gap splits sessions; a later event closes the previous session") {
    def ts(minute: Int) = new Timestamp(3600L * 1000 + minute * 60L * 1000)
    val input = MemoryStream[StreamOps.SessionEvent](spark)
    // user 7: events at minute 0, 10 (one session), then 200, 205 (a
    // second session that CLOSES the first via the 60-min gap), then a
    // third at 500 closing the second.
    input.addData(
      StreamOps.SessionEvent(7L, ts(0)), StreamOps.SessionEvent(7L, ts(10)),
      StreamOps.SessionEvent(7L, ts(200)), StreamOps.SessionEvent(7L, ts(205)),
      StreamOps.SessionEvent(7L, ts(500)),
      // user 8: one event at minute 0 — its session closes via the
      // EVENT-TIME TIMEOUT once the final watermark (max ts − 60 min =
      // minute 440) passes its timeout at minute 60.
      StreamOps.SessionEvent(8L, ts(0)))
    val sessions = StreamOps.sessionize(input.toDS(), gapMinutes = 60)
    val q = sessions.writeStream.format("memory").queryName("t_sessions")
      .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.table("t_sessions")
      .select(col("user_id"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted
    // User 7: sessions (0,10) and (200,205) closed by in-stream gaps;
    // the (500) session's timeout (560) is beyond the watermark → open.
    // User 8: closed by timeout, 1 event.
    assert(rows == Seq((7L, 2), (7L, 2), (8L, 1)),
      s"expected two gap-closed and one timeout-closed session, got $rows")
  }

  test("stream-stream interval join matches in-window pairs only, with bounded state") {
    def ts(minute: Int) = new Timestamp(3600L * 1000 + minute * 60L * 1000)
    val clicks = MemoryStream[(Long, Timestamp)](spark)
    val views = MemoryStream[(Long, Timestamp)](spark)
    clicks.addData((1L, ts(30)), (1L, ts(100)), (2L, ts(30)))
    views.addData((1L, ts(10)), (1L, ts(95)), (3L, ts(10)))
    val joined = StreamOps.intervalJoin(
      clicks.toDF().toDF("user_id", "ts"),
      views.toDF().toDF("user_id", "ts").withColumn("view_tag", lit("v")),
      "user_id", "ts", windowMinutes = 30, watermark = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("t_ssjoin")
      .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.table("t_ssjoin")
      .select(col("user_id"), col("ts"), col("ts_r"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 60000L - 60,
        r.getTimestamp(2).getTime / 60000L - 60)).toSet
    // click@30 sees view@10 (20 min back, in window); click@100 sees
    // view@95 (5 min back) but NOT view@10 (90 min back); user 2's
    // click has no views; user 3's view has no clicks.
    assert(rows == Set((1L, 30L, 10L), (1L, 100L, 95L)),
      s"unexpected interval-join result: $rows")
    // Both watermarks present → the runtime can evict right-side state
    // older than watermark − window (bounded-state contract).
    assert(joined.isStreaming, "interval join must stay a streaming frame")
  }

  test("left-outer interval join: null-pads only below the min-source watermark") {
    def ts(minute: Int) = new Timestamp(3600L * 1000 + minute * 60L * 1000)
    val clicks = MemoryStream[(Long, Timestamp)](spark)
    val views = MemoryStream[(Long, Timestamp)](spark)
    // Final watermark = min(max click, max view) − 10 min = min(200, 95) − 10 = 85.
    // click@30 unmatched (no view in [0,30]) and 30 < 85 → null-pads;
    // click@90 unmatched but 90 ≥ 85 → withheld (a view could still come);
    // click@60 matches view@55.
    clicks.addData((1L, ts(30)), (1L, ts(60)), (1L, ts(90)), (1L, ts(200)))
    views.addData((1L, ts(55)), (1L, ts(95)))
    val joined = StreamOps.intervalJoin(
      clicks.toDF().toDF("user_id", "ts"),
      views.toDF().toDF("user_id", "ts").withColumn("view_tag", lit("v")),
      "user_id", "ts", windowMinutes = 30, watermark = "10 minutes",
      joinType = "left_outer")
    val q = joined.writeStream.format("memory").queryName("t_ssouter")
      .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("t_ssouter")
      .select(col("user_id"), col("ts"), col("ts_r"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 60000L - 60,
        if (r.isNullAt(2)) -1L else r.getTimestamp(2).getTime / 60000L - 60)).toSet
    // click@90 does NOT match view@95 (ts_r ≤ ts fails) and 90 ≥ 85 →
    // withheld; click@200's only candidate view@95 is outside [170,200]
    // and 200 ≥ 85 → withheld.
    assert(streamed == Set((1L, 60L, 55L), (1L, 30L, -1L)),
      s"unexpected outer emission: $streamed")
    // The batch twin must reproduce the emitted multiset exactly.
    import spark.implicits._
    val cb = Seq((1L, ts(30)), (1L, ts(60)), (1L, ts(90)), (1L, ts(200)))
      .toDF("user_id", "ts")
    val vb = Seq((1L, ts(55)), (1L, ts(95))).toDF("user_id", "ts")
      .withColumn("view_tag", lit("v"))
    val twin = StreamOps.intervalJoinLeftOuterEmitted(cb, vb,
        "user_id", "ts", windowMinutes = 30, watermarkMinutes = 10)
      .select(col("user_id"), col("ts"), col("ts_r"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 60000L - 60,
        if (r.isNullAt(2)) -1L else r.getTimestamp(2).getTime / 60000L - 60)).toSet
    assert(twin == streamed, s"twin $twin != streamed $streamed")
  }

  test("foreachBatch bridges a stream into batch parquet appends") {
    val out = java.nio.file.Files.createTempDirectory("graft_febatch").toString
    // Idiomatic production shape: raw stream in, arbitrary BATCH logic
    // per micro-batch (aggregate + size-aware write) in the handler.
    val q = StreamOps.foreachBatchSink(
      StreamOps.eventsStream(spark, TestSpark.sf0001), "t_febatch") {
      (batch, batchId) =>
        graft.quality.Timeliness.dailyCounts(batch, col("ts"))
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(out)
    }
    q.awaitTermination()
    val written = spark.read.parquet(out)
      .groupBy(col("day")).agg(sum(col("n")).as("n")) // re-merge batches
      .select(col("day"), col("n"))
    val expected = graft.quality.Timeliness.dailyCounts(
      graft.Tables.events(spark, TestSpark.sf0001), col("ts"))
    assert(written.exceptAll(expected).count() == 0)
    assert(expected.exceptAll(written).count() == 0)
  }

  test("sessionization handles multi-batch state carry-over") {
    def ts(minute: Int) = new Timestamp(3600L * 1000 + minute * 60L * 1000)
    val input = MemoryStream[StreamOps.SessionEvent](spark)
    val sessions = StreamOps.sessionize(input.toDS(), gapMinutes = 60)
    val q = sessions.writeStream.format("memory").queryName("t_sessions2")
      .outputMode(OutputMode.Append).start()
    // Batch 1: open a session. Batch 2: extend it within the gap.
    // Batch 3: an event far in the future closes it.
    input.addData(StreamOps.SessionEvent(1L, ts(0)))
    q.processAllAvailable()
    input.addData(StreamOps.SessionEvent(1L, ts(30)))
    q.processAllAvailable()
    input.addData(StreamOps.SessionEvent(1L, ts(1000)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("t_sessions2")
      .select(col("user_id"), col("n_events")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(rows == Seq((1L, 2)),
      s"the 2-event session spanning batches 1-2 must close in batch 3, got ${rows.toList}")
  }
}
