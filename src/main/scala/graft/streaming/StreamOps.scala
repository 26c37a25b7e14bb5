package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured Streaming surface (SURVEY §7.6: the reference defers
  * streaming to future work — README.md:42 — and names the timeliness
  * check as its natural streaming twin; this module is that twin).
  *
  * Batch/stream parity contract: every op here is the streaming
  * re-expression of a batch operator with the SAME result on a bounded
  * input — `dailyCounts` ≡ quality.Timeliness.dailyCounts, `dedup` ≡
  * quality.Uniqueness.dropDups — verified by the oracle at sf0.01
  * (q_stream_daily_counts) and by StreamingSpec.
  *
  * Scale notes: windowed aggregation state is keyed by (window, key)
  * and pruned by the watermark; dedup state is bounded by
  * `dropDuplicatesWithinWatermark` in production mode (exact in-batch
  * dedup for the bounded AvailableNow runs used here). Sessionization
  * uses flatMapGroupsWithState with event-time timeout — state per
  * active user only.
  */
object StreamOps {

  /** SCALE-ADAPTIVE state-partition count for STATEFUL streaming
    * queries (r21, optimization guide §2.2/§2.5 "derive partitioning
    * from input size, not a constant tuned for local or cluster"):
    * every stateful operator creates `spark.sql.shuffle.partitions`
    * state-store instances, and each instance pays a fixed
    * provider-load + delta-commit cost PER MICRO-BATCH — at the
    * session default (= core count) a 2 MB bounded fixture pays 32
    * store commits × stores × batches of pure overhead (measured r21:
    * x_stream_interval_join 9.5 s at 32 partitions → 2.7 s at 4, the
    * state machinery being ~70 % of the wall), while at 100 TB a
    * core-count constant is far too FEW. Partitions are therefore
    * sized to the stream's INPUT BYTES against a per-partition
    * target: ~32 MB of input per state partition (override with
    * `spark.graft.stream.statePartitionTargetBytes`), clamped to
    * [1, 32768]. Results are partition-count-invariant for every
    * operator this wraps (aggregations, joins, dedup,
    * flatMapGroupsWithState sessions; the MG sketch runs k ≥ vocab =
    * exact) — re-proved against the DuckDB oracle after the change.
    */
  def scaledStatePartitions(spark: SparkSession, inputBytes: Long): Int = {
    val target = spark.conf.getOption(
        "spark.graft.stream.statePartitionTargetBytes")
      .map(_.toLong).getOrElse(32L * 1024 * 1024)
    math.min(math.max(1L, (inputBytes + target - 1) / target), 32768L).toInt
  }

  /** Run `body` (which must START and AWAIT its streaming query) with
    * `spark.sql.shuffle.partitions` scoped to the scaled state count —
    * the streaming runtime captures the conf at query start and pins
    * it in the checkpoint, so the scope must cover the start. The
    * batch twins a parity gate builds around the stream read the
    * RESTORED conf at their own action time (lazy frames), keeping
    * batch plans on the session's normal fan-out. */
  def withScaledStatePartitions[T](spark: SparkSession, inputBytes: Long)
                                  (body: => T): T = {
    // GUARD (r22, VERDICT r21 #8 / ADVICE r21): this is a session-conf
    // save/set/restore — the exact scope-race pattern the r21 round
    // eliminated for partitionOverwriteMode. Under Par (or any driver
    // thread overlapping this scope on the same session) a sibling
    // batch action planned inside the scope would silently plan at the
    // stream-sized (often 1) partition count, and concurrent scopes
    // would race the restore. No call site overlaps it today; this
    // require keeps the cheap-to-miss case (wrapping a gate leg in
    // Par next round) from compiling into a silent perf bug.
    require(!Thread.currentThread().getName.startsWith("graft-par-"),
      "withScaledStatePartitions must not run on a Par thread: the " +
        "shuffle.partitions scope would leak into sibling actions " +
        "planning on the same session")
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    spark.conf.set(key, scaledStatePartitions(spark, inputBytes).toString)
    try body finally spark.conf.set(key, saved)
  }

  /** On-disk bytes of the events table a [[eventsStream]] run will
    * ingest — the input-size hint for [[withScaledStatePartitions]]
    * (FS metadata only). */
  def eventsBytes(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/events.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** On-disk bytes of a FILE-BACKED streaming source, from FS listing
    * metadata only (r22, VERDICT r21 #4): the plan's StreamingRelation
    * carries the DataSource path options, so the bytes the stream WILL
    * deliver are knowable before the first batch exists — exactly when
    * a micro-batch sink's bucket count must be chosen. Honors
    * `pathGlobFilter` (a shared directory's other tables must not
    * inflate the estimate). Non-file sources (memory streams in specs)
    * and missing paths read 0 — callers size conservatively from it
    * ([[scaledSinkBuckets]] floors at 1 bucket). */
  def sourceBytes(stream: DataFrame): Long = {
    val conf = stream.sparkSession.sessionState.newHadoopConf()
    // The ANALYZED plan, not `logical`: a raw `readStream...parquet(p)`
    // frame's unanalyzed plan in Spark 4.1 is one UnresolvedDataSource
    // node — StreamingRelation only exists after analysis. (Caught by
    // the r22 bucket-scaling evidence leg: against `logical` this read
    // 0 bytes for every file stream and all sinks silently floored at
    // 1 bucket whatever the source size.)
    stream.queryExecution.analyzed.collect {
      case sr: org.apache.spark.sql.execution.streaming.runtime.StreamingRelation =>
        val opts = sr.dataSource.options
        val glob = opts.get("pathGlobFilter")
          .map(g => new org.apache.hadoop.fs.GlobFilter(g))
        val paths = (sr.dataSource.paths ++ opts.get("path")).distinct
        paths.map { raw =>
          val p = new org.apache.hadoop.fs.Path(raw)
          val fs = p.getFileSystem(conf)
          if (!fs.exists(p)) 0L
          else {
            // One recursive listing (a paged flat listing on object
            // stores) instead of a listStatus per directory. Hidden
            // and metadata entries (`.crc`, `_SUCCESS`,
            // `_spark_metadata/`) are skipped wherever they sit below
            // the root; a root that is a file is judged by its own
            // name.
            val root = fs.makeQualified(p).toUri.getPath.stripSuffix("/")
            val it = fs.listFiles(p, true)
            var bytes = 0L
            while (it.hasNext) {
              val st = it.next()
              val f = st.getPath
              val rel = f.toUri.getPath.stripPrefix(root).stripPrefix("/")
              val parts = if (rel.isEmpty) Array(f.getName) else rel.split('/')
              if (!parts.exists(n => n.startsWith(".") || n.startsWith("_")) &&
                  glob.forall(_.accept(f)))
                bytes += st.getLen
            }
            bytes
          }
        }.sum
    }.sum
  }

  /** Scale-adaptive bucket count for a stream's micro-batch SINK
    * tables, derived from [[sourceBytes]] (guide §6: size files to the
    * data — the r21 batch-build fix applied to the streaming sinks,
    * whose frames don't exist at sink-creation time). A fixture-scale
    * stream gets 1 bucket (one file + one commit rename per batch
    * insert, not 16 near-empty ones — the measured per-insert cost);
    * a TB-scale source grows the count. Bucket count is physical
    * layout only: probes read the catalog spec, results are
    * bucket-count-invariant. */
  def scaledSinkBuckets(stream: DataFrame,
                        targetBytes: Long = 32L * 1024 * 1024): Int =
    graft.io.Writer.scaledBucketsForBytes(BigInt(sourceBytes(stream)),
      targetBytes)

  /** `readStream` over the events parquet directory, with the same
    * `ts` normalization as the batch loader (graft.Tables.events) —
    * nanos-as-long → micros, TIMESTAMP_NTZ → session-tz timestamp —
    * so stream and batch see identical rows and `withWatermark` always
    * gets a TimestampType event-time column. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    // Same save/restore scoping as graft.Tables.events: the flag is
    // read at relation resolution, and a loader must not leave a
    // session-global legacy flag flipped behind it.
    val flag = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(flag)
    spark.conf.set(flag, "true")
    try {
      val batchSchema = spark.read.parquet(s"$dir/events.parquet").schema
      // The file stream source lists a DIRECTORY; select just the events
      // table from the shared sf dir with a glob filter.
      val raw = spark.readStream.schema(batchSchema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
      batchSchema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          raw.withColumn("ts",
            col("ts").cast(org.apache.spark.sql.types.TimestampType))
        case _ => raw
      }
    } finally prev match {
      case Some(v) => spark.conf.set(flag, v)
      case None => spark.conf.unset(flag)
    }
  }

  /** Tumbling 1-day window counts with a watermark — the streaming twin
    * of the batch daily series (reference A9). */
  def dailyCounts(events: DataFrame, watermark: String = "1 day"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").cast("date").as("day"), col("n"))

  /** Streaming exact dedup over the given key columns (all columns =
    * reference A7). Bounded runs use full-state dropDuplicates (exact);
    * unbounded deployments should pass a watermark column and use
    * `withinWatermark = true` so state is pruned. */
  def dedup(events: DataFrame, keys: Seq[String],
            withinWatermark: Boolean = false, watermark: String = "1 day"): DataFrame =
    if (withinWatermark)
      events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)
    else events.dropDuplicates(keys)

  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp)
  final case class SessionState(start: Long, last: Long, nEvents: Int)
  final case class Session(user_id: Long, start: java.sql.Timestamp,
                           end: java.sql.Timestamp, n_events: Int)

  /** Gap-based sessionization: consecutive events of a user belong to
    * one session while the gap stays under `gapMinutes`. Emits closed
    * sessions via flatMapGroupsWithState with event-time timeout —
    * the canonical custom-state streaming operator.
    */
  def sessionize(events: Dataset[SessionEvent], gapMinutes: Int): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60L * 1000L

    def update(userId: Long, rows: Iterator[SessionEvent],
               state: GroupState[SessionState]): Iterator[Session] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        return Iterator(Session(userId, new java.sql.Timestamp(s.start),
          new java.sql.Timestamp(s.last), s.nEvents))
      }
      // Batches are not time-ordered within a group — sort locally.
      val times = rows.map(_.ts.getTime).toSeq.sorted
      var closed = List.empty[Session]
      var cur = state.getOption
      times.foreach { t =>
        cur match {
          // Overlapping or gap-adjacent event (including LATE events
          // inside the current span): widen, never regress `last` —
          // a late t < s.last must not shrink the session end.
          case Some(s) if t >= s.start - gapMs && t <= s.last + gapMs =>
            cur = Some(SessionState(math.min(s.start, t),
              math.max(s.last, t), s.nEvents + 1))
          // Too late to merge (t < start − gap): best effort, emit as
          // its own closed 1-event session; current session unchanged.
          case Some(s) if t < s.start - gapMs =>
            closed ::= Session(userId, new java.sql.Timestamp(t),
              new java.sql.Timestamp(t), 1)
          case Some(s) =>
            closed ::= Session(userId, new java.sql.Timestamp(s.start),
              new java.sql.Timestamp(s.last), s.nEvents)
            cur = Some(SessionState(t, t, 1))
          case None =>
            cur = Some(SessionState(t, t, 1))
        }
      }
      cur.foreach { s =>
        state.update(s)
        // Never set a timeout at/below the watermark — the runtime
        // rejects it and would kill the whole query.
        state.setTimeoutTimestamp(
          math.max(s.last + gapMs, state.getCurrentWatermarkMs() + 1))
      }
      closed.reverseIterator
    }

    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Batch twin of [[sessionize]]: lag + cumulative-sum gap
    * sessionization with identical merge semantics (an event extends
    * the session while `t <= last + gap`; a strictly larger gap opens a
    * new one). Timestamps are compared at millisecond precision, the
    * same truncation `sessionize` gets from `Timestamp.getTime`.
    * Partitioned window per user — shuffles once on the user key, no
    * global sort — so it scales like any keyed aggregation. */
  def sessionizeBatch(events: DataFrame, userCol: String, tsCol: String,
                      gapMinutes: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gapMs = gapMinutes * 60L * 1000L
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"))
    events.select(col(userCol).as("user_id"), unix_millis(col(tsCol)).as("ts_ms"))
      .withColumn("prev_ms", lag(col("ts_ms"), 1).over(byUser))
      .withColumn("new_session",
        (col("prev_ms").isNull || col("ts_ms") - col("prev_ms") > gapMs).cast("long"))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts_ms")).as("start_ms"), max(col("ts_ms")).as("end_ms"),
        count(lit(1)).cast("int").as("n_events"))
  }

  /** The subset of [[sessionizeBatch]] sessions a bounded
    * AvailableNow run of [[sessionize]] EMITS: sessions closed by a
    * later in-stream event (any session but the user's last), plus
    * last sessions whose event-time timeout (`end + gap`) falls
    * strictly below the final watermark (`global max ts − gap` —
    * Spark fires timeouts on `timeoutTimestamp < watermark`). This is
    * the exact batch expression of Append-mode emission, which makes
    * batch/stream sessionization parity oracle-checkable
    * (the x_stream_sessions parity bit). */
  def sessionizeBatchEmitted(events: DataFrame, userCol: String, tsCol: String,
                             gapMinutes: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gapMs = gapMinutes * 60L * 1000L
    val sessions = sessionizeBatch(events, userCol, tsCol, gapMinutes)
    // The final watermark is ONE scalar — collect it (the same
    // query-point pattern as the similarity top-k anchors) rather than
    // cross-joining a 1-row frame into every session.
    val maxRow = events.agg(max(unix_millis(col(tsCol)))).first()
    val watermarkMs =
      if (maxRow.isNullAt(0)) Long.MinValue else maxRow.getLong(0) - gapMs
    sessions
      .withColumn("last_sid",
        max(col("session_id")).over(Window.partitionBy(col("user_id"))))
      .where(col("session_id") < col("last_sid") ||
        col("end_ms") + gapMs < lit(watermarkMs))
      .select(col("user_id"), col("start_ms"), col("end_ms"), col("n_events"))
  }

  /** Stream-stream interval join: each left event is enriched with the
    * same key's right events from the preceding `windowMinutes`
    * (0 ≤ left.ts − right.ts ≤ window). BOTH sides carry watermarks,
    * so the join state is bounded: Spark evicts right-side state older
    * than `left watermark − window` instead of buffering the full
    * stream — the property that makes stream-stream joins viable on an
    * unbounded log. Inner join: unmatched left rows drop (an outer
    * interval join additionally waits out the watermark before
    * emitting nulls).
    *
    * Columns: the left side keeps `keyCol` and `tsCol` names; the
    * right side's ts is exposed as `ts_r` plus its payload columns.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
                   tsCol: String,
                   windowMinutes: Int, watermark: String,
                   joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(tsCol, watermark)
    val r = right
      .withColumnRenamed(tsCol, "ts_r")
      .withColumnRenamed(keyCol, "__rk")
      .withWatermark("ts_r", watermark)
    l.join(r,
      col(keyCol) === col("__rk") &&
        col("ts_r") <= col(tsCol) &&
        col("ts_r") >= col(tsCol) - expr(s"INTERVAL $windowMinutes MINUTES"),
      joinType)
      .drop("__rk")
  }

  /** The rows a bounded AvailableNow run of the LEFT-OUTER
    * [[intervalJoin]] emits, expressed in batch: every matched pair,
    * plus null-padded rows for unmatched left events whose event time
    * falls strictly below the final watermark. The query's watermark
    * is GLOBAL — the minimum over both sources' (max event time −
    * delay) — because either side could still deliver old rows until
    * its own max passes; an empty right source therefore never
    * advances the watermark and no null-padded row flushes, exactly
    * like the streaming query. Verified against the streaming
    * emission by the x_stream_outer_join parity bit. */
  def intervalJoinLeftOuterEmitted(left: DataFrame, right: DataFrame,
                                   keyCol: String, tsCol: String,
                                   windowMinutes: Int,
                                   watermarkMinutes: Int): DataFrame = {
    val delayMs = watermarkMinutes * 60L * 1000L
    def maxMs(df: DataFrame, c: String): Option[Long] = {
      val row = df.agg(max(unix_millis(col(c)))).first()
      if (row.isNullAt(0)) None else Some(row.getLong(0))
    }
    val wmMs = (maxMs(left, tsCol), maxMs(right, tsCol)) match {
      case (Some(l), Some(r)) => math.min(l, r) - delayMs
      case _ => Long.MinValue
    }
    val r2 = right
      .withColumnRenamed(tsCol, "ts_r")
      .withColumnRenamed(keyCol, "__rk")
      .withColumn("__matched", lit(1))
    left.join(r2,
        col(keyCol) === col("__rk") &&
          col("ts_r") <= col(tsCol) &&
          col("ts_r") >= col(tsCol) - expr(s"INTERVAL $windowMinutes MINUTES"),
        "left_outer")
      .where(col("__matched").isNotNull ||
        unix_millis(col(tsCol)) < lit(wmMs))
      .drop("__rk", "__matched")
  }

  /** Stream → batch-sink bridge via foreachBatch: each micro-batch is
    * handed to arbitrary batch code (upserts, size-aware parquet,
    * multi-sink fan-out — anything the streaming sinks can't express).
    * The batchId makes redelivery idempotent for sinks that record it.
    *
    * `checkpointLocation`: when supplied, the query's offset log lives
    * there and a LATER start with the same location resumes after the
    * last committed batch (restartable ingest — batch ids continue,
    * already-committed inputs are not redelivered). When None, Spark
    * uses a fresh temp checkpoint: exactly-once within the run, but a
    * driver restart reprocesses everything.
    */
  def foreachBatchSink(df: DataFrame, name: String,
                       checkpointLocation: Option[String] = None)
                      (handle: (DataFrame, Long) => Unit) = {
    val w = df.writeStream
      .queryName(name)
      .outputMode(OutputMode.Update)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(handle)
    checkpointLocation.foreach(w.option("checkpointLocation", _))
    w.start()
  }

  /** Streaming SERVING loop — the twin of the families' streaming
    * INGEST loops (VERDICT r16 #6 / r17 #4): queries arrive as a
    * micro-batched stream and are scored against a PERSISTED index
    * through the family's batched probe, chunked to its batch cap.
    * Every index family's probeBatch answers each query independently
    * of which other queries share its batch (per query BIT-IDENTICAL
    * to the single probe — the x_ivf_batch / x_bm25_batch contract),
    * so the accumulated sink equals a one-shot batch probe of all
    * queries UNDER ANY CHUNKING AND ANY SHARD SPLIT — the same
    * shard-split-invariance contract the ingest streams carry, pinned
    * by StreamServeSpec and gated by x_stream_serve.
    *
    * Per micro-batch: the batch's queries are collected to the driver
    * (request-rate-sized BY DEFINITION — queries are the small side of
    * serving; the corpus never moves), split into ≤ `chunkCap` groups
    * (the family probeBatch cap), probed one corpus contact per chunk,
    * and the union lands in `sinkTable` under the batch's own
    * [[BatchTag]] partition — [[writeBatchToSink]]'s dynamic-overwrite
    * redelivery discipline, so a retried batch replaces exactly its
    * own results. A restart with the same `checkpointLocation` resumes
    * after the last committed batch ([[IndexLifecycle
    * .resumeAwareTableMaker]] decides keep-vs-recreate for the sink).
    *
    * `resultSchema` is the probe's output schema (+ [[BatchTag]] is
    * appended here); `keyCol` buckets the sink for downstream
    * per-query reads. GENERIC over the query payload `Q` —
    * `collectQueries` turns a micro-batch into the family's probe
    * input ((id, vector) for the ANN tiers, (id, terms) for BM25 —
    * both driver queries ride this one loop), and MUST be
    * deterministic given the batch's rows (sort by query id) so a
    * redelivered batch reproduces its chunking. Returns the number of
    * batches processed. */
  def streamServe[Q](spark: SparkSession, queries: DataFrame,
                     sinkTable: String, chunkCap: Int,
                     resultSchema: org.apache.spark.sql.types.StructType,
                     keyCol: String,
                     collectQueries: DataFrame => Seq[Q],
                     probe: Seq[Q] => DataFrame,
                     queryName: String,
                     checkpointLocation: Option[String] = None): Int = {
    require(chunkCap > 0, s"chunkCap must be positive: $chunkCap")
    val sinkSchema = org.apache.spark.sql.types.StructType(
      resultSchema.fields :+
        org.apache.spark.sql.types.StructField(BatchTag,
          org.apache.spark.sql.types.LongType))
    // Sink buckets derive from the query stream's source bytes (r22 —
    // a serving sink holds request-rate-sized probe results; the old
    // fixed 16 wrote 16 near-empty files + commit renames per batch).
    graft.ext.IndexLifecycle.resumeAwareTableMaker(spark,
      checkpointLocation)(spark, sinkTable, sinkSchema, BatchTag,
      keyCol, scaledSinkBuckets(queries))
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = foreachBatchSink(queries, queryName, checkpointLocation) {
      (batch, batchId) =>
        n.incrementAndGet()
        val qs = collectQueries(batch)
        if (qs.nonEmpty) {
          val results = qs.grouped(chunkCap).map(probe).reduce(_ unionByName _)
          writeBatchToSink(spark, sinkTable, results, batchId)
        }
    }
    q.awaitTermination()
    spark.catalog.refreshTable(sinkTable)
    n.get()
  }

  /** [[streamServe]]'s vector-stream collector: (idCol, vecCol) rows
    * to the ANN probeBatch input, sorted by query id. */
  def vectorQueryCollector(idCol: String, vecCol: String)
      : DataFrame => Seq[(Long, Seq[Float])] =
    batch => batch.select(col(idCol), col(vecCol)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toSeq
      .sortBy(_._1)

  /** Partition column tagging each sink row with the micro-batch that
    * produced it — the idempotence key for [[writeBatchToSink]]. */
  val BatchTag = "__batch_id"

  /** Idempotent per-batch sink write: `rows` land in `sinkTable`
    * tagged with `batchId`, via DYNAMIC partition overwrite of a
    * batch-id-partitioned table — a redelivered batch replaces exactly
    * its own partition instead of duplicating rows, the foreachBatch
    * exactly-once recipe. Pinned by DedupSpec's redelivery case. */
  def writeBatchToSink(spark: SparkSession, sinkTable: String,
                       rows: DataFrame, batchId: Long): Unit =
    writeBatchSinks(spark, batchId, Seq(sinkTable -> rows))

  /** [[writeBatchToSink]] for SEVERAL independent (table, rows) writes
    * of one micro-batch, run CONCURRENTLY: the streaming ingests pay
    * two inserts per batch (index append + pairs sink) whose plans
    * share no live table (the probe stages its pair set before the
    * append — PairIndex.probe doc), so their jobs overlap instead of
    * serializing — the profile's two largest per-batch terms. Each
    * write is one Writer.insertOverwrite (latch, align, bucket shape).
    * The partitionOverwriteMode conf is a ONE-WAY dynamic latch
    * (Writer.ensureDynamicOverwrite): any save/restore racing a
    * concurrent insert could restore mid-plan and silently degrade it
    * to STATIC overwrite, which truncates every other batch's
    * partition (measured in DedupSpec before this was conf-scoped).
    * insertInto ignores per-write options, hence session conf at all. */
  def writeBatchSinks(spark: SparkSession, batchId: Long,
                      writes: Seq[(String, DataFrame)]): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val jobs = writes.map { case (sinkTable, rows) => Future {
      graft.io.Writer.insertOverwrite(rows.withColumn(BatchTag, lit(batchId)),
        sinkTable)
    }}
    Await.result(Future.sequence(jobs), Duration.Inf)
  }

  /** The staging table a [[compactSink]] of `table` writes — the one
    * owner of the name (the IndexOps janitor censuses it). */
  def compactStagingOf(table: String): String = table + "_compact_stage"

  /** Compact a batch-id-partitioned sink/index table: merge every
    * per-batch partition into ONE compacted partition ([[BatchTag]] =
    * `mergedId`, a negative id no stream batch can collide with),
    * written through the same layout-shaping path as the appends — so
    * a bucketed index lands as one file per bucket and probes recover
    * their footer-read budget after thousands of small per-shard
    * partitions (the failure mode IvfIndex measured for its own
    * layout). Returns the number of partitions merged away (0 = table
    * already compact).
    *
    * Run QUIESCED — between AvailableNow runs or with the stream
    * stopped: compact only batches the stream's checkpoint has
    * committed (a committed batch is never redelivered, so collapsing
    * its partition keeps the redelivery contract; the live batch's
    * partition must stay its own). The rewrite is not atomic — a
    * crash between the merged write and the partition drops leaves
    * rows duplicated across old + merged partitions — but RERUNNING
    * compact self-heals: the staged rewrite is distinct()'d ignoring
    * the tag, so surviving duplicates collapse back to one row (exact
    * row duplicates cannot otherwise exist: band/posting/pair rows are
    * unique per doc). The distinct rides the full-rewrite shuffle a
    * compaction pays anyway.
    *
    * Crash-then-compact hazard — ENFORCED when `checkpointLocation`
    * is passed: a partition whose batch tag is beyond the
    * checkpoint's last COMMITTED batch is a crashed attempt's orphan
    * (its append landed, its commit didn't). Compacting it would
    * merge it into `mergedId`, so the redelivered batch no longer
    * finds its rows in its own (excluded) partition — the probe
    * double-counts them while the re-append duplicates them, until a
    * later compact's distinct() heals the rows (probe results emitted
    * in between stay inflated). With the checkpoint in hand this is
    * checkable from the commit log the stream already persists, so
    * compactSink REFUSES (IllegalStateException) instead of
    * corrupting: restart the stream (redelivery overwrites the
    * orphan), then compact. Without a checkpointLocation the contract
    * stays the caller's obligation, as before.
    *
    * `purgeIds` — physical purge DURING the rewrite, the streaming
    * layouts' answer to the batch layouts' purgeTombstones (which
    * refuse batch-partitioned tables): rows whose `purgeIdCol` appears
    * in the given id frame (column `id`, takedown-sized, broadcast)
    * are anti-joined out of the merged partition, so the compaction a
    * streaming index pays anyway also reclaims its tombstoned bytes.
    * Dropping the tombstone list afterwards is the CALLER's move (the
    * index families' compact(purge = true) do), and only after every
    * sibling table rewrote — probes keep filtering until then, so a
    * crash between rewrite and drop never changes answers and a
    * compact re-run heals. */
  def compactSink(spark: SparkSession, table: String,
                  mergedId: Long = -1L,
                  checkpointLocation: Option[String] = None,
                  purgeIds: Option[DataFrame] = None,
                  purgeIdCol: String = "id"): Int = {
    require(mergedId < 0, s"merged partition id must be negative: $mergedId")
    spark.catalog.refreshTable(table)
    // Batch-tag census from CATALOG partition metadata — the sink is
    // partition-tracked by construction, so no data scan runs here.
    val ids = spark.sessionState.catalog
      .listPartitionNames(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .map(_.split("=", 2)(1).toLong)
      .filter(_ != mergedId).sorted
    refuseOrphans(spark, table, checkpointLocation, ids.map(id => id -> id.toString))
    // Nothing to merge AND nothing to purge: done. With purgeIds an
    // already-compact table still rewrites its merged partition (the
    // purge is the point).
    if (ids.isEmpty && purgeIds.isEmpty) 0
    else {
      // STAGE the merged rows in a side table — the rewrite must never
      // read the table it overwrites mid-job, and the r16 purge
      // doctrine applies here too: a staging TABLE on disk, never a
      // corpus-sized localCheckpoint pinned in executor memory (an
      // index compaction is exactly the corpus-sized case). A crash
      // mid-stage leaves the sink untouched; a crash between the
      // merged overwrite and the partition drops leaves duplicates the
      // next compact's distinct() heals (the contract above); leftover
      // staging is dropped and replaced on the next run.
      val staging = compactStagingOf(table)
      graft.io.Writer.dropTableAndLocation(spark, staging)
      purgeIds.foldLeft(spark.table(table).drop(BatchTag).distinct()) {
        (rows, p) => rows.join(
          broadcast(p.select(col("id").as(purgeIdCol))),
          Seq(purgeIdCol), "left_anti")
      }.write.format("parquet").saveAsTable(staging)
      writeBatchToSink(spark, table, spark.table(staging), mergedId)
      ids.foreach(id =>
        spark.sql(s"ALTER TABLE `$table` DROP PARTITION (`$BatchTag`=$id)"))
      graft.io.Writer.dropTableAndLocation(spark, staging)
      spark.catalog.refreshTable(table)
      ids.length
    }
  }

  /** [[compactSink]] for ADDITIVE tables — per-batch rows that are
    * DELTAS to be summed (PostingsIndex's `_stats` rows), where
    * compactSink's distinct() self-heal is a correctness bug: two
    * batches that happen to carry identical (n_docs, sum_dl) rows
    * would collapse to one and silently shrink the corpus mass. Here
    * the merge is the caller's aggregate (`merge` maps the stacked
    * tag-less rows to their combined row set), so duplicates-by-value
    * are legitimate and preserved.
    *
    * Crash safety cannot ride distinct() (re-summing a half-dropped
    * table double-counts), so the merged partition's tag ENCODES a
    * watermark: tag = -(maxBatchAbsorbed + 2), always ≤ -2. A
    * re-run reads the newest merged partition (largest watermark =
    * most negative tag), treats batch partitions ≤ watermark and
    * older merged partitions as ALREADY-ABSORBED leftovers of a
    * crashed drop phase (dropped, never re-summed), and merges only
    * batches > watermark. The merged write itself is one 1-row-scale
    * insert whose visibility is the job commit — the same atomicity
    * grain compactSink's rewrite stands on. Same quiesce + orphan
    * contract as compactSink. Returns partitions merged/dropped away. */
  def compactSinkAdditive(spark: SparkSession, table: String,
                          merge: DataFrame => DataFrame,
                          checkpointLocation: Option[String] = None): Int = {
    spark.catalog.refreshTable(table)
    val snap = spark.table(table).localCheckpoint(true)
    val tags = snap.select(col(BatchTag)).distinct().collect()
      .map(_.getLong(0)).sorted
    if (tags.contains(-1L)) throw new IllegalStateException(
      s"`$table` has a distinct-compacted partition ($BatchTag=-1): " +
        "additive and distinct compaction must not mix on one table — " +
        "rebuild the table (the additive watermark cannot be recovered " +
        "from a distinct()-merged partition)")
    val mergedTags = tags.filter(_ <= -2L)
    val watermark = mergedTags.map(t => -t - 2).maxOption.getOrElse(-1L)
    val keepTag = mergedTags.minOption // most negative = newest watermark
    val newTags = tags.filter(t => t >= 0 && t > watermark)
    val stale = tags.filter(t =>
      (t >= 0 && t <= watermark) || keepTag.exists(k => t <= -2 && t != k))
    refuseOrphans(spark, table, checkpointLocation,
      newTags.map(id => id -> id.toString))
    if (newTags.isEmpty) {
      // Nothing new — just retire crash leftovers (already absorbed).
      stale.foreach(id =>
        spark.sql(s"ALTER TABLE `$table` DROP PARTITION (`$BatchTag`=$id)"))
      if (stale.nonEmpty) spark.catalog.refreshTable(table)
      stale.length
    } else {
      val newTag = -(newTags.max + 2)
      val base = keepTag.map(k => snap.where(col(BatchTag) === k))
        .getOrElse(snap.where(lit(false)))
      val fresh = snap.where(col(BatchTag).isin(newTags: _*))
      writeBatchToSink(spark, table,
        merge(base.unionByName(fresh).drop(BatchTag)), newTag)
      tags.filter(_ != newTag).foreach(id =>
        spark.sql(s"ALTER TABLE `$table` DROP PARTITION (`$BatchTag`=$id)"))
      spark.catalog.refreshTable(table)
      tags.count(_ != newTag)
    }
  }

  /** The crash-then-compact refusal every batch-tagged compaction
    * runs (compactSink, compactSinkAdditive, LmIndex.compact): a
    * partition tagged with a batch id beyond the checkpoint's last
    * COMMITTED batch is a crashed attempt's orphan, and absorbing it
    * into a merged partition breaks the redelivery contract (compactSink
    * doc). `tagged` pairs each candidate batch id with its partition
    * name as the table spells it; negative ids (merged partitions) are
    * never orphans. Throws IllegalStateException naming the orphans;
    * no-op without a checkpoint. */
  def refuseOrphans(spark: SparkSession, table: String,
                    checkpointLocation: Option[String],
                    tagged: Seq[(Long, String)]): Unit =
    checkpointLocation.foreach { cp =>
      val last = lastCommittedBatch(spark, cp)
      val orphans = tagged.filter { case (id, _) => id >= 0 && last.forall(_ < id) }
      if (orphans.nonEmpty) throw new IllegalStateException(
        s"refusing to compact `$table`: partition(s) " +
          s"${orphans.map(_._2).mkString(", ")} " +
          "are beyond the checkpoint's last committed batch " +
          s"(${last.fold("none")(_.toString)}) at $cp — a crashed attempt's " +
          "orphaned write. Restart the stream so redelivery overwrites " +
          "the orphan, then compact.")
    }

  /** Highest batch id the checkpoint's commit log records as COMMITTED
    * — None when nothing committed yet (fresh or missing checkpoint).
    * Structured Streaming writes `commits/<batchId>` atomically after
    * a batch's foreachBatch completes, so any sink partition tagged
    * beyond this id is an orphaned, will-be-redelivered append. Read
    * via the Hadoop FS API — works on HDFS/S3/local alike. */
  def lastCommittedBatch(spark: SparkSession, checkpointLocation: String): Option[Long] = {
    val path = new org.apache.hadoop.fs.Path(checkpointLocation, "commits")
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(path)) None
    else fs.listStatus(path).toSeq.map(_.getPath.getName)
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong).maxOption
  }

  /** Bounded probe-then-append ingest loop, sink-table edition: runs
    * the stream through foreachBatch and writes each micro-batch's
    * `perBatch` rows to `sinkTable` (which must exist, partitioned by
    * [[BatchTag]] — Writer.emptyPartitionedTable) via
    * [[writeBatchToSink]]. Compared to the r9 driver-held union
    * accumulator this is the production shape on all three axes the
    * verdict named: BOUNDED (one table partition per batch — no union
    * plan or checkpointed-RDD set growing with shard count), DURABLE
    * (all accumulated state lives in the sink tables — nothing
    * driver-held within a run; pass `checkpointLocation` to make the
    * OFFSET log durable too, so a restarted driver resumes after the
    * last committed batch instead of reprocessing the input — without
    * it the run is exactly-once only within one driver lifetime), and
    * RACE-FREE by construction (no cross-thread `var`;
    * the one counter is an AtomicInteger). The micro-batch loop of
    * every sink-table stream operator: the pair-index ingests
    * (graft.ext.PairIndex), decontamination, postings, PQ, mixing,
    * curation, text classification, the drift monitors
    * (Drift.streamCensus / streamCensusMulti, IvfIndex.streamCellDrift)
    * and DSIR scoring (LmIndex.streamDsir) — those four return only
    * the batch count. The sink is read back with no
    * distinct — the pair ingests' per-batch outputs are provably
    * disjoint (a pair is emitted only by the batch its later member
    * arrives in), and a per-batch distinct would re-shuffle the whole
    * accumulated set every batch, O(batches²) at ingest scale.
    * Returns (sink contents minus the tag, batches processed).
    *
    * `perBatch` returns the batch's sink rows PLUS any side writes —
    * (table, rows) pairs whose plans are independent of the sink rows'
    * (the ingests' index appends, staged apart from the probe) — and
    * all land through ONE [[writeBatchSinks]] call, concurrently.
    *
    * The micro-batch reaches `perBatch` UNSTAGED: every read of it
    * re-reads the batch's source slice (files or memory rows). A
    * closure that reads it once (a banding or encoding pass whose
    * output it stages) pays no barrier; one that reads it more than
    * once stages it on its first line (PostingsIndex, Mixing,
    * TextAnalysis). */
  def sinkBatches(spark: SparkSession, stream: DataFrame, queryName: String,
                  sinkTable: String,
                  checkpointLocation: Option[String] = None)(
      perBatch: (DataFrame, Long) => (DataFrame, Seq[(String, DataFrame)])): (DataFrame, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = foreachBatchSink(stream, queryName, checkpointLocation) { (batch, batchId) =>
      n.incrementAndGet()
      val (out, side) = perBatch(batch, batchId)
      writeBatchSinks(spark, batchId, (sinkTable -> out) +: side)
    }
    q.awaitTermination()
    spark.catalog.refreshTable(sinkTable)
    (spark.table(sinkTable).drop(BatchTag), n.get())
  }

  /** Run a (bounded) streaming query to completion via AvailableNow into
    * a named memory sink and return the sink contents. */
  def runAvailableNow(df: DataFrame, name: String,
                      mode: OutputMode = OutputMode.Complete): DataFrame = {
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    df.sparkSession.table(name)
  }
}
