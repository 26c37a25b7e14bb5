package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** The incremental bigram-LM index: additive integer counts make every
  * lifecycle contract VALUE-exact — probes must equal the scan-time
  * surprisal operator bit-for-bit whenever the index holds the probed
  * corpus's census, through any build/append/delete/compact sequence,
  * and every write must be retry-idempotent (deterministic wave
  * overwrite).
  */
class LmIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getDouble(4))).toSeq

  private def scanTruth(docs: org.apache.spark.sql.DataFrame) =
    TextAnalysis.surprisalStats(docs, "doc_id", "text")
      .select(col("doc_id"), col("n_bigrams"), lit(0L).as("n_oov"),
        col("bits_sum"), col("mean_bits"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSeq

  test("build + probe equals scan-time surprisalStats bit-for-bit; append completes the corpus; retries are no-ops") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val t = "lm_idx_spec"
    val old = docs.where(pmod(col("doc_id"), lit(5)) =!= 4)
    val shard = docs.where(pmod(col("doc_id"), lit(5)) === 4)
    LmIndex.build(spark, old, "doc_id", "text", t)
    // Probe of the indexed slice against its own census == scan truth.
    assert(rows(LmIndex.probe(spark, t, old, "doc_id", "text")) ==
      scanTruth(old), "probe must equal surprisalStats on the built corpus")
    // Append the shard: now the full corpus's LM, and probes of the
    // FULL corpus equal the full-corpus scan truth (prefix masses
    // shifted by the appended counts included).
    LmIndex.append(spark, t, shard, "doc_id", "text")
    val full = rows(LmIndex.probe(spark, t, docs, "doc_id", "text"))
    assert(full == scanTruth(docs),
      "post-append probe must equal surprisalStats on the full corpus")
    // Retried append (same docs): deterministic wave overwrite + the
    // registry filter — counts unchanged either way.
    LmIndex.append(spark, t, shard, "doc_id", "text")
    LmIndex.append(spark, t, docs, "doc_id", "text")
    assert(rows(LmIndex.probe(spark, t, docs, "doc_id", "text")) == full,
      "retried/overlapping appends must not change any count")
  }

  /** A wave writer that lets the first `n` writes commit through the
    * family's own [[LmIndex.insertWave]], then throws — a driver crash
    * between the ordered waves of one append or delete. */
  private def crashAfter(n: Int): (String, org.apache.spark.sql.DataFrame, String) => Unit = {
    val left = new java.util.concurrent.atomic.AtomicInteger(n)
    (table, rows, wave) =>
      if (left.getAndDecrement() <= 0) throw new IllegalStateException("crash")
      else LmIndex.insertWave(spark)(table, rows, wave)
  }

  private def ids(table: String) = spark.table(table).select(col("id"))
    .collect().map(_.getLong(0)).toSet

  test("append crashed after its count-delta wave: the retry equals a fresh build, no double count") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val t = "lm_crash_append_spec"
    val old = docs.where(pmod(col("doc_id"), lit(5)) =!= 4)
    val shard = docs.where(pmod(col("doc_id"), lit(5)) === 4)
    LmIndex.build(spark, old, "doc_id", "text", t)
    intercept[IllegalStateException] {
      LmIndex.append(spark, t, shard, "doc_id", "text", overlapWaves = false,
        crashAfter(1))
    }
    // The crash state: only the count-delta wave committed — the shard's
    // counts are in, its ids are not registered.
    val shardIds = shard.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert((ids(t + "_docs") intersect shardIds).isEmpty,
      "the registry wave must not have committed")
    assert(spark.sessionState.catalog.listPartitionNames(
      org.apache.spark.sql.catalyst.TableIdentifier(t)).size == 2,
      "the count-delta wave must have committed")
    LmIndex.append(spark, t, shard, "doc_id", "text")
    assert(rows(LmIndex.probe(spark, t, docs, "doc_id", "text")) ==
      scanTruth(docs),
      "the retried append must overwrite its own wave: probe equals a fresh build")
  }

  test("delete crashed after its negative-delta wave: the retry equals a build on the live docs") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val t = "lm_crash_delete_spec"
    val dead = docs.where(pmod(col("doc_id"), lit(5L)) === 0)
    val live = docs.where(pmod(col("doc_id"), lit(5L)) =!= 0)
    LmIndex.build(spark, docs, "doc_id", "text", t)
    intercept[IllegalStateException] {
      LmIndex.delete(spark, t, dead, "doc_id", "text", crashAfter(1))
    }
    // The crash state: only the negative-delta wave committed — the
    // counts are subtracted, no id is tombstoned.
    assert(ids(t + "_tombstones").isEmpty,
      "the tombstone wave must not have committed")
    assert(rows(LmIndex.probe(spark, t, live, "doc_id", "text")) ==
      scanTruth(live), "the negative-delta wave must have committed")
    assert(LmIndex.delete(spark, t, dead, "doc_id", "text") > 0L,
      "the retry must re-delete the untombstoned ids")
    assert(rows(LmIndex.probe(spark, t, live, "doc_id", "text")) ==
      scanTruth(live),
      "the retried delete must overwrite its own wave: probe equals a build on the live docs")
  }

  test("delete subtracts the docs' counts exactly: probe equals a fresh build on the live corpus; OOV surfaces") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val t = "lm_del_spec"
    LmIndex.build(spark, docs, "doc_id", "text", t)
    val dead = docs.where(pmod(col("doc_id"), lit(5L)) === 0)
    val live = docs.where(pmod(col("doc_id"), lit(5L)) =!= 0)
    val removed = LmIndex.delete(spark, t, dead, "doc_id", "text")
    assert(removed == dead.where(col("text").isNotNull).count() ||
      removed == dead.count(), s"delete must report the wave size, got $removed")
    // Live-corpus probes equal a fresh build over the live docs —
    // counts AND prefix masses shed the deleted mass exactly.
    val got = rows(LmIndex.probe(spark, t, live, "doc_id", "text"))
    assert(got == scanTruth(live),
      "post-delete probe must equal surprisalStats on the live corpus")
    // Retried delete: no double subtraction.
    assert(LmIndex.delete(spark, t, dead, "doc_id", "text") == 0L)
    assert(rows(LmIndex.probe(spark, t, live, "doc_id", "text")) == got)
    // Grams absent from the live LM surface as OOV and score nothing
    // (a doc with one in-LM bigram and one never-seen bigram).
    locally {
      import spark.implicits._
      val inLm = live.where(col("text").isNotNull)
        .select(split(col("text"), " ")).first().getSeq[String](0).take(2)
      val probeDoc = Seq((999999L,
        s"${inLm.mkString(" ")} zzz-unseen-alpha zzz-unseen-beta"))
        .toDF("doc_id", "text")
      val r = LmIndex.probe(spark, t, probeDoc, "doc_id", "text").head()
      assert(r.getLong(2) > 0, s"unseen bigrams must count as OOV: $r")
      assert(r.getLong(1) > r.getLong(2), s"the in-LM bigram must score: $r")
    }
    // Compact: answer-stable, waves collapse, zeroed grams reclaim,
    // tombstones clear (deleted ids become appendable again).
    val wavesBefore = spark.sessionState.catalog.listPartitionNames(
      org.apache.spark.sql.catalyst.TableIdentifier(t)).size
    val merged = LmIndex.compact(spark, t)
    assert(merged == wavesBefore - 1, s"expected ${wavesBefore - 1} waves merged")
    assert(spark.table(t).where(col("c") <= 0).count() == 0,
      "compact must drop zeroed/negative gram rows")
    assert(spark.sessionState.catalog.listPartitionNames(
      org.apache.spark.sql.catalyst.TableIdentifier(t)).size == 1)
    assert(rows(LmIndex.probe(spark, t, live, "doc_id", "text")) == got,
      "compact never changes answers")
    assert(spark.table(t + "_tombstones").count() == 0)
    LmIndex.append(spark, t, dead, "doc_id", "text")
    assert(rows(LmIndex.probe(spark, t, docs, "doc_id", "text")) ==
      scanTruth(docs),
      "post-compact re-append of deleted docs must restore the full LM")
  }

  test("streamIngest: micro-batched shards accumulate to the one-shot census; probes serve mid-lifecycle state") {
    import java.nio.file.{Files, Paths}
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .where(col("doc_id") < 300)
    val base = Files.createTempDirectory("graft_lm_stream_").toString
    val inDir = s"$base/in"
    Files.createDirectories(Paths.get(inDir))
    (0 until 3).foreach { k =>
      val w = s"$base/w_$k"
      docs.where(pmod(col("doc_id"), lit(3L)) === k)
        .coalesce(1).write.mode("overwrite").parquet(w)
      val part = new java.io.File(w).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(inDir, s"shard_$k.parquet"))
    }
    val t = "lm_stream_spec"
    val cp = s"$base/cp"
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    val n = LmIndex.streamIngest(spark, t, stream, "doc_id", "text",
      queryName = "lm_stream_spec_q", checkpointLocation = Some(cp))
    assert(n == 3, s"expected 3 micro-batches, got $n")
    assert(rows(LmIndex.probe(spark, t, docs, "doc_id", "text")) ==
      scanTruth(docs),
      "stream-accumulated LM must probe exactly like a one-shot build")
    // Crash-then-compact refusal: a batch-N count wave BEYOND the
    // checkpoint's last committed batch is an orphan a restarted
    // stream would redeliver — absorbing it would double-count. Plant
    // one and compact with the checkpoint: must refuse; without the
    // orphan the same call succeeds.
    import org.apache.spark.sql.functions.{col => c, lit => l}
    spark.table(t).limit(1)
      .select(c("w1"), c("g"), c("c"), l("batch-7").as("__wave"))
      .write.mode("append").insertInto(t)
    val ex = intercept[IllegalStateException] {
      LmIndex.compact(spark, t, checkpointLocation = Some(cp))
    }
    assert(ex.getMessage.contains("batch-7"), ex.getMessage)
    spark.sql(s"ALTER TABLE `$t` DROP PARTITION (__wave='batch-7')")
    LmIndex.compact(spark, t, checkpointLocation = Some(cp))
    assert(rows(LmIndex.probe(spark, t, docs, "doc_id", "text")) ==
      scanTruth(docs),
      "post-compact probes unchanged once the orphan is resolved")
  }

  test("takedowns interleave with streaming ingest: delete waves between batches, probe equals build-on-live") {
    import java.nio.file.{Files, Paths}
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .where(col("doc_id") < 300)
    val base = Files.createTempDirectory("graft_lm_stream_del_").toString
    val inDir = s"$base/in"
    Files.createDirectories(Paths.get(inDir))
    def dropShard(k: Int): Unit = {
      val w = s"$base/w_$k"
      docs.where(pmod(col("doc_id"), lit(3L)) === k)
        .coalesce(1).write.mode("overwrite").parquet(w)
      val part = new java.io.File(w).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(inDir, s"shard_$k.parquet"))
    }
    val t = "lm_stream_del_spec"
    val cp = s"$base/cp"
    def ingest(): Int = {
      val stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir)
      LmIndex.streamIngest(spark, t, stream, "doc_id", "text",
        queryName = "lm_stream_del_spec_q", checkpointLocation = Some(cp))
    }
    // Phase 1: shards 0 and 1 ingest as two batch waves.
    dropShard(0)
    dropShard(1)
    assert(ingest() == 2)
    // Mid-lifecycle takedown: a slice of ALREADY-INGESTED shard-0 docs
    // subtracts (the delete wave interleaves with the batch waves) —
    // and a delete for a NOT-YET-INGESTED shard-2 doc is a no-op (the
    // visibility rule: delete subtracts indexed counts; a doc arriving
    // later still lands and needs its own takedown).
    val dead = docs.where(pmod(col("doc_id"), lit(3L)) === 0 &&
      col("doc_id") < 100)
    val nDead = LmIndex.delete(spark, t, dead, "doc_id", "text")
    assert(nDead > 0, "fixture must tombstone at least one doc")
    val early = docs.where(pmod(col("doc_id"), lit(3L)) === 2).limit(1)
    assert(LmIndex.delete(spark, t, early, "doc_id", "text") == 0L,
      "deleting a not-yet-ingested doc must be a no-op")
    // Phase 2: shard 2 arrives; the stream RESUMES from the checkpoint
    // (the delete waves persist alongside the batch waves).
    dropShard(2)
    assert(ingest() == 1, "resume must process exactly the new shard")
    val live = docs.where(!(pmod(col("doc_id"), lit(3L)) === 0 &&
      col("doc_id") < 100))
    assert(rows(LmIndex.probe(spark, t, live, "doc_id", "text")) ==
      scanTruth(live),
      "probe after interleaved takedown must equal a build on the live docs")
    // A second takedown AFTER the resume (including the doc whose
    // pre-arrival delete no-opped) subtracts normally.
    val dead2 = docs.where(pmod(col("doc_id"), lit(3L)) === 2 &&
      col("doc_id") < 50)
    assert(LmIndex.delete(spark, t, dead2, "doc_id", "text") > 0)
    val live2 = live.where(!(pmod(col("doc_id"), lit(3L)) === 2 &&
      col("doc_id") < 50))
    assert(rows(LmIndex.probe(spark, t, live2, "doc_id", "text")) ==
      scanTruth(live2),
      "second interleaved takedown must keep probe ≡ build-on-live")
    // Compact with the checkpoint absorbs batch + delete waves (no
    // orphans — every batch committed) and stays answer-stable.
    LmIndex.compact(spark, t, checkpointLocation = Some(cp))
    assert(rows(LmIndex.probe(spark, t, live2, "doc_id", "text")) ==
      scanTruth(live2), "compact after interleaved takedowns is answer-stable")
  }

  test("dsirProbe: two-index DSIR equals scan-time dsirContrastBits bit-for-bit, through append and delete") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val raw = "lm_dsir_raw_spec"
    val tgt = "lm_dsir_tgt_spec"
    def dsirRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    def truth(corpus: org.apache.spark.sql.DataFrame,
              probed: org.apache.spark.sql.DataFrame) = {
      val probedIds = probed.select(col("doc_id")).collect()
        .map(_.getLong(0)).toSet
      dsirRows(TextAnalysis.dsirContrastBits(corpus, "doc_id", "text",
          col("lang") === "en"))
        .filter(r => probedIds.contains(r._1))
    }
    // Raw LM over 4/5 of the corpus, target LM over its English slice;
    // the remaining 1/5 is the "arriving shard" — but the equality
    // contract requires the indexes to hold the PROBED corpora's
    // censuses, so the first compare probes the indexed 4/5.
    val old = docs.where(pmod(col("doc_id"), lit(5L)) =!= 4)
    val shard = docs.where(pmod(col("doc_id"), lit(5L)) === 4)
    LmIndex.build(spark, old, "doc_id", "text", raw)
    LmIndex.build(spark, old.where(col("lang") === "en"), "doc_id", "text", tgt)
    assert(dsirRows(LmIndex.dsirProbe(spark, raw, tgt, old, "doc_id", "text")) ==
      truth(old, old),
      "dsirProbe must equal dsirContrastBits on the indexed corpus")
    def oovRaw(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(sum(col("n_oov_raw"))).first().getLong(0)
    assert(oovRaw(LmIndex.dsirProbe(spark, raw, tgt, old, "doc_id", "text")) == 0L,
      "covered probe carries zero raw-OOV mass")
    // Probe-BEFORE-append misuse (weigh a shard to decide whether to
    // ingest it) is DETECTABLE: the unseen shard's raw-OOV grams land
    // in their own n_oov_raw column, never conflated into
    // n_oov_target's target-OOV mass.
    assert(oovRaw(LmIndex.dsirProbe(spark, raw, tgt, shard, "doc_id", "text")) > 0L,
      "probing an un-ingested shard must surface nonzero n_oov_raw")
    // Grow the RAW LM with the shard (the target stays fixed — the
    // production shape): probes of the full corpus now contrast
    // against the grown raw census; scan-time truth is
    // dsirContrastBits over (full corpus, old English target), which
    // needs the target pred restricted to the OLD slice.
    LmIndex.append(spark, raw, shard, "doc_id", "text")
    val fullTruth = dsirRows(TextAnalysis.dsirContrastBits(docs, "doc_id",
      "text", col("lang") === "en" && pmod(col("doc_id"), lit(5L)) =!= 4))
    assert(dsirRows(LmIndex.dsirProbe(spark, raw, tgt, docs, "doc_id", "text")) ==
      fullTruth,
      "post-append dsirProbe must equal the scan-time contrast with the grown raw census")
    // Takedown from the raw LM: the contrast forgets the removed text.
    val dead = docs.where(pmod(col("doc_id"), lit(5L)) === 0)
    val live = docs.where(pmod(col("doc_id"), lit(5L)) =!= 0)
    LmIndex.delete(spark, raw, dead, "doc_id", "text")
    LmIndex.delete(spark, tgt, dead, "doc_id", "text")
    val liveTruth = dsirRows(TextAnalysis.dsirContrastBits(live, "doc_id",
      "text", col("lang") === "en" && pmod(col("doc_id"), lit(5L)) =!= 4))
    assert(dsirRows(LmIndex.dsirProbe(spark, raw, tgt, live, "doc_id", "text")) ==
      liveTruth,
      "post-delete dsirProbe must equal the scan-time contrast on the live corpus")
    Seq(raw, tgt).foreach { t =>
      Seq(t, t + "_docs", t + "_tombstones")
        .foreach(x => spark.sql(s"DROP TABLE IF EXISTS `$x`"))
    }
  }

  test("a crash inside the tombstone swap window heals at the next lifecycle entry") {
    import graft.io.Writer
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .where(col("doc_id") < 100)
    val t = "lm_heal_spec"
    LmIndex.build(spark, docs, "doc_id", "text", t)
    // Simulate compact's tombstone clear crashing between PurgeSwap's
    // drop and rename: staged empty table present, live table gone.
    val stones = t + "_tombstones"
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("__wave", StringType)))
    Writer.dropTableAndLocation(spark, PurgeSwap.stagingOf(stones))
    Writer.emptyPartitionedBucketedTable(spark, PurgeSwap.stagingOf(stones),
      schema, "__wave", "id", 1)
    Writer.dropTableAndLocation(spark, stones)
    // Every entry point recovers: the probe must not throw, and the
    // tombstone table must be back (the staged empty copy adopted).
    assert(rows(LmIndex.probe(spark, t, docs, "doc_id", "text")) ==
      scanTruth(docs), "probe after a swap-window crash must heal and serve")
    assert(spark.catalog.tableExists(stones),
      "recover() must adopt the staged tombstone table")
    assert(spark.table(stones).count() == 0)
    // Append still works post-heal (reads the recovered table).
    LmIndex.append(spark, t, docs.limit(0), "doc_id", "text")
  }

  test("a restarted streamDsir resumes after committed batches and equals the per-shard dsirProbe") {
    // The scoring loop inherits the family restart discipline
    // (resume-aware sink + batch-tagged dynamic overwrite); every
    // accumulated slice is dsirProbe replayed on its shard.
    import java.nio.file.{Files, Paths}
    import graft.streaming.StreamOps
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .where(col("doc_id") < 120 && col("text").isNotNull)
    val raw = "dsir_stream_spec_raw"
    val tgt = "dsir_stream_spec_tgt"
    val sink = "dsir_stream_spec_sink"
    val basePath = Files.createTempDirectory("graft_dsir_restart_").toString
    val inDir = s"$basePath/in"
    val ckpt = s"$basePath/ckpt"
    Files.createDirectories(Paths.get(inDir))
    val arriving = docs.where(pmod(col("doc_id"), lit(10L)) === 3)
      .select(col("doc_id"), col("text"))
    def addShard(i: Int): Unit = {
      val w = s"$basePath/w$i"
      arriving.where(pmod(col("doc_id"), lit(3)) === i)
        .coalesce(1).write.mode("overwrite").parquet(w)
      val part = new java.io.File(w).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(inDir, s"shard_$i.parquet"))
    }
    def run(): Int = {
      val stream = spark.readStream.schema(arriving.schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir)
      LmIndex.streamDsir(spark, raw, tgt, stream, "doc_id", "text",
        sink, "dsir_restart_spec", checkpointLocation = Some(ckpt))
    }
    def accumulated() = spark.table(sink).collect()
      .map(r => (r.getLong(5), r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    try {
      LmIndex.build(spark, docs, "doc_id", "text", raw)
      LmIndex.build(spark, docs.where(col("lang") === "en"),
        "doc_id", "text", tgt)
      addShard(0); addShard(1)
      assert(run() == 2, "first run must process its two files")
      // Crashed batch-2 attempt: sink rows landed, commit didn't.
      val garbage = spark.table(sink)
        .where(col(StreamOps.BatchTag) === 0L)
        .drop(StreamOps.BatchTag)
        .withColumn("w_bits", lit(-999L))
      StreamOps.writeBatchToSink(spark, sink, garbage, 2L)
      spark.catalog.refreshTable(sink)
      assert(accumulated().exists(_._5 == -999L), "garbage must be planted")
      addShard(2)
      assert(run() == 1, "restart must process only the uncommitted file")
      val got = accumulated()
      assert(!got.exists(_._5 == -999L),
        "redelivery must replace the crashed attempt's rows")
      val expect = (0 to 2).flatMap { i =>
        LmIndex.dsirProbe(spark, raw, tgt,
            arriving.where(pmod(col("doc_id"), lit(3)) === i),
            "doc_id", "text").collect()
          .map(r => (i.toLong, r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3), r.getLong(4)))
      }.toSet
      assert(got == expect,
        s"restarted series diverged: extra=${got -- expect} missing=${expect -- got}")
    } finally Seq(raw, raw + "_docs", raw + "_tombstones",
      tgt, tgt + "_docs", tgt + "_tombstones", sink)
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS `$x`"))
  }
}
