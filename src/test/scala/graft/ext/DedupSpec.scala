package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** Near-dup dedup semantics: planted near-duplicates must surface as
  * candidate + confirmed pairs, unrelated docs must not; the MinHash
  * estimate must track exact Jaccard; the physical plan must never
  * contain a cartesian product (the 100 TB contract).
  */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** 60 distinct docs + 3 planted near-dup pairs (one word changed). */
  private lazy val corpus = {
    val rng = new scala.util.Random(7)
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "fox",
      "golf", "hotel", "india", "julia", "kilo", "lima", "mike", "nov",
      "oscar", "papa", "quebec", "romeo", "sierra", "tango")
    val base = (0 until 60).map { i =>
      (i.toLong, Seq.fill(30)(vocab(rng.nextInt(vocab.size))).mkString(" "))
    }
    val nearDups = Seq(100L -> base(3)._2.replaceFirst("\\w+$", "zulu"),
      101L -> base(17)._2.replaceFirst("^\\w+", "zulu"),
      102L -> base(42)._2.replaceFirst("\\w+$", "yankee"))
    (base ++ nearDups).toDF("doc_id", "text")
  }

  private val params = Dedup.MinHashParams(numHashes = 64, bands = 16, shingleSize = 3)

  test("planted near-dups are found and verified; no false positives at high threshold") {
    val pairs = Dedup.nearDupPairs(corpus, "doc_id", "text", params, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((3L, 100L)), "planted pair (3,100) missed")
    assert(pairs.contains((17L, 101L)), "planted pair (17,101) missed")
    assert(pairs.contains((42L, 102L)), "planted pair (42,102) missed")
    // At Jaccard ≥ 0.5 nothing else in a random corpus should pair up.
    assert(pairs.size == 3, s"unexpected extra pairs: ${pairs.size - 3}")
  }

  test("minhash Jaccard estimate tracks exact Jaccard") {
    val sh = corpus.select(col("doc_id"),
      Dedup.shingles(col("text"), 3).as("sh"),
      Dedup.minhashSignature(
        Dedup.shingleHashes(Dedup.shingles(col("text"), 3)), 64).as("sig"))
    val a = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"), col("sig").as("sig_a"))
    val b = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"), col("sig").as("sig_b"))
    val cmp = a.join(b, col("id_a") + 97 === col("id_b")) // (3,100),(42,139)∅… → planted (3,100)
      .union(a.join(b, col("id_a") + 84 === col("id_b"))) // (17,101)
      .select(
        Dedup.estimatedJaccard(col("sig_a"), col("sig_b")).as("est"),
        Dedup.jaccard(col("sh_a"), col("sh_b")).as("exact"))
      .collect()
    assert(cmp.nonEmpty)
    cmp.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 0.25,
        s"estimate ${r.getDouble(0)} vs exact ${r.getDouble(1)}")
    }
  }

  test("candidate generation is a bucket equi-join — no cartesian in the plan") {
    val plan = Dedup.candidatePairs(corpus, "doc_id", "text", params)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian"), s"cartesian product found:\n$plan")
    assert(!plan.contains("BroadcastNestedLoop"), s"nested-loop join found:\n$plan")
  }

  test("exactByFingerprint: idempotent, survivor-per-fingerprint, whitespace-insensitive") {
    val docs = Seq(
      (1L, "the quick brown fox"),
      (2L, "THE  quick   Brown fox"), // same fingerprint as 1
      (3L, "an entirely different doc")).toDF("doc_id", "text")
    val out = Dedup.exactByFingerprint(docs, "text")
    assert(out.count() == 2)
    assert(Dedup.exactByFingerprint(out, "text").count() == 2)
    // Output schema is EXACTLY the input schema — no helper columns.
    assert(out.columns.toSeq == docs.columns.toSeq)
    // Deterministic survivor: the smallest raw text ('T' < 't').
    val survivor = out.where(col("doc_id").isin(1L, 2L)).collect()
    assert(survivor.length == 1 && survivor.head.getLong(0) == 2L,
      s"expected doc 2 (smallest raw text) to survive, got ${survivor.toSeq}")
  }

  test("exactByFingerprint: a schema with a map column dedups (tiebreak skips unhashable types)") {
    // Hash expressions reject MapType by default
    // (spark.sql.legacy.allowHashOnMapType) — the tiebreak must hash
    // only the hashable columns instead of failing analysis.
    val docs = Seq(
      (1L, "same text", Map("k" -> "v1")),
      (2L, "same text", Map("k" -> "v2")),
      (3L, "other text", Map("k" -> "v3"))).toDF("doc_id", "text", "meta")
    val out = Dedup.exactByFingerprint(docs, "text")
    assert(out.count() == 2)
    assert(out.columns.toSeq == docs.columns.toSeq)
    // The tiebreak hashes the hashable prefix — arbitrary but
    // deterministic: independent runs pick the same survivor.
    val pick1 = out.where(col("text") === "same text").first().getLong(0)
    val pick2 = Dedup.exactByFingerprint(docs, "text")
      .where(col("text") === "same text").first().getLong(0)
    assert(pick1 == pick2, s"non-deterministic survivor: $pick1 vs $pick2")
  }

  test("exactByFingerprint: a hot fingerprint aggregates partially — no single-task window sort") {
    // One boilerplate doc duplicated 10k times + 100 distinct docs: the
    // window-function form would sort the whole 10k-row group in ONE
    // task; the aggregate form collapses it map-side.
    val hot = spark.range(10000)
      .selectExpr("id AS doc_id", "'same boilerplate text repeated' AS text")
    val distinct = spark.range(100)
      .selectExpr("id + 20000 AS doc_id", "concat('unique doc ', id) AS text")
    val out = Dedup.exactByFingerprint(hot.unionByName(distinct), "text")
    assert(out.count() == 101)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"hot-key window sort present:\n$plan")
    assert(plan.contains("partial_min_by") || plan.contains("partial_minby"),
      s"map-side partial aggregation missing:\n$plan")
    // All 10k hot rows tie on text, so the survivor comes from the
    // full-row-hash tiebreak — arbitrary but deterministic: the pick
    // must be identical across independent runs.
    val pick1 = out.where(col("text").startsWith("same")).first().getLong(0)
    val pick2 = Dedup.exactByFingerprint(hot.unionByName(distinct), "text")
      .where(col("text").startsWith("same")).first().getLong(0)
    assert(pick1 == pick2, s"survivor nondeterministic: $pick1 vs $pick2")
  }

  test("simhash: near-identical docs differ in few bits, unrelated docs in many") {
    val df = Seq(
      (1L, "alpha bravo charlie delta echo fox golf hotel india julia"),
      (2L, "alpha bravo charlie delta echo fox golf hotel india zulu"),
      (3L, "one two three four five six seven eight nine ten"))
      .toDF("id", "text")
      .select(col("id"), Dedup.simhash(col("text")).as("h"))
    val m = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(m(1L), m(2L)) <= 8,
      s"near-dup hamming ${hamming(m(1L), m(2L))} too large")
    assert(hamming(m(1L), m(3L)) > hamming(m(1L), m(2L)),
      "unrelated doc not farther than near-dup")
  }

  test("hot-bucket cap drops degenerate buckets from candidate generation") {
    // 30 identical docs → every band bucket has 30 members; cap at 10
    // must yield zero candidates, while the default cap pairs them all.
    val same = (0 until 30).map(i => (i.toLong, "same text " * 10)).toDF("doc_id", "text")
    val capped = Dedup.candidatePairs(same, "doc_id", "text",
      params.copy(maxBucketSize = 10))
    assert(capped.count() == 0)
    val uncapped = Dedup.candidatePairs(same, "doc_id", "text", params)
    assert(uncapped.count() == 30L * 29 / 2)
  }

  test("near-dup clustering: transitive clusters collapse to one survivor each") {
    import spark.implicits._
    // Chain 10-11-12 is one cluster via transitivity (10~11, 11~12
    // even if 10!~12); 20-21 a second; 30 is a singleton.
    val pairs = Seq((10L, 11L), (11L, 12L), (20L, 21L))
      .toDF("id_a", "id_b")
    val docs = Seq(10L, 11L, 12L, 20L, 21L, 30L).toDF("doc_id")
    val clusters = Dedup.nearDupClusters(docs, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters == Map(10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L, 30L -> 30L))
  }

  test("dedupNearDups keeps one survivor per planted near-dup pair") {
    val out = Dedup.dedupNearDups(corpus, "doc_id", "text", params, threshold = 0.5)
    // 63 docs, 3 planted near-dup pairs -> 3 docs removed.
    assert(out.count() == 60)
    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
    // The smaller id of each planted pair survives.
    assert(ids.contains(3L) && !ids.contains(100L))
    assert(ids.contains(17L) && !ids.contains(101L))
    assert(ids.contains(42L) && !ids.contains(102L))
  }

  test("dedupNearDupsBy keeps the HIGHEST-scored member per cluster, smallest id on ties") {
    // Scores steer each planted pair differently: (3,100) → the
    // high-id twin wins; (17,101) → the low-id original wins;
    // (42,102) → a tie, so the smaller id must win deterministically.
    val scored = corpus.withColumn("quality",
      when(col("doc_id") === 100L, 9.0)
        .when(col("doc_id") === 3L, 1.0)
        .when(col("doc_id") === 17L, 9.0)
        .when(col("doc_id") === 101L, 1.0)
        .when(col("doc_id") === 42L, 5.0)
        .when(col("doc_id") === 102L, 5.0)
        .otherwise(0.0))
    val out = Dedup.dedupNearDupsBy(scored, "doc_id", "text", "quality",
      params, threshold = 0.5)
    assert(out.count() == 60)
    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(3L) && ids.contains(100L), "higher-scored twin must survive")
    assert(ids.contains(17L) && !ids.contains(101L), "higher-scored original must survive")
    assert(ids.contains(42L) && !ids.contains(102L), "score tie must break to the smaller id")
    // Untouched docs are never dropped.
    assert((0L until 60L).filterNot(Set(3L, 17L, 42L)).forall(ids.contains))
  }

  test("dedupNearDupsBy with STRING ids: native-type tiebreak, no silent data loss") {
    // Regression: the winner pick once cast the id to long — string
    // UUID-ish ids cast to null, `winners` came back empty, and the
    // left_anti dropped EVERY clustered doc including the survivors.
    val scored = corpus.withColumn("quality",
      when(col("doc_id") === 100L, 9.0)
        .when(col("doc_id") === 3L, 1.0)
        .when(col("doc_id") === 17L, 9.0)
        .when(col("doc_id") === 101L, 1.0)
        .when(col("doc_id") === 42L, 5.0)
        .when(col("doc_id") === 102L, 5.0)
        .otherwise(0.0))
      .withColumn("doc_id", format_string("doc-%03d", col("doc_id")))
    val out = Dedup.dedupNearDupsBy(scored, "doc_id", "text", "quality",
      params, threshold = 0.5)
    assert(out.count() == 60, "string ids must dedup, not empty-cluster-drop")
    val ids = out.select("doc_id").collect().map(_.getString(0)).toSet
    assert(!ids.contains("doc-003") && ids.contains("doc-100"),
      "higher-scored twin must survive under string ids")
    assert(ids.contains("doc-017") && !ids.contains("doc-101"))
    assert(ids.contains("doc-042") && !ids.contains("doc-102"),
      "score tie must break to the lexicographically smaller id")
  }

  test("approx_count_distinct tracks exact distinct within HLL error bounds") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val r = docs.agg(
      approx_count_distinct(col("text")).as("approx"),
      count_distinct(col("text")).as("exact")).first()
    val (approx, exact) = (r.getLong(0), r.getLong(1))
    assert(math.abs(approx - exact).toDouble / exact < 0.05,
      s"approx=$approx exact=$exact drifts beyond 5%")
  }

  test("exactJaccardPairs: hand-computed Jaccard, thresholding, and LSH-subset bound") {
    // docs 1 and 2 share shingles {a b c, b c d, c d e} of 7 distinct
    // (J = 3/7 ≈ 0.43); 3 and 4 are identical (J = 1); 5 is unrelated;
    // 6 is too short to shingle.
    val docs = Seq(
      (1L, "a b c d e f g"),
      (2L, "a b c d e x y"),
      (3L, "p q r s t"),
      (4L, "p q r s t"),
      (5L, "m n o m n o m n"),
      (6L, "u v")).toDF("doc_id", "text")
    val at04 = Dedup.exactJaccardPairs(docs, "doc_id", "text", 3, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(p => (p._1, p._2))
    assert(at04.map(p => (p._1, p._2)).toSeq == Seq((1L, 2L), (3L, 4L)))
    assert(math.abs(at04(0)._3 - 3.0 / 7.0) < 1e-15)
    assert(at04(1)._3 == 1.0)
    // Raising the threshold drops the partial overlap, keeps the exact dup.
    val at05 = Dedup.exactJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select(col("id_a"), col("id_b")).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(at05.toSeq == Seq((3L, 4L)))
    // LSH-confirmed pairs at the same threshold are a SUBSET of truth
    // (the invariant the x_minhash_neardup gate relies on).
    val confirmed = Dedup.nearDupPairs(docs, "doc_id", "text",
      Dedup.MinHashParams(), 0.5).select(col("id_a"), col("id_b"))
    val truth = Dedup.exactJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select(col("id_a"), col("id_b"))
    assert(confirmed.join(truth, Seq("id_a", "id_b"), "left_anti").count() == 0)
    // ...and the identical pair is guaranteed found.
    assert(confirmed.where(col("id_a") === 3 && col("id_b") === 4).count() == 1)
  }

  test("dedupNearDups under reliable checkpointing: same result, files in the conf'd dir") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely unrelated text about distributed query engines"),
      (4L, "another different document mentioning stream processing")
    ).toDF("doc_id", "text")
    val local = Dedup.dedupNearDups(docs, "doc_id", "text",
      Dedup.MinHashParams(), 0.5).select(col("doc_id"))
      .collect().map(_.getLong(0)).sorted
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_").toString
    spark.conf.set(Checkpoints.ConfKey, dir)
    try {
      val reliable = Dedup.dedupNearDups(docs, "doc_id", "text",
        Dedup.MinHashParams(), 0.5).select(col("doc_id"))
        .collect().map(_.getLong(0)).sorted
      assert(reliable.toSeq == local.toSeq,
        "reliable checkpointing must not change dedup results")
      // The reliable path actually wrote checkpoint data under the dir.
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .anyMatch(p => java.nio.file.Files.isRegularFile(p))
      assert(wrote, s"no checkpoint files under $dir — reliable path not taken")
    } finally {
      spark.conf.unset(Checkpoints.ConfKey)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("streamIngest under reliable checkpointing: every stream barrier lands in the conf'd dir, pairs unchanged") {
    import java.nio.file.{Files, Paths}
    val base = Files.createTempDirectory("graft_stream_ckpt_spec_").toString
    val inDir = s"$base/in"
    Files.createDirectories(Paths.get(inDir))
    Seq(corpus.where(col("doc_id") < 50 || col("doc_id") === 100L),
        corpus.where(col("doc_id") >= 50 && col("doc_id") =!= 100L))
      .zipWithIndex.foreach { case (df, i) =>
        val w = s"$base/w$i"
        df.coalesce(1).write.mode("overwrite").parquet(w)
        val part = new java.io.File(w).listFiles()
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          .get
        Files.move(part.toPath, Paths.get(inDir, s"shard_$i.parquet"))
      }
    def run(table: String): (Set[(Long, Long)], Int) = {
      val stream = spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir)
      val (acc, n) = DedupIndex.streamIngest(spark, table, stream,
        "doc_id", "text", params, queryName = table)
      (acc.collect().map(r => (r.getLong(0), r.getLong(1))).toSet, n)
    }
    val tables = Seq("graft_stream_ckpt_local", "graft_stream_ckpt_reliable")
    val dir = Files.createTempDirectory("graft_ckpt_stream_").toString
    try {
      val (local, _) = run(tables(0))
      spark.conf.set(Checkpoints.ConfKey, dir)
      val (reliable, n) = run(tables(1))
      assert(n == 2, s"expected 2 micro-batches, got $n")
      assert(reliable == local,
        s"reliable checkpointing changed the pairs: extra=${reliable -- local} missing=${local -- reliable}")
      // Each batch has two barriers — its staged bands and the probe's
      // staged pair set — and each must be a reliable checkpoint: one
      // rdd-<id> directory apiece under the configured dir.
      val rdds = Files.walk(Paths.get(dir))
        .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("rdd-"))
        .count()
      assert(rdds == 2L * n,
        s"expected ${2 * n} reliable checkpoints (bands + pairs per batch), found $rdds")
    } finally {
      spark.conf.unset(Checkpoints.ConfKey)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      tables.flatMap(t => Seq(t, t + "_pairs"))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }

  test("DedupIndex: probe equals full recompute restricted to new-touching pairs; append extends the index") {
    import scala.util.chaining._
    // Index the 63-doc corpus, then arrive with a batch holding: a
    // near-dup of an INDEXED doc, a near-dup WITHIN the batch, and an
    // unrelated doc.
    val batch = Seq(
      200L -> corpus.where(col("doc_id") === 5).select(col("text"))
        .first().getString(0).replaceFirst("\\w+$", "whiskey"),
      201L -> "entirely novel content that matches nothing at all here",
      202L -> "entirely novel content that matches nothing at all there"
    ).toDF("doc_id", "text")
    val all = corpus.unionByName(batch)
    val table = "graft_dedup_idx_spec"
    DedupIndex.build(corpus, "doc_id", "text", table, params)
    val probe = DedupIndex.probeNewBatch(spark, table, batch, "doc_id", "text", params)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Full-recompute twin over old ∪ new, cut to pairs touching the batch.
    val newIds = Set(200L, 201L, 202L)
    val full = Dedup.candidatePairs(all, "doc_id", "text", params)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter(p => newIds(p._1) || newIds(p._2)).toSet
    assert(probe == full, s"probe $probe != batch-restricted $full")
    // buildFromBands: persisting a precomputed band table yields an
    // identical index (bands are per-row; no re-shingling on build).
    DedupIndex.buildFromBands(
      Dedup.bands(corpus, "doc_id", "text", params), table + "_fb")
    val probeFb = DedupIndex.probeNewBatch(spark, table + "_fb", batch,
        "doc_id", "text", params)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probeFb == probe, "buildFromBands index must probe identically")
    // The planted collisions surface; verification confirms them.
    assert(probe.contains((5L, 200L)), "new-vs-indexed near-dup missed")
    assert(probe.contains((201L, 202L)), "new-vs-new near-dup missed")
    val verified = DedupIndex.nearDupPairsNewBatch(spark, table, batch, all,
      "doc_id", "text", params, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified.contains((5L, 200L)) && verified.contains((201L, 202L)))
    // Append the batch's bands; a SECOND shard colliding with the first
    // one's docs must now probe against them through the index alone.
    DedupIndex.append(spark, table, batch, "doc_id", "text", params)
    val second = Seq(300L ->
      "entirely novel content that matches nothing at all anywhere")
      .toDF("doc_id", "text")
    val probe2 = DedupIndex.probeNewBatch(spark, table, second, "doc_id", "text", params)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probe2.exists(p => p._2 == 300L && newIds(p._1)),
      s"appended bands not visible to the second probe: $probe2")
    // RETRIED append is a no-op: duplicate band rows would inflate the
    // bucket census (and can push real buckets over the cap), so
    // append anti-joins rows already present.
    val rowsBefore = spark.table(table).count()
    DedupIndex.append(spark, table, batch, "doc_id", "text", params)
    assert(spark.table(table).count() == rowsBefore,
      "re-appending an already-indexed shard must not add rows")
    val probe2Again = DedupIndex.probeNewBatch(spark, table, second, "doc_id", "text", params)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probe2Again == probe2, "probe must be unchanged after a retried append")
  }

  test("DedupIndex: probe equals full recompute when the bucket cap binds on batch docs") {
    // Three indexed copies of one text plus a batch copy put at least
    // four members in every one of its buckets (a variant on each side
    // joins the buckets its edit leaves intact), past a cap of 2 or 3:
    // the probe's census must drop buckets holding batch docs. An
    // exact copy of one indexed doc makes a 2-member bucket that stays
    // under either cap.
    val t = corpus.where(col("doc_id") === 7).select(col("text")).first().getString(0)
    val t10 = corpus.where(col("doc_id") === 10).select(col("text")).first().getString(0)
    val old = corpus.unionByName(Seq(500L -> t, 501L -> t, 502L -> t,
      503L -> t.replaceFirst("\\w+$", "xray")).toDF("doc_id", "text"))
    val batch = Seq(600L -> t, 601L -> t.replaceFirst("^\\w+", "xray"),
      602L -> t10, 603L -> "entirely novel content that matches nothing at all")
      .toDF("doc_id", "text")
    val all = old.unionByName(batch)
    val newIds = Set(600L, 601L, 602L, 603L)
    def touching(p: Dedup.MinHashParams): Set[(Long, Long)] =
      Dedup.candidatePairs(all, "doc_id", "text", p)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .filter(q => newIds(q._1) || newIds(q._2)).toSet
    val table = "graft_dedup_idx_cap_spec"
    DedupIndex.build(old, "doc_id", "text", table, params)
    val uncapped = touching(params)
    Seq(2, 3).foreach { cap =>
      val capped = params.copy(maxBucketSize = cap)
      val probe = DedupIndex.probeNewBatch(spark, table, batch, "doc_id", "text", capped)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val full = touching(capped)
      assert(probe == full, s"cap $cap: probe $probe != batch-restricted $full")
      // The cap binds on the batch: over-cap buckets hold batch ids,
      // and the pairs they carried at the default cap are gone.
      val hot = Dedup.minhashOversized(
          Dedup.bands(all, "doc_id", "text", capped), capped)
        .join(Dedup.bands(batch, "doc_id", "text", capped),
          Seq("band_id", "band_hash"), "left_semi")
      assert(hot.count() > 0, s"cap $cap: no over-cap bucket holds a batch doc")
      assert(uncapped.contains((500L, 600L)) && !probe.contains((500L, 600L)),
        s"cap $cap: the copy cluster's pairs must be dropped by the cap")
      assert(probe.contains((10L, 602L)), s"cap $cap: under-cap bucket pair missing")
    }
  }

  test("streamIngest: two successive micro-batched shards accumulate the full candidate set") {
    import java.nio.file.{Files, Paths}
    // Shards split the planted corpus so near-dup pairs land in every
    // regime: (3,100) same-shard, (17,101) and (42,102) cross-shard —
    // the second batch must find them by probing bands the FIRST batch
    // appended (plus the original empty index growing under it).
    val base = Files.createTempDirectory("graft_stream_spec_").toString
    val inDir = s"$base/in"
    Files.createDirectories(Paths.get(inDir))
    // Shard 0 = {0..49, 100}: pair (3,100) arrives whole (new-vs-new);
    // shard 1 = {50..59, 101, 102}: 101 and 102 must pair with 17 and
    // 42 via the bands shard 0 APPENDED (new-vs-indexed).
    val shards = Seq(
      corpus.where(col("doc_id") < 50 || col("doc_id") === 100L),
      corpus.where(col("doc_id") >= 50 && col("doc_id") =!= 100L))
    shards.zipWithIndex.foreach { case (df, i) =>
      val w = s"$base/w$i"
      df.coalesce(1).write.mode("overwrite").parquet(w)
      val part = new java.io.File(w).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .get
      Files.move(part.toPath, Paths.get(inDir, s"shard_$i.parquet"))
    }
    val table = "graft_stream_ingest_spec"
    val stream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    val (acc, nBatches) = DedupIndex.streamIngest(spark, table, stream,
      "doc_id", "text", params, queryName = "stream_ingest_spec")
    assert(nBatches == 2, s"expected 2 micro-batches, got $nBatches")
    val streamed = acc.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = Dedup.candidatePairs(corpus, "doc_id", "text", params)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch,
      s"streamed accumulation diverged: extra=${streamed -- batch} missing=${batch -- streamed}")
    // Same-shard pair (3,100: both in shard 0) and cross-shard pairs
    // (17,101 / 42,102: members split across shards) all surface.
    assert(streamed.contains((3L, 100L)) && streamed.contains((17L, 101L)) &&
      streamed.contains((42L, 102L)), s"planted pairs missing from $streamed")
  }

  test("sink table: batchId redelivery overwrites its own partition — idempotent by construction") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val sink = "graft_sink_redelivery_spec"
    graft.io.Writer.emptyPartitionedTable(spark, sink,
      StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType),
        StructField(StreamOps.BatchTag, LongType))), StreamOps.BatchTag)
    def rows(ps: (Long, Long)*) = ps.toDF("id_a", "id_b")
    StreamOps.writeBatchToSink(spark, sink, rows((1L, 2L), (3L, 4L)), batchId = 0)
    StreamOps.writeBatchToSink(spark, sink, rows((5L, 6L)), batchId = 1)
    // REDELIVERY of batch 0 (a restarted stream replays its last
    // uncommitted batch): dynamic partition overwrite must replace
    // batch 0's rows — never duplicate them — and leave batch 1 alone.
    StreamOps.writeBatchToSink(spark, sink, rows((1L, 2L), (3L, 4L)), batchId = 0)
    val after = spark.table(sink)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(after == Set((1L, 2L, 0L), (3L, 4L, 0L), (5L, 6L, 1L)),
      s"redelivered batch must overwrite, not append: $after")
    // A CHANGED redelivery (source rewrote the shard) fully replaces
    // the old partition contents.
    StreamOps.writeBatchToSink(spark, sink, rows((7L, 8L)), batchId = 0)
    val changed = spark.table(sink)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(changed == Set((7L, 8L, 0L), (5L, 6L, 1L)),
      s"stale batch-0 rows must not survive a changed redelivery: $changed")
  }

  test("compact: batch partitions merge to one file per bucket, probes unchanged, rerun and crash both safe") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
    val table = "graft_compact_spec"
    graft.io.Writer.emptyPartitionedBucketedTable(spark, table,
      StructType(Seq(
        StructField("id", LongType),
        StructField("band_id", IntegerType),
        StructField("band_hash", LongType),
        StructField(StreamOps.BatchTag, LongType))),
      StreamOps.BatchTag, "band_hash", 16)
    // Five per-shard appends — the post-ingest layout compaction exists
    // for: one partition dir per batch, 16 bucket files each.
    val bands = Dedup.bands(corpus.where(col("doc_id") < 100), "doc_id", "text", params)
      .localCheckpoint(true)
    (0 until 5).foreach { i =>
      StreamOps.writeBatchToSink(spark, table,
        bands.where(pmod(col("id"), lit(5)) === i), i.toLong)
    }
    spark.catalog.refreshTable(table)
    def tableFiles(): Seq[java.io.File] = {
      val loc = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table)).location
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(loc))
    }
    val newBatch = Dedup.bands(corpus.where(col("doc_id") >= 100), "doc_id", "text", params)
      .localCheckpoint(true)
    def probe(): Set[(Long, Long)] =
      DedupIndex.probeNewBatchFromBands(spark, table, newBatch, params)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val filesBefore = tableFiles().size
    val rowsBefore = spark.table(table).drop(StreamOps.BatchTag)
      .collect().map(_.toSeq).toSet
    val pairsBefore = probe()
    assert(pairsBefore.nonEmpty, "probe against the uncompacted index found nothing")
    assert(DedupIndex.compact(spark, table) == 5)
    assert(tableFiles().size <= 16,
      s"compacted index should hold at most one file per bucket, got ${tableFiles().size}")
    assert(tableFiles().size < filesBefore, s"no file-count reduction from $filesBefore")
    assert(spark.table(table).drop(StreamOps.BatchTag)
      .collect().map(_.toSeq).toSet == rowsBefore, "compaction changed the index rows")
    assert(probe() == pairsBefore, "compaction changed probe results")
    // Idempotent when already compact.
    assert(DedupIndex.compact(spark, table) == 0)
    // Crash simulation: a compaction that wrote the merged partition
    // but died before dropping the originals leaves rows duplicated
    // across merged + batch partitions; a RERUN must collapse them.
    StreamOps.writeBatchToSink(spark, table,
      bands.where(pmod(col("id"), lit(5)) === 2), 7L)
    val withNew = spark.table(table).drop(StreamOps.BatchTag)
      .collect().map(_.toSeq).toSet
    StreamOps.writeBatchToSink(spark, table,
      spark.table(table).drop(StreamOps.BatchTag).localCheckpoint(true),
      -1L) // merged write, no drops
    assert(DedupIndex.compact(spark, table) == 1) // heals: merges partition 7
    assert(spark.table(table).drop(StreamOps.BatchTag)
      .collect().map(_.toSeq).toSet == withNew,
      "rerun after simulated crash must dedup the half-compacted state")
  }

  test("winnowing: guarantee, density, degeneration, and hand-checked window mins") {
    // Hand-checked: k=2, w=2 over 'abcd' → k-grams ab,bc,cd; windows
    // (ab,bc),(bc,cd); fingerprints = {min(h(ab),h(bc)), min(h(bc),h(cd))}.
    val hand = Seq((1L, "abcd")).toDF("doc_id", "text")
    val hs = Seq("ab", "bc", "cd")
      .map(s => org.apache.commons.codec.digest.DigestUtils.md5Hex(s).substring(0, 8))
    val expected = Seq(hs.take(2).min, hs.drop(1).min).distinct.sorted
    val got = Dedup.winnowed(hand, "text", "fps", k = 2, w = 2)
      .select(col("fps")).first().getSeq[String](0).sorted
    assert(got == expected, s"hand-checked fingerprints: $got vs $expected")
    // Guarantee: docs sharing a substring of length >= k + w - 1 share
    // >= 1 fingerprint (the winnowing theorem, k=8 w=4 → 11 chars).
    val shared = "this exact passage appears verbatim in both documents"
    val docs = Seq(
      (1L, s"left context totally different $shared and then some more"),
      (2L, s"$shared trailing content that matches nothing else at all"),
      (3L, "an unrelated document with none of that text anywhere")
    ).toDF("doc_id", "text")
    val fps = Dedup.winnowed(docs, "text", "fps")
      .select(col("doc_id"), col("fps")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert((fps(1L) & fps(2L)).nonEmpty, "shared passage must share a fingerprint")
    // Density: winnowing keeps ~2/(w+1) of hashes — assert well under
    // half survive on a real-length doc (and at least one).
    val dense = fps(1L).size.toDouble /
      Dedup.winnowed(docs, "text", "hs0", k = 8, w = 1)
        .where(col("doc_id") === 1).select(size(col("hs0"))).first().getInt(0)
    assert(dense > 0.0 && dense < 0.5, s"fingerprint density $dense out of band")
    // Degeneration: text shorter than k -> empty set; fewer than w
    // k-grams -> exactly one window (one fingerprint).
    val short = Seq((1L, "tiny"), (2L, "exactly9!")).toDF("doc_id", "text")
    val sfp = Dedup.winnowed(short, "text", "fps")
      .select(col("doc_id"), size(col("fps"))).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(sfp(1L) == 0, "shorter than k must fingerprint to empty")
    assert(sfp(2L) == 1, "2 k-grams under w=4 must yield exactly one window min")
  }

  test("winnowPairs: shared passages pair up, unrelated docs don't, hot postings capped") {
    val shared = "this exact passage appears verbatim in both documents today"
    val docs = Seq(
      (1L, s"left context totally different $shared and then some more"),
      (2L, s"$shared trailing content that matches nothing else at all"),
      (3L, "an unrelated document with none of that text anywhere"),
      (4L, "another distinct body of text sharing no passages either")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 >= 2),
      s"shared-passage pair (1,2) missed: ${pairs.toSeq}")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L || p._1 == 4L || p._2 == 4L),
      s"unrelated docs paired: ${pairs.toSeq}")
    // A boilerplate passage in EVERY doc: maxPostings = 3 drops its
    // fingerprints from the index, so only the (1,2)-exclusive overlap
    // survives — the n^2 guard is semantic, not just advisory.
    val boiler = "standard legal disclaimer footer attached to every page"
    val many = (10L to 19L).map(i => (i, s"unique body number $i with $boiler"))
      .toDF("doc_id", "text")
    val capped = Dedup.winnowPairs(many, "doc_id", "text",
      minShared = 1, maxPostings = 3)
    assert(capped.count() == 0,
      "boilerplate-only overlap must be dropped by the posting cap")
    val uncapped = Dedup.winnowPairs(many, "doc_id", "text",
      minShared = 1, maxPostings = 1000)
    assert(uncapped.count() == 45, "uncapped boilerplate pairs all 10 docs")
    // Keyed plan: no cartesian/nested-loop anywhere in the pair join.
    val plan = Dedup.winnowPairs(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"winnowPairs plans a quadratic join:\n$plan")
  }

  test("WinnowIndex: probe equals one-shot winnowPairs restricted to new-touching pairs; append extends") {
    val shared = "this exact passage appears verbatim in both documents today"
    val indexed = Seq(
      (1L, s"left context totally different $shared and then some more"),
      (2L, "an unrelated document with none of that text anywhere"),
      (3L, "another distinct body of text sharing no passages either")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, s"$shared quoted inside an otherwise brand new arrival"),
      (11L, "novel content quoting nothing from the indexed corpus at all")
    ).toDF("doc_id", "text")
    val table = "graft_winnow_idx_spec"
    WinnowIndex.build(indexed, "doc_id", "text", table)
    val probe = WinnowIndex.probeNewBatch(spark, table, batch, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // The quoted passage pairs (1,10); the quiet docs pair nothing.
    assert(probe.exists(p => p._1 == 1L && p._2 == 10L && p._3 >= 2),
      s"cross-shard quoted passage missed: $probe")
    assert(!probe.exists(p => p._1 == 11L || p._2 == 11L),
      s"non-quoting new doc paired: $probe")
    // Probe ≡ one-shot winnowPairs over old ∪ new, new-touching only —
    // n_shared VALUES included (the WinnowIndex equivalence contract).
    val newIds = Set(10L, 11L)
    val oneShot = Dedup.winnowPairs(indexed.unionByName(batch), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter(p => newIds(p._1) || newIds(p._2)).toSet
    assert(probe == oneShot, s"probe $probe != one-shot restricted $oneShot")
    // Append the batch; a second shard quoting the FIRST shard's new
    // passage must pair through the index alone.
    WinnowIndex.append(spark, table, batch, "doc_id", "text")
    val second = Seq(
      (20L, s"yet another arrival also containing $shared in full"))
      .toDF("doc_id", "text")
    val probe2 = WinnowIndex.probeNewBatch(spark, table, second, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probe2.contains((1L, 20L)) && probe2.contains((10L, 20L)),
      s"appended postings not visible to the second probe: $probe2")
    // Retried append is a no-op (idempotence — same contract as
    // DedupIndex.append).
    val before = spark.table(table).count()
    WinnowIndex.append(spark, table, batch, "doc_id", "text")
    assert(spark.table(table).count() == before,
      "re-appending an already-indexed shard must not add postings")
  }

  test("WinnowIndex: probe equals one-shot winnowPairs when the posting cap binds on batch docs") {
    // A boilerplate footer in three indexed docs and two batch docs
    // posts its interior fingerprints five times, past a cap of 2 or
    // 3; the batch pair (10, 11) also shares a passage of its own (a
    // new–new pair whose n_shared the cap must shrink, not drop), and
    // batch doc 12 quotes a passage two indexed docs hold (3 postings:
    // kept at cap 3, dropped at cap 2).
    val boiler = "standard legal disclaimer footer attached to every single page"
    val p = "a private passage only the two arriving documents ever share"
    val q = "an older quotation two indexed documents already carried around"
    val old = Seq(
      (1L, s"first indexed body about rivers $boiler"),
      (2L, s"second indexed body about mountains $boiler"),
      (3L, s"third indexed body about deserts $boiler"),
      (4L, s"fourth indexed body that says $q and stops"),
      (5L, s"fifth indexed body which also says $q and ends"),
      (6L, "sixth indexed body sharing nothing with any arrival")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, s"new arrival ten opens with $p then $boiler"),
      (11L, s"new arrival eleven repeats $p before $boiler"),
      (12L, s"new arrival twelve quotes $q verbatim"),
      (13L, "new arrival thirteen quotes nothing from anyone at all")
    ).toDF("doc_id", "text")
    val all = old.unionByName(batch)
    val newIds = Set(10L, 11L, 12L, 13L)
    def touching(cap: Int): Map[(Long, Long), Long] =
      Dedup.winnowPairs(all, "doc_id", "text", maxPostings = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .filter { case ((a, b), _) => newIds(a) || newIds(b) }.toMap
    val table = "graft_winnow_idx_cap_spec"
    WinnowIndex.build(old, "doc_id", "text", table)
    val uncapped = touching(1000)
    val batchPostings = WinnowIndex.postings(batch, "doc_id", "text", 8, 4)
    Seq(2, 3).foreach { cap =>
      val probe = WinnowIndex.probeNewBatch(spark, table, batch, "doc_id", "text",
          maxPostings = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val full = touching(cap)
      assert(probe == full, s"cap $cap: probe $probe != one-shot restricted $full")
      // The cap binds on the batch: over-cap fingerprints are posted by
      // batch docs, the boilerplate-only pairs are gone, and the new–new
      // pair survives with its boilerplate fingerprints no longer counted.
      val hot = Dedup.winnowOversized(all, "doc_id", "text", maxPostings = cap)
        .join(batchPostings, Seq("fp"), "left_semi")
      assert(hot.count() > 0, s"cap $cap: no over-cap fingerprint is posted by a batch doc")
      assert(uncapped.contains((1L, 10L)) && !probe.contains((1L, 10L)),
        s"cap $cap: the boilerplate-only pair must be dropped by the cap")
      assert(probe.contains((10L, 11L)) && probe((10L, 11L)) < uncapped((10L, 11L)),
        s"cap $cap: new-new pair must survive with a capped n_shared: $probe vs $uncapped")
      assert(probe.contains((4L, 12L)) == (cap >= 3),
        s"cap $cap: the 3-posting quotation must pair only at cap 3: $probe")
    }
  }

  test("WinnowIndex.streamIngest: micro-batched shards accumulate the one-shot pair set, n_shared exact") {
    import java.nio.file.{Files, Paths}
    val shared = "this exact passage appears verbatim in both documents today"
    // Shard 0 carries an internal quoted pair (1,2); shard 1's doc 10
    // quotes shard 0's doc 1 — found only through the appended index.
    val corpus = Seq(
      (1L, s"left context totally different $shared and then some more"),
      (2L, s"$shared trailing content that matches nothing else at all"),
      (3L, "an unrelated document with none of that text anywhere"),
      (10L, s"late arrival also containing $shared in its middle part"),
      (11L, "novel content quoting nothing from anything seen before")
    ).toDF("doc_id", "text")
    val base = Files.createTempDirectory("graft_stream_winnow_spec_").toString
    val inDir = s"$base/in"
    Files.createDirectories(Paths.get(inDir))
    Seq(corpus.where(col("doc_id") < 10), corpus.where(col("doc_id") >= 10))
      .zipWithIndex.foreach { case (df, i) =>
        val w = s"$base/w$i"
        df.coalesce(1).write.mode("overwrite").parquet(w)
        val part = new java.io.File(w).listFiles()
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          .get
        Files.move(part.toPath, Paths.get(inDir, s"shard_$i.parquet"))
      }
    val table = "graft_stream_winnow_spec"
    val stream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    val (acc, nBatches) = WinnowIndex.streamIngest(spark, table, stream,
      "doc_id", "text", queryName = "stream_winnow_spec")
    assert(nBatches == 2, s"expected 2 micro-batches, got $nBatches")
    val streamed = acc.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val oneShot = Dedup.winnowPairs(corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == oneShot,
      s"streamed winnow diverged: extra=${streamed -- oneShot} missing=${oneShot -- streamed}")
    assert(streamed.exists(p => p._1 == 1L && p._2 == 2L),
      "same-shard quoted pair missed")
    assert(streamed.exists(p => p._1 == 1L && p._2 == 10L),
      "cross-shard quoted pair missed (appended postings not probed)")
    assert(!streamed.exists(p => p._1 == 11L || p._2 == 11L),
      "non-quoting doc paired")
  }

  test("streamIngest on an EMPTY stream: zero batches, empty result with the right schema") {
    import java.nio.file.Files
    val emptyDir = Files.createTempDirectory("graft_stream_empty_").toString
    val table = "graft_stream_empty_spec"
    val stream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1").parquet(emptyDir)
    val (pairs, n) = DedupIndex.streamIngest(spark, table, stream,
      "doc_id", "text", params, queryName = "stream_empty_spec")
    assert(n == 0, s"no files must mean no batches, got $n")
    assert(pairs.columns.toSeq == Seq("id_a", "id_b"))
    assert(pairs.schema("id_a").dataType == corpus.schema("doc_id").dataType,
      "empty result must carry the id's native type")
    assert(pairs.count() == 0)
    // The winnow twin's empty branch carries n_shared too.
    val wTable = "graft_stream_empty_winnow_spec"
    val wStream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1").parquet(emptyDir)
    val (wPairs, wn) = WinnowIndex.streamIngest(spark, wTable, wStream,
      "doc_id", "text", queryName = "stream_empty_winnow_spec")
    assert(wn == 0 && wPairs.count() == 0)
    assert(wPairs.columns.toSeq == Seq("id_a", "id_b", "n_shared"))
  }

  test("x_minhash_neardup summary is stable on driver testdata") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val pairs = Dedup.candidatePairs(docs, "doc_id", "text", Dedup.MinHashParams())
    val n = pairs.count()
    assert(n >= 0) // smoke: runs end-to-end on the real table
  }

  test("excludeBatch: a crashed attempt's orphaned index append does not inflate the redelivered probe") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
    val table = "graft_exclude_batch_spec"
    graft.io.Writer.emptyPartitionedBucketedTable(spark, table,
      StructType(Seq(
        StructField("id", LongType),
        StructField("band_id", IntegerType),
        StructField("band_hash", LongType),
        StructField(StreamOps.BatchTag, LongType))),
      StreamOps.BatchTag, "band_hash", 16)
    // Batch 0 committed: everything but the planted near-dup newcomers.
    val committed = Dedup.bands(
      corpus.where(col("doc_id") < 100), "doc_id", "text", params)
      .localCheckpoint(true)
    StreamOps.writeBatchToSink(spark, table, committed, 0L)
    spark.catalog.refreshTable(table)
    // Batch 1 = the newcomers. Probe BEFORE any batch-1 append — the
    // result a clean (non-crashed) delivery produces.
    val nb = Dedup.bands(
      corpus.where(col("doc_id") >= 100), "doc_id", "text", params)
      .localCheckpoint(true)
    def probe(): Set[(Long, Long)] =
      DedupIndex.probeNewBatchFromBands(spark, table, nb, params,
        excludeBatch = Some(1L))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val clean = probe()
    assert(clean.nonEmpty, "planted pairs must surface on the clean probe")
    // CRASHED attempt: the index append landed (the two writeBatchSinks
    // inserts run concurrently) but the sink write / checkpoint commit
    // did not. On redelivery the batch's rows sit in the index under
    // their own partition AND arrive again as nb.
    StreamOps.writeBatchToSink(spark, table, nb, 1L)
    spark.catalog.refreshTable(table)
    // The excluded probe must not see the orphaned partition: same
    // pairs as the clean delivery — no double-counted bucket census,
    // no self-pairs.
    assert(probe() == clean,
      "redelivered probe with excludeBatch must equal the pre-crash probe")
  }

  test("excludeBatch: winnow probe unchanged by a crashed attempt's orphaned posting append") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val table = "graft_winnow_exclude_batch_spec"
    graft.io.Writer.emptyPartitionedBucketedTable(spark, table,
      StructType(Seq(
        StructField("id", LongType),
        StructField("fp", LongType),
        StructField(StreamOps.BatchTag, LongType))),
      StreamOps.BatchTag, "fp", 16)
    val committed = WinnowIndex.postings(
      corpus.where(col("doc_id") < 100), "doc_id", "text", k = 8, w = 4)
      .localCheckpoint(true)
    StreamOps.writeBatchToSink(spark, table, committed, 0L)
    spark.catalog.refreshTable(table)
    val np = WinnowIndex.postings(
      corpus.where(col("doc_id") >= 100), "doc_id", "text", k = 8, w = 4)
      .localCheckpoint(true)
    def probe(): Set[(Long, Long, Long)] =
      WinnowIndex.probeNewBatchFromPostings(spark, table, np,
        excludeBatch = Some(1L))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val clean = probe()
    assert(clean.nonEmpty, "near-dup newcomers must share passages with their sources")
    StreamOps.writeBatchToSink(spark, table, np, 1L)
    spark.catalog.refreshTable(table)
    assert(probe() == clean,
      "redelivered winnow probe with excludeBatch must equal the pre-crash probe")
  }

  test("streamIngest with a checkpoint: a restarted driver resumes after committed batches, state intact") {
    import java.nio.file.{Files, Paths}
    val base = Files.createTempDirectory("graft_stream_restart_").toString
    val inDir = s"$base/in"
    val ckpt = s"$base/ckpt"
    Files.createDirectories(Paths.get(inDir))
    def addShard(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val w = s"$base/w_$name"
      df.coalesce(1).write.mode("overwrite").parquet(w)
      val part = new java.io.File(w).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(inDir, s"$name.parquet"))
    }
    def run(): (Set[(Long, Long)], Int) = {
      val stream = spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir)
      val (acc, n) = DedupIndex.streamIngest(spark, "graft_stream_restart_spec",
        stream, "doc_id", "text", params,
        queryName = "stream_restart_spec", checkpointLocation = Some(ckpt))
      (acc.collect().map(r => (r.getLong(0), r.getLong(1))).toSet, n)
    }
    // Run 1 sees only shard 0 — then the driver "dies" (query ended).
    addShard(corpus.where(col("doc_id") < 50 || col("doc_id") === 100L), "shard_0")
    val (p1, n1) = run()
    assert(n1 == 1, s"first run must process exactly its one file, got $n1")
    assert(p1.contains((3L, 100L)), s"same-shard planted pair missed: $p1")
    // Run 2, same checkpoint: only the NEW file is processed (the
    // committed batch is not redelivered), the index keeps run 1's
    // partitions, and cross-run pairs surface by probing them.
    addShard(corpus.where(col("doc_id") >= 50 && col("doc_id") =!= 100L), "shard_1")
    val (p2, n2) = run()
    assert(n2 == 1, s"restart must process only the uncommitted file, got $n2")
    val batch = Dedup.candidatePairs(corpus, "doc_id", "text", params)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p2 == batch,
      s"restarted accumulation diverged: extra=${p2 -- batch} missing=${batch -- p2}")
    assert(p2.contains((17L, 101L)) && p2.contains((42L, 102L)),
      s"cross-run pairs require run 2 to probe run 1's index partitions: $p2")
  }

  test("compact with a checkpoint: crashed attempt -> compact REFUSED -> restart -> compact succeeds") {
    import java.nio.file.{Files, Paths}
    import graft.streaming.StreamOps
    val base = Files.createTempDirectory("graft_compact_guard_").toString
    val inDir = s"$base/in"
    val ckpt = s"$base/ckpt"
    val table = "graft_compact_guard_spec"
    Files.createDirectories(Paths.get(inDir))
    def addShard(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val w = s"$base/w_$name"
      df.coalesce(1).write.mode("overwrite").parquet(w)
      val part = new java.io.File(w).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(inDir, s"$name.parquet"))
    }
    def run(): Unit = {
      val stream = spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir)
      DedupIndex.streamIngest(spark, table, stream, "doc_id", "text", params,
        queryName = "compact_guard_spec", checkpointLocation = Some(ckpt))
    }
    // Batch 0 commits cleanly.
    addShard(corpus.where(col("doc_id") < 100), "shard_0")
    run()
    assert(StreamOps.lastCommittedBatch(spark, ckpt).contains(0L))
    // CRASH simulation: batch 1's index append lands but its commit
    // does not (the writeBatchSinks insert raced ahead of the
    // checkpoint commit when the driver died).
    val orphan = Dedup.bands(
      corpus.where(col("doc_id") >= 100), "doc_id", "text", params)
      .localCheckpoint(true)
    StreamOps.writeBatchToSink(spark, table, orphan, 1L)
    spark.catalog.refreshTable(table)
    // Compact with the checkpoint in hand must REFUSE — merging the
    // orphan would inflate every probe until a later compact heals it.
    val ex = intercept[IllegalStateException] {
      DedupIndex.compact(spark, table, checkpointLocation = Some(ckpt))
    }
    assert(ex.getMessage.contains("orphaned"), s"wrong refusal: ${ex.getMessage}")
    // Restart the stream: redelivery overwrites the orphaned partition
    // (same batch id, dynamic partition overwrite) and commits.
    addShard(corpus.where(col("doc_id") >= 100), "shard_1")
    run()
    assert(StreamOps.lastCommittedBatch(spark, ckpt).exists(_ >= 1L))
    // Now every partition is committed: compact proceeds and the
    // probe-visible index survives intact (merged partition only).
    val before = spark.table(table).drop(StreamOps.BatchTag)
      .collect().map(_.toSeq).toSet
    val merged = DedupIndex.compact(spark, table, checkpointLocation = Some(ckpt))
    assert(merged >= 2, s"expected >= 2 partitions merged, got $merged")
    val after = spark.table(table).drop(StreamOps.BatchTag)
      .collect().map(_.toSeq).toSet
    assert(after == before, "compact must not change the index contents")
  }

  test("a FRESH checkpoint never merges a leftover index from an earlier run") {
    import java.nio.file.{Files, Paths}
    import graft.streaming.StreamOps
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
    val base = Files.createTempDirectory("graft_fresh_ckpt_").toString
    val inDir = s"$base/in"
    val ckpt = s"$base/ckpt" // never created — a brand-new run
    Files.createDirectories(Paths.get(inDir))
    val table = "graft_fresh_ckpt_spec"
    // Leftover state from "an earlier run": an index holding docs < 100
    // under batch id 0 — exactly the ids a restarting batch counter
    // would collide with.
    graft.io.Writer.emptyPartitionedBucketedTable(spark, table,
      StructType(Seq(
        StructField("id", LongType),
        StructField("band_id", IntegerType),
        StructField("band_hash", LongType),
        StructField(StreamOps.BatchTag, LongType))),
      StreamOps.BatchTag, "band_hash", 16)
    StreamOps.writeBatchToSink(spark, table, Dedup.bands(
      corpus.where(col("doc_id") < 100), "doc_id", "text", params)
      .localCheckpoint(true), 0L)
    spark.catalog.refreshTable(table)
    // New run, FRESH checkpoint, ingesting only the planted newcomers:
    // the leftover must be dropped, so no cross pair (e.g. (3, 100))
    // can surface from stale state.
    val w = s"$base/w"
    corpus.where(col("doc_id") >= 100).coalesce(1)
      .write.mode("overwrite").parquet(w)
    val part = new java.io.File(w).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    Files.move(part.toPath, Paths.get(inDir, "shard_0.parquet"))
    val stream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    val (acc, _) = DedupIndex.streamIngest(spark, table, stream, "doc_id", "text",
      params, queryName = "fresh_ckpt_spec", checkpointLocation = Some(ckpt))
    val got = acc.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = Dedup.candidatePairs(
      corpus.where(col("doc_id") >= 100), "doc_id", "text", params)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expect,
      s"fresh-checkpoint run must see ONLY its own corpus: extra=${got -- expect}")
    assert(!got.contains((3L, 100L)), "stale cross-run pair surfaced from leftover state")
    val staleIds = spark.table(table).where(col("id") < 100).count()
    assert(staleIds == 0, s"leftover index rows survived a fresh checkpoint: $staleIds")
  }

  test("a FRESH stream ingest drops an earlier run's takedowns; a resumed one keeps them") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    val shared = "this exact passage appears verbatim in both documents today"
    val docs = Seq(
      (1L, s"left context totally different $shared and then some more"),
      (2L, s"late arrival also containing $shared in its middle part")).toDF("doc_id", "text")
    val base = Files.createTempDirectory("graft_fresh_tombstones_").toString
    def addShard(inDir: String, id: Long): Unit = {
      Files.createDirectories(Paths.get(inDir))
      val w = s"$base/w$id"
      docs.where(col("doc_id") === id).coalesce(1).write.mode("overwrite").parquet(w)
      val part = new java.io.File(w).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(inDir, s"shard_$id.parquet"))
    }
    def ingest(table: String, inDir: String, ckpt: Option[String]): Set[(Long, Long)] = {
      val stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir)
      WinnowIndex.streamIngest(spark, table, stream, "doc_id", "text",
        queryName = "fresh_tombstones_spec", checkpointLocation = ckpt)._1
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    // Fresh runs: the second one rebuilds the index, so the first
    // run's takedown of doc 1 must not hide the pair.
    val fresh = "graft_fresh_tombstones_spec"
    Seq(1L, 2L).foreach(addShard(s"$base/in", _))
    assert(ingest(fresh, s"$base/in", None) == Set((1L, 2L)))
    WinnowIndex.delete(spark, fresh, Seq(1L).toDF("id"))
    assert(ingest(fresh, s"$base/in", None) == Set((1L, 2L)),
      "a fresh ingest inherited the earlier run's takedowns")
    assert(!spark.catalog.tableExists(IndexLifecycle.tombstonesOf(fresh)))
    // A resumed run continues the same index: the takedown stands.
    val resumed = "graft_resumed_tombstones_spec"
    val ckpt = Some(s"$base/ckpt")
    addShard(s"$base/in_resumed", 1L)
    assert(ingest(resumed, s"$base/in_resumed", ckpt).isEmpty)
    WinnowIndex.delete(spark, resumed, Seq(1L).toDF("id"))
    addShard(s"$base/in_resumed", 2L)
    assert(ingest(resumed, s"$base/in_resumed", ckpt).isEmpty,
      "a resumed ingest paired a taken-down doc")
    assert(spark.catalog.tableExists(IndexLifecycle.tombstonesOf(resumed)))
  }

  test("crossCorpusPairs + decontaminate: planted leak flagged, clean train survives whole") {
    import spark.implicits._
    val evalDocs = Seq(
      (1L, "what is the capital of assyria answer nineveh obviously"),
      (2L, "compute the integral of x squared dx from zero to one")).toDF("doc_id", "text")
    val train = Seq(
      // Doc 100 quotes eval doc 1 verbatim inside unrelated text.
      (100L, "some web page what is the capital of assyria answer nineveh obviously and more prose"),
      (101L, "completely unrelated training document about spark shuffles"),
      (102L, "another clean doc on parquet footers and row groups"),
      (103L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val pairs = Dedup.crossCorpusPairs(train, evalDocs, "doc_id", "text",
      k = 20, w = 8, minShared = 2)
    val flagged = pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(flagged.map(p => (p._1, p._2)).toSet == Set((100L, 1L)),
      s"exactly the planted leak must flag, got ${flagged.toSeq}")
    assert(flagged.head._3 >= 2, "a verbatim quote must share many fingerprints")
    val clean = Dedup.decontaminate(train, pairs, "doc_id")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(clean == Set(101L, 102L, 103L),
      s"only the leaking doc drops (null-text docs survive): $clean")
  }

  test("DedupIndex.delete: tombstoned docs vanish from band probes; purge answer-stable") {
    import spark.implicits._
    val body = (1 to 30).map(i => s"token$i").mkString(" ")
    val old = Seq(
      (1L, s"$body variant one"),
      (2L, s"$body variant two"),
      (3L, "a totally different unrelated document body here")).toDF("doc_id", "text")
    val newDocs = Seq((10L, s"$body variant ten")).toDF("doc_id", "text")
    val idx = "graft_band_del_spec"
    if (spark.catalog.tableExists(idx + "_tombstones"))
      spark.sql(s"DROP TABLE ${idx}_tombstones")
    DedupIndex.build(old, "doc_id", "text", idx)
    def cands() = DedupIndex.probeNewBatch(spark, idx, newDocs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands() == Set((1L, 10L), (2L, 10L)), "pre-delete: both variants pair")
    DedupIndex.delete(spark, idx, Seq(1L).toDF("id"))
    assert(cands() == Set((2L, 10L)), "deleted doc must vanish from band probes")
    val before = spark.table(idx).count()
    val purged = DedupIndex.purgeTombstones(spark, idx)
    assert(purged > 0 && spark.table(idx).count() == before - purged)
    assert(cands() == Set((2L, 10L)), "purge never changes answers")
    assert(DedupIndex.purgeTombstones(spark, idx) == 0L)
  }

  test("DedupIndex.build into a reused name drops the old index's takedowns") {
    import spark.implicits._
    val body = (1 to 30).map(i => s"token$i").mkString(" ")
    val old = Seq(
      (1L, s"$body variant one"),
      (3L, "a totally different unrelated document body here")).toDF("doc_id", "text")
    val newDocs = Seq((9L, s"$body variant nine")).toDF("doc_id", "text")
    val idx = "graft_band_rebuild_spec"
    def cands() = DedupIndex.probeNewBatch(spark, idx, newDocs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    try {
      DedupIndex.build(old, "doc_id", "text", idx)
      assert(cands() == Set((1L, 9L)), "pre-delete: the near-dup pairs")
      DedupIndex.delete(spark, idx, Seq(1L).toDF("id"))
      assert(cands().isEmpty, "the takedown hides the id")
      DedupIndex.build(old, "doc_id", "text", idx)
      assert(cands() == Set((1L, 9L)),
        "a rebuilt index must not inherit the old index's takedowns")
      assert(!spark.catalog.tableExists(idx + "_tombstones"))
    } finally Seq(idx, idx + "_tombstones")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS `$x`"))
  }

  test("graft_simhash kernel is bit-identical to the nested-HOF simhash over the real corpus") {
    val docs = graft.Tables.documents(spark, graft.TestSpark.sf0001)
      .where(col("text").isNotNull)
    // The HOF twin re-evaluates split+xxhash64 once per mask bit; the
    // kernel votes in one pass — exact integer arithmetic both ways,
    // so every hash must match bit-for-bit (the dispatch-safety
    // contract simhashIn relies on).
    val mism = docs.select(Dedup.simhash(col("text")).as("h"),
        call_function("graft_simhash", col("text")).as("k"))
      .where(col("h") =!= col("k")).count()
    assert(mism == 0, s"$mism kernel/HOF simhash mismatches")
    // Degenerate strings the corpus never exercises: empty text (one
    // empty token), runs of spaces (empty tokens between), leading/
    // trailing spaces, a single token, unicode — the split(" ", -1)
    // token contract must match exactly, nulls propagate as null.
    import spark.implicits._
    val edge = Seq("", " ", "   ", "a", " a", "a ", "a  b", "é ü",
      "same same same", "\ttab stays one-token").toDF("text")
    val eMism = edge.select(Dedup.simhash(col("text")).as("h"),
        call_function("graft_simhash", col("text")).as("k"))
      .where(col("h") =!= col("k")).count()
    assert(eMism == 0, s"$eMism edge-case kernel/HOF mismatches")
    val nulls = Seq[Option[String]](None).toDF("text")
      .select(call_function("graft_simhash", col("text")).as("k"))
      .where(col("k").isNotNull).count()
    assert(nulls == 0, "null text must yield null, like the HOF chain")
  }

  test("simhashPairs: banded set equals brute-force hamming truth (pigeonhole); dedup collapses identical docs") {
    import spark.implicits._
    val docs = Tables.documents(spark, graft.TestSpark.sf0001)
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // Brute-force truth on the driver (500 hashes): every hamming<=3
    // pair must be found with the exact distance, and nothing else.
    val hs = docs.where(col("text").isNotNull)
      .select(col("doc_id"), Dedup.simhash(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val truth = (for {
      (ia, ha) <- hs; (ib, hb) <- hs if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (ia, ib, d.toLong)).toSet
    assert(pairs.toSet == truth,
      s"banded != truth: extra=${pairs.toSet -- truth} missing=${truth -- pairs.toSet}")
    // Identical docs (planted dup groups exist at sf0.001) share the
    // hash, so dedup keeps exactly one per text value among clustered
    // docs — survivors' texts of the clustered subgraph are distinct.
    val out = Dedup.simhashDedup(docs, "doc_id", "text")
    val survivors = out.where(col("text").isNotNull)
    assert(survivors.count() == out.count())
    val dupTexts = docs.groupBy(col("text")).count().where(col("count") > 1).count()
    if (dupTexts > 0)
      assert(survivors.count() < docs.where(col("text").isNotNull).count(),
        "identical-text groups must lose members")
    assert(survivors.groupBy(col("text")).count().where(col("count") > 1).count() == 0,
      "no two survivors may share a text")
  }

  test("purgeTombstones REFUSES the streaming (batch-partitioned) layout — probes filter, compact purges") {
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val t = "graft_purge_guard_spec"
    graft.io.Writer.emptyPartitionedBucketedTable(spark, t,
      StructType(Seq(StructField("id", LongType), StructField("fp", LongType),
        StructField(graft.streaming.StreamOps.BatchTag, LongType))),
      graft.streaming.StreamOps.BatchTag, "fp", 4)
    WinnowIndex.delete(spark, t, Seq(1L).toDF("id"))
    val e = intercept[IllegalArgumentException] {
      WinnowIndex.purgeTombstones(spark, t)
    }
    assert(e.getMessage.contains("batch-partitioned"),
      s"guard must name the streaming layout: ${e.getMessage}")
    spark.sql(s"DROP TABLE ${t}_tombstones")
    spark.sql(s"DROP TABLE $t")
  }

  test("WinnowIndex.delete: tombstoned docs vanish from probes; purge is answer-stable and idempotent") {
    import spark.implicits._
    val shared = "this exact passage appears verbatim in both documents today"
    val old = Seq(
      (1L, s"left context totally different $shared and then some more"),
      (2L, s"$shared trailing content that matches nothing else at all"),
      (3L, "an unrelated document with none of that text anywhere")).toDF("doc_id", "text")
    val newDocs = Seq(
      (10L, s"late arrival also containing $shared in its middle part")).toDF("doc_id", "text")
    val idx = "graft_del_spec_idx"
    if (spark.catalog.tableExists(idx + "_tombstones"))
      spark.sql(s"DROP TABLE ${idx}_tombstones")
    WinnowIndex.build(old, "doc_id", "text", idx)
    def probePairs() = WinnowIndex.probeNewBatch(spark, idx, newDocs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probePairs() == Set((1L, 10L), (2L, 10L)), "pre-delete: both quoters pair")
    WinnowIndex.delete(spark, idx, Seq(1L).toDF("id"))
    assert(probePairs() == Set((2L, 10L)), "deleted doc must vanish from probes")
    // Idempotent re-delete, plus a second id.
    WinnowIndex.delete(spark, idx, Seq(1L, 1L).toDF("id"))
    WinnowIndex.delete(spark, idx, Seq(2L).toDF("id"))
    assert(probePairs() == Set.empty, "both quoters deleted -> no pairs")
    val before = spark.table(idx).count()
    val purged = WinnowIndex.purgeTombstones(spark, idx)
    assert(purged > 0 && spark.table(idx).count() == before - purged,
      "purge must physically remove exactly the tombstoned postings")
    assert(!spark.catalog.tableExists(idx + "_tombstones"))
    assert(probePairs() == Set.empty, "purge never changes answers")
    assert(WinnowIndex.purgeTombstones(spark, idx) == 0L, "second purge is a no-op")
  }

  test("excisePassages: the quoted span is cut, surrounding prose survives, re-detection is clean") {
    import spark.implicits._
    val quote = "what is the capital of assyria answer nineveh obviously"
    val evalDocs = Seq(
      (1L, quote),
      (2L, "compute the integral of x squared dx from zero to one")).toDF("doc_id", "text")
    val prefix = "some web page with its own words here"
    val suffix = "and its own closing thoughts afterwards"
    val train = Seq(
      (100L, s"$prefix $quote $suffix"),
      (101L, "completely unrelated training document about spark shuffles")).toDF("doc_id", "text")
    val out = Dedup.excisePassages(train, evalDocs, "doc_id", "text",
      k = 20, w = 8, minShared = 2)
    val rows = out.collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(100L), "only the quoting doc flags")
    val r = rows.head
    val clean = r.getAs[String]("clean_text")
    assert(!clean.contains(quote), "the quoted span must be gone")
    assert(clean.startsWith(prefix.dropRight(19)) || clean.startsWith(prefix.take(10)),
      s"prefix prose must survive (cut may clip up to k-1 adjoining chars): $clean")
    assert(clean.contains(suffix.drop(19)) || clean.contains(suffix.takeRight(10)),
      s"suffix prose must survive: $clean")
    assert(r.getAs[Long]("clean_len") == clean.length.toLong)
    assert(r.getAs[Long]("clean_len") < r.getAs[Long]("orig_len"))
    // Surgical, not whole-doc: most of the non-quoted text remains.
    assert(clean.length >= (prefix.length + suffix.length) - 2 * 19,
      s"cut must not exceed the span plus k-1 on each side: ${clean.length}")
    // Re-detection on the cleaned doc finds nothing.
    val cleaned = Seq((100L, clean)).toDF("doc_id", "text")
    assert(Dedup.crossCorpusPairs(cleaned, evalDocs, "doc_id", "text",
      k = 20, w = 8, minShared = 2).count() == 0,
      "excised doc must no longer flag")
  }

  test("streamDecontaminate: streamed flags equal the one-shot; shard-split-invariant") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    val evalDocs = Seq(
      (1L, "what is the capital of assyria answer nineveh obviously"),
      (2L, "compute the integral of x squared dx from zero to one")).toDF("doc_id", "text")
    val train = Seq(
      (100L, "some web page what is the capital of assyria answer nineveh obviously and more prose"),
      (101L, "completely unrelated training document about spark shuffles"),
      (102L, "late shard quoting compute the integral of x squared dx from zero to one verbatim"),
      (103L, "another clean doc on parquet footers and row groups")).toDF("doc_id", "text")
    val idx = "graft_stream_decon_spec_eval"
    WinnowIndex.build(evalDocs, "doc_id", "text", idx, k = 20, w = 8)
    def run(splitAt: Long, tag: String): Set[(Long, Long, Long)] = {
      val base = Files.createTempDirectory(s"graft_stream_decon_spec_$tag").toString
      val inDir = s"$base/in"
      Files.createDirectories(Paths.get(inDir))
      Seq(train.where(col("doc_id") < splitAt), train.where(col("doc_id") >= splitAt))
        .zipWithIndex.foreach { case (df, i) =>
          val w = s"$base/w$i"
          df.coalesce(1).write.mode("overwrite").parquet(w)
          val part = new java.io.File(w).listFiles()
            .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
          Files.move(part.toPath, Paths.get(inDir, s"shard_$i.parquet"))
        }
      val stream = spark.readStream.schema(train.schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir)
      val (acc, n) = WinnowIndex.streamDecontaminate(spark, idx, stream,
        "doc_id", "text", queryName = s"stream_decon_spec_$tag")
      assert(n == 2, s"expected 2 micro-batches, got $n")
      acc.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    val a = run(102L, "a")
    val oneShot = Dedup.crossCorpusPairs(train, evalDocs, "doc_id", "text",
        k = 20, w = 8, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a == oneShot,
      s"streamed flags diverged: extra=${a -- oneShot} missing=${oneShot -- a}")
    assert(a.map(p => (p._1, p._2)) == Set((100L, 1L), (102L, 2L)),
      s"exactly the two planted leaks must flag: $a")
    // A different shard split accumulates the identical flag set —
    // batches are independent by construction (static eval index).
    assert(run(101L, "b") == a, "shard split must not change the flags")
  }

  test("containmentOn: scores any pair frame, payload columns ride through, directions exact") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox"),          // 4 distinct tokens
      (2L, "the quick brown fox jumps over the lazy dog"), // 8 distinct
      (3L, "completely different words")
    ).toDF("doc_id", "text")
    // An arbitrary detected-pair frame with a payload column.
    val pairs = Seq((1L, 2L, 7L), (1L, 3L, 1L)).toDF("id_a", "id_b", "n_shared")
    val out = Dedup.containmentOn(docs, pairs)
    assert(out.columns.toSeq == Seq("id_a", "id_b", "n_shared",
      "inter", "n_a", "n_b", "contain_a_in_b", "contain_b_in_a"))
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1)) ->
      (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
        r.getDouble(6), r.getDouble(7))).toMap
    // Doc 1 fully contained in doc 2: |A∩B|/|A| = 1, Jaccard-ish
    // direction b-in-a = 4/8 — the asymmetry the signal exists for.
    assert(rows((1L, 2L)) == ((7L, 4L, 4L, 8L, 1.0, 0.5)))
    // Disjoint pair: zero both ways; payload preserved.
    assert(rows((1L, 3L)) == ((1L, 0L, 4L, 3L, 0.0, 0.0)))
  }
}
