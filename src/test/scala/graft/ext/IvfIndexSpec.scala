package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** The persisted IVF index: train + assign once, probe many. The probe
  * plan must partition-prune to the probed clusters and carry no
  * shuffle, and its results must be identical to the on-the-fly
  * Similarity.ivfTopK with the same trained centroids.
  */
class IvfIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val table = "ivf_index_spec"

  test("probe of a saved IVF index: partition-pruned scan, no exchange, ivfTopK-identical") {
    val e = Tables.embeddings(spark, TestSpark.sf0001)
    val corpus = e.where(col("vec_id") =!= 0).select(col("vec_id"), col("embedding"))
    val q = e.where(col("vec_id") === 0).select("embedding").first().getSeq[Float](0)
    val built = IvfIndex.build(corpus, "vec_id", "embedding", table, k = 8, iters = 2)
    try {
      // Centroids round-trip exactly (floats are lossless in parquet).
      assert(IvfIndex.centroids(spark, table) == built)
      val probe = IvfIndex.probeTopK(spark, table, "vec_id", "embedding", q, 10, nProbe = 2)
      val plan = probe.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("cluster_id"),
        s"probe scan must partition-prune on cluster_id:\n$plan")
      assert(!plan.contains("Exchange"), s"probe plan shuffles:\n$plan")
      // Identical to the on-the-fly path with the same centroids: same
      // driver-side cluster ranking, same cosine expression.
      val direct = Similarity.ivfTopK(corpus, "vec_id", "embedding", q, 10, built, nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val served = probe.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(served == direct, s"index probe diverges from ivfTopK:\n$served\nvs\n$direct")
      // Probing every cluster through the index is exhaustive (equals
      // brute force), exactly like on-the-fly IVF.
      val all = IvfIndex.probeTopK(spark, table, "vec_id", "embedding", q, 10, nProbe = 8)
        .collect().map(_.getLong(0)).toSet
      val brute = Similarity.bruteForceTopK(corpus, "vec_id", "embedding", q, 10)
        .collect().map(_.getLong(0)).toSet
      assert(all == brute, "full-probe index scan must equal brute force")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"DROP TABLE IF EXISTS ${IvfIndex.centroidsTable(table)}")
    }
  }

  test("quantized probe: int8 pre-rank scans only qv, float re-rank matches the float probe") {
    val e = Tables.embeddings(spark, TestSpark.sf0001)
    val corpus = e.where(col("vec_id") =!= 0).select(col("vec_id"), col("embedding"))
    val q = e.where(col("vec_id") === 0).select("embedding").first().getSeq[Float](0)
    val t = table + "_q"
    IvfIndex.build(corpus, "vec_id", "embedding", t, k = 8, iters = 2)
    try {
      // The saved index carries the int8 column as real tinyints.
      assert(spark.table(t).schema("qv").dataType ==
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.ByteType, containsNull = true))
      val flt = IvfIndex.probeTopK(spark, t, "vec_id", "embedding", q, 10, nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      val qnt = IvfIndex.probeTopKQuantized(spark, t, "vec_id", "embedding", q, 10, nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      // Same probed clusters + exact float re-rank: every id surviving
      // the 4x shortlist carries the IDENTICAL score; overlap >= 8.
      val fm = flt.toMap
      qnt.foreach { case (id, s) =>
        fm.get(id).foreach(fs => assert(fs == s,
          s"re-ranked score for $id diverges: $s vs $fs"))
      }
      assert(qnt.map(_._1).toSet.intersect(flt.map(_._1).toSet).size >= 8,
        s"quantized probe lost recall vs float: ${qnt.toSeq} vs ${flt.toSeq}")
      // The scan contract (pre-rank reads ONLY qv; re-rank reaches the
      // float column via a pushed In(vec_id) shortlist) is pinned in
      // PlanAuditSpec with the other plan audits.
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${IvfIndex.centroidsTable(t)}")
    }
  }

  test("streamIngest: micro-batched shards accumulate the cell-blocked pair set; index serves probeTopK; compact preserves both") {
    import java.nio.file.{Files, Paths}
    import graft.streaming.StreamOps
    val e = Tables.embeddings(spark, TestSpark.sf0001)
      .select(col("vec_id"), col("embedding"))
    val cents = Similarity.ivfCentroids(e, "vec_id", "embedding", 8)
    // Two single-file shards by vec_id parity: cross-shard pairs force
    // the second batch to probe vectors the FIRST batch appended.
    val base = Files.createTempDirectory("graft_ivf_stream_spec_").toString
    val inDir = s"$base/in"
    Files.createDirectories(Paths.get(inDir))
    Seq(e.where(pmod(col("vec_id"), lit(2)) === 0),
        e.where(pmod(col("vec_id"), lit(2)) === 1))
      .zipWithIndex.foreach { case (df, i) =>
        val w = s"$base/w$i"
        df.coalesce(1).write.mode("overwrite").parquet(w)
        val part = new java.io.File(w).listFiles()
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          .get
        Files.move(part.toPath, Paths.get(inDir, s"shard_$i.parquet"))
      }
    val t = "graft_ivf_stream_spec"
    val stream = spark.readStream.schema(e.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    val (acc, nBatches) = IvfIndex.streamIngest(spark, t, stream,
      "vec_id", "embedding", cents, threshold = 0.35,
      queryName = "ivf_stream_spec")
    try {
      assert(nBatches == 2, s"expected 2 micro-batches, got $nBatches")
      val streamed = acc.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // VALUE-exact equivalence (ids AND scores) with the one-shot
      // cell-blocked pairs under the same fixed centroids — the
      // probeNewBatch contract.
      val oneShot = Similarity.cosinePairsWithin(
          Similarity.ivfAssign(e, "vec_id", "embedding", cents),
          "vec_id", "embedding", "cluster_id", 0.35, maxBlockSize = Int.MaxValue)
        .select(col("id_a"), col("id_b"), col("cos_sim"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamed.nonEmpty, "fixture produced no pairs — lower the threshold")
      assert(streamed == oneShot,
        s"streamed accumulation diverged: extra=${streamed -- oneShot} missing=${oneShot -- streamed}")
      // Cross-shard coverage: at least one pair spans the two parity
      // shards (its members' parities differ), so the second batch
      // provably probed the first batch's appended vectors.
      assert(streamed.exists { case (a, b, _) => a % 2 != b % 2 },
        "no cross-shard pair — the probe-then-append path went unexercised")
      // The ingested index doubles as a servable ANN index: probeTopK
      // against it is identical to on-the-fly ivfTopK with the same
      // centroids over the same corpus.
      val q = e.where(col("vec_id") === 0)
        .select("embedding").first().getSeq[Float](0)
      def served() = IvfIndex.probeTopK(spark, t, "vec_id", "embedding", q, 10, nProbe = 3)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val direct = Similarity.ivfTopK(e, "vec_id", "embedding", q, 10, cents, nProbe = 3)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(served() == direct,
        "streamed-index probe diverges from on-the-fly ivfTopK")
      // Compaction merges the per-batch partitions; pair sink contents
      // and probe results are unchanged.
      val merged = IvfIndex.compact(spark, t)
      assert(merged == 2, s"expected 2 batch partitions merged, got $merged")
      val afterPairs = spark.table(t + "_pairs").drop(StreamOps.BatchTag)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(afterPairs == streamed, "compact changed the pair sink contents")
      assert(served() == direct, "compact changed probeTopK results")
    } finally {
      Seq(t, t + "_pairs", IvfIndex.centroidsTable(t))
        .foreach(x => spark.sql(s"DROP TABLE IF EXISTS `$x`"))
    }
  }

  test("streamIngest: a vector deleted between batches pairs with no later batch; later pairs equal a stream over the live rows") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    import graft.streaming.StreamOps
    val e = Tables.embeddings(spark, TestSpark.sf0001)
      .select(col("vec_id"), col("embedding"))
    val cents = Similarity.ivfCentroids(e, "vec_id", "embedding", 8)
    val threshold = 0.35
    def shard(i: Int) = e.where(pmod(col("vec_id"), lit(3)) === i)
    // The victim: an id of shards 0–1 that pairs with a shard-2 vector
    // in the one-shot cell-blocked pair set, so an unfiltered probe of
    // shard 2 would emit it.
    val victim = Similarity.cosinePairsWithin(
        Similarity.ivfAssign(e, "vec_id", "embedding", cents),
        "vec_id", "embedding", "cluster_id", threshold, maxBlockSize = Int.MaxValue)
      .select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .collectFirst { case (a, b) if (a % 3 == 2) != (b % 3 == 2) =>
        if (a % 3 == 2) b else a }
      .getOrElse(fail("fixture has no pair across shard 2 — lower the threshold"))
    // Shards 0 and 1, then shard 2 on a restart of the same checkpoint;
    // `between` runs while the stream is quiesced. Returns shard 2's
    // pairs (batch 2's sink partition).
    def ingest(t: String, first: Seq[org.apache.spark.sql.DataFrame],
               between: () => Unit): Set[(Long, Long, Double)] = {
      val base = Files.createTempDirectory("graft_ivf_takedown_spec_").toString
      val inDir = s"$base/in"
      Files.createDirectories(Paths.get(inDir))
      def addShard(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
        val w = s"$base/w_$name"
        df.coalesce(1).write.mode("overwrite").parquet(w)
        val part = new java.io.File(w).listFiles()
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
        Files.move(part.toPath, Paths.get(inDir, s"$name.parquet"))
      }
      def run(): Int = {
        val stream = spark.readStream.schema(e.schema)
          .option("maxFilesPerTrigger", "1").parquet(inDir)
        IvfIndex.streamIngest(spark, t, stream, "vec_id", "embedding", cents,
          threshold = threshold, queryName = t,
          checkpointLocation = Some(s"$base/ckpt"))._2
      }
      first.zipWithIndex.foreach { case (df, i) => addShard(df, s"shard_$i") }
      assert(run() == 2, "shards 0-1 must arrive as two batches")
      between()
      addShard(shard(2), "shard_2")
      assert(run() == 1, "the restart must process only shard 2")
      spark.table(t + "_pairs").where(col(StreamOps.BatchTag) === 2L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    val (tDel, tLive) = ("graft_ivf_takedown_spec", "graft_ivf_takedown_live_spec")
    def dropAll(): Unit = Seq(tDel, tLive)
      .flatMap(t => Seq(t, t + "_pairs", t + "_tombstones", IvfIndex.centroidsTable(t)))
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS `$x`"))
    dropAll()
    try {
      val deleted = ingest(tDel, Seq(shard(0), shard(1)),
        () => IvfIndex.delete(spark, tDel, Seq(victim).toDF("id")))
      val live = ingest(tLive,
        Seq(shard(0), shard(1)).map(_.where(col("vec_id") =!= victim)), () => ())
      assert(deleted.nonEmpty, "shard 2 produced no pairs — lower the threshold")
      assert(!deleted.exists { case (a, b, _) => a == victim || b == victim },
        s"deleted vector $victim still pairs with shard 2: $deleted")
      assert(deleted == live,
        s"takedown-filtered pairs diverge from a stream over the live rows: " +
          s"extra=${deleted -- live} missing=${live -- deleted}")
    } finally dropAll()
  }

  test("excludeBatch: a crashed attempt's orphaned index append does not inflate the vector probe") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
    val e = Tables.embeddings(spark, TestSpark.sf0001)
      .select(col("vec_id"), col("embedding"))
    val cents = Similarity.ivfCentroids(e, "vec_id", "embedding", 8)
    val t = "graft_ivf_exclude_batch_spec"
    try {
      graft.io.Writer.emptyPartitionedBucketedTable(spark, t,
        StructType(Seq(
          StructField("vec_id", LongType),
          StructField("embedding", e.schema("embedding").dataType),
          StructField("cluster_id", IntegerType),
          StructField(StreamOps.BatchTag, LongType))),
        StreamOps.BatchTag, "cluster_id", 16)
      def assign(df: org.apache.spark.sql.DataFrame) =
        Similarity.ivfAssign(df, "vec_id", "embedding", cents)
          .select(col("vec_id"), col("embedding"), col("cluster_id"))
          .localCheckpoint(true)
      // Batch 0 committed: even ids.
      StreamOps.writeBatchToSink(spark, t,
        assign(e.where(pmod(col("vec_id"), lit(2)) === 0)), 0L)
      spark.catalog.refreshTable(t)
      // Batch 1 = odd ids. Probe BEFORE any batch-1 append — the clean
      // delivery's result (ids AND scores).
      val nb = assign(e.where(pmod(col("vec_id"), lit(2)) === 1))
      def probe(): Set[(Long, Long, Double)] =
        IvfIndex.probeNewBatch(spark, t, nb, "vec_id", "embedding",
          threshold = 0.35, excludeBatch = Some(1L))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val clean = probe()
      assert(clean.nonEmpty, "fixture produced no pairs — lower the threshold")
      // CRASHED attempt: the index append landed, the checkpoint
      // commit did not; redelivery sees the batch's vectors in the
      // index AND as the incoming batch.
      StreamOps.writeBatchToSink(spark, t, nb, 1L)
      spark.catalog.refreshTable(t)
      assert(probe() == clean,
        "redelivered vector probe with excludeBatch must equal the pre-crash probe")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS `$t`")
    }
  }

  test("probeBatch float + int8 tiers: bit-identical to the single probes per query; re-rank ladder equal; tombstones honored; nProbe=0 degrades") {
    import spark.implicits._
    val e = Tables.embeddings(spark, TestSpark.sf0001)
    val corpus = e.where(col("vec_id") >= 10).select(col("vec_id"), col("embedding"))
    // 10 queries: past FlatFanoutMax, so the float re-rank runs its
    // literal-indexed lambda; the 3-query batch below runs the flat one.
    val qs = e.where(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toSeq.sortBy(_._1)
    val t = "ivf_batch_spec"
    IvfIndex.build(corpus, "vec_id", "embedding", t, k = 8, iters = 2)
    val k = 10
    val nProbe = 2
    def collectBatch(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    def batchF() = collectBatch(
      IvfIndex.probeBatch(spark, t, "vec_id", "embedding", qs, k, nProbe))
    def batchQ() = collectBatch(
      IvfIndex.probeBatchQuantized(spark, t, "vec_id", "embedding", qs, k, nProbe))
    try {
      // Per-query ORDERED equality (ids AND exact scores) against both
      // single probes — the bit-identity contract, and the kernel ≡
      // expression pin (the singles evaluate cosineIn / the guarded
      // qv division; the batch fans out through graft_ivf_cos_scores).
      val f = batchF()
      val qn = batchQ()
      val fByQ = f.groupBy(_._1)
      val qByQ = qn.groupBy(_._1)
      qs.foreach { case (qid, q) =>
        val sf = IvfIndex.probeTopK(spark, t, "vec_id", "embedding", q, k, nProbe)
          .collect().map(r => (qid, r.getLong(0), r.getDouble(1))).toSeq
        assert(fByQ.getOrElse(qid, Seq.empty) == sf,
          s"float batch diverges from probeTopK for query $qid")
        val sq = IvfIndex.probeTopKQuantized(spark, t, "vec_id", "embedding", q, k, nProbe)
          .collect().map(r => (qid, r.getLong(0), r.getDouble(1))).toSeq
        assert(qByQ.getOrElse(qid, Seq.empty) == sq,
          s"quantized batch diverges from probeTopKQuantized for query $qid")
      }
      // The re-rank ladder (flat ≤ FlatFanoutMax, lambda past it)
      // must produce the identical rows.
      val few = qs.take(3)
      val fewF = collectBatch(
        IvfIndex.probeBatch(spark, t, "vec_id", "embedding", few, k, nProbe))
      val fewKeys = few.map(_._1).toSet
      assert(fewF == f.filter(r => fewKeys.contains(r._1)),
        "flat re-rank (3 queries) diverges from the lambda re-rank (10 queries)")
      // Tombstones: a deleted id vanishes from both batch tiers.
      val victim = f.head._2
      IvfIndex.delete(spark, t, Seq(victim).toDF("id"))
      assert(!batchF().exists(_._2 == victim), "float batch must hide tombstones")
      assert(!batchQ().exists(_._2 == victim), "quantized batch must hide tombstones")
      // Degenerate fan-out: nProbe = 0 gives every query an EMPTY
      // probed-cell list — both tiers must return empty, not throw.
      val noneF = IvfIndex.probeBatch(spark, t, "vec_id", "embedding", qs, k, 0)
      val noneQ = IvfIndex.probeBatchQuantized(spark, t, "vec_id", "embedding", qs, k, 0)
      assert(noneF.count() == 0 && noneQ.count() == 0)
      assert(noneF.columns.toSeq == Seq("query_id", "vec_id", "cos_sim"))
      assert(noneQ.columns.toSeq == Seq("query_id", "vec_id", "cos_sim"))
    } finally {
      Seq(t, IvfIndex.centroidsTable(t), t + "_tombstones")
        .foreach(x => spark.sql(s"DROP TABLE IF EXISTS `$x`"))
    }
  }

  test("probeBatch degenerate vectors: null-score member rows survive the kernel fan-out nulls-last, bit-identical to the single probes") {
    import spark.implicits._
    // A vector the lifecycle can't produce but a hand-maintained index
    // table can hold (round-17 advice #1): an all-zero vector INSIDE a
    // real cell. The family's own build/append assign a 0-norm vector
    // a NULL cluster_id (its cosine to every centroid is null — non-
    // ANSI Divide returns null on a 0.0 divisor — so the argmax is
    // null) and every probe's cell pruning excludes it; injecting the
    // row into cell 0 post-build simulates the external-writer case.
    // Its float cosine AND int8 pre-rank score are both NULL — the
    // single probes keep it nulls-last and the batch paths must match
    // bit-for-bit (the pre-fix kernel fan-out dropped the row; the
    // pre-fix kernel also scored 0-norm rows Java-NaN where the
    // expression path nulls, a NaN-first-vs-nulls-last rank flip).
    val e = Tables.embeddings(spark, TestSpark.sf0001)
    val corpus = e.where(col("vec_id") >= 10 && col("vec_id") < 40)
      .select(col("vec_id"), col("embedding"))
    val dim = corpus.select(size(col("embedding"))).first().getInt(0)
    val qs = e.where(col("vec_id") < 3)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toSeq.sortBy(_._1)
    val t = "ivf_batch_degen_spec"
    IvfIndex.build(corpus, "vec_id", "embedding", t, k = 8, iters = 2)
    spark.range(1).select(
        lit(9000L).as("vec_id"),
        array_repeat(lit(0.0f), dim).as("embedding"),
        array_repeat(lit(0).cast("tinyint"), dim).as("qv"),
        lit(0).as("cluster_id"))
      .write.mode("append").insertInto(t)
    // k beyond any cell's non-null occupancy and nProbe = all cells:
    // the null-score member MUST surface in every query's result.
    val k = 40
    val nProbe = 8
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
    try {
      val bf = rows(IvfIndex.probeBatch(spark, t, "vec_id", "embedding",
        qs, k, nProbe))
      val bq = rows(IvfIndex.probeBatchQuantized(spark, t, "vec_id",
        "embedding", qs, k, nProbe))
      qs.foreach { case (qid, q) =>
        val sf = rows(IvfIndex.probeTopK(spark, t, "vec_id", "embedding", q, k, nProbe)
          .select(lit(qid).as("query_id"), col("vec_id"), col("cos_sim")))
        assert(bf.filter(_._1 == qid) == sf,
          s"float batch diverges from probeTopK on the degenerate corpus for query $qid")
        val sq = rows(IvfIndex.probeTopKQuantized(spark, t, "vec_id", "embedding", q, k, nProbe)
          .select(lit(qid).as("query_id"), col("vec_id"), col("cos_sim")))
        assert(bq.filter(_._1 == qid) == sq,
          s"quantized batch diverges from probeTopKQuantized on the degenerate corpus for query $qid")
      }
      // The degenerate vector is PRESENT in both tiers' batch output
      // for every query (pre-fix: vanished from the kernel path).
      qs.foreach { case (qid, _) =>
        assert(bf.exists(r => r._1 == qid && r._2 == 9000L),
          s"zero vector missing from float batch for query $qid")
        assert(bq.exists(r => r._1 == qid && r._2 == 9000L),
          s"zero vector missing from quantized batch for query $qid")
      }
    } finally {
      Seq(t, IvfIndex.centroidsTable(t), t + "_tombstones")
        .foreach(x => spark.sql(s"DROP TABLE IF EXISTS `$x`"))
    }
  }

  test("delete: tombstoned vectors vanish from float AND quantized probes; purge answer-stable") {
    import spark.implicits._
    val e = Tables.embeddings(spark, TestSpark.sf0001)
    val q = e.where(col("vec_id") === 0)
      .select(col("embedding")).first().getSeq[Float](0)
    val corpus = e.where(col("vec_id") =!= 0)
    val t = "ivf_del_spec"
    if (spark.catalog.tableExists(t + "_tombstones"))
      spark.sql(s"DROP TABLE ${t}_tombstones")
    IvfIndex.build(corpus, "vec_id", "embedding", t, k = 8, iters = 1)
    def top(k: Int) = IvfIndex.probeTopK(spark, t, "vec_id", "embedding", q, k, nProbe = 8)
      .collect().map(_.getLong(0)).toSeq
    val before = top(10)
    // Delete the current top-2 hits: they must vanish, the rest keep order.
    IvfIndex.delete(spark, t, before.take(2).toDF("id"))
    val after = top(10)
    assert(!after.exists(before.take(2).contains), "deleted ids must vanish")
    assert(after.take(8) == before.drop(2), "survivors keep their exact order")
    // Quantized probe honors tombstones too.
    val qTop = IvfIndex.probeTopKQuantized(spark, t, "vec_id", "embedding", q, 10, nProbe = 8)
      .collect().map(_.getLong(0)).toSeq
    assert(!qTop.exists(before.take(2).contains), "quantized probe must hide tombstones")
    val purged = IvfIndex.purgeTombstones(spark, t, "vec_id")
    assert(purged == 2L, s"exactly the two tombstoned rows purge, got $purged")
    assert(top(10) == after, "purge never changes answers")
    assert(IvfIndex.purgeTombstones(spark, t, "vec_id") == 0L)
  }

  test("build into a reused name drops the old index's takedowns") {
    import spark.implicits._
    val e = Tables.embeddings(spark, TestSpark.sf0001)
    val q = e.where(col("vec_id") === 0)
      .select(col("embedding")).first().getSeq[Float](0)
    val corpus = e.where(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"))
    val t = "ivf_rebuild_takedown_spec"
    def top() = IvfIndex.probeTopK(spark, t, "vec_id", "embedding", q, 10,
        nProbe = 8).collect().map(_.getLong(0)).toSeq
    try {
      IvfIndex.build(corpus, "vec_id", "embedding", t, k = 4, iters = 1)
      val hit = top().head
      IvfIndex.delete(spark, t, Seq(hit).toDF("id"))
      assert(!top().contains(hit), "the takedown hides the id")
      IvfIndex.build(corpus, "vec_id", "embedding", t, k = 4, iters = 1)
      assert(top().head == hit,
        "a rebuilt index must not inherit the old index's takedowns")
    } finally {
      Seq(t, IvfIndex.centroidsTable(t), t + "_tombstones")
        .foreach(x => spark.sql(s"DROP TABLE IF EXISTS `$x`"))
    }
  }

  test("probeTopKQuantized refuses a shortlist below k, like the other shortlist paths") {
    // A shortlist of 5 cannot hold a top-10: the re-rank would return
    // fewer than k rows without a word.
    val q = Seq.fill(8)(0.5f)
    val ex = intercept[IllegalArgumentException] {
      IvfIndex.probeTopKQuantized(spark, table, "vec_id", "embedding", q, 10,
        nProbe = 2, shortlist = 5)
    }
    assert(ex.getMessage.contains("shortlist 5 < topK 10"), ex.getMessage)
  }
}
