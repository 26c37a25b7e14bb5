package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, IvfIndex, IvfPq, OperatingPoint, Quantize, Similarity, TierAdvisor}

/** Embedding-family registry: similarity search (brute force / LSH /
  * IVF, persisted indexes), quantization, the approximate-similarity-
  * join rewrite, and the kernel-equivalence gate. Split out of
  * ExtensionQueries (round 8) purely for navigation — registry
  * contents and oracle rules are unchanged; ExtensionQueries.all
  * merges the families. */
private[graft] object VectorQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x_cosine_topk" -> ((s, dir) => cosineTopK(s, dir)),
    "x_cosine_adjacent" -> ((s, dir) => cosineAdjacent(s, dir)),
    "x_hard_negatives" -> ((s, dir) => {
      // Hard-negative mining via the CHUNKED path (Similarity
      // .hardNegativesChunked): top-5 different-label neighbors for a
      // 5-anchor batch forced through 3 hash-slices (sliceSize = 2),
      // so the epoch-scale union plan is what the oracle checks —
      // per-anchor top-k is slice-independent, result identical to the
      // one-shot broadcast (SimilaritySpec pins the equality).
      val emb = Tables.embeddings(s, dir)
      Similarity.hardNegativesChunked(emb, "vec_id", "embedding", "label",
          emb.where(col("vec_id") < 5), k = 5, sliceSize = 2)
        .select(col("anchor_id"), col("vec_id"), col("cos_sim"),
          col("rank").cast("long").as("rank"))
        .orderBy(col("anchor_id"), col("rank"))
    }),
    "x_cosine_pairs_label" -> ((s, dir) =>
      // maxBlockSize mirrored in the oracle SQL (HAVING count <= cap)
      // so the guard is part of the checked semantics, not a test-scale
      // accident — at sf<=0.1 no label block comes near 10000.
      Similarity.cosinePairsWithin(
          Tables.embeddings(s, dir), "vec_id", "embedding", "label", -1.0,
          maxBlockSize = 10000)
        .groupBy(col("blk").as("label"))
        .agg(count(lit(1)).as("n_pairs"),
          sum((col("cos_sim") >= 0.35).cast("long")).as("n_close"),
          max(col("cos_sim")).as("max_cos"))
        .orderBy(col("label"))),
    "x_ann_lsh_buckets" -> ((s, dir) =>
      // Bucket IDs are hash-derived, but the bucketing's invariants
      // are oracle-checkable over the real per-vector buckets: the
      // per-bucket counts must sum to the corpus (every vector lands
      // in exactly one bucket), every bucket in [0, 2^8), occupied
      // buckets at most 2^8. Per-bucket values stay in SimilaritySpec.
      Tables.embeddings(s, dir)
        .select(Similarity.lshBucketIn(col("embedding"), 8).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
        .agg(coalesce(sum(col("n")), lit(0L)).as("total_vecs"),
          (min(col("bucket")) >= 0 && max(col("bucket")) < 256)
            .cast("long").as("bounds_ok"),
          (count(lit(1)) <= 256).cast("long").as("n_buckets_ok"))),
    "x_ann_topk" -> ((s, dir) => annTopK(s, dir)),
    "x_embed_neardup" -> ((s, dir) => embedNearDup(s, dir)),
    "x_embed_dedup" -> ((s, dir) => embedDedup(s, dir)),
    "x_semantic_dedup" -> ((s, dir) => semanticDedupGate(s, dir)),
    "x_ivf_topk" -> ((s, dir) => ivfTopK(s, dir)),
    "x_stream_embed_ingest" -> ((s, dir) => streamEmbedIngest(s, dir)),
    "x_stream_serve" -> ((s, dir) => streamServe(s, dir)),
    "x_stream_serve_ivfpq" -> ((s, dir) => streamServeIvfPq(s, dir)),
    "x_rebalance" -> ((s, dir) => rebalanceGate(s, dir)),
    "x_vec_drift" -> ((s, dir) => vecDrift(s, dir)),
    "x_stream_vec_drift" -> ((s, dir) => streamVecDrift(s, dir)),
    "x_trunc_recall" -> ((s, dir) => {
      // Matryoshka operating curve (Similarity.truncationRecall): how
      // much top-10 recall survives serving only the first 8/16/32 of
      // the 64 dims — 8 anchors' truncated top-10s intersected with
      // their full-dimension truth, integer overlaps and floor-milli
      // recall, fully DuckDB-replayed.
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding"))
      Similarity.truncationRecall(e, "vec_id", "embedding",
        e.where(col("vec_id") < 8), dims = Seq(8, 16, 32), k = 10)
    }),
    "x_approx_sim_join" -> ((s, dir) => approxSimJoin(s, dir)),
    "x_kernel_equiv" -> ((s, dir) => kernelEquiv(s, dir)),
    "x_ann_recall" -> ((s, dir) => annRecall(s, dir)),
    "x_ivf_recall" -> ((s, dir) => ivfRecall(s, dir)),
    "x_ivf_quantized" -> ((s, dir) => ivfQuantized(s, dir)),
    "x_ivfpq_topk" -> ((s, dir) => ivfpqTopK(s, dir)),
    "x_ivfpq_batch" -> ((s, dir) => ivfpqBatch(s, dir)),
    "x_ivf_batch" -> ((s, dir) => ivfBatch(s, dir)),
    "x_vector_eval" -> ((s, dir) => vectorEval(s, dir)),
    "x_stream_ivfpq" -> ((s, dir) => streamIvfPq(s, dir)),
    "x_quantize_dot" -> ((s, dir) => quantizeDot(s, dir)),
    "x_tier_advisor" -> ((s, dir) => {
      // The measured serving-tier regime boundary as a queryable
      // decision (graft.ext.TierAdvisor): 8 anchor queries' exact
      // top-2 margins + the int8 tier's observed noise on those
      // pairs, floor-to-micro integers, cheapest tier whose
      // resolution the worst margin clears 2x. Fully DuckDB-replayed
      // (quantization, sequential-fold cosines, rank windows, CASE).
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding"))
      TierAdvisor.advise(e, "vec_id", "embedding",
        e.where(col("vec_id") < 8))
    }),
    "x_nprobe_advisor" -> ((s, dir) => {
      // The operating-point advisor (graft.ext.OperatingPoint —
      // VERDICT r18 #5): the recall-vs-nProbe curve as a queryable
      // decision. Seed centroids (first-8 by id) fix the cell space so
      // the WHOLE decision — assignment argmax, cell probe ranks, the
      // per-nProbe top-10 overlaps, the milli-recall, the recommended
      // smallest nProbe clearing 950 milli — is DuckDB-value-replayed
      // (production passes IvfIndex.centroids for the live index's
      // own measured curve; x_tier_advisor's convention).
      val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      OperatingPoint.nProbeCurve(e, "vec_id", "embedding",
        e.where(col("vec_id") < 8),
        Similarity.ivfCentroids(e, "vec_id", "embedding", 8),
        nProbes = Seq(1, 2, 4, 8), k = 10)
    }),
    "x_shortlist_advisor" -> ((s, dir) => {
      // The shortlist-width half of the operating-point question
      // (OperatingPoint.shortlistCurve): at nProbe 4 over the 8-cell
      // seed layout, how wide must the int8 pre-rank shortlist be
      // before the float re-rank sees every true top-10 member?
      // Sampled at 10/20/40; quantization, both cosines, both rank
      // windows, the per-width overlaps, and the smallest clearing
      // width all DuckDB-value-replayed.
      val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      OperatingPoint.shortlistCurve(e, "vec_id", "embedding",
        e.where(col("vec_id") < 8),
        Similarity.ivfCentroids(e, "vec_id", "embedding", 8),
        nProbe = 4, shortlists = Seq(10, 20, 40), k = 10)
    }),
    "x_quantize_recall" -> ((s, dir) => quantizeRecall(s, dir)),
    "x_pq_recall" -> ((s, dir) => pqRecall(s, dir)),
    "x_pq_batch" -> ((s, dir) => pqBatch(s, dir)),
    "x_embed_norms" -> ((s, dir) =>
      // Vector-corpus quality histogram: L2 norms bucketed at 0.25
      // width. The per-vector sum-of-squares is a sequential fold
      // (kernel and DuckDB's list_reduce accumulate left-to-right in
      // double), so buckets match exactly across engines.
      Tables.embeddings(s, dir)
        .select(floor(sqrt(
            Similarity.dotIn(col("embedding"), col("embedding"))) * 4)
          .cast("long").as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
        .orderBy(col("bucket")))
  )

  /** The naive cosine-threshold self-join, scaled by the opt-in
    * optimizer rewrite (graft.plans.ApproxSimilarityJoin). The flag is
    * scoped to the rewritten computation: set, the rewritten join
    * EXECUTED into an eager checkpoint (a downstream action builds a
    * fresh QueryExecution and would re-optimize without the flag — a
    * lazily returned plan would silently lose the rewrite), then
    * restored. The rewritten pair count is hash-dependent (LSH-bucket
    * recall), so the gate bounds it with hash-independent truth: the
    * SAME query executed WITHOUT the flag (the un-rewritten n² path —
    * gate/bench scale only) must be an upper bound, and the
    * identical-vector pair count a lower bound. Plan-shape semantics
    * stay pinned by ApproxSimilarityJoinSpec.
    */
  private def approxSimJoin(s: SparkSession, dir: String): DataFrame = {
    val flag = "spark.graft.approxSimilarityJoin"
    def pairCount(): DataFrame = {
      val e = Tables.embeddings(s, dir)
      val a = e.select(col("vec_id").as("id_a"), col("embedding").as("v_a"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("v_b"))
      a.crossJoin(b)
        .where(call_function("graft_cosine_sim", col("v_a"), col("v_b")) >= lit(0.9)
          && col("id_a") < col("id_b"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint(true) // executes under the CURRENT flag state; 1 row
    }
    val prev = s.conf.getOption(flag)
    s.conf.set(flag, "true")
    val rewritten =
      try pairCount()
      finally prev match {
        case Some(v) => s.conf.set(flag, v)
        case None => s.conf.unset(flag)
      }
    // Truth via bruteForcePairs, not the un-rewritten cross join: its
    // norms are precomputed per VECTOR (n, not n² — the kernel cosine
    // recomputes both norms per pair), and sqrt(aa)·sqrt(bb) is the
    // identical IEEE product, so the threshold set matches the kernel
    // bit-for-bit (measured: 2× faster truth pass at sf0.1).
    val truth = Similarity.bruteForcePairs(Tables.embeddings(s, dir),
        "vec_id", "embedding", 0.9)
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val nIdent = Tables.embeddings(s, dir)
      .groupBy(col("embedding")).agg(count(lit(1)).as("__c"))
      .agg(coalesce(sum(expr("__c * (__c - 1) DIV 2")), lit(0L))
        .as("n_identical_pairs"))
    rewritten.select(col("n").as("__rew"))
      .crossJoin(truth.select(col("n").as("n_true_pairs")))
      .crossJoin(nIdent)
      .select(col("n_true_pairs"), col("n_identical_pairs"),
        (col("__rew") <= col("n_true_pairs")).cast("long").as("le_true_ok"),
        (col("__rew") >= col("n_identical_pairs")).cast("long").as("ge_identical_ok"))
  }

  /** One persisted IVF index per (session, sf dir): Lloyd training and
    * cluster assignment run ONCE (IvfIndex.build), then every consumer
    * — x_ivf_topk, x_ivf_recall, repeated bench reps — probes the saved
    * partition-pruned table. Keyed by session identity, not just the
    * catalog, so a fresh JVM always rebuilds (a catalog table surviving
    * in the warehouse dir must never serve stale data after the source
    * parquet changes). */
  // Weak keys: a GC'd session's entry drops out, and a NEW session is
  // a distinct reference — unlike identityHashCode, which the JVM can
  // hand to a different session after collection (a stale-index
  // hazard). SparkSession uses reference equality, which is exactly
  // the memo's contract: per-session, rebuild in a fresh JVM/session.
  private val ivfMemo =
    new java.util.WeakHashMap[SparkSession, java.util.HashMap[String, Seq[Seq[Float]]]]()
  private def ivfIndexFor(s: SparkSession, dir: String): String = {
    // Collision-resistant table name: MD5 of the full dir path (a
    // 32-bit hashCode could collide across sf dirs and silently serve
    // an index built from the wrong corpus).
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    val table = "graft_ivf_" + digest
    ivfMemo.synchronized {
      val perSession = {
        val m = ivfMemo.get(s)
        if (m != null) m
        else { val m2 = new java.util.HashMap[String, Seq[Seq[Float]]](); ivfMemo.put(s, m2); m2 }
      }
      if (!perSession.containsKey(dir))
        perSession.put(dir,
          IvfIndex.build(Tables.embeddings(s, dir).where(col("vec_id") =!= 0),
            "vec_id", "embedding", table, k = 16, iters = 2))
    }
    table
  }

  /** IVF ANN top-10 for the vec_id=0 query (16 Lloyd-trained clusters,
    * probe 4) — the trained-index alternative to the LSH bucket path,
    * emitted through the shape gate; per-value recall vs brute force
    * is measured in SimilaritySpec and gated by x_ivf_recall. Served
    * from the per-session persisted index (partition-pruned probe, no
    * retraining). */
  private def ivfTopK(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val q = e.where(col("vec_id") === 0)
      .select(col("embedding")).first().getSeq[Float](0)
    topKShape(
      IvfIndex.probeTopK(s, ivfIndexFor(s, dir), "vec_id", "embedding", q, 10, nProbe = 4),
      e.where(col("vec_id") =!= 0), "vec_id")
  }

  /** Embedding-cosine near-dup gate: LSH-bucket blocking (8 hyperplane
    * bits → 256 buckets) keeps the pair join keyed — sum(bucket²),
    * never n² — then exact cosine confirms; a hot bucket is dropped at
    * maxBlockSize rather than going quadratic. The confirmed SET is
    * hash-dependent, so the gate emits its hash-independent bounds
    * over the real output (same construction as minhashSummary):
    * n_true_pairs / n_identical_pairs from Similarity.bruteForcePairs
    * (the oracle replays the identical fold-order cosine in SQL — the
    * truth pass is quadratic BY DESIGN and runs at gate/bench scale,
    * not in production paths), subset_ok because blocking only ever
    * misses pairs, ge_identical_ok because byte-identical vectors
    * share every hyperplane sign and have cosine 1. */
  private def embedNearDup(s: SparkSession, dir: String): DataFrame = {
    import scala.util.chaining._
    val e = Tables.embeddings(s, dir)
      .withColumn("bucket", Similarity.lshBucketIn(col("embedding"), 8))
    val confirmed = Similarity.cosinePairsWithin(e, "vec_id", "embedding",
        "bucket", 0.9, maxBlockSize = 10000)
      .select(col("id_a"), col("id_b"))
      .pipe(graft.ext.Checkpoints.stage)
    val truth = Similarity.bruteForcePairs(Tables.embeddings(s, dir),
        "vec_id", "embedding", 0.9)
      .select(col("id_a"), col("id_b"))
      .pipe(graft.ext.Checkpoints.stage)
    val nIdent = Tables.embeddings(s, dir)
      .groupBy(col("embedding")).agg(count(lit(1)).as("__c"))
      .agg(coalesce(sum(expr("__c * (__c - 1) DIV 2")), lit(0L))
        .as("n_identical_pairs"))
    val nConf = confirmed.agg(count(lit(1)).as("__conf"))
    val viol = confirmed.join(truth, Seq("id_a", "id_b"), "left_anti")
      .agg(count(lit(1)).as("__viol"))
    Tables.embeddings(s, dir).agg(count(lit(1)).as("n_vecs"))
      .crossJoin(truth.agg(count(lit(1)).as("n_true_pairs")))
      .crossJoin(nIdent).crossJoin(nConf).crossJoin(viol)
      .select(col("n_vecs"), col("n_true_pairs"), col("n_identical_pairs"),
        (col("__viol") === 0).cast("long").as("subset_ok"),
        (col("__conf") >= col("n_identical_pairs")).cast("long").as("ge_identical_ok"))
  }

  /** x_stream_embed_ingest: STREAMING vector ingest with near-dup
    * screening (IvfIndex.streamIngest) — the embeddings corpus arrives
    * as THREE id-keyed micro-batches against an initially-empty
    * cell-blocked vector index, centroids fixed up front (first-k
    * seed; a production ingest plugs Lloyd-trained ones into the same
    * shape). Each batch is cell-assigned once, probes the persisted
    * index for same-cell cosine pairs at 0.9 touching it, then appends
    * its vectors for later batches to probe against. Gate bits over
    * the real run: same_as_oneshot_ok — the accumulated pair set AND
    * its cosine values equal the one-shot cell-blocked
    * cosinePairsWithin over the whole corpus with the same centroids
    * (both-direction anti-joins + a null-safe value compare, hard 0 —
    * IvfIndex.probeNewBatch's contract); subset_ok vs the brute-force
    * truth (cell blocking only ever misses; same IEEE cosine);
    * ge_identical_ok because byte-identical vectors share the argmax
    * cell and have cosine 1. n_vecs / n_true_pairs /
    * n_identical_pairs are value-replayed by the DuckDB twin. The
    * 3-batch shape is `require`d so a staging failure fails loudly. */
  private def streamEmbedIngest(s: SparkSession, dir: String): DataFrame = {
    import scala.util.chaining._
    val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    val idx = "graft_stream_ivf_" + digest
    val cents = Similarity.ivfCentroids(e, "vec_id", "embedding", 16)
    val inDir = CorpusQueries.stagedShardsFor(s, dir + "#embed", e, "vec_id")
    val stream = s.readStream.schema(e.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inDir)
    // The one-shot twin and the brute-force truth read only the static
    // embeddings + centroids — both run concurrently with the ingest
    // stream (guide §2.6 via Par).
    val oneShotF = graft.ext.Par.future(
      Similarity.cosinePairsWithin(
          Similarity.ivfAssign(e, "vec_id", "embedding", cents),
          "vec_id", "embedding", "cluster_id", 0.9, maxBlockSize = Int.MaxValue)
        .select(col("id_a"), col("id_b"), col("cos_sim"))
        .pipe(graft.ext.Checkpoints.stage))
    val truthF = graft.ext.Par.future(
      Similarity.bruteForcePairs(e, "vec_id", "embedding", 0.9)
        .select(col("id_a"), col("id_b"))
        .pipe(graft.ext.Checkpoints.stage))
    val (acc0, nBatches) = IvfIndex.streamIngest(s, idx, stream,
      "vec_id", "embedding", cents, threshold = 0.9,
      queryName = "stream_ivf_" + digest)
    require(nBatches == 3, s"expected 3 micro-batches, got $nBatches")
    val acc = acc0.pipe(graft.ext.Checkpoints.stage)
    val oneShot = graft.ext.Par.await(oneShotF)
    val truth = graft.ext.Par.await(truthF)
    val missing = oneShot.join(acc, Seq("id_a", "id_b"), "left_anti")
      .agg(count(lit(1)).as("__missing"))
    val extra = acc.join(oneShot, Seq("id_a", "id_b"), "left_anti")
      .agg(count(lit(1)).as("__extra"))
    val valDiff = acc.join(
        oneShot.select(col("id_a"), col("id_b"), col("cos_sim").as("__cs1")),
        Seq("id_a", "id_b"))
      .agg(coalesce(sum((!(col("cos_sim") <=> col("__cs1"))).cast("long")), lit(0L))
        .as("__vdiff"))
    val nIdent = Tables.embeddings(s, dir)
      .groupBy(col("embedding")).agg(count(lit(1)).as("__c"))
      .agg(coalesce(sum(expr("__c * (__c - 1) DIV 2")), lit(0L))
        .as("n_identical_pairs"))
    val viol = acc.join(truth, Seq("id_a", "id_b"), "left_anti")
      .agg(count(lit(1)).as("__viol"))
    val nAcc = acc.agg(count(lit(1)).as("__n_acc"))
    e.agg(count(lit(1)).as("n_vecs"))
      .crossJoin(truth.agg(count(lit(1)).as("n_true_pairs")))
      .crossJoin(nIdent).crossJoin(nAcc)
      .crossJoin(missing).crossJoin(extra).crossJoin(valDiff).crossJoin(viol)
      .select(col("n_vecs"), col("n_true_pairs"), col("n_identical_pairs"),
        (col("__missing") === 0 && col("__extra") === 0 && col("__vdiff") === 0)
          .cast("long").as("same_as_oneshot_ok"),
        (col("__viol") === 0).cast("long").as("subset_ok"),
        (col("__n_acc") >= col("n_identical_pairs")).cast("long").as("ge_identical_ok"))
  }

  /** Count of rows where a codegen'd kernel disagrees with its
    * higher-order-function twin — the oracle-checkable form of the
    * kernel-equivalence contract (GraftFunctionsSpec pins it per
    * kernel; this gates it through the driver's DuckDB compare as a
    * hard 0). Covers all five kernels: shingle hashes + minhash bands
    * over documents, dot + cosine + lsh bucket over adjacent embedding
    * pairs. Null-safe (`<=>`) so a null on both paths counts as
    * agreement. Fails loudly if GraftExtensions is not installed —
    * a vacuous pass would be worse than an error. */
  /** Deterministic synthetic PQ codebook for the kernel-equivalence
    * gate: centroid (j, c, i) = ((j·131 + c·17 + i·7) mod 2000 − 1000)
    * / 1000 — hash-free, engine-independent, covering the full
    * [−1, 1] range the normalized embeddings live in. */
  private val kernelEquivBooks: Seq[Seq[Seq[Float]]] =
    Seq.tabulate(4, 8, 16) { (j, c, i) =>
      (((j * 131 + c * 17 + i * 7) % 2000) - 1000) / 1000.0f
    }

  private def kernelEquiv(s: SparkSession, dir: String): DataFrame = {
    def mismatch(a: Column, b: Column): Column = (!(a <=> b)).cast("long")
    val k = Dedup.MinHashParams()
    // Materialize BOTH shingle-hash arrays once behind a stage barrier
    // before the bands twin reads them (round 19): inlined into
    // minhashBandsHof's 64 interpreted lambda sites, the tokenize+
    // shingle+hash subtree re-evaluated 64× per doc — the exact
    // CollapseProject trap Dedup.minhashSignature documents — making
    // this gate ~19 ms/doc (95 s of hidden cost at sf0.1). The
    // comparison is unchanged: kernel hashes vs HOF hashes on raw text
    // (m_sh), then kernel bands over kernel hashes vs HOF bands over
    // HOF hashes (m_mb), each path reading its own materialized array.
    val hashed = graft.ext.Checkpoints.stage(Tables.documents(s, dir)
      .select(
        call_function("graft_shingle_hashes", col("text"),
          lit(k.shingleSize)).as("kh"),
        Dedup.shingleHashes(Dedup.shingles(col("text"), k.shingleSize))
          .as("hh")))
    val docSide = hashed.select(
        mismatch(col("kh"), col("hh")).as("m_sh"),
        mismatch(
          call_function("graft_minhash_bands", col("kh"),
            lit(k.bands), lit(k.numHashes / k.bands)),
          Dedup.minhashBandsHof(col("hh"),
            k.bands, k.numHashes / k.bands)).as("m_mb"))
      .agg(coalesce(sum(col("m_sh") + col("m_mb")), lit(0L)).as("m_doc"))
    val e = Tables.embeddings(s, dir)
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("v_a"))
    val b = e.select((col("vec_id") - 1).as("id_a"), col("embedding").as("v_b"))
    val vecSide = a.join(b, Seq("id_a"))
      .select(
        mismatch(call_function("graft_dot", col("v_a"), col("v_b")),
          Similarity.dot(col("v_a"), col("v_b"))).as("m_dot"),
        mismatch(call_function("graft_cosine_sim", col("v_a"), col("v_b")),
          Similarity.cosine(col("v_a"), col("v_b"))).as("m_cos"),
        mismatch(call_function("graft_lsh_bucket", col("v_a"), lit(8)),
          Similarity.lshBucket(col("v_a"), 8)).as("m_lsh"),
        // PQ encode kernel vs the single-Column HOF twin, both
        // normalize modes, over a deterministic synthetic codebook
        // (m=4 × k=8 × sub=16 on the 64-dim embeddings).
        mismatch(
          graft.ext.Pq.packedCodeKernel(col("v_a"), kernelEquivBooks, normalize = true),
          graft.ext.Pq.packedCodeHof(col("v_a"), kernelEquivBooks, normalize = true)).as("m_pqn"),
        mismatch(
          graft.ext.Pq.packedCodeKernel(col("v_a"), kernelEquivBooks, normalize = false),
          graft.ext.Pq.packedCodeHof(col("v_a"), kernelEquivBooks, normalize = false)).as("m_pqr"))
      .agg(coalesce(sum(col("m_dot") + col("m_cos") + col("m_lsh") +
        col("m_pqn") + col("m_pqr")), lit(0L)).as("m_vec"))
    // Stage the 1-row report: a lazily-returned gate is COLUMN-PRUNED
    // under Bench's .count() — the optimizer drops the mismatch
    // expressions entirely and the benched number measures an empty
    // scan, not the dual-path evaluation (found round 19 by a
    // spark-shell collect() A/B: 95 s real vs 0.45 s benched at
    // sf0.1). Eager staging makes the benched wall the gate's true
    // cost; BENCH_NOTES has the full adjudication.
    graft.ext.Checkpoints.stage(docSide.crossJoin(vecSide)
      .select((col("m_doc") + col("m_vec")).as("n_mismatch")))
  }

  /** LSH-ANN recall floor as a driver-checkable bit: 1 when the
    * multi-probe ANN top-10 overlaps the brute-force top-10 in at
    * least `annRecallFloor` ids. Every input to the overlap is
    * deterministic (hash-derived buckets, tie-broken ordering), so the
    * bit is stable; the floor leaves headroom below the measured
    * overlap so parameter-neutral refactors don't flip it.
    *
    * FIXTURE-DEPENDENT FLOOR: 5 is an empirical bound for the driver
    * fixtures (measured overlap 7–10 of 10 at sf0.001–0.1). A new
    * scale factor or regenerated embeddings can flip this bit as a
    * PARAMETER artifact, not a code bug — re-measure overlap vs brute
    * force (SimilaritySpec does) before suspecting the ANN path. */
  private val annRecallFloor = 5
  private def annRecall(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val q = e.where(col("vec_id") === 0)
      .select(col("embedding")).first().getSeq[Float](0)
    val corpus = e.where(col("vec_id") =!= 0)
    val exact = Similarity.bruteForceTopK(corpus, "vec_id", "embedding", q, 10)
      .select(col("vec_id"))
    val ann = Similarity.annTopK(corpus, "vec_id", "embedding", q, 10, bits = 4)
      .select(col("vec_id"))
    exact.join(ann, Seq("vec_id"))
      .agg((count(lit(1)) >= annRecallFloor).cast("long").as("recall_ok"))
  }

  /** IVF-ANN recall floor bit (Lloyd-trained centroids, probe 4 of 16)
    * — deterministic because ivfTrain's means are exact-decimal sums.
    * The IVF side probes the SAME per-session persisted index as
    * x_ivf_topk (identical results to on-the-fly ivfTopK — same
    * centroids, same ranking, same cosine — with zero retraining).
    * Same fixture-dependent-floor caveat as [[annRecallFloor]]. */
  private val ivfRecallFloor = 5
  private def ivfRecall(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val q = e.where(col("vec_id") === 0)
      .select(col("embedding")).first().getSeq[Float](0)
    val corpus = e.where(col("vec_id") =!= 0)
    val exact = Similarity.bruteForceTopK(corpus, "vec_id", "embedding", q, 10)
      .select(col("vec_id"))
    val ivf = IvfIndex.probeTopK(s, ivfIndexFor(s, dir), "vec_id", "embedding",
        q, 10, nProbe = 4)
      .select(col("vec_id"))
    exact.join(ivf, Seq("vec_id"))
      .agg((count(lit(1)) >= ivfRecallFloor).cast("long").as("recall_ok"))
  }

  /** x_embed_dedup: END-TO-END embedding near-dup dedup
    * (Similarity.dedupEmbeddings — LSH-blocked pairs → label-prop
    * clusters → smallest-id survivor anti-join). The survivor SET is
    * hash-dependent (LSH recall), so the gate emits its
    * hash-independent envelope over the REAL output: n_in and
    * n_distinct_emb are value-replayed; ident_collapsed_ok holds
    * because byte-identical vectors share every hyperplane sign and
    * have cosine 1, so each identical-embedding group always collapses
    * to exactly one survivor (survivor embeddings are DISTINCT);
    * out_bounded_ok pins 1 ≤ |out| ≤ n_distinct_emb. Per-value
    * survivor semantics are pinned on fixtures in SimilaritySpec. */
  private def embedDedup(s: SparkSession, dir: String): DataFrame = {
    import scala.util.chaining._
    val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val out = Similarity.dedupEmbeddings(e, "vec_id", "embedding", threshold = 0.9)
      .pipe(graft.ext.Checkpoints.stage)
    val nIn = e.agg(count(lit(1)).as("n_in"),
      count_distinct(col("embedding")).as("n_distinct_emb"))
    val maxPer = out.groupBy(col("embedding")).agg(count(lit(1)).as("__c"))
      .agg(coalesce(max(col("__c")), lit(0L)).as("__maxc"))
    val nOut = out.agg(count(lit(1)).as("__nout"))
    nIn.crossJoin(maxPer).crossJoin(nOut)
      .select(col("n_in"), col("n_distinct_emb"),
        (col("__maxc") <= 1).cast("long").as("ident_collapsed_ok"),
        (col("__nout") >= 1 && col("__nout") <= col("n_distinct_emb"))
          .cast("long").as("out_bounded_ok"))
  }

  /** x_semantic_dedup: SemDeDup (Similarity.semanticDedup) —
    * k-means-cell-scoped cosine pruning with the paper's
    * keep-most-peripheral survivor rule. The survivor SET depends on
    * the trained clustering (deterministic run-to-run — ivfTrain's
    * exact-decimal means — but not SQL-replayable), so the gate emits
    * the hash-independent envelope over the REAL output: n_in /
    * n_distinct_emb are value-replayed; ident_collapsed_ok holds
    * because byte-identical vectors produce identical similarity
    * arrays (same argmax cell) and cosine ~1 ≥ τ, so each
    * identical-embedding group always collapses to one survivor;
    * no_resident_pair_ok re-runs the within-cell detector (same
    * centroids, threshold, cap) over the survivors and must find ZERO
    * pairs — two survivors ≥ τ in one cell would have been one group;
    * out_bounded_ok pins 1 ≤ |out| ≤ n_distinct_emb. Per-value
    * survivor semantics (peripheral-keep rule, planted duplicates)
    * are pinned on fixtures in SimilaritySpec. */
  private def semanticDedupGate(s: SparkSession, dir: String): DataFrame = {
    import scala.util.chaining._
    val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val cents = Similarity.ivfTrain(e, "vec_id", "embedding", k = 8, iters = 2)
    val out = Similarity.semanticDedup(e, "vec_id", "embedding", cents,
        threshold = 0.95, maxClusterSize = 10000)
      .pipe(graft.ext.Checkpoints.stage)
    val nIn = e.agg(count(lit(1)).as("n_in"),
      count_distinct(col("embedding")).as("n_distinct_emb"))
    val maxPer = out.groupBy(col("embedding")).agg(count(lit(1)).as("__c"))
      .agg(coalesce(max(col("__c")), lit(0L)).as("__maxc"))
    val resident = Similarity.cosinePairsWithin(
        Similarity.ivfAssign(out, "vec_id", "embedding", cents)
          .withColumnRenamed("cluster_id", "__cell"),
        "vec_id", "embedding", "__cell", 0.95, 10000)
      .agg(count(lit(1)).as("__nres"))
    val nOut = out.agg(count(lit(1)).as("__nout"))
    nIn.crossJoin(maxPer).crossJoin(nOut).crossJoin(resident)
      .select(col("n_in"), col("n_distinct_emb"),
        (col("__maxc") <= 1).cast("long").as("ident_collapsed_ok"),
        (col("__nres") === 0).cast("long").as("no_resident_pair_ok"),
        (col("__nout") >= 1 && col("__nout") <= col("n_distinct_emb"))
          .cast("long").as("out_bounded_ok"))
  }

  /** x_ivf_quantized: the INT8 IVF probe (VERDICT r8 #6) — the probe
    * scans the persisted index's array<tinyint> column for the
    * pre-rank (~1/4 the bytes of the float column), float re-rank on
    * the 4k shortlist only (IvfIndex.probeTopKQuantized). Bits over
    * the real run: recall_vs_float_ok — the quantized probe's top-10
    * overlaps the float probe's top-10 in ≥ 8 ids (same index, same
    * probed clusters; the only divergence channel is a true member
    * ranked below the 4× shortlist by int8 noise) — and
    * recall_vs_exact_ok at the x_ivf_recall floor (≥ 5, nProbe misses
    * dominate, identically for both probes). n_topk is the
    * value-replayable row count. */
  private def ivfQuantized(s: SparkSession, dir: String): DataFrame = {
    import scala.util.chaining._
    val e = Tables.embeddings(s, dir)
    val q = e.where(col("vec_id") === 0)
      .select(col("embedding")).first().getSeq[Float](0)
    val corpus = e.where(col("vec_id") =!= 0)
    val table = ivfIndexFor(s, dir)
    val exact = Similarity.bruteForceTopK(corpus, "vec_id", "embedding", q, 10)
      .select(col("vec_id"))
    val flt = IvfIndex.probeTopK(s, table, "vec_id", "embedding", q, 10, nProbe = 4)
      .select(col("vec_id"))
    val qnt = IvfIndex.probeTopKQuantized(s, table, "vec_id", "embedding", q,
        10, nProbe = 4)
      .pipe(graft.ext.Checkpoints.stage)
    val vsFloat = qnt.select(col("vec_id")).join(flt, Seq("vec_id"))
      .agg(count(lit(1)).as("__nf"))
    val vsExact = qnt.select(col("vec_id")).join(exact, Seq("vec_id"))
      .agg(count(lit(1)).as("__ne"))
    qnt.agg(count(lit(1)).as("n_topk"))
      .crossJoin(vsFloat).crossJoin(vsExact)
      .select(col("n_topk"),
        (col("__nf") >= 8).cast("long").as("recall_vs_float_ok"),
        (col("__ne") >= ivfRecallFloor).cast("long").as("recall_vs_exact_ok"))
  }

  /** x_ivfpq_topk: the composed IVFADC serving probe (graft.ext.IvfPq)
    * — IVF cell pruning × 8-byte ADC scan × exact float re-rank, the
    * probe whose bytes-touched is the cell fraction TIMES the 8-byte
    * row (flat PQ scans every code; int8 IVF reads d bytes/vector in
    * the probed cells). Emitted through the top-k shape gate plus the
    * exact-probe recall floor; ADC≡flat-PQ score equality and the
    * wide-open ≡ brute-force degeneracy are pinned in IvfPqSpec, the
    * scan-shape plan pins there too. */
  // IVFADC index memoized per (session, dir) — the ivfMemo contract:
  // train once (IVF Lloyd + 8 subspace PQ Lloyds), probe many.
  private val ivfpqMemo =
    new java.util.WeakHashMap[SparkSession, java.util.HashSet[String]]()
  private def ivfpqIndexFor(s: SparkSession, dir: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    val table = "graft_ivfpq_" + digest
    ivfpqMemo.synchronized {
      val perSession = {
        val m = ivfpqMemo.get(s)
        if (m != null) m
        else { val m2 = new java.util.HashSet[String](); ivfpqMemo.put(s, m2); m2 }
      }
      if (!perSession.contains(dir)) {
        IvfPq.build(Tables.embeddings(s, dir).where(col("vec_id") =!= 0)
            .select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", table,
          kCells = 16, ivfIters = 2, m = 8, kPq = 64, pqIters = 2)
        perSession.add(dir)
      }
    }
    table
  }

  private def ivfpqTopK(s: SparkSession, dir: String): DataFrame = {
    import scala.util.chaining._
    val e = Tables.embeddings(s, dir)
    val q = e.where(col("vec_id") === 0)
      .select(col("embedding")).first().getSeq[Float](0)
    val corpus = e.where(col("vec_id") =!= 0)
    val table = ivfpqIndexFor(s, dir)
    val probed = IvfPq.probeTopK(s, table, "vec_id", "embedding", q,
        k = 10, nProbe = 4)
      .pipe(graft.ext.Checkpoints.stage)
    val exact = Similarity.bruteForceTopK(corpus, "vec_id", "embedding", q, 10)
      .select(col("vec_id"))
    val hits = probed.select(col("vec_id")).join(exact, Seq("vec_id"))
      .agg(count(lit(1)).as("__ne"))
    topKShape(probed, corpus, "vec_id").crossJoin(hits)
      .select(col("n_rows"), col("n_distinct_ids"), col("n_in_corpus"),
        col("cos_bounds_ok"),
        (col("__ne") >= ivfRecallFloor).cast("long").as("recall_vs_exact_ok"))
  }

  /** x_ivfpq_batch: batched IVFADC serving (IvfPq.probeBatch) — three
    * queries answered in TWO corpus contacts (one union-cell code
    * scan, one shared float re-rank through a single pushed In(id)),
    * proven row-for-row (exact cosines included) equal to the three
    * single probes via both-direction exceptAll over the real output —
    * the x_pq_batch / x_bm25_batch contract applied to the composed
    * serving index. */
  private def ivfpqBatch(s: SparkSession, dir: String): DataFrame = {
    import scala.util.chaining._
    val e = Tables.embeddings(s, dir)
    val qs = e.where(col("vec_id") < 3)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toSeq.sortBy(_._1)
    val table = ivfpqIndexFor(s, dir)
    val batch = IvfPq.probeBatch(s, table, "vec_id", "embedding", qs,
        k = 10, nProbe = 4)
      .pipe(graft.ext.Checkpoints.stage)
    val singles = qs.map { case (qid, q) =>
      IvfPq.probeTopK(s, table, "vec_id", "embedding", q, k = 10, nProbe = 4)
        .select(lit(qid).as("query_id"), col("vec_id"), col("cos_sim"))
    }.reduce(_ unionAll _).pipe(graft.ext.Checkpoints.stage)
    val nMissing = batch.exceptAll(singles).count()
    val nExtra = singles.exceptAll(batch).count()
    batch.agg(count(lit(1)).as("n_rows"))
      .select(lit(3L).as("n_queries"), lit(10L).as("n_topk"), col("n_rows"),
        (lit(nMissing) === 0L && lit(nExtra) === 0L).cast("long")
          .as("batch_matches_single_ok"))
  }

  /** x_ivf_batch: batched serving for the IVF float AND int8 tiers
    * (IvfIndex.probeBatch / probeBatchQuantized — VERDICT r16 #1: the
    * last per-query-scan ANN serving paths, covering the measured
    * regime where IVFADC code resolution fails): three queries
    * answered in ONE union-cell float scan (the float tier's scores
    * ARE the exact cosines — no second contact) and in one int8
    * pre-rank scan + one shared float re-rank (the int8 tier), each
    * proven row-for-row (ids AND exact cosines) equal to its
    * per-query probe via both-direction exceptAll over the real
    * output — the x_ivfpq_batch contract applied tier by tier. */
  private def ivfBatch(s: SparkSession, dir: String): DataFrame = {
    import scala.util.chaining._
    val e = Tables.embeddings(s, dir)
    val qs = e.where(col("vec_id") < 3)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toSeq.sortBy(_._1)
    val table = ivfIndexFor(s, dir)
    val batchF = IvfIndex.probeBatch(s, table, "vec_id", "embedding", qs,
        k = 10, nProbe = 4)
      .pipe(graft.ext.Checkpoints.stage)
    val singlesF = qs.map { case (qid, q) =>
      IvfIndex.probeTopK(s, table, "vec_id", "embedding", q, 10, nProbe = 4)
        .select(lit(qid).as("query_id"), col("vec_id"), col("cos_sim"))
    }.reduce(_ unionAll _).pipe(graft.ext.Checkpoints.stage)
    val batchQ = IvfIndex.probeBatchQuantized(s, table, "vec_id", "embedding",
        qs, k = 10, nProbe = 4)
      .pipe(graft.ext.Checkpoints.stage)
    val singlesQ = qs.map { case (qid, q) =>
      IvfIndex.probeTopKQuantized(s, table, "vec_id", "embedding", q, 10,
          nProbe = 4)
        .select(lit(qid).as("query_id"), col("vec_id"), col("cos_sim"))
    }.reduce(_ unionAll _).pipe(graft.ext.Checkpoints.stage)
    val fOk = batchF.exceptAll(singlesF).count() == 0 &&
      singlesF.exceptAll(batchF).count() == 0
    val qOk = batchQ.exceptAll(singlesQ).count() == 0 &&
      singlesQ.exceptAll(batchQ).count() == 0
    batchF.agg(count(lit(1)).as("n_rows"))
      .select(lit(3L).as("n_queries"), lit(10L).as("n_topk"), col("n_rows"),
        lit(fOk).cast("long").as("float_batch_matches_single_ok"),
        lit(qOk).cast("long").as("quant_batch_matches_single_ok"))
  }

  /** x_vector_eval: known-item retrieval evaluation of the ANN serving
    * index — the vector-side twin of x_retrieval_eval (VERDICT r14 #4:
    * BM25 had oracle-exact known-item ranks; the ANN ladder's recall
    * was gated only by floor invariants). Five deterministic
    * HASH-PERTURBED NEAR-TWINS of the 5 lowest indexed ids (twin_m[d]
    * = v_m[d] + (((m·31+d)·2654435761) mod 21 − 10)/2000 — ±0.005 per
    * coord against a ~0.6 cosine gap to the nearest non-self
    * neighbor, so each twin's exact nearest neighbor IS its source
    * vector by a huge margin) probe the memoized IVFADC index through
    * ONE [[IvfPq.probeBatch]] call at serving width (nProbe 4 of 16,
    * k 10), and the output is each twin's integer RANK of its source
    * vector under (cos DESC, id). The oracle REPLAYS the arithmetic
    * end-to-end in SQL — same twin construction (double add, float
    * round), same widened-double cosine, same rank order — over the
    * full corpus: the probe's rank among its returned rows equals the
    * full-corpus exact rank exactly when the index retrieves the
    * known item at its true position, which is the property under
    * eval. A source vector beyond the top-10 cut drops on both
    * engines. */
  private def vectorEval(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val table = ivfpqIndexFor(s, dir) // built on vec_id =!= 0
    val known = e.where(col("vec_id") >= 1 && col("vec_id") <= 5)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).sortBy(_._1)
    val queries = known.map { case (m, v) =>
      m -> v.zipWithIndex.map { case (x, d) =>
        (x.toDouble +
          (((m * 31 + d) * 2654435761L) % 21 - 10) / 2000.0).toFloat
      }.toSeq
    }.toSeq
    val probed = IvfPq.probeBatch(s, table, "vec_id", "embedding",
      queries, k = 10, nProbe = 4)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    probed.withColumn("known_item_rank", row_number().over(w).cast("long"))
      .where(col("vec_id") === col("query_id"))
      .select(col("query_id"), col("known_item_rank"))
      .orderBy(col("query_id"))
  }

  /** x_stream_ivfpq: streaming IVFADC ingest (IvfPq.streamIngest) —
    * the corpus arrives as three id-keyed micro-batches encoded under
    * quantizers FROZEN from the one-shot x_ivfpq index, completing
    * the five-family streaming lifecycle matrix. Because encode is a
    * pure function of the frozen quantizers, the final streamed rows
    * (id, pq_code, cluster_id) must be BIT-IDENTICAL to the one-shot
    * build's — whatever the shard arrival order — and the streamed
    * table must serve probeTopK bit-identically to the build-layout
    * index mid-lifecycle (bucket pruning standing in for partition
    * pruning until compact). Both equalities are hard-0 exceptAll
    * gates over the real rows/probes; counts are value-replayed. */
  private def streamIvfPq(s: SparkSession, dir: String): DataFrame = {
    import scala.util.chaining._
    val e = Tables.embeddings(s, dir)
    val q = e.where(col("vec_id") === 0)
      .select(col("embedding")).first().getSeq[Float](0)
    val corpus = e.where(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"))
    val refTable = ivfpqIndexFor(s, dir)
    val cents = IvfIndex.centroids(s, refTable)
    val books = IvfPq.codebooks(s, refTable)
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    val streamTable = "graft_stream_ivfpq_" + digest
    val inDir = CorpusQueries.stagedShardsFor(s, dir + "#ivfpq", corpus,
      idCol = "vec_id")
    val stream = s.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inDir)
    // The reference-side rows and probe read only the (read-only)
    // memoized ref index — stage them concurrently with the ingest
    // stream (guide §2.6 via Par).
    val refRowsF = graft.ext.Par.future(s.table(refTable)
      .select(col("vec_id"), col("pq_code"), col("cluster_id"))
      .pipe(graft.ext.Checkpoints.stage))
    val pRefF = graft.ext.Par.future(
      IvfPq.probeTopK(s, refTable, "vec_id", "embedding", q,
        k = 10, nProbe = 4).pipe(graft.ext.Checkpoints.stage))
    val (_, nBatches) = IvfPq.streamIngest(s, streamTable, stream,
      "vec_id", "embedding", cents, books,
      queryName = "stream_ivfpq_" + digest)
    val refRows = graft.ext.Par.await(refRowsF)
    val gotRows = s.table(streamTable)
      .select(col("vec_id"), col("pq_code"), col("cluster_id"))
      .pipe(graft.ext.Checkpoints.stage)
    val rowsMissing = refRows.exceptAll(gotRows).agg(count(lit(1)).as("__m"))
    val rowsExtra = gotRows.exceptAll(refRows).agg(count(lit(1)).as("__e"))
    val pRef = graft.ext.Par.await(pRefF)
    val pStr = IvfPq.probeTopK(s, streamTable, "vec_id", "embedding", q,
      k = 10, nProbe = 4).pipe(graft.ext.Checkpoints.stage)
    val probeMissing = pRef.exceptAll(pStr).agg(count(lit(1)).as("__pm"))
    val probeExtra = pStr.exceptAll(pRef).agg(count(lit(1)).as("__pe"))
    corpus.agg(count(lit(1)).as("n_vectors"))
      .crossJoin(rowsMissing).crossJoin(rowsExtra)
      .crossJoin(probeMissing).crossJoin(probeExtra)
      .select(col("n_vectors"),
        lit(if (nBatches == 3) 1L else 0L).as("three_batches_ok"),
        (col("__m") === 0 && col("__e") === 0).cast("long")
          .as("stream_rows_equal_build_ok"),
        (col("__pm") === 0 && col("__pe") === 0).cast("long")
          .as("stream_probe_equal_build_ok"))
  }

  /** x_stream_serve: the streaming SERVING loop
    * (graft.streaming.StreamOps.streamServe — VERDICT r17 #4): 48
    * query vectors arrive as THREE micro-batched file shards
    * (vec_id % 3) and are scored against the per-session persisted IVF
    * index through chunked [[IvfIndex.probeBatch]] (chunkCap 10, so
    * every 16-query batch splits 10 + 6 — the cap path is exercised,
    * not just configured), results accumulating in a batch-tagged
    * sink. Gate: the accumulated rows equal ONE one-shot probeBatch of
    * all 48 queries in both exceptAll directions — the
    * shard-split-invariance contract of the ingest streams applied to
    * serving, which holds because probeBatch answers every query
    * independently of its batch-mates (bit-identical to the single
    * probe, the x_ivf_batch contract). Chunk-cap invariance is
    * spec-pinned (StreamServeSpec). */
  private def streamServe(s: SparkSession, dir: String): DataFrame = {
    import scala.util.chaining._
    val e = Tables.embeddings(s, dir)
    val table = ivfIndexFor(s, dir)
    val queries = e.where(col("vec_id") < 48)
      .select(col("vec_id"), col("embedding"))
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    val inDir = CorpusQueries.stagedShardsFor(
      s, dir + "#serve", queries, idCol = "vec_id")
    val stream = s.readStream.schema(queries.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inDir)
    val sink = "graft_stream_serve_" + digest
    val k = 10
    val nProbe = 4
    val qsAll = queries.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toSeq.sortBy(_._1)
    // (r21 note: overlapping the one-shot twin with the serving
    // stream measured a wash — see streamServeIvfPq.)
    // Centroids load ONCE for the whole serving run (r22 — the probe
    // re-collected them per chunk per batch; index constant here, the
    // stream never mutates it).
    val cents = Some(IvfIndex.centroids(s, table))
    val oneShot = IvfIndex.probeBatch(s, table, "vec_id", "embedding",
        qsAll, k, nProbe, preparedCents = cents)
      .pipe(graft.ext.Checkpoints.stage)
    val nBatches = graft.streaming.StreamOps.streamServe(
      s, stream, sink, chunkCap = 10,
      resultSchema = oneShot.schema, keyCol = "query_id",
      collectQueries = graft.streaming.StreamOps
        .vectorQueryCollector("vec_id", "embedding"),
      probe = (chunk: Seq[(Long, Seq[Float])]) =>
        IvfIndex.probeBatch(s, table, "vec_id", "embedding",
          chunk, k, nProbe, preparedCents = cents),
      queryName = "stream_serve_" + digest)
    val got = s.table(sink).drop(graft.streaming.StreamOps.BatchTag)
      .pipe(graft.ext.Checkpoints.stage)
    val missing = oneShot.exceptAll(got).agg(count(lit(1)).as("__m"))
    val extra = got.exceptAll(oneShot).agg(count(lit(1)).as("__e"))
    queries.agg(count(lit(1)).as("n_queries"))
      .crossJoin(got.agg(count(lit(1)).as("n_result_rows")))
      .crossJoin(missing).crossJoin(extra)
      .select(col("n_queries"), col("n_result_rows"),
        lit(if (nBatches == 3) 1L else 0L).as("three_batches_ok"),
        (col("__m") === 0 && col("__e") === 0).cast("long")
          .as("accumulated_equals_oneshot_ok"))
  }

  /** x_vec_drift: the vector-space drift census (IvfIndex.cellDrift —
    * VERDICT r18 #6): a reference cell census is persisted at build
    * time, the corpus then grows by a 60-twin drift blob aimed at one
    * cell, and contrasting the live census against the reference
    * through the whole-bit PSI twin localizes the blob BEFORE it makes
    * the cell hot enough for cellSkew. Built with the DETERMINISTIC
    * first-k seed centroids (iters = 0) so the ENTIRE row set —
    * assignment argmax, both censuses, d_milli/odds_bits/drift_score —
    * is DuckDB-value-replayed (production trains with Lloyd and
    * persists the census the same way; the blob uses an
    * integer-arithmetic perturbation the oracle replays exactly,
    * unlike the rebalance gate's xxhash64 blob). The planted-blob →
    * positive-drift_score tie is also spec-pinned (IvfIndexSpec). */
  private def vecDrift(s: SparkSession, dir: String): DataFrame = {
    import scala.util.chaining._
    val e = Tables.embeddings(s, dir)
    val base = e.where(col("vec_id") >= 100 && col("vec_id") < 300)
      .select(col("vec_id"), col("embedding"))
    val blob = e.where(col("vec_id") === 100)
      .select(explode(sequence(lit(0L), lit(59L))).as("i"), col("embedding"))
      .select((col("i") + 9000L).as("vec_id"),
        transform(col("embedding"), (x, j) =>
          (x.cast("double") +
            (pmod(col("i") * 31L + j.cast("long") * 17L, lit(21L))
              .cast("double") - 10.0) / 2000.0).cast("float"))
          .as("embedding"))
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    val t = "graft_vecdrift_" + digest
    // Snapshot time: build + persist the reference census.
    IvfIndex.build(base, "vec_id", "embedding", t, k = 4, iters = 0)
    val ref = IvfIndex.cellCensus(s, t, "vec_id")
      .pipe(graft.ext.Checkpoints.stage)
    // Later tick: the corpus grew by the blob (same fixed seed
    // centroids — first-4 by id of the union IS the base's first-4,
    // blob ids sort after; a cell-count-equivalent of appends).
    IvfIndex.build(base.unionByName(blob), "vec_id", "embedding", t,
      k = 4, iters = 0)
    IvfIndex.cellDrift(s, t, "vec_id", ref)
  }

  /** x_stream_vec_drift: the vector-drift monitor as a STREAM
    * (IvfIndex.streamCellDrift — cellDrift's streaming twin,
    * completing the census/streamCensus :: cellDrift/streamCellDrift
    * monitoring symmetry): arriving vectors (three micro-batched
    * shards) are cell-assigned under the FIXED seed centroids and
    * each batch's census is contrasted against the reference census
    * snapshotted from the base corpus, accumulating a batch-tagged
    * drift TIME SERIES. Every batch's rows are a pure function of
    * (reference, centroids, shard), so the whole accumulated table is
    * value-replayed per shard by the oracle (batch i = shard i — the
    * file source delivers staged shard files in creation order). */
  private def streamVecDrift(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val base = e.where(col("vec_id") >= 100 && col("vec_id") < 300)
    val cents = Similarity.ivfCentroids(base, "vec_id", "embedding", 4)
    // The reference census a production loop persists at snapshot time
    // (IvfIndex.cellCensus of the then-live index); recomputed
    // declaratively here — identical values under the same fixed
    // centroids, and the query stays build-free.
    val reference = Similarity.ivfAssign(base, "vec_id", "embedding", cents)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("n_live"))
    val arriving = e.where(col("vec_id") >= 300 && col("vec_id") < 420)
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    val inDir = CorpusQueries.stagedShardsFor(
      s, dir + "#vecdrift", arriving, idCol = "vec_id")
    val stream = s.readStream.schema(arriving.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    val sink = "graft_stream_vecdrift_" + digest
    val n = IvfIndex.streamCellDrift(s, reference, stream,
      "vec_id", "embedding", cents, sink,
      queryName = "stream_vecdrift_" + digest)
    require(n == 3, s"expected 3 micro-batches, got $n")
    s.table(sink)
      .select(col(graft.streaming.StreamOps.BatchTag).as("batch_id"),
        col("bucket"), col("n_old"), col("n_new"), col("d_milli"),
        col("odds_bits"), col("drift_score"))
      .orderBy(col("batch_id"), col("bucket"))
  }

  /** x_stream_serve_ivfpq: the serving stream on the 8-byte/vector
    * tier (VERDICT r18 #2) — the SAME generic StreamOps.streamServe
    * loop x_stream_serve runs on the IVF float tier, riding the same
    * vector collector, with [[IvfPq.probeBatch]] as the probe: 36
    * query vectors arrive as THREE micro-batched file shards, each
    * batch split 8 + 4 by chunkCap 8 (the cap path exercised), every
    * chunk answered in the IVFADC ladder's TWO corpus contacts (one
    * union-cell code scan, one shared float re-rank), results
    * accumulating batch-tagged. Gate: accumulated ≡ ONE one-shot
    * probeBatch of all 36 queries in both exceptAll directions — the
    * x_stream_serve shard/chunk-invariance contract, which holds
    * because probeBatch answers each query independently of its
    * batch-mates (the x_ivfpq_batch contract). */
  private def streamServeIvfPq(s: SparkSession, dir: String): DataFrame = {
    import scala.util.chaining._
    val e = Tables.embeddings(s, dir)
    val table = ivfpqIndexFor(s, dir)
    val queries = e.where(col("vec_id") < 36)
      .select(col("vec_id"), col("embedding"))
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    val inDir = CorpusQueries.stagedShardsFor(
      s, dir + "#serve_ivfpq", queries, idCol = "vec_id")
    val stream = s.readStream.schema(queries.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inDir)
    val sink = "graft_stream_serve_ivfpq_" + digest
    val k = 10
    val nProbe = 4
    val qsAll = queries.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toSeq.sortBy(_._1)
    // (r21 note: overlapping the one-shot twin with the serving
    // stream was tried and measured a wash here — the twin's probe
    // contends with the stream's own per-chunk probes on the same
    // index — so the sequential shape stays.)
    // Centroids + PQ codebooks load ONCE for the whole serving run
    // (r22 — the probe re-collected both per chunk per batch; index
    // constants here, the stream never mutates them).
    val prep = Some((IvfIndex.centroids(s, table), IvfPq.codebooks(s, table)))
    val oneShot = IvfPq.probeBatch(s, table, "vec_id", "embedding",
        qsAll, k, nProbe, prepared = prep)
      .pipe(graft.ext.Checkpoints.stage)
    val nBatches = graft.streaming.StreamOps.streamServe(
      s, stream, sink, chunkCap = 8,
      resultSchema = oneShot.schema, keyCol = "query_id",
      collectQueries = graft.streaming.StreamOps
        .vectorQueryCollector("vec_id", "embedding"),
      probe = (chunk: Seq[(Long, Seq[Float])]) =>
        IvfPq.probeBatch(s, table, "vec_id", "embedding",
          chunk, k, nProbe, prepared = prep),
      queryName = "stream_serve_ivfpq_" + digest)
    val got = s.table(sink).drop(graft.streaming.StreamOps.BatchTag)
      .pipe(graft.ext.Checkpoints.stage)
    val missing = oneShot.exceptAll(got).agg(count(lit(1)).as("__m"))
    val extra = got.exceptAll(oneShot).agg(count(lit(1)).as("__e"))
    queries.agg(count(lit(1)).as("n_queries"))
      .crossJoin(got.agg(count(lit(1)).as("n_result_rows")))
      .crossJoin(missing).crossJoin(extra)
      .select(col("n_queries"), col("n_result_rows"),
        lit(if (nBatches == 3) 1L else 0L).as("three_batches_ok"),
        (col("__m") === 0 && col("__e") === 0).cast("long")
          .as("accumulated_equals_oneshot_ok"))
  }

  /** x_rebalance: the IVF maintenance loop under planted distribution
    * drift — build over a corpus whose last 100 vectors are near-twins
    * of one vector (they pile into ONE cell), read the skew report
    * (must trip rebalance_due), take down a few ids, then
    * [[IvfIndex.rebalance]]: retrain on the live corpus, rewrite under
    * the new layout, purge tombstones in the same pass. Gates: the
    * census conserves the live count, the post-rebalance probe serves
    * 10 live rows, the tombstone list is gone. Probe-for-probe
    * equality with a fresh build(live) is pinned by IvfRebalanceSpec
    * (Lloyd determinism). */
  private def rebalanceGate(s: SparkSession, dir: String): DataFrame = {
    import scala.util.chaining._
    val e = Tables.embeddings(s, dir)
    // Small per-rep fixture: the bench times the LIFECYCLE's gates,
    // not Lloyd throughput (two trains per rep are ~2.5 s/iteration of
    // fixed job overheads whatever the row count — measured; the
    // rebalance-only ScaleBench point carries the cost evidence).
    val base = e.where(col("vec_id") >= 100 && col("vec_id") < 200)
      .select(col("vec_id"), col("embedding"))
    val blob = e.where(col("vec_id") === 100)
      .select(explode(sequence(lit(0L), lit(99L))).as("i"), col("embedding"))
      .select((col("i") + 9000L).as("vec_id"),
        transform(col("embedding"), (x, j) =>
          (x.cast("double") +
            (pmod(xxhash64(col("i"), j), lit(21L)).cast("double") - 10.0)
              / 2000.0).cast("float")).as("embedding"))
    val corpus = base.unionByName(blob)
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    val t = "graft_rebalance_" + digest
    IvfIndex.build(corpus, "vec_id", "embedding", t, k = 4, iters = 1)
    val dueBefore = IvfIndex.cellSkew(s, t, "vec_id", dueMilli = 2000L)
      .select(col("rebalance_due")).first().getLong(0)
    IvfIndex.delete(s, t,
      base.where(col("vec_id") % 50 === 3).select(col("vec_id").as("id")))
    IvfIndex.rebalance(s, t, "vec_id", "embedding", k = 4, iters = 1)
    val q = e.where(col("vec_id") === 0)
      .select(col("embedding")).first().getSeq[Float](0).toSeq
    val probe = IvfIndex.probeTopK(s, t, "vec_id", "embedding", q,
        k = 10, nProbe = 2)
      .pipe(graft.ext.Checkpoints.stage)
    val liveIds = corpus.select(col("vec_id"))
      .where(col("vec_id") >= 9000L || col("vec_id") % 50 =!= 3)
    val probeDead = probe.join(liveIds, Seq("vec_id"), "left_anti")
      .agg(count(lit(1)).as("__dead"))
    val cleared = !s.catalog.tableExists(graft.ext.IndexLifecycle.tombstonesOf(t))
    liveIds.agg(count(lit(1)).as("n_live"))
      .crossJoin(IvfIndex.cellCensus(s, t, "vec_id")
        .agg(coalesce(sum(col("n_live")), lit(0L)).as("census_n_live")))
      .crossJoin(probe.agg(count(lit(1)).as("probe_rows")))
      .crossJoin(probeDead)
      .select(col("n_live"), col("census_n_live"),
        lit(dueBefore).as("skew_due_before"), col("probe_rows"),
        (col("__dead") === 0).cast("long").as("probe_all_live_ok"),
        lit(if (cleared) 1L else 0L).as("tombstones_cleared_ok"))
  }

  /** Adjacent-pair dot product in int8-quantized space
    * (graft.ext.Quantize) — the oracle-checkable anchor for the
    * quantization arithmetic: scale, round-half-up, and integer dot
    * are replayed exactly by the DuckDB twin. */
  private def quantizeDot(s: SparkSession, dir: String): DataFrame = {
    val e = Quantize.withQuantized(Tables.embeddings(s, dir), "embedding", "qv")
      .select(col("vec_id"), col("qv"))
    val a = e.select(col("vec_id").as("id_a"), col("qv").as("q_a"))
    val b = e.select((col("vec_id") - 1).as("id_a"), col("vec_id").as("id_b"),
      col("qv").as("q_b"))
    a.join(b, Seq("id_a"))
      .select(col("id_a"), col("id_b"),
        Quantize.dotQ(col("q_a"), col("q_b")).as("qdot"))
      .orderBy(col("id_a"))
  }

  /** Int8 ranking quality as a driver-checkable bit: 1 when the
    * quantized-cosine top-10 overlaps the float-cosine top-10 in at
    * least `quantizeRecallFloor` ids. The per-vector scale cancels in
    * cosine, so the two rankings differ only by rounding noise —
    * measured overlap is 9–10 of 10 on the driver fixtures; the floor
    * leaves the same headroom convention as [[annRecallFloor]] (and
    * shares its fixture-dependence caveat). */
  private val quantizeRecallFloor = 5
  private def quantizeRecall(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val q = e.where(col("vec_id") === 0)
      .select(col("embedding")).first().getSeq[Float](0)
    val corpus = e.where(col("vec_id") =!= 0)
    val exact = Similarity.bruteForceTopK(corpus, "vec_id", "embedding", q, 10)
      .select(col("vec_id"))
    // Query vector quantized on the DRIVER (same IEEE arithmetic) and
    // the corpus through the two-projection withQuantized shape — then
    // the ranking runs on the codegen'd cosine kernel over doubles.
    // Long→double is exact here (|q_i| ≤ 127, 128-dim dot ≪ 2^53), so
    // the scores are bit-identical to integer cosineQ.
    val qlit = array(Quantize.quantizeLocal(q).map(lit(_)).toIndexedSeq: _*)
    val quant = Quantize.withQuantized(corpus, "embedding", "qv")
      .select(col("vec_id"), col("qv").cast("array<double>").as("qd"))
      .select(col("vec_id"), Similarity.cosineIn(col("qd"), qlit).as("cos_q"))
      .orderBy(col("cos_q").desc, col("vec_id"))
      .limit(10)
      .select(col("vec_id"))
    exact.join(quant, Seq("vec_id"))
      .agg((count(lit(1)) >= quantizeRecallFloor).cast("long").as("recall_ok"))
  }

  /** x_pq_recall: product quantization end to end (graft.ext.Pq) —
    * per-subspace Lloyd codebooks (m=8, k=128, the operating point
    * PqSpec measures), codes packed 8 bytes/vector, ADC top-10 off
    * the packed column, and the production shortlist-50 + exact
    * cosine re-rank. Codes/scores are engine-internal (trained
    * codebooks), so the gate is the recall-floor form of
    * x_ivf_recall: n_corpus and n_topk value-replayed, ADC and
    * re-ranked recall floors (3 and 8 of 10 — measured 5 and 10 on
    * the near-isotropic fixture, PQ's hard case) computed over the
    * real probes in-engine. */
  // PQ codebooks memoized per (session, dir) — build once, probe many,
  // the ivfMemo contract (training is 24 small Lloyd jobs; re-running
  // it per bench rep would time the one-time build, not the probe).
  private val pqMemo =
    new java.util.WeakHashMap[SparkSession, java.util.HashMap[String, Seq[Seq[Seq[Float]]]]]()
  private def pqBooksFor(s: SparkSession, dir: String,
                         corpus: DataFrame): Seq[Seq[Seq[Float]]] =
    pqMemo.synchronized {
      val perSession = {
        val m = pqMemo.get(s)
        if (m != null) m
        else { val m2 = new java.util.HashMap[String, Seq[Seq[Seq[Float]]]](); pqMemo.put(s, m2); m2 }
      }
      if (!perSession.containsKey(dir))
        perSession.put(dir, graft.ext.Pq.trainCodebooks(
          corpus, "vec_id", "embedding", m = 8, k = 128, iters = 3))
      perSession.get(dir)
    }

  private def pqRecall(s: SparkSession, dir: String): DataFrame = {
    import graft.ext.Pq
    val e = Tables.embeddings(s, dir)
    val q = e.where(col("vec_id") === 0)
      .select(col("embedding")).first().getSeq[Float](0)
    val corpus = e.where(col("vec_id") =!= 0).localCheckpoint(true)
    val books = pqBooksFor(s, dir, corpus)
    val enc = Pq.encodePacked(corpus, "vec_id", "embedding", books)
      .localCheckpoint(true)
    val exact = Similarity.bruteForceTopK(corpus, "vec_id", "embedding", q, 10)
      .select(col("vec_id")).localCheckpoint(true)
    val adcHits = exact.join(
      Pq.probeTopK(enc, "vec_id", q, books, 10).select(col("vec_id")),
      Seq("vec_id")).count()
    val rrHits = exact.join(
      Pq.probeTopKReranked(enc, corpus, "vec_id", "embedding", q, books,
        topK = 10, shortlist = 50).select(col("vec_id")),
      Seq("vec_id")).count()
    corpus.agg(count(lit(1)).as("n_corpus"))
      .select(col("n_corpus"), lit(10L).as("n_topk"),
        (lit(adcHits) >= 3L).cast("long").as("adc_recall_ok"),
        (lit(rrHits) >= 8L).cast("long").as("rerank_recall_ok"))
  }

  /** x_pq_batch: batched ADC serving (Pq.probeBatch) — three held-out
    * query vectors answered in ONE scan of the packed-code column,
    * proven row-for-row (scores included) equal to the three single
    * probes via both-direction exceptAll over the real output — the
    * x_bm25_batch contract for the vector side. Scores are
    * engine-internal (trained codebooks), so the gate emits the
    * replayable shape counts + the equality bit. */
  private def pqBatch(s: SparkSession, dir: String): DataFrame = {
    import scala.util.chaining._
    import graft.ext.Pq
    val e = Tables.embeddings(s, dir)
    val qs = e.where(col("vec_id") < 3)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toSeq.sortBy(_._1)
    val corpus = e.where(col("vec_id") >= 3).localCheckpoint(true)
    val books = pqBooksFor(s, dir + "#batch", corpus)
    val enc = Pq.encodePacked(corpus, "vec_id", "embedding", books)
      .localCheckpoint(true)
    val batch = Pq.probeBatch(enc, "vec_id", qs, books, topK = 10)
      .pipe(graft.ext.Checkpoints.stage)
    val singles = qs.map { case (qid, q) =>
      Pq.probeTopK(enc, "vec_id", q, books, topK = 10)
        .select(lit(qid).as("query_id"), col("vec_id"), col("pq_score"))
    }.reduce(_ unionAll _).pipe(graft.ext.Checkpoints.stage)
    val nMissing = batch.exceptAll(singles).count()
    val nExtra = singles.exceptAll(batch).count()
    batch.agg(count(lit(1)).as("n_rows"))
      .select(lit(3L).as("n_queries"), lit(10L).as("n_topk"), col("n_rows"),
        (lit(nMissing) === 0L && lit(nExtra) === 0L).cast("long")
          .as("batch_matches_single_ok"))
  }

  /** Brute-force top-10 cosine against the vec_id=0 embedding. */
  private def cosineTopK(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val q = e.where(col("vec_id") === 0)
      .select(col("embedding")).first().getSeq[Float](0)
    Similarity.bruteForceTopK(e.where(col("vec_id") =!= 0), "vec_id", "embedding", q, 10)
  }

  /** Top-k SHAPE gate over a (vec_id, cos_sim) result whose MEMBERSHIP
    * is hash-dependent (ANN probes): exactly k rows, k distinct ids,
    * every id drawn from the corpus, every score a plausible cosine.
    * Evaluated over the real top-k output, so a broken probe (empty
    * bucket, duplicated id, id invented by a bad join) fails the
    * driver compare even though the ID LIST itself has no portable
    * oracle. k rows is fixture-dependent in the same sense as
    * annRecallFloor: the probed set must hold ≥ k vectors (it is
    * 15–30× k on the driver fixtures). Result-quality (not shape) is
    * gated separately by the recall-floor bits. */
  private def topKShape(topk: DataFrame, corpus: DataFrame, idCol: String): DataFrame =
    topk.join(corpus.select(col(idCol).as("vec_id"), lit(1L).as("__in")),
        Seq("vec_id"), "left")
      .agg(count(lit(1)).as("n_rows"),
        count_distinct(col("vec_id")).as("n_distinct_ids"),
        coalesce(sum(col("__in")), lit(0L)).as("n_in_corpus"),
        (coalesce(min(col("cos_sim")), lit(0.0)) >= -1.000001 &&
          coalesce(max(col("cos_sim")), lit(0.0)) <= 1.000001)
          .cast("long").as("cos_bounds_ok"))

  /** LSH-bucketed ANN top-10 for the same query, emitted through the
    * shape gate (per-value recall vs brute force is measured in
    * SimilaritySpec and gated by x_ann_recall). */
  private def annTopK(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val q = e.where(col("vec_id") === 0)
      .select(col("embedding")).first().getSeq[Float](0)
    val corpus = e.where(col("vec_id") =!= 0)
    // 4 hyperplane bits → 16 buckets: at 500–50k vectors that keeps a
    // bucket big enough for a meaningful top-10 (recall measured in tests).
    topKShape(
      Similarity.annTopK(corpus, "vec_id", "embedding", q, 10, bits = 4),
      corpus, "vec_id")
  }

  /** Cosine of adjacent embedding pairs — deterministic double fold on
    * both sides, the oracle-checkable anchor for vector math. */
  private def cosineAdjacent(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("v_a"))
    val b = e.select((col("vec_id") - 1).as("id_a"), col("vec_id").as("id_b"),
      col("embedding").as("v_b"))
    a.join(b, Seq("id_a"))
      .select(col("id_a"), col("id_b"),
        Similarity.cosineIn(col("v_a"), col("v_b")).as("cos_sim"))
      .orderBy(col("id_a"))
  }

  // ----------------------------------------------------------------- oracle

  // Shared CTE for the cosine-pair oracles: all pairs (a < b) with the
  // identical fold-order cosine the kernels compute (see x_quantize_dot
  // for the fold-equivalence precedent). Quadratic — gate scale only.
  private val cosPairsCte =
    """e AS (SELECT vec_id, embedding,
      |   sqrt(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS nrm
      |  FROM embeddings),
      | p AS (SELECT
      |   list_reduce(list_transform(generate_series(1, len(a.embedding)), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x, y) -> x + y) / (a.nrm * b.nrm) AS cos_sim
      |  FROM e a JOIN e b ON a.vec_id < b.vec_id),
      | ident AS (SELECT CAST(COALESCE(SUM(c * (c - 1) // 2), 0) AS BIGINT) AS n
      |  FROM (SELECT COUNT(*) AS c FROM embeddings GROUP BY embedding) g)""".stripMargin

  val oracle: Map[String, String] = Map(
    // --- invariant oracles over hash-dependent pipelines ---
    // LSH bucketing: every vector lands in exactly one bucket in
    // [0, 2^8); the per-bucket counts must sum back to the corpus.
    "x_ann_lsh_buckets" ->
      """SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS total_vecs,
        | CAST(1 AS BIGINT) AS bounds_ok, CAST(1 AS BIGINT) AS n_buckets_ok""".stripMargin.replaceAll("\n", " "),
    // Top-k shape gates (see topKShape): exactly k rows, k distinct
    // corpus ids, cosine-range scores — constants for the fixed k=10.
    "x_ann_topk" ->
      """SELECT CAST(10 AS BIGINT) AS n_rows, CAST(10 AS BIGINT) AS n_distinct_ids,
        | CAST(10 AS BIGINT) AS n_in_corpus, CAST(1 AS BIGINT) AS cos_bounds_ok""".stripMargin.replaceAll("\n", " "),
    "x_ivf_topk" ->
      """SELECT CAST(10 AS BIGINT) AS n_rows, CAST(10 AS BIGINT) AS n_distinct_ids,
        | CAST(10 AS BIGINT) AS n_in_corpus, CAST(1 AS BIGINT) AS cos_bounds_ok""".stripMargin.replaceAll("\n", " "),
    // Truncation-recall census: full replay — per-cut slice cosines
    // with the sequential fold, per-anchor rank windows under
    // (cos DESC, id), truth = the 64-dim ranks, integer overlaps and
    // floor-milli recall.
    "x_trunc_recall" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        | a AS (SELECT vec_id AS anchor_id, embedding AS avec FROM e WHERE vec_id < 8),
        | cuts AS (SELECT UNNEST([8, 16, 32, 64]) AS d),
        | pr AS (SELECT cuts.d, a.anchor_id, e.vec_id,
        |   list_reduce(list_transform(generate_series(1, cuts.d), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(a.avec[i] AS DOUBLE)), (x, y) -> x + y)
        |    / (sqrt(list_reduce(list_transform(generate_series(1, cuts.d), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (x, y) -> x + y))
        |     * sqrt(list_reduce(list_transform(generate_series(1, cuts.d), i -> CAST(a.avec[i] AS DOUBLE) * CAST(a.avec[i] AS DOUBLE)), (x, y) -> x + y))) AS cos_sim
        |  FROM e CROSS JOIN a CROSS JOIN cuts WHERE e.vec_id <> a.anchor_id),
        | rk AS (SELECT d, anchor_id, vec_id,
        |   ROW_NUMBER() OVER (PARTITION BY d, anchor_id ORDER BY cos_sim DESC, vec_id) AS rn FROM pr),
        | top AS (SELECT d, anchor_id, vec_id FROM rk WHERE rn <= 10),
        | truth AS (SELECT anchor_id, vec_id FROM top WHERE d = 64),
        | ov AS (SELECT top.d, CAST(COUNT(*) AS BIGINT) AS overlap_sum
        |   FROM top JOIN truth USING (anchor_id, vec_id) WHERE top.d <> 64 GROUP BY top.d),
        | na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM a)
        | SELECT CAST(d AS BIGINT) AS dims, (SELECT n FROM na) AS n_anchors,
        |  CAST(10 AS BIGINT) AS k, overlap_sum,
        |  CAST(floor(1000 * overlap_sum / CAST((SELECT n FROM na) * 10 AS DOUBLE)) AS BIGINT) AS recall_milli
        | FROM ov ORDER BY dims""".stripMargin.replaceAll("\n", " "),
    // Rebalance gate: the live count is data-derived (100-vector base
    // slice minus its %-50 takedowns plus the 100-twin drift blob, a
    // construction constant); the census must CONSERVE it, the skew
    // report must trip on the planted drift, and the post-rebalance
    // probe serves 10 live rows with the tombstone list gone.
    "x_rebalance" ->
      """WITH b AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_base,
        |   CAST(SUM(CASE WHEN vec_id % 50 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_del
        |  FROM embeddings WHERE vec_id >= 100 AND vec_id < 200)
        | SELECT n_base + 100 - n_del AS n_live, n_base + 100 - n_del AS census_n_live,
        |  CAST(1 AS BIGINT) AS skew_due_before, CAST(10 AS BIGINT) AS probe_rows,
        |  CAST(1 AS BIGINT) AS probe_all_live_ok, CAST(1 AS BIGINT) AS tombstones_cleared_ok
        | FROM b""".stripMargin.replaceAll("\n", " "),
    // Operating-point advisor: FULL value replay — seed centroids are
    // the raw vec_id 0..7 embeddings; assignment and cell probe ranks
    // are first-max argmaxes / rank windows over sequential-fold
    // cosines; the curve, target gate, and recommendation replay in
    // integer arithmetic.
    "x_nprobe_advisor" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        | cents AS (SELECT vec_id AS cid, embedding AS cv FROM e WHERE vec_id < 8),
        | a AS (SELECT vec_id AS anchor_id, embedding AS avec FROM e WHERE vec_id < 8),
        | asg0 AS (SELECT e.vec_id, c.cid,
        |   list_reduce(list_transform(generate_series(1, len(e.embedding)), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE)), (x, y) -> x + y)
        |    / (sqrt(list_reduce(list_transform(generate_series(1, len(e.embedding)), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (x, y) -> x + y))
        |     * sqrt(list_reduce(list_transform(generate_series(1, len(c.cv)), i -> CAST(c.cv[i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE)), (x, y) -> x + y))) AS cos
        |  FROM e CROSS JOIN cents c),
        | asg AS (SELECT vec_id, cid AS cluster_id FROM (SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn FROM asg0) WHERE rn = 1),
        | ac AS (SELECT anchor_id, cid AS cluster_id, ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY cos DESC, cid) AS cell_rank
        |  FROM (SELECT a.anchor_id, c.cid,
        |   list_reduce(list_transform(generate_series(1, len(a.avec)), i -> CAST(a.avec[i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE)), (x, y) -> x + y)
        |    / (sqrt(list_reduce(list_transform(generate_series(1, len(a.avec)), i -> CAST(a.avec[i] AS DOUBLE) * CAST(a.avec[i] AS DOUBLE)), (x, y) -> x + y))
        |     * sqrt(list_reduce(list_transform(generate_series(1, len(c.cv)), i -> CAST(c.cv[i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE)), (x, y) -> x + y))) AS cos
        |   FROM a CROSS JOIN cents c)),
        | scr AS (SELECT a.anchor_id, e.vec_id, asg.cluster_id, ac.cell_rank,
        |   list_reduce(list_transform(generate_series(1, len(e.embedding)), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(a.avec[i] AS DOUBLE)), (x, y) -> x + y)
        |    / (sqrt(list_reduce(list_transform(generate_series(1, len(e.embedding)), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (x, y) -> x + y))
        |     * sqrt(list_reduce(list_transform(generate_series(1, len(a.avec)), i -> CAST(a.avec[i] AS DOUBLE) * CAST(a.avec[i] AS DOUBLE)), (x, y) -> x + y))) AS cos_sim
        |  FROM e JOIN asg USING (vec_id) CROSS JOIN a
        |  JOIN ac ON ac.anchor_id = a.anchor_id AND ac.cluster_id = asg.cluster_id
        |  WHERE e.vec_id <> a.anchor_id),
        | truth AS (SELECT anchor_id, vec_id FROM (SELECT anchor_id, vec_id, ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY cos_sim DESC, vec_id) AS rn FROM scr) WHERE rn <= 10),
        | nps AS (SELECT UNNEST([1, 2, 4, 8]) AS np),
        | pt AS (SELECT np, anchor_id, vec_id FROM (SELECT nps.np, scr.anchor_id, scr.vec_id,
        |    ROW_NUMBER() OVER (PARTITION BY nps.np, scr.anchor_id ORDER BY scr.cos_sim DESC, scr.vec_id) AS rn
        |   FROM scr JOIN nps ON scr.cell_rank <= nps.np) WHERE rn <= 10),
        | ov AS (SELECT np, CAST(COUNT(*) AS BIGINT) AS overlap_sum FROM pt JOIN truth USING (anchor_id, vec_id) GROUP BY np),
        | na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM a),
        | fin AS (SELECT CAST(np AS BIGINT) AS n_probe, (SELECT n FROM na) AS n_anchors,
        |   CAST(10 AS BIGINT) AS k, overlap_sum,
        |   CAST(floor(1000 * overlap_sum / CAST((SELECT n FROM na) * 10 AS DOUBLE)) AS BIGINT) AS recall_milli FROM ov)
        | SELECT n_probe, n_anchors, k, overlap_sum, recall_milli,
        |  CAST(950 AS BIGINT) AS target_milli,
        |  CAST(CASE WHEN recall_milli >= 950 THEN 1 ELSE 0 END AS BIGINT) AS meets_target,
        |  MIN(CASE WHEN recall_milli >= 950 THEN n_probe END) OVER () AS recommended_n_probe
        | FROM fin ORDER BY n_probe""".stripMargin.replaceAll("\n", " "),
    // Shortlist-width advisor: full replay — int8 quantization (the
    // x_quantize_dot recipe) on corpus and anchors, float + quantized
    // sequential-fold cosines over each anchor's 4 probed cells
    // (x_nprobe_advisor's assignment + cell-rank replay), both rank
    // windows, per-width overlaps, and the MIN-window recommendation.
    "x_shortlist_advisor" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        | m AS (SELECT vec_id, embedding, list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma FROM e),
        | q AS (SELECT vec_id, embedding,
        |   CASE WHEN ma = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
        |        ELSE list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * (127.0 / ma) + 0.5) AS BIGINT)) END AS qv
        |  FROM m),
        | cents AS (SELECT vec_id AS cid, embedding AS cv FROM e WHERE vec_id < 8),
        | a AS (SELECT vec_id AS anchor_id, embedding AS avec, qv AS aqv FROM q WHERE vec_id < 8),
        | asg AS (SELECT vec_id, cid AS cluster_id FROM (SELECT e.vec_id, c.cid, ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        |   list_reduce(list_transform(generate_series(1, len(e.embedding)), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE)), (x, y) -> x + y)
        |    / (sqrt(list_reduce(list_transform(generate_series(1, len(e.embedding)), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (x, y) -> x + y))
        |     * sqrt(list_reduce(list_transform(generate_series(1, len(c.cv)), i -> CAST(c.cv[i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE)), (x, y) -> x + y))) DESC, c.cid) AS rn
        |  FROM e CROSS JOIN cents c) WHERE rn = 1),
        | ac AS (SELECT anchor_id, cluster_id FROM (SELECT a.anchor_id, c.cid AS cluster_id, ROW_NUMBER() OVER (PARTITION BY a.anchor_id ORDER BY
        |   list_reduce(list_transform(generate_series(1, len(a.avec)), i -> CAST(a.avec[i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE)), (x, y) -> x + y)
        |    / (sqrt(list_reduce(list_transform(a.avec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))
        |     * sqrt(list_reduce(list_transform(c.cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))) DESC, c.cid) AS cr
        |  FROM a CROSS JOIN cents c) WHERE cr <= 4),
        | scored AS (SELECT a.anchor_id, q.vec_id,
        |   list_reduce(list_transform(generate_series(1, len(q.embedding)), i -> CAST(q.embedding[i] AS DOUBLE) * CAST(a.avec[i] AS DOUBLE)), (x, y) -> x + y)
        |    / (sqrt(list_reduce(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))
        |     * sqrt(list_reduce(list_transform(a.avec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))) AS cf,
        |   CASE WHEN sqrt(CAST(list_reduce(list_transform(q.qv, x -> x * x), (x, y) -> x + y) AS DOUBLE))
        |          * sqrt(CAST(list_reduce(list_transform(a.aqv, x -> x * x), (x, y) -> x + y) AS DOUBLE)) = 0 THEN NULL
        |        ELSE CAST(list_reduce(list_transform(generate_series(1, len(q.qv)), i -> q.qv[i] * a.aqv[i]), (x, y) -> x + y) AS DOUBLE)
        |         / (sqrt(CAST(list_reduce(list_transform(q.qv, x -> x * x), (x, y) -> x + y) AS DOUBLE))
        |          * sqrt(CAST(list_reduce(list_transform(a.aqv, x -> x * x), (x, y) -> x + y) AS DOUBLE))) END AS cq
        |  FROM q JOIN asg USING (vec_id) CROSS JOIN a
        |  JOIN ac ON ac.anchor_id = a.anchor_id AND ac.cluster_id = asg.cluster_id
        |  WHERE q.vec_id <> a.anchor_id),
        | tf AS (SELECT anchor_id, vec_id FROM (SELECT anchor_id, vec_id, ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY cf DESC, vec_id) AS rn FROM scored) WHERE rn <= 10),
        | tq AS (SELECT anchor_id, vec_id, rq FROM (SELECT anchor_id, vec_id, ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY cq DESC NULLS LAST, vec_id) AS rq FROM scored) WHERE rq <= 40),
        | cj AS (SELECT tf.anchor_id, tf.vec_id, tq.rq FROM tf LEFT JOIN tq USING (anchor_id, vec_id)),
        | sls AS (SELECT UNNEST([10, 20, 40]) AS sl),
        | ov AS (SELECT sl, CAST(COUNT(CASE WHEN rq <= sl THEN 1 END) AS BIGINT) AS overlap_sum FROM sls LEFT JOIN cj ON TRUE GROUP BY sl),
        | na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM a),
        | fin AS (SELECT CAST(sl AS BIGINT) AS shortlist, (SELECT n FROM na) AS n_anchors,
        |   CAST(10 AS BIGINT) AS k, CAST(4 AS BIGINT) AS n_probe, overlap_sum,
        |   CAST(floor(1000 * overlap_sum / CAST((SELECT n FROM na) * 10 AS DOUBLE)) AS BIGINT) AS recall_milli FROM ov)
        | SELECT shortlist, n_anchors, k, n_probe, overlap_sum, recall_milli,
        |  CAST(950 AS BIGINT) AS target_milli,
        |  CAST(CASE WHEN recall_milli >= 950 THEN 1 ELSE 0 END AS BIGINT) AS meets_target,
        |  MIN(CASE WHEN recall_milli >= 950 THEN shortlist END) OVER () AS recommended_shortlist
        | FROM fin ORDER BY shortlist""".stripMargin.replaceAll("\n", " "),
    // Vector-space drift census: FULL value replay — seed centroids
    // are the raw vec_id 100..103 embeddings, assignment is the
    // first-max argmax over sequential-fold cosines, the blob is
    // integer-arithmetic float math, and the PSI arithmetic is the
    // x_drift_census replay with B = 4 cells.
    "x_vec_drift" ->
      """WITH cents AS (SELECT vec_id - 100 AS cid, embedding AS cv FROM embeddings WHERE vec_id >= 100 AND vec_id < 104),
        | base AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 100 AND vec_id < 300),
        | blob AS (SELECT 9000 + i AS vec_id,
        |   list_transform(generate_series(0, len(e.embedding) - 1), j ->
        |     CAST(CAST(e.embedding[j+1] AS DOUBLE) + (CAST((i*31 + j*17) % 21 AS DOUBLE) - 10.0) / 2000.0 AS FLOAT)) AS embedding
        |  FROM (SELECT embedding FROM embeddings WHERE vec_id = 100) e, UNNEST(generate_series(0, 59)) AS u(i)),
        | un AS (SELECT vec_id, embedding FROM base UNION ALL SELECT vec_id, embedding FROM blob),
        | so AS (SELECT b.vec_id, c.cid,
        |   list_reduce(list_transform(generate_series(1, len(b.embedding)), i -> CAST(b.embedding[i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE)), (x, y) -> x + y)
        |    / (sqrt(list_reduce(list_transform(generate_series(1, len(b.embedding)), i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x, y) -> x + y))
        |     * sqrt(list_reduce(list_transform(generate_series(1, len(c.cv)), i -> CAST(c.cv[i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE)), (x, y) -> x + y))) AS cos
        |  FROM base b CROSS JOIN cents c),
        | ao AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn FROM so) WHERE rn = 1),
        | sn AS (SELECT b.vec_id, c.cid,
        |   list_reduce(list_transform(generate_series(1, len(b.embedding)), i -> CAST(b.embedding[i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE)), (x, y) -> x + y)
        |    / (sqrt(list_reduce(list_transform(generate_series(1, len(b.embedding)), i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x, y) -> x + y))
        |     * sqrt(list_reduce(list_transform(generate_series(1, len(c.cv)), i -> CAST(c.cv[i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE)), (x, y) -> x + y))) AS cos
        |  FROM un b CROSS JOIN cents c),
        | an AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn FROM sn) WHERE rn = 1),
        | co AS (SELECT cid AS bucket, CAST(COUNT(*) AS BIGINT) AS n_old FROM ao GROUP BY cid),
        | cn AS (SELECT cid AS bucket, CAST(COUNT(*) AS BIGINT) AS n_new FROM an GROUP BY cid),
        | j AS (SELECT COALESCE(co.bucket, cn.bucket) AS bucket,
        |   COALESCE(n_old, 0) AS n_old, COALESCE(n_new, 0) AS n_new
        |  FROM co FULL OUTER JOIN cn ON co.bucket = cn.bucket),
        | t AS (SELECT (SELECT COALESCE(SUM(n_old), 0) FROM j) AS no, (SELECT COALESCE(SUM(n_new), 0) FROM j) AS nn)
        | SELECT bucket, n_old, n_new,
        |  CAST(floor(1000 * (n_new + 1) / CAST(nn + 4 AS DOUBLE)) - floor(1000 * (n_old + 1) / CAST(no + 4 AS DOUBLE)) AS BIGINT) AS d_milli,
        |  CAST((length(to_base(CAST((n_new + 1) * (no + 4) AS BIGINT), 2)) - 1) - (length(to_base(CAST((n_old + 1) * (nn + 4) AS BIGINT), 2)) - 1) AS BIGINT) AS odds_bits,
        |  CAST((floor(1000 * (n_new + 1) / CAST(nn + 4 AS DOUBLE)) - floor(1000 * (n_old + 1) / CAST(no + 4 AS DOUBLE)))
        |   * ((length(to_base(CAST((n_new + 1) * (no + 4) AS BIGINT), 2)) - 1) - (length(to_base(CAST((n_old + 1) * (nn + 4) AS BIGINT), 2)) - 1)) AS BIGINT) AS drift_score
        | FROM j CROSS JOIN t ORDER BY bucket""".stripMargin.replaceAll("\n", " "),
    // Streaming vector drift: the x_vec_drift assignment replay per
    // arriving shard (batch i = shard i), reference census from the
    // base slice, B = 4 cells.
    "x_stream_vec_drift" ->
      (0 to 2).map { sh =>
        s"""SELECT CAST($sh AS BIGINT) AS batch_id, bucket, n_old, n_new, d_milli, odds_bits, drift_score FROM (
          |WITH cents AS (SELECT vec_id - 100 AS cid, embedding AS cv FROM embeddings WHERE vec_id >= 100 AND vec_id < 104),
          | base AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 100 AND vec_id < 300),
          | shard AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 300 AND vec_id < 420 AND vec_id % 3 = $sh),
          | so AS (SELECT b.vec_id, c.cid,
          |   list_reduce(list_transform(generate_series(1, len(b.embedding)), i -> CAST(b.embedding[i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE)), (x, y) -> x + y)
          |    / (sqrt(list_reduce(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))
          |     * sqrt(list_reduce(list_transform(c.cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))) AS cos
          |  FROM base b CROSS JOIN cents c),
          | ao AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn FROM so) WHERE rn = 1),
          | sn AS (SELECT b.vec_id, c.cid,
          |   list_reduce(list_transform(generate_series(1, len(b.embedding)), i -> CAST(b.embedding[i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE)), (x, y) -> x + y)
          |    / (sqrt(list_reduce(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))
          |     * sqrt(list_reduce(list_transform(c.cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))) AS cos
          |  FROM shard b CROSS JOIN cents c),
          | an AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn FROM sn) WHERE rn = 1),
          | co AS (SELECT cid AS bucket, CAST(COUNT(*) AS BIGINT) AS n_old FROM ao GROUP BY cid),
          | cn AS (SELECT cid AS bucket, CAST(COUNT(*) AS BIGINT) AS n_new FROM an GROUP BY cid),
          | j AS (SELECT COALESCE(co.bucket, cn.bucket) AS bucket,
          |   COALESCE(n_old, 0) AS n_old, COALESCE(n_new, 0) AS n_new
          |  FROM co FULL OUTER JOIN cn ON co.bucket = cn.bucket),
          | t AS (SELECT (SELECT COALESCE(SUM(n_old), 0) FROM j) AS no, (SELECT COALESCE(SUM(n_new), 0) FROM j) AS nn)
          | SELECT bucket, n_old, n_new,
          |  CAST(floor(1000 * (n_new + 1) / CAST(nn + 4 AS DOUBLE)) - floor(1000 * (n_old + 1) / CAST(no + 4 AS DOUBLE)) AS BIGINT) AS d_milli,
          |  CAST((length(to_base(CAST((n_new + 1) * (no + 4) AS BIGINT), 2)) - 1) - (length(to_base(CAST((n_old + 1) * (nn + 4) AS BIGINT), 2)) - 1) AS BIGINT) AS odds_bits,
          |  CAST((floor(1000 * (n_new + 1) / CAST(nn + 4 AS DOUBLE)) - floor(1000 * (n_old + 1) / CAST(no + 4 AS DOUBLE)))
          |   * ((length(to_base(CAST((n_new + 1) * (no + 4) AS BIGINT), 2)) - 1) - (length(to_base(CAST((n_old + 1) * (nn + 4) AS BIGINT), 2)) - 1)) AS BIGINT) AS drift_score
          | FROM j CROSS JOIN t)""".stripMargin.replaceAll("\n", " ")
      }.mkString("", " UNION ALL ", " ORDER BY batch_id, bucket"),
    // Streaming serving loop: query count and per-query top-k mass are
    // data-derived (48 streamed queries x k=10; every query's 4 probed
    // cells hold far more than 10 live rows); the equality bits are
    // the gate — accumulated chunked micro-batch probes must equal the
    // one-shot batch probe exactly.
    "x_stream_serve" ->
      """SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings WHERE vec_id < 48) AS n_queries,
        | (SELECT CAST(10 * COUNT(*) AS BIGINT) FROM embeddings WHERE vec_id < 48) AS n_result_rows,
        | CAST(1 AS BIGINT) AS three_batches_ok,
        | CAST(1 AS BIGINT) AS accumulated_equals_oneshot_ok""".stripMargin.replaceAll("\n", " "),
    // IVFADC serving stream: same shape — 36 streamed queries x k=10
    // (every query's 4 probed cells hold far more than 10 rows, and
    // the default 4k shortlist exceeds k), equality bits the gate.
    "x_stream_serve_ivfpq" ->
      """SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings WHERE vec_id < 36) AS n_queries,
        | (SELECT CAST(10 * COUNT(*) AS BIGINT) FROM embeddings WHERE vec_id < 36) AS n_result_rows,
        | CAST(1 AS BIGINT) AS three_batches_ok,
        | CAST(1 AS BIGINT) AS accumulated_equals_oneshot_ok""".stripMargin.replaceAll("\n", " "),
    // Embedding near-dup / approx-sim-join gates: truth is the
    // brute-force cosine pair count at the threshold (identical
    // fold-order arithmetic), identical-vector pairs the floor.
    "x_embed_neardup" ->
      (s"""WITH $cosPairsCte
        | SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS n_vecs,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM p WHERE cos_sim >= 0.9) AS n_true_pairs,
        |  (SELECT n FROM ident) AS n_identical_pairs,
        |  CAST(1 AS BIGINT) AS subset_ok, CAST(1 AS BIGINT) AS ge_identical_ok""".stripMargin.replaceAll("\n", " ")),
    "x_approx_sim_join" ->
      (s"""WITH $cosPairsCte
        | SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM p WHERE cos_sim >= 0.9) AS n_true_pairs,
        |  (SELECT n FROM ident) AS n_identical_pairs,
        |  CAST(1 AS BIGINT) AS le_true_ok, CAST(1 AS BIGINT) AS ge_identical_ok""".stripMargin.replaceAll("\n", " ")),
    // Streaming vector ingest: corpus census + brute-force truth
    // value-replayed (identical fold-order cosine); the streamed ≡
    // one-shot equivalence, subset, and identical-floor bits derive
    // from the real run in-engine.
    "x_stream_embed_ingest" ->
      (s"""WITH $cosPairsCte
        | SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS n_vecs,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM p WHERE cos_sim >= 0.9) AS n_true_pairs,
        |  (SELECT n FROM ident) AS n_identical_pairs,
        |  CAST(1 AS BIGINT) AS same_as_oneshot_ok,
        |  CAST(1 AS BIGINT) AS subset_ok, CAST(1 AS BIGINT) AS ge_identical_ok""".stripMargin.replaceAll("\n", " ")),
    // Kernel ≡ higher-order-function: the Spark side counts
    // disagreements across all five kernels; the contract is exactly
    // zero, so the oracle is the constant 0.
    "x_kernel_equiv" -> "SELECT CAST(0 AS BIGINT) AS n_mismatch",
    // Recall floors: the Spark side emits 1 iff |ANN ∩ brute-force|
    // meets the pinned floor (deterministic — see the query Scaladoc);
    // the oracle is the constant 1.
    "x_ann_recall" -> "SELECT CAST(1 AS BIGINT) AS recall_ok",
    "x_ivf_recall" -> "SELECT CAST(1 AS BIGINT) AS recall_ok",
    // Embedding dedup: input census value-replayed; the
    // identical-collapse and bounds bits derive from the real
    // survivor set in-engine.
    "x_embed_dedup" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_in,
        | CAST(COUNT(DISTINCT embedding) AS BIGINT) AS n_distinct_emb,
        | CAST(1 AS BIGINT) AS ident_collapsed_ok,
        | CAST(1 AS BIGINT) AS out_bounded_ok
        | FROM embeddings""".stripMargin.replaceAll("\n", " "),
    // SemDeDup: input census value-replayed; the identical-collapse,
    // zero-resident-pair, and bounds bits derive from the real
    // survivor set in-engine.
    "x_semantic_dedup" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_in,
        | CAST(COUNT(DISTINCT embedding) AS BIGINT) AS n_distinct_emb,
        | CAST(1 AS BIGINT) AS ident_collapsed_ok,
        | CAST(1 AS BIGINT) AS no_resident_pair_ok,
        | CAST(1 AS BIGINT) AS out_bounded_ok
        | FROM embeddings""".stripMargin.replaceAll("\n", " "),
    // Int8 IVF probe: top-k row count value-replayed; the two recall
    // floors derive from the real probes in-engine.
    "x_ivf_quantized" ->
      """SELECT CAST(10 AS BIGINT) AS n_topk,
        | CAST(1 AS BIGINT) AS recall_vs_float_ok,
        | CAST(1 AS BIGINT) AS recall_vs_exact_ok""".stripMargin.replaceAll("\n", " "),
    "x_quantize_recall" -> "SELECT CAST(1 AS BIGINT) AS recall_ok",
    // IVFADC probe: top-k shape counts value-replayed; the recall
    // floor derives from the real composed probe in-engine (score
    // exactness and scan-shape pins live in IvfPqSpec).
    "x_ivfpq_topk" ->
      """SELECT CAST(10 AS BIGINT) AS n_rows,
        | CAST(10 AS BIGINT) AS n_distinct_ids,
        | CAST(10 AS BIGINT) AS n_in_corpus,
        | CAST(1 AS BIGINT) AS cos_bounds_ok,
        | CAST(1 AS BIGINT) AS recall_vs_exact_ok""".stripMargin.replaceAll("\n", " "),
    // Streaming IVFADC ingest: vector count value-replayed; the
    // rows≡build and probe≡build bits are hard-0 exceptAll gates over
    // the real streamed table (frozen-quantizer encode is pure, so
    // bit-equality is the contract, not a floor).
    "x_stream_ivfpq" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_vectors,
        | CAST(1 AS BIGINT) AS three_batches_ok,
        | CAST(1 AS BIGINT) AS stream_rows_equal_build_ok,
        | CAST(1 AS BIGINT) AS stream_probe_equal_build_ok
        | FROM embeddings WHERE vec_id <> 0""".stripMargin.replaceAll("\n", " "),
    // Batched PQ serving: shape counts value-replayed; the
    // batch == single equality bit derives from the real probes.
    "x_pq_batch" ->
      """SELECT CAST(3 AS BIGINT) AS n_queries, CAST(10 AS BIGINT) AS n_topk,
        | CAST(30 AS BIGINT) AS n_rows,
        | CAST(1 AS BIGINT) AS batch_matches_single_ok""".stripMargin.replaceAll("\n", " "),
    // Vector-side known-item eval: the twin construction (double add,
    // float round), the widened-double cosine, and the (cos DESC, id)
    // rank are all replayed end-to-end — integer ranks, value-exact.
    "x_vector_eval" ->
      """WITH k AS (SELECT vec_id AS m, embedding AS v FROM embeddings
        |   WHERE vec_id BETWEEN 1 AND 5),
        | q AS (SELECT m, list_transform(generate_series(1, len(v)), i ->
        |     CAST(CAST(v[i] AS DOUBLE) +
        |       CAST((m*31 + (i-1)) * 2654435761 % 21 - 10 AS DOUBLE) / 2000.0
        |       AS FLOAT)) AS qv FROM k),
        | scored AS (SELECT q.m, e.vec_id,
        |  list_reduce(list_transform(generate_series(1, len(e.embedding)), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)), (x, y) -> x + y)
        |  / (sqrt(list_reduce(list_transform(generate_series(1, len(e.embedding)), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (x, y) -> x + y))
        |   * sqrt(list_reduce(list_transform(generate_series(1, len(qv)), i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)), (x, y) -> x + y))) AS cos_sim
        |  FROM embeddings e, q WHERE e.vec_id <> 0),
        | r AS (SELECT m, vec_id,
        |   ROW_NUMBER() OVER (PARTITION BY m ORDER BY cos_sim DESC, vec_id) AS rnk
        |  FROM scored)
        | SELECT m AS query_id, CAST(rnk AS BIGINT) AS known_item_rank
        | FROM r WHERE vec_id = m AND rnk <= 10 ORDER BY query_id""".stripMargin.replaceAll("\n", " "),
    // Batched float/int8 IVF serving: shape counts replayed, the two
    // batch ≡ per-query equality bits computed over the real probes
    // in-engine (exact cosines included).
    "x_ivf_batch" ->
      """SELECT CAST(3 AS BIGINT) AS n_queries, CAST(10 AS BIGINT) AS n_topk,
        | CAST(30 AS BIGINT) AS n_rows,
        | CAST(1 AS BIGINT) AS float_batch_matches_single_ok,
        | CAST(1 AS BIGINT) AS quant_batch_matches_single_ok""".stripMargin.replaceAll("\n", " "),
    // Batched IVFADC: same contract off the composed serving index —
    // shape counts replayed, the batch ≡ per-query equality bit
    // computed over the real probes in-engine.
    "x_ivfpq_batch" ->
      """SELECT CAST(3 AS BIGINT) AS n_queries, CAST(10 AS BIGINT) AS n_topk,
        | CAST(30 AS BIGINT) AS n_rows,
        | CAST(1 AS BIGINT) AS batch_matches_single_ok""".stripMargin.replaceAll("\n", " "),
    // PQ: corpus census value-replayed; both recall floors derive from
    // the real ADC / re-ranked probes in-engine.
    "x_pq_recall" ->
      """SELECT CAST(COUNT(*) - 1 AS BIGINT) AS n_corpus,
        | CAST(10 AS BIGINT) AS n_topk,
        | CAST(1 AS BIGINT) AS adc_recall_ok,
        | CAST(1 AS BIGINT) AS rerank_recall_ok
        | FROM embeddings""".stripMargin.replaceAll("\n", " "),
    // Int8 quantization replayed in SQL: same scale, same
    // floor(x*s + 0.5) rounding, same integer dot — IEEE double ops
    // in the same order on both engines, so the compare is exact.
    "x_quantize_dot" ->
      """WITH m AS (SELECT vec_id, embedding,
        |   list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma FROM embeddings),
        | q AS (SELECT vec_id,
        |   CASE WHEN ma = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
        |        ELSE list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * (127.0 / ma) + 0.5) AS BIGINT)) END AS qv
        |  FROM m)
        | SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |   list_reduce(list_transform(generate_series(1, len(a.qv)), i -> a.qv[i] * b.qv[i]), (x, y) -> x + y) AS qdot
        | FROM q a JOIN q b ON b.vec_id = a.vec_id + 1 ORDER BY id_a""".stripMargin.replaceAll("\n", " "),
    // Tier advisor: full replay — int8 quantization (the
    // x_quantize_dot recipe), sequential-fold float + quantized
    // cosines, per-anchor top-2 rank windows, floor-to-micro margins
    // and noise, and the same CASE decision.
    "x_tier_advisor" ->
      """WITH m AS (SELECT vec_id, embedding,
        |   list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma FROM embeddings),
        | q AS (SELECT vec_id, embedding,
        |   CASE WHEN ma = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
        |        ELSE list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * (127.0 / ma) + 0.5) AS BIGINT)) END AS qv
        |  FROM m),
        | pr AS (SELECT a.vec_id AS anchor_id, c.vec_id AS vec_id,
        |   list_reduce(list_transform(generate_series(1, len(c.embedding)), i -> CAST(c.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)), (x, y) -> x + y)
        |    / (sqrt(list_reduce(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))
        |     * sqrt(list_reduce(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))) AS cos_sim,
        |   CASE WHEN sqrt(CAST(list_reduce(list_transform(c.qv, x -> x * x), (x, y) -> x + y) AS DOUBLE))
        |          * sqrt(CAST(list_reduce(list_transform(a.qv, x -> x * x), (x, y) -> x + y) AS DOUBLE)) = 0 THEN NULL
        |        ELSE CAST(list_reduce(list_transform(generate_series(1, len(c.qv)), i -> c.qv[i] * a.qv[i]), (x, y) -> x + y) AS DOUBLE)
        |    / (sqrt(CAST(list_reduce(list_transform(c.qv, x -> x * x), (x, y) -> x + y) AS DOUBLE))
        |     * sqrt(CAST(list_reduce(list_transform(a.qv, x -> x * x), (x, y) -> x + y) AS DOUBLE))) END AS cos_q
        |  FROM q c JOIN q a ON a.vec_id < 8 AND c.vec_id <> a.vec_id),
        | rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY cos_sim DESC, vec_id) AS rn FROM pr),
        | per AS (SELECT anchor_id,
        |   CAST(floor((MAX(CASE WHEN rn = 1 THEN cos_sim END) - MAX(CASE WHEN rn = 2 THEN cos_sim END)) * 1e6) AS BIGINT) AS margin_u,
        |   COALESCE(MAX(CAST(floor(abs(cos_q - cos_sim) * 1e6) AS BIGINT)), 0) AS noise_u
        |  FROM rk WHERE rn <= 2 GROUP BY anchor_id),
        | agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_anchors,
        |   MIN(margin_u) AS min_margin_micro, MAX(noise_u) AS int8_err_micro FROM per)
        | SELECT n_anchors, min_margin_micro, int8_err_micro,
        |  CAST(4000 AS BIGINT) AS pq_res_micro, CAST(2 AS BIGINT) AS mult,
        |  CASE WHEN min_margin_micro >= 2 * 4000 THEN 'ivfadc'
        |       WHEN min_margin_micro >= 2 * GREATEST(int8_err_micro, 1) THEN 'int8'
        |       ELSE 'float' END AS tier
        | FROM agg""".stripMargin.replaceAll("\n", " "),
    // Sequential fold on both engines: kernel loop and list_reduce
    // both accumulate left-to-right in double.
    "x_embed_norms" ->
      """WITH b AS (SELECT CAST(floor(sqrt(list_reduce(
        |     list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
        |     (a, v) -> a + v)) * 4) AS BIGINT) AS bucket FROM embeddings)
        | SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n
        | FROM b GROUP BY bucket ORDER BY bucket""".stripMargin.replaceAll("\n", " "),
    "x_cosine_adjacent" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings)
        | SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  list_reduce(list_transform(generate_series(1, len(a.embedding)), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x, y) -> x + y)
        |  / (sqrt(list_reduce(list_transform(generate_series(1, len(a.embedding)), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)), (x, y) -> x + y))
        |   * sqrt(list_reduce(list_transform(generate_series(1, len(b.embedding)), i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x, y) -> x + y))) AS cos_sim
        | FROM e a JOIN e b ON b.vec_id = a.vec_id + 1 ORDER BY id_a""".stripMargin.replaceAll("\n", " "),
    // Hard negatives replayed in SQL: same fold-order cosine as the
    // other vector oracles, same different-label filter, same
    // (cos DESC, vec_id) rank per anchor.
    "x_hard_negatives" ->
      """WITH a AS (SELECT vec_id AS anchor_id, embedding AS av, label AS al
        |  FROM embeddings WHERE vec_id < 5),
        | scored AS (SELECT a.anchor_id, e.vec_id,
        |  list_reduce(list_transform(generate_series(1, len(e.embedding)), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(a.av[i] AS DOUBLE)), (x, y) -> x + y)
        |  / (sqrt(list_reduce(list_transform(generate_series(1, len(e.embedding)), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (x, y) -> x + y))
        |   * sqrt(list_reduce(list_transform(generate_series(1, len(a.av)), i -> CAST(a.av[i] AS DOUBLE) * CAST(a.av[i] AS DOUBLE)), (x, y) -> x + y))) AS cos_sim
        |  FROM embeddings e JOIN a ON e.label <> a.al),
        | r AS (SELECT anchor_id, vec_id, cos_sim,
        |   ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY cos_sim DESC, vec_id) AS rank
        |  FROM scored)
        | SELECT anchor_id, vec_id, cos_sim, CAST(rank AS BIGINT) AS rank
        | FROM r WHERE rank <= 5 ORDER BY anchor_id, rank""".stripMargin.replaceAll("\n", " "),
    "x_cosine_topk" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        | scored AS (SELECT e.vec_id,
        |  list_reduce(list_transform(generate_series(1, len(e.embedding)), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)), (x, y) -> x + y)
        |  / (sqrt(list_reduce(list_transform(generate_series(1, len(e.embedding)), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (x, y) -> x + y))
        |   * sqrt(list_reduce(list_transform(generate_series(1, len(q.qv)), i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)), (x, y) -> x + y))) AS cos_sim
        |  FROM embeddings e, q WHERE e.vec_id <> 0)
        | SELECT vec_id, cos_sim FROM scored ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin.replaceAll("\n", " "),
    "x_cosine_pairs_label" ->
      """WITH e0 AS (SELECT vec_id, label, embedding FROM embeddings),
        | ok AS (SELECT label FROM e0 GROUP BY label HAVING COUNT(*) <= 10000),
        | e AS (SELECT e0.* FROM e0 JOIN ok USING (label)),
        | p AS (SELECT a.label,
        |  list_reduce(list_transform(generate_series(1, len(a.embedding)), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x, y) -> x + y)
        |  / (sqrt(list_reduce(list_transform(generate_series(1, len(a.embedding)), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)), (x, y) -> x + y))
        |   * sqrt(list_reduce(list_transform(generate_series(1, len(b.embedding)), i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x, y) -> x + y))) AS cos_sim
        |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
        | SELECT label, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(SUM(CASE WHEN cos_sim >= 0.35 THEN 1 ELSE 0 END) AS BIGINT) AS n_close,
        |  MAX(cos_sim) AS max_cos
        | FROM p GROUP BY label ORDER BY label""".stripMargin.replaceAll("\n", " ")
  )
}
