package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Vector math is a SEQUENTIAL double-precision fold over the array
  * (zip_with + aggregate) — deterministic bit-for-bit regardless of
  * partitioning, which the oracle hash-compare requires. [[dot]] and
  * [[lshBucket]] are the builtin higher-order reference forms; the
  * operators evaluate them through the codegen'd graft_dot /
  * graft_lsh_bucket kernels ([[dotIn]], [[lshBucketIn]]) — no UDFs.
  *
  * Scale path: brute force is one scan per query batch (fine when the
  * query side is small and broadcast); the LSH variant buckets vectors
  * by random-hyperplane sign signatures so a query probes one bucket
  * (~n/2^bits of the data) instead of everything.
  */
object Similarity {

  /** Σ aᵢ·bᵢ as an ordered left fold in double precision. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** [[dot]] through the codegen'd graft_dot kernel (bit-identical
    * fold order — see graft.functions.Kernels). */
  def dotIn(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  def normIn(a: Column): Column = sqrt(dotIn(a, a))

  def cosineIn(a: Column, b: Column): Column = dotIn(a, b) / (normIn(a) * normIn(b))

  /** Brute-force top-k by cosine against one literal query vector.
    * One scan + TakeOrderedAndProject (no full sort materialized).
    */
  def bruteForceTopK(corpus: DataFrame, idCol: String, vecCol: String,
                     query: Seq[Float], k: Int): DataFrame = {
    val q = array(query.map(v => lit(v.toDouble)): _*)
    corpus.select(col(idCol), cosineIn(col(vecCol), q).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Hard-negative mining for contrastive/metric-learning training:
    * for each anchor, the k most cosine-similar corpus vectors
    * carrying a DIFFERENT label — the negatives that actually move
    * the loss. The anchor batch broadcasts (mining passes work a
    * bounded batch of anchors, the production shape) and the corpus
    * is scanned ONCE: |anchors|·n codegen'd scorings then a
    * per-anchor WindowGroupLimit top-k — linear in the corpus, never
    * corpus×corpus. The broadcast side is the anchor batch, so the
    * nested-loop the non-equi label filter induces is bounded by the
    * batch size; at larger anchor batches, shard the batch and union.
    * Output: (anchor_id, id, cos_sim, rank), rank 1-based per anchor. */
  def hardNegatives(corpus: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, anchors: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val a = anchors.select(col(idCol).as("anchor_id"),
      col(vecCol).as("__anchor_vec"), col(labelCol).as("__anchor_label"))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cos_sim").desc, col(idCol))
    corpus.join(broadcast(a), col(labelCol) =!= col("__anchor_label"))
      .select(col("anchor_id"), col(idCol),
        cosineIn(col(vecCol), col("__anchor_vec")).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** [[hardNegatives]] for an UNBOUNDED anchor set — a full training
    * epoch's anchors, not just a mining batch. The one-shot form
    * `broadcast(anchors)` hits the driver/broadcast ceiling past a few
    * hundred thousand anchors; here the anchor set is deterministically
    * hash-sliced to ~`sliceSize` rows and each slice rides the SAME
    * broadcast corpus scan, unioned. Every anchor's top-k is computed
    * against the full corpus inside its own slice and never looks at
    * other anchors, so the union equals the one-shot result
    * row-for-row (SimilaritySpec pins the equality) — chunking changes
    * memory, not results. Cost: ceil(n_anchors/sliceSize) corpus
    * scans — the price of bounding each broadcast; pick sliceSize just
    * under the broadcast ceiling. Slices are hash-balanced (expected
    * sliceSize rows, same multiplicative id-hash as every sampler
    * here); at hundreds of slices, drive the loop through
    * [[Checkpoints.stage]]d writes instead of one union plan. */
  def hardNegativesChunked(corpus: DataFrame, idCol: String, vecCol: String,
                           labelCol: String, anchors: DataFrame, k: Int,
                           sliceSize: Int = 100000): DataFrame = {
    require(sliceSize > 0, s"sliceSize must be positive, got $sliceSize")
    // One metadata-scale action: the anchor count sizes the loop.
    val n = anchors.count()
    val nSlices = math.max(1L, (n + sliceSize - 1) / sliceSize).toInt
    if (nSlices == 1)
      return hardNegatives(corpus, idCol, vecCol, labelCol, anchors, k)
    (0 until nSlices).map { i =>
      hardNegatives(corpus, idCol, vecCol, labelCol,
        anchors.where(TextAnalysis.idHashBucket(col(idCol), nSlices) === i), k)
    }.reduce(_.union(_))
  }

  /** Deterministic pseudo-random hyperplane component r_{j,d} ∈ [-1, 1),
    * derived from (j, d) by integer hashing — no RNG state, so every
    * executor materializes the same hyperplanes. */
  private def planeComponent(j: Int, d: Column): Column =
    (pmod(xxhash64(lit(j), d), lit(2000L)).cast("double") - 1000.0) / 1000.0

  /** Sign-bit signature under `bits` random hyperplanes → bucket id in
    * [0, 2^bits). Cosine-similar vectors land in the same bucket with
    * probability (1 - θ/π)^bits. */
  def lshBucket(vec: Column, bits: Int): Column = {
    val dims = sequence(lit(1), size(vec))
    (0 until bits).map { j =>
      val d = aggregate(dims, lit(0.0),
        (acc, i) => acc + element_at(vec, i).cast("double") * planeComponent(j, i))
      when(d >= 0, lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)
  }

  /** [[lshBucket]] through the codegen'd graft_lsh_bucket kernel
    * (identical values — pinned in ApproxSimilarityJoinSpec). */
  def lshBucketIn(vec: Column, bits: Int): Column =
    call_function("graft_lsh_bucket", vec, lit(bits))

  /** Driver-side bucket id for a literal query vector — the SAME kernel
    * arithmetic the column path evaluates (the kernel is pinned equal
    * to the higher-order form), computed locally so multi-probe can
    * enumerate neighbor buckets without running a 1-row Spark plan. */
  def localBucket(query: Seq[Float], bits: Int): Long =
    graft.functions.Kernels.lshBucket(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        query.map(_.toDouble).toArray),
      bits, isFloat = false)

  /** The buckets a query probes: its own, plus (multi-probe) every
    * Hamming-1 neighbor — vectors just across one hyperplane land one
    * bit-flip away, so probing bits+1 buckets recovers most of the
    * near-boundary recall that single-bucket LSH loses. */
  def probeBuckets(query: Seq[Float], bits: Int, multiProbe: Boolean): Seq[Long] = {
    val b0 = localBucket(query, bits)
    if (multiProbe) b0 +: (0 until bits).map(j => b0 ^ (1L << j))
    else Seq(b0)
  }

  /** ANN: probe the query's bucket (plus Hamming-1 neighbors under
    * multi-probe, the default), exact cosine re-rank inside the probed
    * set. Scans ~(bits+1)/2^bits of the corpus; recall < 1 by
    * construction — the test suite measures it against bruteForceTopK. */
  def annTopK(corpus: DataFrame, idCol: String, vecCol: String,
              query: Seq[Float], k: Int, bits: Int = 8,
              multiProbe: Boolean = true): DataFrame = {
    val q = array(query.map(v => lit(v.toDouble)): _*)
    val probes = probeBuckets(query, bits, multiProbe)
    corpus.withColumn("bucket", lshBucketIn(col(vecCol), bits))
      .where(col("bucket").isin(probes: _*))
      .select(col(idCol), cosineIn(col(vecCol), q).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Truncation-recall census — the matryoshka question as a
    * queryable operating curve: how much top-k recall survives
    * serving only the first `d` dimensions of every embedding?
    * (Prefix truncation is the storage/serving lever next to int8/PQ
    * quantization: d/64 of the bytes, no codebooks — worth exactly
    * what this census measures on the corpus's own geometry.)
    *
    * For each cut in `dims`: every anchor's top-k by cosine over the
    * FIRST `cut` coordinates is intersected with its FULL-dimension
    * top-k (the truth), and the census row reports the summed overlap
    * and its milli-recall. One corpus scan per cut + one for the
    * truth — anchors broadcast (bounded), scoring codegen'd, top-k
    * per anchor via a rank window (WindowGroupLimit, k rows per
    * partition pre-shuffle). The truth top-k is STAGED once
    * (anchors×k rows — [[Checkpoints.stage]]) and `n_anchors` comes
    * from the bounded anchor frame, so the |dims| union branches
    * reference the staged rows instead of re-deriving the
    * full-dimension scan per cut (ADVICE r18: the old shape paid
    * ~2 extra corpus scans per cut). All outputs integers; the DuckDB
    * twin replays slicing, sequential-fold cosines, rank windows, and
    * the floor-milli arithmetic value-exact (x_trunc_recall). */
  def truncationRecall(corpus: DataFrame, idCol: String, vecCol: String,
                       anchors: DataFrame, dims: Seq[Int],
                       k: Int): DataFrame = {
    require(dims.nonEmpty && k > 0, s"need dims and k > 0: $dims, $k")
    import org.apache.spark.sql.expressions.Window
    val a = anchors.select(col(idCol).as("anchor_id"),
      col(vecCol).as("__avec"))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cos_sim").desc, col(idCol))
    def topK(cut: Option[Int]): DataFrame = {
      def sliced(c: Column) = cut.fold(c)(d => slice(c, 1, d))
      corpus.join(broadcast(a), col(idCol) =!= col("anchor_id"))
        .select(col("anchor_id"), col(idCol),
          cosineIn(sliced(col(vecCol)), sliced(col("__avec")))
            .as("cos_sim"))
        .withColumn("__rk", row_number().over(w))
        .where(col("__rk") <= k)
        .select(col("anchor_id"), col(idCol))
    }
    val truth = Checkpoints.stage(topK(None))
    // n_anchors from the anchor frame, not a truth re-aggregation:
    // identical whenever every anchor has >= 1 candidate (any corpus
    // with a second row), and crossed in ONCE after the union — one
    // bounded anchor scan for the whole curve instead of one per cut.
    val nAnchors = a.agg(count_distinct(col("anchor_id")).as("n_anchors"))
    dims.map { d =>
      topK(Some(d)).join(truth, Seq("anchor_id", idCol))
        .agg(count(lit(1)).as("overlap_sum"))
        .select(lit(d.toLong).as("dims"), col("overlap_sum"))
    }.reduce(_ unionByName _)
      .crossJoin(nAnchors)
      .select(col("dims"), col("n_anchors"), lit(k.toLong).as("k"),
        col("overlap_sum"),
        floor(lit(1000L) * col("overlap_sum") /
          (col("n_anchors") * lit(k.toLong))).cast("long")
          .as("recall_milli"))
      .orderBy(col("dims"))
  }

  /** IVF (inverted-file) clustering: every vector is assigned to its
    * most-cosine-similar centroid. Centroids are the first `k` vectors
    * in id order — deterministic and cheap; a production system plugs
    * k-means centroids into the same shape. Assignment is a per-row
    * argmax over k codegen'd dot products: no shuffle, no join.
    *
    * Degenerate vectors (0-norm, null element, dims mismatch) have a
    * null cosine to EVERY centroid (non-ANSI Divide nulls on a 0.0
    * divisor), so their argmax — and cluster_id — is null: they land
    * in the index's null partition, which no probe's cell pruning ever
    * reads. A directionless vector has no cosine rank by definition;
    * excluding it at ingest keeps every probed cell free of rows the
    * scorer could only null (pinned by IvfIndexSpec's degenerate-
    * vector case, which hand-injects one to exercise the serving
    * paths' null discipline anyway).
    */
  def ivfAssign(corpus: DataFrame, idCol: String, vecCol: String,
                centroids: Seq[Seq[Float]]): DataFrame = {
    // LINEAR argmax: one sims array + array_position(max). A
    // fold-of-when chain that threads the accumulator through both
    // branches duplicates the subtree per step — 2^k expression nodes
    // for k centroids (measured: heap exhaustion at k=16).
    val sims = array(centroids.map(cv =>
      cosineIn(col(vecCol), array(cv.map(v => lit(v.toDouble)): _*))): _*)
    corpus
      .withColumn("__sims", sims)
      .withColumn("cluster_id",
        (array_position(col("__sims"), array_max(col("__sims"))) - 1).cast("int"))
      .drop("__sims")
  }

  /** First-k-by-id centroids for ivfAssign (driver-side collect of k
    * small vectors) — the deterministic SEED for ivfTrain, and the
    * untrained baseline its recall is measured against. */
  def ivfCentroids(corpus: DataFrame, idCol: String, vecCol: String, k: Int): Seq[Seq[Float]] =
    corpus.orderBy(col(idCol)).limit(k)
      .select(col(vecCol)).collect().map(_.getSeq[Float](0)).toSeq

  /** Lloyd-trained centroids: `iters` rounds of assign → per-cluster
    * mean → reassign, from the deterministic first-k seed. Each round
    * is one distributed pass (assignment is a per-row argmax, the mean
    * a single groupBy over k·dims cells collected to the driver — k
    * small vectors, never data).
    *
    * DETERMINISTIC by construction: per-dimension sums are computed in
    * exact DECIMAL arithmetic (each double cast to decimal(27,15) —
    * value-wise rounding, order-independent — then summed exactly), so
    * centroid means never drift with partitioning or aggregation order
    * and trained-index results are stable run to run. An empty cluster
    * keeps its previous centroid.
    */
  def ivfTrain(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
               iters: Int = 2): Seq[Seq[Float]] = {
    var cents = ivfCentroids(corpus, idCol, vecCol, k)
    val dims = cents.headOption.map(_.size).getOrElse(0)
    var it = 0
    while (it < iters && dims > 0) {
      val sums = (0 until dims).map(d =>
        sum(element_at(col(vecCol), d + 1).cast("double")
          .cast("decimal(27,15)")).as(s"__s$d"))
      val rows = ivfAssign(corpus, idCol, vecCol, cents)
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("__n"), sums: _*)
        .collect()
      val byCluster = rows.map { r =>
        val n = r.getAs[Long]("__n")
        val mean = (0 until dims).map { d =>
          (r.getAs[java.math.BigDecimal](s"__s$d").doubleValue() / n).toFloat
        }
        r.getAs[Int]("cluster_id") -> mean
      }.toMap
      cents = cents.indices.map(i => byCluster.getOrElse(i, cents(i)).toSeq)
      it += 1
    }
    cents
  }

  /** IVF ANN top-k: probe only the `nProbe` clusters whose centroids
    * are nearest the query — the scan shrinks to ~nProbe/k of the
    * corpus (vs 1/2^bits for the LSH variant; IVF adapts to the data's
    * actual density, LSH needs no training pass).
    */
  /** Driver-side cosine over two small vectors (centroid ranking — never
    * data). Shared by ivfTopK and IvfIndex.probeTopK so the on-the-fly
    * and persisted-index paths rank clusters identically. */
  private[ext] def dotLocal(a: Seq[Float], b: Seq[Float]): Double =
    a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x.toDouble * y.toDouble }
  private[ext] def cosLocal(a: Seq[Float], b: Seq[Float]): Double =
    dotLocal(a, b) / (math.sqrt(dotLocal(a, a)) * math.sqrt(dotLocal(b, b)))

  /** The `nProbe` cluster ids whose centroids are most cosine-similar
    * to the query (driver-side over k small vectors). */
  private[graft] def probeClusters(centroids: Seq[Seq[Float]], query: Seq[Float],
                                   nProbe: Int): Seq[Int] =
    centroids.zipWithIndex
      .sortBy { case (cv, _) => -cosLocal(cv, query) }
      .take(nProbe).map(_._2)

  def ivfTopK(corpus: DataFrame, idCol: String, vecCol: String,
              query: Seq[Float], topK: Int,
              centroids: Seq[Seq[Float]], nProbe: Int): DataFrame = {
    val probe = probeClusters(centroids, query, nProbe)
    val q = array(query.map(v => lit(v.toDouble)): _*)
    ivfAssign(corpus, idCol, vecCol, centroids)
      .where(col("cluster_id").isin(probe: _*))
      .select(col(idCol), cosineIn(col(vecCol), q).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(topK)
  }

  /** All pairs (id_a < id_b) within the same blocking key whose cosine
    * meets the threshold — the embedding-near-dup operator. Blocking
    * (a label, an LSH bucket) keeps the join keyed, never cartesian.
    *
    * Hot-block guard: cost is Σ block², which is sub-quadratic only
    * while every block stays bounded — ONE degenerate key (a coarse
    * label, an LSH bucket full of near-zero vectors, a viral document
    * cluster) goes quadratic in that key with no backpressure. Blocks
    * larger than `maxBlockSize` are therefore DROPPED from pair
    * generation, mirroring Dedup.MinHashParams.maxBucketSize; use
    * `oversizedBlocks` with the same cap to report what was skipped
    * (re-block the remainder with a finer key, or sub-block with a
    * salt). Worst-case pair count is then bounded by
    * n/maxBlockSize · maxBlockSize² = n·maxBlockSize.
    */
  def cosinePairsWithin(corpus: DataFrame, idCol: String, vecCol: String,
                        blockCol: String, threshold: Double,
                        maxBlockSize: Int = 10000): DataFrame = {
    // Precompute each vector's norm BEFORE the join: computed n times
    // instead of once per pair (n²). The cosine is then the identical
    // IEEE expression dot/(norm_a*norm_b), so results are bit-equal to
    // the naive form — only the work moves.
    val sized = SkipReport.within(
        SkipReport.census(corpus.select(col(blockCol).as("blk")),
          Seq(col("blk"))),
        maxBlockSize)
      .select(col("blk"))
    val withNorm = corpus.select(col(blockCol).as("blk"), col(idCol).as("id"),
      col(vecCol).as("v"), normIn(col(vecCol)).as("nrm"))
      .join(sized, Seq("blk"))
    val a = withNorm.select(col("blk"), col("id").as("id_a"),
      col("v").as("v_a"), col("nrm").as("nrm_a"))
    val b = withNorm.select(col("blk"), col("id").as("id_b"),
      col("v").as("v_b"), col("nrm").as("nrm_b"))
    a.join(b, Seq("blk"))
      .where(col("id_a") < col("id_b"))
      .withColumn("cos_sim", dotIn(col("v_a"), col("v_b")) / (col("nrm_a") * col("nrm_b")))
      .where(col("cos_sim") >= threshold)
      .select(col("blk"), col("id_a"), col("id_b"), col("cos_sim"))
  }

  /** EXACT cosine-threshold pairs by brute force (id_a < id_b over the
    * whole corpus) — the truth baseline the LSH-blocked near-dup and
    * the approx-similarity-join rewrite are gated against: their
    * confirmed sets must be SUBSETS of this one (blocking only ever
    * MISSES pairs; the cosine is the identical IEEE expression
    * dot / (nrm_a · nrm_b), so membership matches bit-for-bit).
    * Quadratic BY DESIGN: run it at oracle/validation scale, never as
    * the production path — that is what the blocked variants are for.
    */
  def bruteForcePairs(corpus: DataFrame, idCol: String, vecCol: String,
                      threshold: Double): DataFrame = {
    val withNorm = corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
      normIn(col(vecCol)).as("nrm"))
    val a = withNorm.select(col("id").as("id_a"), col("v").as("v_a"),
      col("nrm").as("nrm_a"))
    val b = withNorm.select(col("id").as("id_b"), col("v").as("v_b"),
      col("nrm").as("nrm_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos_sim",
        dotIn(col("v_a"), col("v_b")) / (col("nrm_a") * col("nrm_b")))
      .where(col("cos_sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos_sim"))
  }

  /** End-to-end embedding near-dup DEDUP: one survivor (smallest id)
    * per cosine-similar cluster, everything else unchanged — the
    * embedding-side twin of Dedup.dedupNearDups, and the operator a
    * vector-corpus pipeline actually runs (drop near-duplicate
    * embeddings before training/indexing). LSH-bucket blocking keeps
    * pair generation keyed (Σ bucket², never n²; hot buckets dropped
    * at `maxBlockSize`), exact cosine confirms at `threshold`, then
    * min-label propagation on the TINY pair-connected subgraph and one
    * id-keyed shuffle anti-join over the corpus (no broadcast hint —
    * the loser set is the corpus's duplicate mass, driver-fatal to
    * broadcast at scale; AQE broadcasts when genuinely small) —
    * identical scale shape to the text pipeline.
    * Byte-identical vectors share every hyperplane
    * sign and have cosine 1, so identical-embedding groups ALWAYS
    * collapse to one row (the oracle-checkable floor of the
    * hash-dependent survivor set). */
  def dedupEmbeddings(corpus: DataFrame, idCol: String, vecCol: String,
                      threshold: Double, bits: Int = 8,
                      maxBlockSize: Int = 10000): DataFrame = {
    import scala.util.chaining._
    val bucketed = corpus.select(col(idCol), col(vecCol))
      .withColumn("__bucket", lshBucketIn(col(vecCol), bits))
    val pairs = cosinePairsWithin(bucketed, idCol, vecCol, "__bucket",
        threshold, maxBlockSize)
      .select(col("id_a"), col("id_b"))
      .pipe(Checkpoints.stage)
    val touched = pairs.select(col("id_a").as("doc"))
      .union(pairs.select(col("id_b").as("doc"))).distinct()
    val clusters = Dedup.nearDupClusters(touched, "doc", pairs)
    val losers = clusters.where(col("id") =!= col("cluster_id")).select(col("id"))
    corpus.join(losers, corpus(idCol) === losers("id"), "left_anti")
  }

  /** The blocks `cosinePairsWithin` would drop at the given cap, with
    * their sizes — the skip report a pipeline logs (or re-blocks) so an
    * oversized block is never a silent coverage hole. */
  def oversizedBlocks(corpus: DataFrame, blockCol: String,
                      maxBlockSize: Int = 10000): DataFrame =
    SkipReport.skipped(
      SkipReport.census(corpus.select(col(blockCol).as("blk")),
        Seq(col("blk"))),
      maxBlockSize)

  /** SemDeDup — SEMANTIC deduplication by k-means-scoped cosine
    * pruning (Abbas et al. 2023, arXiv:2303.09540): cluster the
    * embedding space (the trained centroids passed in — reuse
    * [[ivfTrain]]'s, or an IVF index's saved ones, so dedup and ANN
    * share one clustering), form near-duplicate groups WITHIN each
    * cluster at `threshold`, and keep one survivor per group —
    * following the paper, the member with the LOWEST cosine to its
    * cluster centroid (the most peripheral example, maximizing
    * retained diversity; ties break to the smallest id). Differs from
    * [[dedupEmbeddings]] in blocking physics: LSH buckets catch
    * near-IDENTICAL vectors (hyperplane signs agree only very close
    * up), while centroid cells catch SEMANTIC redundancy at much
    * lower thresholds (0.9–0.95 cosine on real embeddings) — the
    * regime where LSH recall collapses but k-means cells still
    * co-locate the redundant mass.
    *
    * Scale shape — the reason SemDeDup clusters at all: pair
    * generation is Σ cell², never n², and cells are capped at
    * `maxClusterSize` (report the skips with [[oversizedBlocks]] over
    * the assignment, exactly like the LSH path). Assignment is one
    * per-row argmax over k broadcast centroids; group formation is
    * min-label propagation on the pair-connected subgraph (tiny by
    * construction); the final anti-join is an id-keyed shuffle join —
    * the loser set is dup-mass-sized, so no broadcast hint (AQE
    * broadcasts when it is actually small). */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
                    centroids: Seq[Seq[Float]], threshold: Double,
                    maxClusterSize: Int = 10000): DataFrame = {
    import scala.util.chaining._
    val spark = corpus.sparkSession
    import spark.implicits._
    val assigned = ivfAssign(corpus.select(col(idCol), col(vecCol)),
        idCol, vecCol, centroids)
      .withColumnRenamed("cluster_id", "__cell")
    val centDf = centroids.zipWithIndex
      .map { case (cv, i) => (i, cv.map(_.toDouble)) }
      .toDF("__cell", "__cent")
    val withCos = assigned.join(broadcast(centDf), Seq("__cell"))
      .withColumn("__cos_cent", cosineIn(col(vecCol), col("__cent")))
      .drop("__cent")
    val pairs = cosinePairsWithin(withCos, idCol, vecCol, "__cell",
        threshold, maxClusterSize)
      .select(col("id_a"), col("id_b"))
      .pipe(Checkpoints.stage)
    val touched = pairs.select(col("id_a").as("doc"))
      .union(pairs.select(col("id_b").as("doc"))).distinct()
    val groups = Dedup.nearDupClusters(touched, "doc", pairs)
    val withGroup = groups.select(col("id"), col("cluster_id").as("__grp"))
      .join(withCos.select(col(idCol).as("id"), col("__cos_cent")), Seq("id"))
    val survivors = withGroup.groupBy(col("__grp"))
      .agg(min_by(col("id"), struct(col("__cos_cent"), col("id"))).as("__keep"))
    val losers = withGroup.join(survivors, Seq("__grp"))
      .where(col("id") =!= col("__keep"))
      .select(col("id"))
    corpus.join(losers, corpus(idCol) === losers("id"), "left_anti")
  }
}
