package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al. 2011, "Product quantization for
  * nearest neighbor search") — the byte-budget scale path for ANN over
  * embedding corpora: each L2-NORMALIZED vector is cut into `m`
  * subvectors, each subvector is replaced by the id of its nearest
  * codebook centroid (per-subspace Lloyd/k-means, trained
  * distributed), and the m code ids are PACKED INTO ONE BIGINT (8
  * bits per subspace, so m ≤ 8, k ≤ 256 — eight bytes per vector,
  * a 32× cut vs 64-dim float32 and 8× vs the int8 row). Ranking uses
  * asymmetric distance computation (ADC): the query stays exact; a
  * driver-computed m×k lookup table of partial dot products turns
  * per-vector scoring into m shifts + m array lookups — pure codegen
  * over the single packed-code column, so a probe scans 8 bytes per
  * vector and nothing else.
  *
  * Normalizing before encoding makes the reconstructed dot product an
  * approximate COSINE, so PQ ranks against the same truth as the
  * LSH/IVF/int8 family (recall floors measured in PqSpec /
  * x_pq_recall). Codes are scale-invariant: v and 2v encode
  * identically.
  *
  * Scale shape: training touches each subspace census independently
  * (m small Lloyd runs whose per-round state is k·(d/m) decimal sums
  * on the driver — dimension-sized); encoding is one shuffle-free
  * codegen pass; probing is one scan of the packed column + a
  * TakeOrdered top-k. Nothing corpus-sized ever reaches the driver.
  */
object Pq {

  /** Unit-normalize `vecCol` into `outCol` (zero vectors pass through
    * as zeros rather than NaN). The norm is aliased first so the
    * element lambda reads a bound attribute — the Quantize
    * .withQuantized shape (an aggregate inside the lambda would be
    * O(d²) per row). */
  private[ext] def withUnit(df: DataFrame, vecCol: String, outCol: String): DataFrame =
    df.withColumn("__pq_n",
        sqrt(Similarity.dotIn(col(vecCol), col(vecCol))))
      .withColumn(outCol,
        when(col("__pq_n") === 0.0, transform(col(vecCol), _ => lit(0.0)))
          .otherwise(transform(col(vecCol), x => x.cast("double") / col("__pq_n"))))
      .drop("__pq_n")

  /** The m×k×sub codebook as one constant-folded plan literal —
    * centroids widen Float → Double exactly as l2Dists does, so the
    * kernel and HOF paths see identical bits. */
  private def booksLit(books: Seq[Seq[Seq[Float]]]): Column =
    array(books.map(book => array(book.map(cv =>
      array(cv.map(d => lit(d.toDouble)): _*)): _*)): _*)

  /** GATE-ONLY single-Column HOF twin of the packed code (dist arrays
    * re-evaluate per argmin reference — x_kernel_equiv compares it
    * against the kernel at gate scale; production encode uses the
    * kernel). */
  private[graft] def packedCodeHof(
      vec: Column, books: Seq[Seq[Seq[Float]]], normalize: Boolean): Column = {
    val sub = books.head.head.size
    val u =
      if (!normalize) vec
      else {
        val nrm = sqrt(Similarity.dotIn(vec, vec))
        when(nrm === 0.0, transform(vec, _ => lit(0.0)))
          .otherwise(transform(vec, x => x.cast("double") / nrm))
      }
    books.zipWithIndex.map { case (cents, j) =>
      argminCode(l2Dists(slice(u, j * sub + 1, sub), cents)).cast("long") *
        lit(1L << (8 * j))
    }.reduceLeft[Column](_ + _)
  }

  /** The codegen'd graft_pq_encode call: zero allocations per row. */
  private[graft] def packedCodeKernel(vec: Column,
      books: Seq[Seq[Seq[Float]]], normalize: Boolean): Column =
    call_function("graft_pq_encode", vec, booksLit(books), lit(normalize))

  /** Squared-L2 distances from a subvector column to each centroid.
    * The codebook enters as ONE constant-folded 2-D array literal and
    * the k distances come from a single transform/zip_with/aggregate
    * expression — NOT k×d inlined arithmetic nodes, which at
    * k=256 codes blows past janino's generated-method limits
    * (measured: InternalCompilerException at m·k·d ≈ 8000 terms).
    * Argmin stays array_position(array_min) — the ivfAssign pattern,
    * never a fold-of-when accumulator. */
  private def l2Dists(sv: Column, cents: Seq[Seq[Float]]): Column = {
    val centsLit = array(cents.map(cv =>
      array(cv.map(d => lit(d.toDouble)): _*)): _*)
    transform(centsLit, c =>
      aggregate(zip_with(sv, c, (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x))
  }

  /** Argmin over a distance array (first min wins — deterministic
    * ties). */
  private def argminCode(distCol: Column): Column =
    (array_position(distCol, array_min(distCol)) - 1).cast("int")

  /** Per-subspace Lloyd on the NORMALIZED corpus: deterministic
    * first-k-by-id seed, `iters` rounds of assign → per-code decimal
    * mean → reassign (the ivfTrain recipe under L2 on each slice).
    * Returns m codebooks of k centroids of dim d/m. */
  def trainCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                     m: Int = 8, k: Int = 16, iters: Int = 2): Seq[Seq[Seq[Float]]] =
    trainCodebooksOn(
      withUnit(corpus.select(col(idCol).as("__id"), col(vecCol)), vecCol, "__u")
        .select(col("__id"), col("__u")),
      "__id", "__u", m, k, iters)

  /** The Lloyd core of [[trainCodebooks]] WITHOUT the unit-normalize
    * step — `rawCol` is trained as-is (array<double>). IvfPq rides
    * this to train codebooks on RESIDUALS (vector − cell reference),
    * which must never be re-normalized: the ADC decomposition
    * dot(q, x) = dot(q, ref) + dot(q, x − ref) is exact only in the
    * residual's own scale. */
  private[ext] def trainCodebooksOn(corpus: DataFrame, idCol: String,
                                    rawCol: String, m: Int, k: Int,
                                    iters: Int): Seq[Seq[Seq[Float]]] = {
    require(m >= 1 && m <= 8, s"m must be in [1, 8], got $m")
    require(k >= 2 && k <= 256, s"k must be in [2, 256], got $k")
    val head = corpus.select(size(col(rawCol))).limit(1).collect()
    require(head.nonEmpty, "cannot train PQ codebooks on an empty corpus")
    val dims = head.head.getInt(0)
    require(dims % m == 0, s"vector dim $dims not divisible by m=$m")
    val sub = dims / m
    // CORPUS-SIZED multi-pass training cache (m subspaces × iters+1
    // reads): staged through the barrier POLICY — local blocks by
    // default, reliable checkpoint under spark.graft.checkpointDir on
    // a preemptible cluster — and released eagerly when training
    // returns instead of lingering until GC.
    val normed = Checkpoints.stage(corpus
      .select(col(idCol).as("__id"), col(rawCol).cast("array<double>").as("__u")))
    try (0 until m).map { j =>
      val sv = normed.select(col("__id"),
        slice(col("__u"), j * sub + 1, sub).as("__sv"))
      var cents: Seq[Seq[Float]] = sv.orderBy(col("__id")).limit(k)
        .select(col("__sv")).collect()
        .map(_.getSeq[Double](0).map(_.toFloat).toSeq).toSeq
      var it = 0
      while (it < iters) {
        val sums = (0 until sub).map(d =>
          sum(element_at(col("__sv"), d + 1)
            .cast("decimal(27,15)")).as(s"__s$d"))
        // Assign via the encode kernel: a 1-book pack IS the argmin code.
        val assigned = sv.withColumn("__c",
          packedCodeKernel(col("__sv"), Seq(cents), normalize = false).cast("int"))
        val rows = assigned
          .groupBy(col("__c"))
          .agg(count(lit(1)).as("__n"), sums: _*)
          .collect()
        val byCode = rows.map { r =>
          val n = r.getAs[Long]("__n")
          r.getAs[Int]("__c") -> (0 until sub).map(d =>
            (r.getAs[java.math.BigDecimal](s"__s$d").doubleValue() / n).toFloat)
        }.toMap
        cents = cents.indices.map(i => byCode.getOrElse(i, cents(i)).toSeq)
        it += 1
      }
      cents
    } finally Checkpoints.release(normed)
  }

  /** Append the packed PQ code of `vecCol` as `outCol`, keeping every
    * other column — the composable form of [[encodePacked]] (IvfPq
    * rides it to carry the code alongside the cell assignment in ONE
    * projection, no id-keyed join). One shuffle-free codegen pass. */
  def withPackedCode(df: DataFrame, vecCol: String, outCol: String,
                     books: Seq[Seq[Seq[Float]]]): DataFrame =
    // Normalize + assign + pack in ONE codegen call — no materialized
    // unit-vector column at all.
    df.withColumn(outCol, packedCodeKernel(col(vecCol), books, normalize = true))

  /** The encode core of [[withPackedCode]] WITHOUT the unit-normalize
    * step — `rawCol` (array<double>) is assigned to each subspace's
    * nearest code as-is. IvfPq packs RESIDUAL codes through this. */
  private[ext] def packCodesOn(df: DataFrame, rawCol: String, outCol: String,
                               books: Seq[Seq[Seq[Float]]]): DataFrame =
    df.withColumn(outCol, packedCodeKernel(col(rawCol), books, normalize = false))

  /** Encode the corpus: normalize, assign each subspace's nearest
    * code, pack all m codes into one BIGINT (code_j in bits
    * [8j, 8j+8)). One shuffle-free codegen projection. */
  def encodePacked(corpus: DataFrame, idCol: String, vecCol: String,
                   books: Seq[Seq[Seq[Float]]]): DataFrame =
    withPackedCode(corpus.select(col(idCol), col(vecCol)), vecCol,
      "pq_code", books).select(col(idCol), col("pq_code"))

  /** ADC top-k: the exact (normalized) query builds an m×k partial
    * dot-product LUT on the driver; each vector's approximate cosine
    * is m unpack-shifts + m literal-array lookups over the packed
    * code — the probe reads 8 bytes per vector. Ties break by id. */
  /** The ONE definition of the ADC score expression — single and
    * batched probes call it, and IvfPq's cell-pruned probe reuses it,
    * so the paths can never drift (scores stay bit-identical
    * whichever way a query is served). */
  /** The ONE unit-normalization of a driver-side query vector — the
    * exact arithmetic [[adcScore]] has always applied, shared so every
    * LUT builder (single, batched, IVFADC cell dots) sees identical
    * doubles. */
  private[ext] def unitOf(q: Seq[Float]): Seq[Double] = {
    val n = math.sqrt(q.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))
    if (n == 0.0) q.map(_ => 0.0) else q.map(_.toDouble / n)
  }

  /** The batched LUT literal [query][subspace][code] — each value the
    * SAME driver-computed double [[adcScore]]'s per-query LUT holds
    * (left-folded Σ_d q̂·centroid), so any probe path reading this
    * literal scores bit-identically to the single probe. One
    * constant-folded 3-D literal; the graft_ivfadc_scores kernel ships
    * it as a codegen reference object. */
  private[ext] def adcLut3d(queries: Seq[(Long, Seq[Float])],
                            books: Seq[Seq[Seq[Float]]]): Column = {
    val sub = books.head.head.size
    array(queries.map { case (_, q) =>
      val qq = unitOf(q)
      array(books.zipWithIndex.map { case (cents, j) =>
        array(cents.map(cv =>
          lit(cv.indices.foldLeft(0.0)((a, d) =>
            a + qq(j * sub + d) * cv(d).toDouble))): _*)
      }: _*)
    }: _*)
  }

  private[ext] def adcScore(q: Seq[Float], books: Seq[Seq[Seq[Float]]]): Column = {
    val m = books.size
    val sub = books.head.head.size
    require(q.size == m * sub, s"query dim ${q.size} != ${m * sub}")
    val qn = unitOf(q)
    books.zipWithIndex.map { case (cents, j) =>
      val lut = array(cents.map(cv =>
        lit(cv.indices.foldLeft(0.0)((a, d) =>
          a + qn(j * sub + d) * cv(d).toDouble))): _*)
      element_at(lut,
        pmod(shiftright(col("pq_code"), 8 * j), lit(256L)).cast("int") + 1)
    }.reduceLeft[Column](_ + _)
  }

  def probeTopK(encoded: DataFrame, idCol: String, q: Seq[Float],
                books: Seq[Seq[Seq[Float]]], topK: Int): DataFrame =
    encoded.withColumn("pq_score", adcScore(q, books))
      .orderBy(col("pq_score").desc, col(idCol))
      .limit(topK)

  /** Batched ADC serving: N queries answered in ONE scan of the
    * packed-code column — per query a LUT-sum score column, stacked
    * to (query_id, id, pq_score) rows, then per-query top-k through
    * WindowGroupLimit (partial top-k per partition BEFORE the
    * shuffle, so only queries×topK rows per partition move). Scores
    * come from the same [[adcScore]] expression as the single probe,
    * so batch ≡ per-query bit-for-bit — the x_pq_batch gate proves it
    * over the real output. */
  def probeBatch(encoded: DataFrame, idCol: String,
                 queries: Seq[(Long, Seq[Float])],
                 books: Seq[Seq[Seq[Float]]], topK: Int): DataFrame = {
    require(queries.nonEmpty && queries.size <= 64,
      s"probeBatch takes 1-64 queries, got ${queries.size}")
    require(queries.map(_._1).distinct.size == queries.size,
      "query ids must be distinct")
    import org.apache.spark.sql.expressions.Window
    val qids = array(queries.map(q => lit(q._1)): _*)
    // One graft_ivfadc_scores call per row in FLAT mode (empty cell
    // tables — score is the bare left-folded LUT sum, bit-identical
    // to adcScore), with every per-query LUT riding one folded
    // literal. A flat per-query expression form blows janino's
    // generated-method limits near the 64-query cap (measured:
    // InternalCompilerException at 64 × kPq=128); the kernel compiles
    // at any batch size.
    val emptyD = array().cast("array<double>")
    val emptyI = array().cast("array<int>")
    val stacked = encoded.select(col(idCol),
        posexplode(call_function("graft_ivfadc_scores",
          col("pq_code"), lit(0),
          struct(adcLut3d(queries, books),
            array(queries.map(_ => emptyD): _*),
            array(queries.map(_ => emptyI): _*)))))
      .toDF(idCol, "__qi", "pq_score")
      .select(element_at(qids, col("__qi") + 1).as("query_id"),
        col(idCol), col("pq_score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("pq_score").desc, col(idCol))
    stacked.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= topK)
      .select(col("query_id"), col(idCol), col("pq_score"))
      .orderBy(col("query_id"), col("pq_score").desc, col(idCol))
  }

  /** The production serving shape: ADC shortlists `shortlist`
    * candidates from the 8-byte codes (the cheap full scan), then the
    * FLOAT vectors of only those candidates are fetched (broadcast
    * id semi-join — shortlist-sized) and re-ranked by exact cosine.
    * Same two-tier structure as the int8 IVF probe: approximate
    * prune over the compressed column, exact order over a
    * candidate-sized read. Measured on the driver fixture: ADC-only
    * recall@10 = 5/10, shortlist-50 + re-rank = 10/10 (PqSpec). */
  def probeTopKReranked(encoded: DataFrame, corpus: DataFrame,
                        idCol: String, vecCol: String, q: Seq[Float],
                        books: Seq[Seq[Seq[Float]]], topK: Int,
                        shortlist: Int = 50): DataFrame = {
    require(shortlist >= topK, s"shortlist $shortlist < topK $topK")
    val ids = probeTopK(encoded, idCol, q, books, shortlist).select(col(idCol))
    val qlit = array(q.map(v => lit(v.toDouble)): _*)
    corpus.join(broadcast(ids), Seq(idCol))
      .withColumn("score", Similarity.cosineIn(col(vecCol), qlit))
      .orderBy(col("score").desc, col(idCol))
      .limit(topK)
  }
}
