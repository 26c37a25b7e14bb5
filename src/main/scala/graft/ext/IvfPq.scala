package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVFADC — the composed serving index (Jégou et al. 2011, §IV
  * "IVFADC: coarse quantizer + PQ-encoded RESIDUALS"): IVF cells give
  * PARTITION PRUNING (a probe opens only the nProbe most-query-similar
  * cells' directories), PQ codes over the residual (unit vector minus
  * its cell's reference point) give BYTE ECONOMY inside them (the
  * pruned scan reads the 8-byte packed code, never the float column),
  * and an exact float re-rank over the shortlist restores exact-cosine
  * order.
  *
  * WHY RESIDUALS — the scale lesson this file exists to encode: PQ
  * codebooks trained on the raw vectors spend nearly all their bits
  * re-describing WHICH cell a vector sits in (information the
  * partition key already carries for free), so within-cell ADC
  * resolution collapses as cells grow — at 100 k vectors a planted
  * near-twin of the query no longer survived a 40-row shortlist.
  * Encoding x − ref(cell) spends all m·log₂(kPq) bits on within-cell
  * structure, and the score decomposes EXACTLY:
  *
  *   cos(q, x) = dot(q̂, x̂) = dot(q̂, ref_cell) + dot(q̂, x̂ − ref_cell)
  *
  * — a per-cell constant (k driver-side dots, one literal LUT indexed
  * by the partition column) plus the standard ADC LUT sum over the
  * residual codebooks ([[Pq.adcScore]], the same expression the flat
  * probes evaluate). The reference point is the unit-normalized cell
  * centroid; the decomposition is exact for ANY fixed per-cell
  * reference, so correctness never depends on centroid quality — only
  * code efficiency does.
  *
  * This closes the scale gap both parents leave open:
  *   - [[Pq.probeTopK]] scans EVERY packed code — 8 B/vector is cheap,
  *     but 20 B vectors is still 160 GB per ad-hoc probe;
  *   - [[IvfIndex.probeTopKQuantized]] prunes to nProbe cells but its
  *     pre-rank reads the d-byte int8 column (d = vector dims).
  * Composed: bytes/probe ≈ |corpus| · (nProbe/k) · 8 B — the cell
  * fraction AND the 8-byte row, multiplicative. At 20 B vectors,
  * k = 1024 cells, nProbe = 32: ~5 GB touched per probe vs 160 GB
  * (flat PQ) or ~40 GB (int8 IVF at d = 64). ScaleBench's ivfpq point
  * measures the compressed-bytes ratio against the int8 IVF probe.
  *
  * Recall contract: a true top-k member is missed only if (a) its cell
  * is outside the nProbe probed cells (the IVF miss channel, identical
  * to [[IvfIndex.probeTopK]]'s) or (b) residual-ADC noise ranks it
  * below the 4×k shortlist inside the probed cells (the PQ miss
  * channel, now at residual-scale resolution). Scores returned are
  * EXACT cosines (the re-rank), so for every id that survives both
  * prunes the output is bit-identical to the float probe's row.
  */
object IvfPq {

  def codebooksTable(table: String): String = table + "_codebooks"

  /** Batch size up to which the float re-rank fan-out
    * ([[BatchProbe.rerankFloat]]) uses one flat codegen'd struct per
    * query (tightest plan; ~25–30 expression nodes per query, well
    * inside janino's method limits at 8), and above which it switches
    * to the size-independent literal-indexed lambda (higher-order
    * transform — CodegenFallback, but compiles at any batch size). */
  val FlatFanoutMax = 8

  /** Unit-normalize a centroid into the residual REFERENCE point for
    * its cell (zero centroids stay zero — their cells' residuals are
    * then the unit vectors themselves, still exact). */
  private[ext] def unitRef(c: Seq[Float]): Seq[Double] = {
    val n = math.sqrt(Similarity.dotLocal(c, c))
    if (n == 0.0) c.map(_ => 0.0) else c.map(_.toDouble / n)
  }

  /** The residual column: unit vector minus its cell's reference,
    * resolved per row through one 2-D reference literal indexed by
    * `cluster_id` — no join, pure codegen. */
  private def residualCol(uCol: Column, clusterCol: Column,
                          refs: Seq[Seq[Double]]): Column = {
    val refsLit = array(refs.map(r => array(r.map(lit): _*)): _*)
    zip_with(uCol, element_at(refsLit, clusterCol.cast("int") + 1),
      (a, b) => a - b)
  }

  /** Train both quantizers and persist one serving layout through
    * [[IvfIndex.publish]]: rows (id, vec, pq_code, cluster_id)
    * PARTITIONED by `cluster_id` (the IvfIndex compact layout — one
    * file per cell, id-sorted so the re-rank's pushed In(id) filter
    * skips row groups), plus the k-row `_centroids` and (m·kPq)-row
    * `_codebooks` side tables, so probes need only the table name.
    * `pq_code` packs the RESIDUAL codes; the codebooks table stores
    * the residual codebooks. A build into a reused name starts clean
    * ([[IvfIndex.clearCells]]). Returns (centroids, codebooks) for
    * callers that probe immediately. */
  def build(corpus: DataFrame, idCol: String, vecCol: String, table: String,
            kCells: Int = 16, ivfIters: Int = 2, m: Int = 8,
            kPq: Int = 128, pqIters: Int = 3)
      : (Seq[Seq[Float]], Seq[Seq[Seq[Float]]]) = {
    IvfIndex.clearCells(corpus.sparkSession, cellTables(table))
    encodeAndPublish(corpus, idCol, vecCol, table, identity,
      kCells, ivfIters, m, kPq, pqIters)
  }

  /** The tables a build writes and a rebalance swaps, main first. */
  private def cellTables(table: String): Seq[String] =
    Seq(table, IvfIndex.centroidsTable(table), codebooksTable(table))

  /** This family's encoder — Lloyd cells, residual codebooks trained
    * on the cell residuals, and the packed codes ([[encodeWith]]) —
    * published under `name` of the index's table names (live for
    * [[build]], staging for [[rebalance]]). */
  private def encodeAndPublish(rows: DataFrame, idCol: String, vecCol: String,
                               table: String, name: String => String,
                               kCells: Int, ivfIters: Int, m: Int, kPq: Int,
                               pqIters: Int)
      : (Seq[Seq[Float]], Seq[Seq[Seq[Float]]]) = {
    val cents = Similarity.ivfTrain(rows, idCol, vecCol, kCells, ivfIters)
    // Cell assignment, normalization, and the residual ride ONE
    // staged projection — assignment and residual computed once, the
    // codebook training and the encode pass both read it. Staged
    // through the barrier POLICY (corpus-sized, multi-pass) and
    // released as soon as the encode pass lands.
    val withRes = Checkpoints.stage(residuals(rows, idCol, vecCol, cents))
    val books = Pq.trainCodebooksOn(withRes, idCol, "__r", m, kPq, pqIters)
    IvfIndex.publish(rows.sparkSession, table, name,
      encodeWith(withRes, idCol, vecCol, books), idCol, cents, Some(books))
    Checkpoints.release(withRes)
    (cents, books)
  }

  /** Cell-assign `batch` under FIXED centroids and add its residual
    * `__r` (unit vector minus the cell's reference). */
  private def residuals(batch: DataFrame, idCol: String, vecCol: String,
                        cents: Seq[Seq[Float]]): DataFrame =
    Pq.withUnit(
        Similarity.ivfAssign(batch, idCol, vecCol, cents), vecCol, "__u")
      .withColumn("__r",
        residualCol(col("__u"), col("cluster_id"), cents.map(unitRef)))

  /** Pack [[residuals]] against FIXED codebooks into the cell rows —
    * with [[residuals]], the pure (vec, centroids, codebooks) → row
    * function [[build]], [[append]] and [[streamIngest]] all run, so an
    * appended vector's code is bit-identical to the code a build with
    * the same quantizers would store. */
  private def encodeWith(withRes: DataFrame, idCol: String, vecCol: String,
                         books: Seq[Seq[Seq[Float]]]): DataFrame =
    Pq.packCodesOn(withRes, "__r", "pq_code", books)
      .select(col(idCol), col(vecCol), col("pq_code"), col("cluster_id"))

  /** Append a batch to a saved index WITHOUT retraining: the standard
    * IVFADC serve-time ingest (Jégou et al. §IV — quantizers are
    * frozen at train time; new vectors are assigned and
    * residual-encoded under them). Probes serve the appended rows
    * immediately; because [[encodeWith]] is a pure function of the
    * frozen quantizers, append order can never change any code, and
    * append → [[delete]](same ids) → [[purgeTombstones]] returns the
    * index to BIT-IDENTICAL probe results (IvfPqSpec pins the round
    * trip). Scale shape: one per-row assign+encode pass over the
    * batch, then a partitioned append — no contact with existing
    * rows. */
  def append(spark: SparkSession, table: String, batch: DataFrame,
             idCol: String, vecCol: String): Unit = {
    val cents = IvfIndex.centroids(spark, table)
    IvfIndex.writeCells(encodeWith(residuals(batch, idCol, vecCol, cents),
      idCol, vecCol, codebooks(spark, table)), idCol, table)
    spark.catalog.refreshTable(table)
  }

  /** Streaming IVFADC ingest — the serving-index twin of
    * [[IvfIndex.streamIngest]], completing the lifecycle matrix (all
    * five index families: build / probe / append / STREAM / compact /
    * delete / purge). Quantizers are FROZEN up front (the standard
    * IVFADC serve-time contract [[append]] documents — train on a seed
    * corpus, freeze, encode arrivals under them), so each micro-batch
    * is one pure assign + residual-encode projection appended as its
    * own batch partition: redelivery after a crash overwrites the same
    * partition (idempotent, same as the dedup/winnow/BM25/IVF twins),
    * and because [[encodeWith]] is order-independent the accumulated
    * rows are bit-identical to a one-shot [[build]]'s rows under the
    * same quantizers, whatever the shard arrival order. Probes serve
    * the table mid-ingest: the streaming layout is PARTITIONED by
    * batch id and BUCKETED on `cluster_id` (bucket pruning stands in
    * for partition pruning until [[compact]] collapses the batches).
    * A restart MUST pass the same quantizers — run 1's rows hold run
    * 1's codes; the side tables are rewritten because they derive from
    * the arguments, not state. Returns (rows minus the batch tag,
    * batches processed). */
  def streamIngest(spark: SparkSession, table: String, stream: DataFrame,
                   idCol: String, vecCol: String, cents: Seq[Seq[Float]],
                   books: Seq[Seq[Seq[Float]]],
                   queryName: String = "graft_stream_ivfpq",
                   checkpointLocation: Option[String] = None): (DataFrame, Int) = {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
    val idType = stream.schema(idCol).dataType
    val vecType = stream.schema(vecCol).dataType
    IvfIndex.writeCentroids(spark, IvfIndex.centroidsTable(table), cents)
    IvfIndex.writeCodebooks(spark, codebooksTable(table), books)
    // Keep prior rows only when the checkpoint has committed batches
    // (fresh checkpoint + leftover table = drop, not silent merge).
    val mkTable = IndexLifecycle.resumeAwareTableMaker(spark, checkpointLocation)
    mkTable(spark, table,
      StructType(Seq(
        StructField(idCol, idType),
        StructField(vecCol, vecType),
        StructField("pq_code", LongType),
        StructField("cluster_id", IntegerType),
        StructField(StreamOps.BatchTag, LongType))),
      // Source-byte-derived (r22, guide §6 — scaledSinkBuckets doc).
      StreamOps.BatchTag, "cluster_id", StreamOps.scaledSinkBuckets(stream))
    StreamOps.sinkBatches(spark, stream, queryName, table,
        checkpointLocation) { (b, _) =>
      val encoded = Checkpoints.stage(
        encodeWith(residuals(b, idCol, vecCol, cents), idCol, vecCol, books))
      (encoded, Seq.empty)
    }
  }

  /** Compact a [[streamIngest]] index — collapse the per-batch
    * partitions into one merged partition (same quiesce / redelivery /
    * crash contract as the other four families; pass the ingest's
    * `checkpointLocation` to refuse crash-then-compact corruption).
    * The quantizer side tables are already compact (k-row).
    * `purge = true` physically drops tombstoned vectors during the
    * rewrite and clears the tombstone list (the streaming layout's
    * purge — PairIndex.compact documents the shared contract);
    * `idCol` names the index's id column for the purge anti-join. */
  def compact(spark: SparkSession, table: String,
              checkpointLocation: Option[String] = None,
              purge: Boolean = false, idCol: String = "id"): Int =
    IndexLifecycle.compactStreaming(spark, table, checkpointLocation,
      purge, idCol)(_ => ())

  /** Tombstone-delete vectors — the takedown pattern shared across the
    * index families (WinnowIndex's doc has the contract). Probes hide
    * tombstoned ids at the scan ([[adcShortlist]] and the re-rank both
    * anti-join the takedown-sized list); [[purgeTombstones]] rewrites
    * the layout later. */
  def delete(spark: SparkSession, table: String, ids: DataFrame): Unit =
    IndexLifecycle.registerTombstones(spark, table, ids)

  /** REBALANCE — [[IvfIndex.rebalance]]'s IVFADC twin, for the same
    * distribution-drift story: retrain BOTH quantizer stages (Lloyd
    * cells AND the residual codebooks — drifted data moves residual
    * geometry too) on the live corpus, re-encode, and rewrite all
    * three state tables, purging tombstones in the same pass. It runs
    * [[build]]'s own encoder and [[IvfIndex.publish]], only into the
    * staging names, so the result is BIT-IDENTICAL to `build(live)`
    * with the same parameters by construction (both trainers are
    * deterministic) — pinned in IvfRebalanceSpec.
    *
    * Crash discipline: the shared marked multi-table swap
    * ([[IvfIndex.rebalanceCells]]; the [[IndexLifecycle.markSwap]]
    * rows name main + centroids + codebooks), written only after ALL
    * three stagings are complete; every probe's first contact (the
    * [[IvfIndex.centroids]] read) heals a crashed swap idempotently
    * whichever family owns the table. */
  def rebalance(spark: SparkSession, table: String, idCol: String,
                vecCol: String, kCells: Int = 16, ivfIters: Int = 2,
                m: Int = 8, kPq: Int = 128, pqIters: Int = 3): Unit =
    IvfIndex.rebalanceCells(spark, cellTables(table), idCol, vecCol)(
      encodeAndPublish(_, idCol, vecCol, table, PurgeSwap.stagingOf,
        kCells, ivfIters, m, kPq, pqIters))

  /** Physically purge tombstoned vectors by dynamic partition
    * overwrite of ONLY the touched cells — the shared cell-partitioned
    * core [[IvfIndex.purgeTouchedCells]] (its doc has the three-phase
    * crash contract): purge bytes ∝ touched cells, no corpus-sized
    * snapshot, tombstones dropped last so probes filter throughout.
    * Refuses the streaming (batch-partitioned) layout — run
    * compact(purge = true) there. Answer-stable; returns rows
    * removed. */
  def purgeTombstones(spark: SparkSession, table: String,
                      idCol: String): Long =
    IvfIndex.purgeTouchedCells(spark, table, idCol)

  /** Codebooks of a saved index — m·kPq small rows, driver-side (the
    * [[IvfIndex.centroids]] class of collect). */
  def codebooks(spark: SparkSession, table: String): Seq[Seq[Seq[Float]]] =
    spark.table(codebooksTable(table))
      .orderBy(col("subspace"), col("code"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Float](2).toSeq))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.map(_._2).toSeq)

  /** The IVFADC score expression: per-cell constant dot(q̂, ref)
    * (literal LUT over the partition column) + the residual ADC LUT
    * sum ([[Pq.adcScore]] — the same expression the flat PQ probes
    * evaluate, so the LUT arithmetic can never drift). */
  private def ivfadcScore(query: Seq[Float], cents: Seq[Seq[Float]],
                          books: Seq[Seq[Seq[Float]]]): Column = {
    // The same double normalization adcScore applies internally, so
    // the two terms score against one q̂.
    val qn = {
      val n = math.sqrt(query.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))
      if (n == 0.0) query.map(_ => 0.0) else query.map(_.toDouble / n)
    }
    // dot(q̂, ref) per cell — k driver-side dots, one literal LUT
    // indexed by the partition column.
    val cellDot = array(cents.map { c =>
      val r = unitRef(c)
      lit(r.indices.foldLeft(0.0)((a, d) => a + qn(d) * r(d)))
    }: _*)
    element_at(cellDot, col("cluster_id").cast("int") + 1) +
      Pq.adcScore(query, books)
  }

  /** The ADC shortlist stage, split out LAZY so its scan shape is
    * plan-pinnable (IvfPqSpec: PartitionFilters prunes to the probed
    * cells AND ReadSchema carries `pq_code` but never the float
    * column): per-vector score = one cell-constant lookup + m shifts
    * + m LUT lookups off the packed BIGINT. */
  private[graft] def adcShortlist(spark: SparkSession, table: String,
                                  idCol: String, query: Seq[Float],
                                  nProbe: Int, shortlist: Int): DataFrame = {
    val cents = IvfIndex.centroids(spark, table)
    val probe = Similarity.probeClusters(cents, query, nProbe)
    val books = codebooks(spark, table)
    IvfIndex.minusTombstones(spark, table, idCol,
        spark.table(table).where(col("cluster_id").isin(probe: _*)))
      .select(col(idCol), ivfadcScore(query, cents, books).as("pq_score"))
      .orderBy(col("pq_score").desc, col(idCol))
      .limit(shortlist)
  }

  /** Cell-pruned residual-ADC top-k with exact re-rank: rank cells
    * driver-side (k small centroid rows), ADC-shortlist `shortlist`
    * (default 4·k) candidates reading ONLY the 8-byte codes of the
    * probed cells, then exact-cosine re-rank the shortlist's float
    * vectors — fetched through a pushed In(id) filter over the same
    * probed partitions (shortlist ids are a k-scale driver collect,
    * the [[IvfIndex.probeTopKQuantized]] shape), so the float column
    * is read only for row groups holding candidates. */
  def probeTopK(spark: SparkSession, table: String, idCol: String,
                vecCol: String, query: Seq[Float], k: Int, nProbe: Int,
                shortlist: Int = 0): DataFrame = {
    val sl = if (shortlist > 0) shortlist else 4 * k
    require(sl >= k, s"shortlist $sl < topK $k")
    IvfIndex.rerankShortlist(spark, table, idCol, vecCol, query, k, nProbe,
      adcShortlist(spark, table, idCol, query, nProbe, sl))
  }

  /** The batched ADC shortlist stage, split out LAZY so its scan
    * shape is plan-pinnable (IvfPqSpec: PartitionFilters prunes to the
    * UNION of the queries' probed cells, ReadSchema carries `pq_code`
    * and never the float column — the [[adcShortlist]] pins applied to
    * the batch path): one scan fans each row into per-query
    * (query_id, pq_score) entries gated to that query's own cells,
    * then a rank window partitioned by query_id takes each query's
    * shortlist under the single probe's exact order (WindowGroupLimit
    * — sl rows per partition pre-shuffle). */
  private[graft] def adcBatchShortlist(spark: SparkSession, table: String,
                                       idCol: String,
                                       queries: Seq[(Long, Seq[Float])],
                                       probedCells: Map[Long, Seq[Int]],
                                       unionCells: Seq[Int],
                                       cents: Seq[Seq[Float]],
                                       books: Seq[Seq[Seq[Float]]],
                                       sl: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // The graft_ivfadc_scores kernel fans out in one call per row at
    // any batch size, the per-query constants shipped as one reference
    // object. It replays [[ivfadcScore]] EXACTLY — per-query cell-dot
    // constant plus the m residual-LUT terms folded left in subspace
    // order, over the same driver-computed doubles (Pq.adcLut3d builds
    // the shared LUT literal) — so it is bit-identical to the single
    // probe; IvfPqSpec pins kernel ≡ adcShortlist and the 32-query
    // ScaleBench gate proves batch ≡ per-query end to end.
    // [query][cell] → dot(q̂, ref_cell); [query][subspace][code] → LUT.
    val cellDot2d = array(queries.map { case (_, q) =>
      val qq = Pq.unitOf(q)
      array(cents.map { c =>
        val r = unitRef(c)
        lit(r.indices.foldLeft(0.0)((a, d) => a + qq(d) * r(d)))
      }: _*)
    }: _*)
    val lut3d = Pq.adcLut3d(queries, books)
    // Empty probed-cell lists (an index trained to zero centroids, or
    // nProbe = 0) must keep the array<int> element type — a bare
    // array() types array<null>, failing both the kernel's struct
    // type check and element_at analysis instead of degrading to
    // zero-member gracefully (the ids2d cast in
    // BatchProbe.rerankFloat is the same guard).
    val cells2d = array(queries.map { case (qid, _) =>
      val mine = probedCells(qid)
      if (mine.isEmpty)
        array().cast(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.IntegerType))
      else array(mine.map(lit): _*)
    }: _*)
    val qids = array(queries.map(q => lit(q._1)): _*)
    val stacked = IvfIndex.minusTombstones(spark, table, idCol,
        spark.table(table).where(col("cluster_id").isin(unionCells: _*)))
      .select(col(idCol), col("cluster_id"), col("pq_code"))
      .select(col(idCol),
        posexplode(call_function("graft_ivfadc_scores",
          col("pq_code"), col("cluster_id").cast("int"),
          struct(lut3d, cellDot2d, cells2d))))
      .toDF(idCol, "__qi", "pq_score")
      .where(col("pq_score").isNotNull)
      .select(element_at(qids, col("__qi") + 1).as("query_id"),
        col(idCol), col("pq_score"))
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("pq_score").desc, col(idCol))
    stacked.withColumn("__rn", row_number().over(wAdc))
      .where(col("__rn") <= sl)
      .select(col("query_id"), col(idCol), col("pq_score"))
  }

  /** Batched IVFADC serving — N queries answered in TWO corpus
    * contacts total, instead of 2·N (VERDICT r14 #3: the composed
    * serving index, the one you'd serve from, answered one query per
    * scan while flat PQ and BM25 already had batch probes):
    *
    *   1. ONE code scan of the UNION of the per-query probed-cell
    *      sets (partition-pruned; reads 8 B/vector, never the float
    *      column): each row fans out per-query (query_id, pq_score)
    *      struct entries — the same [[ivfadcScore]] expression the
    *      single probe evaluates, so scores are bit-identical — each
    *      gated to its query's OWN probed cells (a row outside them
    *      must not enter that query's shortlist). Per-query
    *      shortlists come from a rank window partitioned by query_id
    *      (the WindowGroupLimit shape: k rows per partition
    *      pre-shuffle) under the single probe's exact order
    *      (pq_score DESC, id) — selection-identical to
    *      [[adcShortlist]]'s orderBy+limit.
    *   2. ONE float re-rank scan over the union of the shortlist ids
    *      (a queries×shortlist-scale driver collect, the
    *      [[probeTopK]] shape) through a single pushed In(id) filter
    *      over the union cells — per-query exact cosines, again gated
    *      to each query's own shortlist, top-k per query by the same
    *      window.
    *
    * Output (query_id, idCol, cos_sim), ordered (query_id, cos_sim
    * DESC, id); per query the rows are BIT-IDENTICAL to
    * [[probeTopK]]'s with the same (k, nProbe, shortlist) — the
    * x_pq_batch / x_bm25_batch both-direction exceptAll contract,
    * gated by x_ivfpq_batch and pinned in IvfPqSpec. */
  def probeBatch(spark: SparkSession, table: String, idCol: String,
                 vecCol: String, queries: Seq[(Long, Seq[Float])], k: Int,
                 nProbe: Int, shortlist: Int = 0,
                 prepared: Option[(Seq[Seq[Float]], Seq[Seq[Seq[Float]]])] =
                   None): DataFrame = {
    IvfIndex.requireBatch(queries)
    val sl = if (shortlist > 0) shortlist else 4 * k
    require(sl >= k, s"shortlist $sl < topK $k")
    // `prepared` = (centroids, codebooks) loaded ONCE by a serving
    // loop (r22, guide §2.6): both are index constants between
    // lifecycle ops, but loading them here costs two driver collects
    // (+ a heal pass) PER CALL — a chunked stream paid that per chunk
    // per batch. Callers that mutate the index between probes just
    // don't pass it. Values are identical either way.
    val (cents, books) = prepared.getOrElse(
      (IvfIndex.centroids(spark, table), codebooks(spark, table)))
    val (probedCells, unionCells) = IvfIndex.batchCells(cents, queries, nProbe)
    // Stage 2 is the shared batched float re-rank (BatchProbe
    // .rerankFloat — the int8 IVF tier rides it too): per-query
    // shortlist membership from a 2-D id literal, per-query exact
    // cosine against a 2-D query literal — the SAME cosineIn
    // expression the single probe's re-rank evaluates, over the same
    // widened doubles, through one pushed In(id) union scan.
    BatchProbe.rerankFloat(spark, table, idCol, vecCol, queries, unionCells,
      adcBatchShortlist(spark, table, idCol, queries, probedCells,
        unionCells, cents, books, sl), k)
  }
}
