package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Operating-point ANN advisor (VERDICT r18 #5): [[TierAdvisor]]
  * answers WHICH tier; the operator's next question is HOW WIDE to
  * probe it — nProbe (and by the same curve, shortlist width) against
  * a recall target. Until now that answer lived in BENCH_NOTES prose
  * (the r13 recall-vs-nProbe curve); this makes it a queryable
  * decision: a measured sampled-recall census, one row per candidate
  * nProbe, plus the recommendation — the SMALLEST sampled nProbe whose
  * milli-recall clears the target.
  *
  * Semantics: for each anchor, "recall at nProbe" is the overlap of
  * its top-k by cosine over the nProbe most-anchor-similar CELLS
  * (cells ranked exactly as [[Similarity.probeClusters]] ranks them —
  * centroid cosine DESC, index ASC on ties) with its UNRESTRICTED
  * top-k; summed across anchors, floored to milli. `centroids` fixes
  * the cell space — production passes the live index's trained
  * centroids ([[IvfIndex.centroids]]), making the curve the index's
  * own measured recall; the registered query (x_nprobe_advisor)
  * passes the DETERMINISTIC first-k seed so the entire decision is
  * DuckDB-value-replayed, the x_tier_advisor convention.
  *
  * 100 TB shape — ONE corpus scan, everything after it bounded:
  *
  *   1. The scan assigns each row its cell (per-row argmax over k
  *      broadcast centroid literals — no shuffle) and scores it
  *      against the broadcast anchor batch (|anchors|·n codegen'd
  *      cosines); each row's cell PROBE RANK for each anchor comes
  *      from a second broadcast join against the anchors×k cell-rank
  *      frame (driver-scale).
  *   2. A per-(anchor, cell) rank window keeps k rows per group
  *      pre-shuffle (WindowGroupLimit), and that anchors·cells·k-row
  *      frame is STAGED — it is a superset of the unrestricted top-k
  *      (a global top-k row ranks ≤ k within its own cell) and of
  *      every probed top-k, so the whole nProbe curve replays from it
  *      without re-touching the corpus.
  *   3. Per candidate nProbe: filter cell_rank ≤ nProbe, re-rank per
  *      anchor, overlap with the truth — bounded arithmetic.
  *
  * Degenerate (0-norm) vectors carry a null cell ([[Similarity
  * .ivfAssign]]) and drop out of the curve on both sides — they are
  * outside the index's cell space by the ingest contract.
  *
  * Output (ordered by n_probe): n_probe, n_anchors, k, overlap_sum,
  * recall_milli, target_milli, meets_target, recommended_n_probe
  * (null when no sampled point clears the target — the advisory
  * answer is "raise nProbe beyond the sampled range"). All integers.
  */
object OperatingPoint {

  def nProbeCurve(corpus: DataFrame, idCol: String, vecCol: String,
                  anchors: DataFrame, centroids: Seq[Seq[Float]],
                  nProbes: Seq[Int], k: Int,
                  targetRecallMilli: Long = 950L): DataFrame = {
    require(nProbes.nonEmpty && nProbes.forall(_ > 0) && k > 0,
      s"need positive nProbes and k: $nProbes, $k")
    require(centroids.nonEmpty, "need centroids")
    val kCells = centroids.size
    // Anchor→cell probe ranks: |anchors|×k rows, ranked under
    // probeClusters' exact order (centroid cosine DESC, index ASC —
    // its sortBy is stable, so ties fall to the lower index).
    val (a, aCells) = anchorFrames(idCol, vecCol, anchors, centroids)
    val cand = Checkpoints.stage(
      nProbeCand(corpus, idCol, vecCol, a, aCells, centroids, k))
    val wAnchor = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cos_sim").desc, col(idCol))
    def topK(df: DataFrame): DataFrame =
      df.withColumn("__rn", row_number().over(wAnchor))
        .where(col("__rn") <= k)
        .select(col("anchor_id"), col(idCol))
    val truth = topK(cand)
    val nAnchors = a.agg(count_distinct(col("anchor_id")).as("n_anchors"))
    val points = nProbes.sorted.map { np =>
      require(np <= kCells, s"nProbe $np > $kCells cells")
      topK(cand.where(col("cell_rank") <= np))
        .join(truth, Seq("anchor_id", idCol))
        .agg(count(lit(1)).as("overlap_sum"))
        .select(lit(np.toLong).as("n_probe"), col("overlap_sum"))
    }.reduce(_ unionByName _)
    // The curve is |nProbes| rows; STAGE it so the recommendation (a
    // 1-row min over the clearing points, crossed back in) reads the
    // same tiny frame instead of pasting the per-point aggregation
    // subtree twice — and no single-partition window enters the plan.
    val curve = Checkpoints.stage(points.crossJoin(nAnchors)
      .select(col("n_probe"), col("n_anchors"), lit(k.toLong).as("k"),
        col("overlap_sum"),
        floor(lit(1000L) * col("overlap_sum") /
          (col("n_anchors") * lit(k.toLong))).cast("long")
          .as("recall_milli"))
      .withColumn("target_milli", lit(targetRecallMilli))
      .withColumn("meets_target",
        (col("recall_milli") >= col("target_milli")).cast("long")))
    curve.crossJoin(curve.agg(
        min(when(col("meets_target") === 1L, col("n_probe")))
          .as("recommended_n_probe")))
      .orderBy(col("n_probe"))
  }

  /** THE corpus scan of [[nProbeCurve]], split out LAZY so its plan
    * shape is spec-pinnable (OperatingPointSpec: the per-(anchor,
    * cell) rank filter compiles to WindowGroupLimit — k rows per
    * group kept pre-shuffle): assign each row its cell, score it
    * against the broadcast anchor batch, attach the cell's probe rank
    * for that anchor, keep k per (anchor, cell). */
  private[graft] def nProbeCand(corpus: DataFrame, idCol: String,
                                vecCol: String, a: DataFrame,
                                aCells: DataFrame,
                                centroids: Seq[Seq[Float]],
                                k: Int): DataFrame = {
    val assigned = Similarity.ivfAssign(corpus, idCol, vecCol, centroids)
      .select(col(idCol), col(vecCol), col("cluster_id"))
    val wCell = Window.partitionBy(col("anchor_id"), col("cluster_id"))
      .orderBy(col("cos_sim").desc, col(idCol))
    assigned.join(broadcast(a), col(idCol) =!= col("anchor_id"))
      .select(col("anchor_id"), col(idCol), col("cluster_id"),
        Similarity.cosineIn(col(vecCol), col("__avec")).as("cos_sim"))
      .join(broadcast(aCells), Seq("anchor_id", "cluster_id"))
      .withColumn("__rc", row_number().over(wCell))
      .where(col("__rc") <= k)
      .select(col("anchor_id"), col(idCol), col("cos_sim"),
        col("cell_rank"))
  }

  /** The anchors (renamed) and anchor→cell probe-rank frames shared by
    * both curves — exposed for [[nProbeCand]]'s spec pin. */
  private[graft] def anchorFrames(idCol: String, vecCol: String,
                                  anchors: DataFrame,
                                  centroids: Seq[Seq[Float]])
      : (DataFrame, DataFrame) = {
    val a = anchors.select(col(idCol).as("anchor_id"),
      col(vecCol).as("__avec"))
    val asims = array(centroids.map(cv =>
      Similarity.cosineIn(col("__avec"),
        array(cv.map(v => lit(v.toDouble)): _*))): _*)
    val wRank = Window.partitionBy(col("anchor_id"))
      .orderBy(col("__csim").desc, col("cluster_id"))
    val aCells = a.select(col("anchor_id"),
        posexplode(asims).as(Seq("cluster_id", "__csim")))
      .withColumn("cell_rank", row_number().over(wRank))
      .select(col("anchor_id"), col("cluster_id"), col("cell_rank"))
    (a, aCells)
  }

  /** Shortlist-width advisor for the INT8 pre-rank tier — the second
    * half of the operating-point question [[nProbeCurve]] answers for
    * cell width: once nProbe is fixed, HOW LONG must the quantized
    * shortlist be before the float re-rank sees every true top-k
    * member? Per anchor, "recall at shortlist s" is the overlap of
    * the FLOAT top-k over the anchor's probed cells (what
    * [[IvfIndex.probeTopK]] returns — the tier's exact answer) with
    * the top-s under the QUANTIZED cosine ordering ([[Quantize
    * .cosineQ]], nulls last — a per-anchor-constant multiple of
    * [[IvfIndex.quantizedPreRank]]'s row-norm-only score, so the same
    * selection up to IEEE division ties); summed over anchors,
    * floored to milli, smallest target-clearing width recommended.
    *
    * 100 TB shape: the scored frame (probed-cell rows × broadcast
    * anchors, both cosines) feeds TWO rank branches — float top-k and
    * quantized top-max(shortlists), each a WindowGroupLimit keeping
    * its limit per anchor pre-shuffle — whose join is STAGED at
    * anchors×k rows; every sampled width then replays from that tiny
    * frame (a float-top-k row outside the quantized top-max counts as
    * missed at every sampled s, which is exactly what it is). Against
    * a raw DataFrame the two branches each scan the corpus once; in
    * production the int8 index table persists (qv, cluster_id), so
    * each branch is one partition-pruned scan of the probed cells —
    * the quantized branch reading the d-byte column the tier exists
    * to serve from.
    *
    * Output (ordered by shortlist): shortlist, n_anchors, k, n_probe,
    * overlap_sum, recall_milli, target_milli, meets_target,
    * recommended_shortlist (null when no sampled width clears —
    * "widen beyond the sampled range"). All integers; x_shortlist
    * _advisor value-replays the whole decision with seed centroids. */
  def shortlistCurve(corpus: DataFrame, idCol: String, vecCol: String,
                     anchors: DataFrame, centroids: Seq[Seq[Float]],
                     nProbe: Int, shortlists: Seq[Int], k: Int,
                     targetRecallMilli: Long = 950L): DataFrame = {
    require(shortlists.nonEmpty && shortlists.forall(_ >= k) && k > 0,
      s"shortlists must all be >= k: $shortlists, $k")
    require(centroids.nonEmpty && nProbe > 0 && nProbe <= centroids.size,
      s"need 1 <= nProbe <= ${centroids.size}: $nProbe")
    val maxS = shortlists.max
    val a = Quantize.withQuantized(
        anchors.select(col(idCol), col(vecCol)), vecCol, "__aqv")
      .select(col(idCol).as("anchor_id"), col(vecCol).as("__avec"),
        col("__aqv"))
    // Each anchor's nProbe probed cells, under probeClusters' order.
    val asims = array(centroids.map(cv =>
      Similarity.cosineIn(col("__avec"),
        array(cv.map(v => lit(v.toDouble)): _*))): _*)
    val wRank = Window.partitionBy(col("anchor_id"))
      .orderBy(col("__csim").desc, col("cluster_id"))
    val aCells = a.select(col("anchor_id"),
        posexplode(asims).as(Seq("cluster_id", "__csim")))
      .withColumn("__cr", row_number().over(wRank))
      .where(col("__cr") <= nProbe)
      .select(col("anchor_id"), col("cluster_id"))
    val cand = Checkpoints.stage(
      shortlistCand(corpus, idCol, vecCol, a, aCells, centroids, k, maxS))
    val nAnchors = a.agg(count_distinct(col("anchor_id")).as("n_anchors"))
    val points = shortlists.sorted.map { sl =>
      cand.agg(coalesce(sum((col("__rq") <= sl).cast("long")), lit(0L))
          .as("overlap_sum"))
        .select(lit(sl.toLong).as("shortlist"), col("overlap_sum"))
    }.reduce(_ unionByName _)
    val curve = Checkpoints.stage(points.crossJoin(nAnchors)
      .select(col("shortlist"), col("n_anchors"), lit(k.toLong).as("k"),
        lit(nProbe.toLong).as("n_probe"), col("overlap_sum"),
        floor(lit(1000L) * col("overlap_sum") /
          (col("n_anchors") * lit(k.toLong))).cast("long")
          .as("recall_milli"))
      .withColumn("target_milli", lit(targetRecallMilli))
      .withColumn("meets_target",
        (col("recall_milli") >= col("target_milli")).cast("long")))
    curve.crossJoin(curve.agg(
        min(when(col("meets_target") === 1L, col("shortlist")))
          .as("recommended_shortlist")))
      .orderBy(col("shortlist"))
  }

  /** [[shortlistCurve]]'s two rank branches over the scored frame,
    * split out LAZY so the plan is spec-pinnable (OperatingPointSpec:
    * BOTH rank filters compile to WindowGroupLimit): float top-k per
    * anchor left-joined with quantized top-maxS carrying its rank —
    * the anchors×k frame every sampled width replays from. `a` must
    * carry (anchor_id, __avec, __aqv); `aCells` the PROBED
    * (anchor_id, cluster_id) pairs. */
  private[graft] def shortlistCand(corpus: DataFrame, idCol: String,
                                   vecCol: String, a: DataFrame,
                                   aCells: DataFrame,
                                   centroids: Seq[Seq[Float]], k: Int,
                                   maxS: Int): DataFrame = {
    val scored = Quantize.withQuantized(
        Similarity.ivfAssign(corpus, idCol, vecCol, centroids), vecCol, "__qv")
      .join(broadcast(a), col(idCol) =!= col("anchor_id"))
      .join(broadcast(aCells), Seq("anchor_id", "cluster_id"))
      .select(col("anchor_id"), col(idCol),
        Similarity.cosineIn(col(vecCol), col("__avec")).as("__cf"),
        Quantize.cosineQ(col("__qv"), col("__aqv")).as("__cq"))
    val wF = Window.partitionBy(col("anchor_id"))
      .orderBy(col("__cf").desc, col(idCol))
    val wQ = Window.partitionBy(col("anchor_id"))
      .orderBy(col("__cq").desc_nulls_last, col(idCol))
    val topF = scored.withColumn("__rf", row_number().over(wF))
      .where(col("__rf") <= k).select(col("anchor_id"), col(idCol))
    val topQ = scored.withColumn("__rq", row_number().over(wQ))
      .where(col("__rq") <= maxS)
      .select(col("anchor_id"), col(idCol), col("__rq"))
    topF.join(topQ, Seq("anchor_id", idCol), "left_outer")
  }
}
