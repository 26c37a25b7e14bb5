package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType}

/** Shared machinery for BATCHED index serving — the two stages every
  * batch probe in the ANN ladder composes, extracted so the float and
  * int8 IVF tiers (VERDICT r16 #1: the last per-query-scan serving
  * paths) ride the exact expression shapes the IVFADC batch proved:
  *
  *   - [[cellGatedScores]]: ONE union-cell scan fans each row into
  *     per-query scores gated to that query's own probed cells through
  *     the graft_ivf_cos_scores kernel (one call per row at any batch
  *     size; per-query constants ship as a single reference object —
  *     flat per-query expressions blow janino past ~8 queries). It
  *     replays the single probe's score expression EXACTLY
  *     (Kernels.ivfCosScores documents the IEEE argument), so batch
  *     scores are bit-identical to the per-query probes'.
  *   - [[rerankFloat]]: ONE exact-cosine scan over the union of the
  *     per-query shortlists through a single pushed In(id) filter over
  *     the union cells — the one batched re-rank tail of both IVF
  *     families, so the re-rank expression can never drift between
  *     them.
  *
  * Null convention: a member row whose score is null (null vector
  * element, dims mismatch, zero int8 direction) is KEPT with a null
  * score, exactly as the single probes keep it; downstream rank
  * windows order nulls last (float desc default / explicit
  * desc_nulls_last), the single probes' placement.
  */
private[ext] object BatchProbe {

  /** Stage 1: per-query cell-gated scores off one union-cell scan.
    *
    * `base` must carry (idCol, cluster_id, vecCol) already pruned to
    * the union of probed cells (and tombstone-filtered). `queries`
    * carries each query as the DRIVER-WIDENED doubles the single
    * probe's literal would hold (float tier: q.map(_.toDouble); int8
    * tier: Quantize.quantizeLocal). `qdiv` is the per-query extra
    * denominator factor — the float tier's constant-folded
    * sqrt(dot(q,q)) (computed here with the same sequential fold), the
    * int8 tier's 1.0 (its probe divides by the row norm only).
    * `zeroNull` selects the int8 tier's when(qnorm2 === 0, null)
    * zero-direction guard. Output: (query_id, idCol, score). */
  def cellGatedScores(base: DataFrame, idCol: String,
                      vecCol: String, queries: Seq[(Long, IndexedSeq[Double])],
                      qdiv: IndexedSeq[Double],
                      probedCells: Map[Long, Seq[Int]],
                      zeroNull: Boolean): DataFrame = {
    val vec = col(vecCol)
    val qids = array(queries.map(q => lit(q._1)): _*)
    val q2d = array(queries.map { case (_, qd) =>
      array(qd.map(lit(_)): _*)
    }: _*)
    // Typed empty-cell literals: a bare array() types array<null>,
    // failing the kernel's struct check and element_at analysis
    // instead of degrading to zero-member (the IvfPq.adcBatchShortlist
    // guard).
    val cells2d = array(queries.map { case (qid, _) =>
      val mine = probedCells(qid)
      if (mine.isEmpty) array().cast(ArrayType(IntegerType))
      else array(mine.map(lit): _*)
    }: _*)
    val qdivLit = array(qdiv.map(lit(_)): _*)
    // Null elements are EITHER non-members (drop) or degenerate
    // members (keep, nulls-last downstream) — the kernel can't tell
    // them apart in array<double>, so re-derive membership for null
    // elements only (the Or short-circuits behind isNotNull, so
    // scored rows never pay the array_contains).
    base.select(col(idCol), col("cluster_id"),
        posexplode(call_function("graft_ivf_cos_scores",
          vec, col("cluster_id").cast("int"),
          struct(q2d, qdivLit, cells2d, lit(zeroNull)))))
      .toDF(idCol, "__cl", "__qi", "score")
      .where(col("score").isNotNull ||
        array_contains(element_at(cells2d, col("__qi") + 1),
          col("__cl").cast("int")))
      .select(element_at(qids, col("__qi") + 1).as("query_id"),
        col(idCol), col("score"))
  }

  /** Stage 2: exact-cosine re-rank of per-query shortlists in ONE
    * scan. `shortlist` carries (query_id, idCol) rows — each query's
    * shortlist, collected here (a queries×shortlist-scale driver
    * collect, the single probes' shape). Then a single pushed In(id)
    * filter over the union cells, each row fanned out only to the
    * queries whose shortlist holds it, then a per-query top-k rank
    * window (WindowGroupLimit). Serves [[IvfPq.probeBatch]] and
    * [[IvfIndex.probeBatchQuantized]]. Output (query_id, idCol,
    * cos_sim) ordered (query_id, cos_sim DESC, id); per query the rows
    * are bit-identical to the single probes' float re-rank. */
  def rerankFloat(spark: SparkSession, table: String, idCol: String,
                  vecCol: String, queries: Seq[(Long, Seq[Float])],
                  unionCells: Seq[Int], shortlist: DataFrame,
                  k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val shortRows = shortlist.select(col("query_id"), col(idCol)).collect()
    val shortByQ: Map[Long, Seq[Any]] = shortRows
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.get(1)).toSeq).toMap
    val unionIds = shortRows.map(_.get(1)).distinct.toIndexedSeq
    if (unionIds.isEmpty)
      // Degenerate (empty probed cells): the single probe returns an
      // empty frame too; keep the schema (idCol typed from the table).
      return spark.table(table).where(lit(false))
        .select(lit(0L).as("query_id"), col(idCol), lit(0.0).as("cos_sim"))
    val idT = spark.table(table).schema(idCol).dataType
    val qids2 = array(queries.map(q => lit(q._1)): _*)
    val ids2d = array(queries.map { case (qid, _) =>
      val mine = shortByQ.getOrElse(qid, Seq.empty)
      if (mine.isEmpty) array().cast(ArrayType(idT))
      else array(mine.map(v => lit(v)): _*)
    }: _*)
    val q2d = array(queries.map { case (_, q) =>
      array(q.map(v => lit(v.toDouble)): _*)
    }: _*)
    val lambdaRerank = transform(sequence(lit(0), lit(queries.size - 1)), qi =>
      struct(element_at(qids2, qi + 1).as("query_id"),
        array_contains(element_at(ids2d, qi + 1), col(idCol)).as("__in"),
        Similarity.cosineIn(col(vecCol), element_at(q2d, qi + 1))
          .as("cos_sim")))
    val rerankFan =
      if (queries.size <= IvfPq.FlatFanoutMax)
        array(queries.map { case (qid, q) =>
          val mine = shortByQ.getOrElse(qid, Seq.empty)
          val member = if (mine.isEmpty) lit(false)
            else col(idCol).isin(mine: _*)
          val qlit = array(q.map(v => lit(v.toDouble)): _*)
          struct(lit(qid).as("query_id"), member.as("__in"),
            Similarity.cosineIn(col(vecCol), qlit).as("cos_sim"))
        }: _*)
      else lambdaRerank
    val reranked = spark.table(table)
      .where(col("cluster_id").isin(unionCells: _*))
      .where(col(idCol).isin(unionIds: _*))
      .select(col(idCol), col(vecCol))
      .select(col(idCol), explode(rerankFan).as("__e"))
      .where(col("__e.__in"))
      .select(col("__e.query_id").as("query_id"), col(idCol),
        col("__e.cos_sim").as("cos_sim"))
    val wCos = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col(idCol))
    reranked.withColumn("__rn", row_number().over(wCos))
      .where(col("__rn") <= k)
      .select(col("query_id"), col(idCol), col("cos_sim"))
      .orderBy(col("query_id"), col("cos_sim").desc, col(idCol))
  }
}
