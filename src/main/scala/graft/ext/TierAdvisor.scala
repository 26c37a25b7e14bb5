package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Auto-tier ANN advisor (VERDICT r16 #8 / r17 #7): turns the MEASURED
  * serving-tier regime boundary into a queryable decision instead of
  * BENCH_NOTES prose.
  *
  * The boundary (ScaleBench.ivfPqPoint, measured): 64-bit residual PQ
  * resolves cosine to σ ≈ 4e-3 — a corpus whose nearest-neighbor
  * MARGINS (top-1 minus top-2 cosine of a query) sit below code
  * resolution defeats any shortlist, and sub-resolution margins need
  * the int8 or float tiers. The advisor samples anchor queries,
  * computes each anchor's exact top-2 margin over the corpus in ONE
  * scan (the hardNegatives shape: broadcast anchor batch ×
  * WindowGroupLimit top-2 — never corpus × corpus), MEASURES the int8
  * tier's own noise on those same top pairs (|quantized cosine − float
  * cosine|, the tier's empirical resolution on this corpus's actual
  * geometry rather than a constant), and recommends the cheapest tier
  * whose resolution the WORST sampled margin clears with `mult`×
  * headroom:
  *
  *   min_margin ≥ mult · pq_res   → "ivfadc" (8 B/vector serving)
  *   min_margin ≥ mult · int8_err → "int8"   (d B/vector)
  *   otherwise                    → "float"  (4d B/vector)
  *
  * All published numbers are floor-to-micro-cosine integers of IEEE
  * doubles both engines produce bit-equal (the x_quantize_dot /
  * cosine-fold replay conventions), so the recommendation itself is
  * DuckDB-replayable — gated by x_tier_advisor.
  *
  * 100 TB shape: anchors are a bounded sample (serving-queries-sized);
  * the corpus is scanned once, scored |anchors|·n times in codegen,
  * top-2 kept per anchor pre-shuffle (WindowGroupLimit). On a corpus
  * too large even for one advisory scan, pass a hash-sampled corpus
  * slice — margins are a distributional property. */
object TierAdvisor {

  /** One advisory row: n_anchors, min_margin_micro, int8_err_micro,
    * pq_res_micro, mult, tier. `anchors` must carry (idCol, vecCol);
    * anchor rows also present in `corpus` never match themselves (id
    * inequality), so a margin is top-1 vs top-2 OTHER vectors. */
  def advise(corpus: DataFrame, idCol: String, vecCol: String,
             anchors: DataFrame,
             pqResMicro: Long = 4000L, mult: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def micro(c: Column): Column = floor(c * lit(1e6)).cast("long")
    val aq = Quantize.withQuantized(
        anchors.select(col(idCol), col(vecCol)), vecCol, "__aqv")
      .select(col(idCol).as("anchor_id"), col(vecCol).as("__avec"),
        col("__aqv"))
    val cq = Quantize.withQuantized(corpus, vecCol, "__cqv")
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cos_sim").desc, col(idCol))
    val top2 = cq.join(broadcast(aq), col(idCol) =!= col("anchor_id"))
      .select(col("anchor_id"), col(idCol),
        Similarity.cosineIn(col(vecCol), col("__avec")).as("cos_sim"),
        Quantize.cosineQ(col("__cqv"), col("__aqv")).as("cos_q"))
      .withColumn("__rk", row_number().over(w))
      .where(col("__rk") <= 2)
    val perAnchor = top2.groupBy(col("anchor_id"))
      .agg(
        micro(max(when(col("__rk") === 1, col("cos_sim"))) -
          max(when(col("__rk") === 2, col("cos_sim")))).as("margin_u"),
        // cos_q is null only for degenerate vectors (no direction);
        // max() skips them — they carry no int8-noise information.
        coalesce(max(micro(abs(col("cos_q") - col("cos_sim")))), lit(0L))
          .as("noise_u"))
    perAnchor.agg(
        count(lit(1)).as("n_anchors"),
        min(col("margin_u")).as("min_margin_micro"),
        max(col("noise_u")).as("int8_err_micro"))
      .select(col("n_anchors"), col("min_margin_micro"),
        col("int8_err_micro"),
        lit(pqResMicro).as("pq_res_micro"),
        lit(mult.toLong).as("mult"),
        when(col("min_margin_micro") >= lit(mult) * lit(pqResMicro),
            lit("ivfadc"))
          .when(col("min_margin_micro") >=
            lit(mult) * greatest(col("int8_err_micro"), lit(1L)), lit("int8"))
          .otherwise(lit("float")).as("tier"))
  }
}
