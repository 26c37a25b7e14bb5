package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{GraftFunctionBuilders => B, MisraGriesTopK}

/** Engine extension point: registers the codegen'd kernel expressions
  * in [[GraftExtensions.kernels]] into the session's function registry
  * and injects the opt-in approximate similarity-join rewrite.
  * [[GraftSession.local]] installs it; a session built elsewhere needs
  * `.config("spark.sql.extensions", "graft.GraftExtensions")`, or every
  * kernel-backed operator fails at analysis with an unresolved
  * `graft_*` function.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.kernels.foreach(ext.injectFunction)
    // Opt-in approximate similarity-join rewrite (see
    // graft.plans.ApproxSimilarityJoin — off unless
    // spark.graft.approxSimilarityJoin=true).
    ext.injectOptimizerRule(_ => new graft.plans.ApproxSimilarityJoin)
  }
}

object GraftExtensions {
  type Kernel = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def k(name: String, info: ExpressionInfo,
                builder: Seq[Expression] => Expression): Kernel =
    (FunctionIdentifier(name), info, builder)

  /** Every kernel function the extension registers. */
  val kernels: Seq[Kernel] = Seq(
    k("graft_dot", B.dotInfo, B.dotBuilder),
    k("graft_minhash_bands", B.minhashInfo, B.minhashBuilder),
    k("graft_shingle_hashes", B.shingleInfo, B.shingleBuilder),
    k("graft_cosine_sim", B.cosineInfo, B.cosineBuilder),
    k("graft_lsh_bucket", B.lshInfo, B.lshBuilder),
    k("graft_might_contain", B.mightContainInfo, B.mightContainBuilder),
    k("graft_cms_estimate", B.cmsEstimateInfo, B.cmsEstimateBuilder),
    k("graft_simhash", B.simhashInfo, B.simhashBuilder),
    k("graft_ivfadc_scores", B.ivfAdcScoresInfo, B.ivfAdcScoresBuilder),
    k("graft_ivf_cos_scores", B.ivfCosScoresInfo, B.ivfCosScoresBuilder),
    k("graft_winnow", B.winnowInfo, B.winnowBuilder),
    k("graft_winnow_packed", B.winnowPackedInfo, B.winnowPackedBuilder),
    k("graft_bpe_encode", B.bpeEncodeInfo, B.bpeEncodeBuilder),
    k("graft_nfc", B.nfcInfo, B.nfcBuilder),
    k("graft_mg_topk", MisraGriesTopK.info, MisraGriesTopK.builder),
    k("graft_pq_encode", B.pqEncodeInfo, B.pqEncodeBuilder),
    k("graft_image_dims", B.imageDimsInfo, B.imageDimsBuilder),
    k("graft_unigram_encode", B.unigramEncodeInfo, B.unigramEncodeBuilder),
    k("graft_wav_meta", B.wavMetaInfo, B.wavMetaBuilder))
}
