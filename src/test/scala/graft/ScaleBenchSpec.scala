package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{Dedup, Similarity}

/** The scale-evidence generators must keep their planted invariants —
  * the BENCH_NOTES scaling claims are only as good as the corpus
  * construction, so pin it: cluster structure, Jaccard/cosine levels,
  * determinism across invocations.
  */
class ScaleBenchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("genDocuments: 10% clustered in 4s at high Jaccard, uniques unrelated, deterministic") {
    val docs = ScaleBench.genDocuments(spark, 1000)
    assert(docs.count() == 1000)
    // Planted: ids 0..99 in clusters of 4 sharing a base text.
    val planted = Dedup.nearDupPairs(docs, "doc_id", "text",
        Dedup.MinHashParams(), threshold = 0.5)
      .where(col("id_a") < 100 && col("id_b") < 100)
    assert(planted.count() == 25 * 6,
      "every planted cluster of 4 must yield its 6 pairs at J >= 0.5")
    // Unique docs produce no confirmed pairs among themselves.
    val uniques = Dedup.nearDupPairs(
      docs.where(col("doc_id") >= 100), "doc_id", "text",
      Dedup.MinHashParams(), threshold = 0.5)
    assert(uniques.count() == 0, "unique docs must not be near-dups")
    // Deterministic: same ids → same texts on re-generation.
    val a = docs.orderBy(col("doc_id")).collect().map(_.getString(1))
    val b = ScaleBench.genDocuments(spark, 1000)
      .orderBy(col("doc_id")).collect().map(_.getString(1))
    assert(a.sameElements(b), "generator must be deterministic")
  }

  test("genEmbeddings: planted pairs at cosine >= 0.999, labels spread, deterministic") {
    val emb = ScaleBench.genEmbeddings(spark, 400)
    assert(emb.count() == 400)
    // Planted: ids 0..39 in pairs (2k, 2k+1) with a ±0.01 perturbation.
    val a = emb.where(col("vec_id") < 40 && col("vec_id") % 2 === 0)
      .select((col("vec_id") / 2).cast("long").as("p"), col("embedding").as("v_a"))
    val b = emb.where(col("vec_id") < 40 && col("vec_id") % 2 === 1)
      .select(expr("(vec_id DIV 2)").as("p"), col("embedding").as("v_b"))
    val cos = a.join(b, Seq("p"))
      .select(Similarity.cosineIn(col("v_a"), col("v_b")).as("c"))
      .agg(min(col("c"))).first().getDouble(0)
    assert(cos >= 0.999, s"planted pair cosine too low: $cos")
    // Labels cover many blocks (blocking evidence needs spread).
    assert(emb.select(col("label")).distinct().count() >= 32)
    val x = emb.orderBy(col("vec_id")).collect().map(_.getSeq[Float](1))
    val y = ScaleBench.genEmbeddings(spark, 400)
      .orderBy(col("vec_id")).collect().map(_.getSeq[Float](1))
    assert(x.zip(y).forall { case (u, v) => u == v },
      "generator must be deterministic")
  }
}
