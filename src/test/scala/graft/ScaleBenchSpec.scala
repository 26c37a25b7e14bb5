package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{Dedup, Similarity}

/** The scale-evidence generators must keep their planted invariants —
  * the BENCH_NOTES scaling claims are only as good as the corpus
  * construction, so pin it: cluster structure, Jaccard/cosine levels,
  * determinism across invocations. Also pinned: the selector table and
  * its strict argument parsing, and the [[TaskMeter]] the byte legs
  * read.
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

  test("points: unique -only selectors; parseArgs splits selector from positionals") {
    val names = ScaleBench.points.map(_._1)
    assert(names.distinct == names, "selector names must be unique")
    assert(names.forall(_.endsWith("-only")), names.filterNot(_.endsWith("-only")))
    assert(ScaleBench.parseArgs(Seq("/tmp/x", "1,10", "serve-only")) ==
      (("/tmp/x", Seq(1, 10), Some("serve-only"))))
    assert(ScaleBench.parseArgs(Seq("serve-only")) ==
      (("/tmp/graft_scale", Seq(1, 10, 50), Some("serve-only"))))
    assert(ScaleBench.parseArgs(Seq("/tmp/y")) ==
      (("/tmp/y", Seq(1, 10, 50), None)))
  }

  test("parseArgs: an unknown selector fails before any session, naming every selector") {
    val e = intercept[IllegalArgumentException] {
      ScaleBench.parseArgs(Seq("/tmp/x", "1", "serve-onyl-only"))
    }
    ScaleBench.points.map(_._1).foreach(n => assert(e.getMessage.contains(n), n))
    // main parses before it builds (and finally stops) its session: the
    // same throw surfaces there and the shared test session survives.
    val sc = spark.sparkContext
    intercept[IllegalArgumentException](ScaleBench.main(Array("nope-only")))
    assert(!sc.isStopped)
    intercept[IllegalArgumentException](
      ScaleBench.parseArgs(Seq("serve-only", "pq-only")))
    // A misspelling that drops the suffix is a third positional.
    intercept[IllegalArgumentException](
      ScaleBench.parseArgs(Seq("/tmp/x", "1", "serve-onyl")))
  }

  test("TaskMeter: a groupBy count writes shuffle bytes; a range count writes none") {
    val (n, grouped) = TaskMeter.run(spark) {
      spark.range(0, 10000, 1, 4).groupBy((col("id") % 7).as("k")).count().count()
    }
    assert(n == 7)
    assert(grouped.shuffleBytesWritten > 0, grouped)
    assert(grouped.jobs.nonEmpty, grouped)
    assert(grouped.jobs.forall(j => j.endNs >= j.startNs), grouped)
    val (m, flat) = TaskMeter.run(spark)(spark.range(0, 10000, 1, 1).count())
    assert(m == 10000)
    assert(flat.shuffleBytesWritten == 0, flat)
  }
}
