package graft.ext

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Kernel-backed operators have no higher-order fallback: in a session
  * missing a graft_* kernel they fail at analysis, naming the function,
  * instead of silently running a slower or weaker plan. */
class MissingKernelSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("without its kernel, candidatePairs and prunedJoin fail at analysis naming the function") {
    // newSession() gets its own function registry: dropping from it
    // leaves the shared test session untouched.
    val bare = spark.newSession()
    val dropped = Seq("graft_minhash_bands", "graft_might_contain")
    dropped.foreach(n =>
      assert(bare.sessionState.functionRegistry.dropFunction(FunctionIdentifier(n)), n))
    import bare.implicits._
    val docs = Seq((1L, "a b c d e f"), (2L, "a b c d e g")).toDF("id", "text")
    val e1 = intercept[AnalysisException](
      Dedup.candidatePairs(docs, "id", "text", Dedup.MinHashParams()))
    assert(e1.getMessage.contains("graft_minhash_bands"), e1.getMessage)
    val big = (1L to 100L).toDF("k")
    val small = Seq(3L, 7L).toDF("k")
    val e2 = intercept[AnalysisException](BloomPrune.prunedJoin(big, small, "k", 2L))
    assert(e2.getMessage.contains("graft_might_contain"), e2.getMessage)
    dropped.foreach(n => assert(spark.catalog.functionExists(n), s"$n left the shared session"))
  }
}
