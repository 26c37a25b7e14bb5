package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** The fresh-start contract, table-driven over the six declared family
  * states ([[IndexState]]): build, take one id down through the
  * family's own delete, rebuild the same corpus into the SAME name —
  * the probe must equal a build into a fresh name, and none of the
  * declared takedown state may survive the rebuild (the tombstone list
  * and PostingsIndex's `_stats_deltas` are gone; the LM's layout
  * recreates its tombstone list empty). Each probe is aimed at the
  * taken-down id, so the delete visibly moves it first.
  */
class IndexStateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val docs = Tables.documents(spark, TestSpark.sf0001)
    .where(col("doc_id") < 60 && col("text").isNotNull)
    .select(col("doc_id"), col("text")).localCheckpoint(true)
  private lazy val victimDoc = docs.orderBy(col("doc_id")).limit(1)
    .localCheckpoint(true)
  private lazy val victimId = victimDoc.first().getLong(0)
  private lazy val victimText = victimDoc.first().getString(1)
  /** The victim's text under an id the corpus does not hold: the pair
    * families pair it with the victim exactly while the victim is live. */
  private lazy val twin = {
    import spark.implicits._
    Seq((1000000L, victimText)).toDF("doc_id", "text")
  }
  private lazy val em = Tables.embeddings(spark, TestSpark.sf0001)
    .where(col("vec_id") < 60).select(col("vec_id"), col("embedding"))
    .localCheckpoint(true)
  private lazy val victimVec = em.orderBy(col("vec_id")).first()

  private def ids(id: Long): DataFrame = {
    import spark.implicits._
    Seq(id).toDF("id")
  }
  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  private def ranked(df: DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private case class Family(name: String, state: String => IndexState,
                            build: String => Unit, delete: String => Unit,
                            probe: String => Any,
                            layoutHoldsTakedown: Boolean = false)

  private val families = Seq(
    Family("dedup", DedupIndex.state,
      DedupIndex.build(docs, "doc_id", "text", _),
      t => DedupIndex.delete(spark, t, ids(victimId)),
      t => pairs(DedupIndex.probeNewBatch(spark, t, twin, "doc_id", "text"))),
    Family("winnow", WinnowIndex.state,
      WinnowIndex.build(docs, "doc_id", "text", _),
      t => WinnowIndex.delete(spark, t, ids(victimId)),
      t => pairs(WinnowIndex.probeNewBatch(spark, t, twin, "doc_id", "text"))),
    Family("ivf", IvfIndex.state(_, "vec_id"),
      IvfIndex.build(em, "vec_id", "embedding", _, k = 4, iters = 1),
      t => IvfIndex.delete(spark, t, ids(victimVec.getLong(0))),
      t => ranked(IvfIndex.probeTopK(spark, t, "vec_id", "embedding",
        victimVec.getSeq[Float](1), k = 5, nProbe = 4))),
    Family("ivfpq", IvfPq.state(_, "vec_id"),
      IvfPq.build(em, "vec_id", "embedding", _, kCells = 4, ivfIters = 1,
        m = 8, kPq = 16, pqIters = 1),
      t => IvfPq.delete(spark, t, ids(victimVec.getLong(0))),
      t => ranked(IvfPq.probeTopK(spark, t, "vec_id", "embedding",
        victimVec.getSeq[Float](1), k = 5, nProbe = 4))),
    Family("bm25", PostingsIndex.state,
      PostingsIndex.build(spark, docs, "doc_id", "text", _),
      t => PostingsIndex.delete(spark, t, ids(victimId)),
      t => PostingsIndex.probe(spark, t,
          victimText.split(" ").filter(_.nonEmpty).distinct.take(2).toSeq, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(4))).toSeq),
    Family("lm", LmIndex.state,
      LmIndex.build(spark, docs, "doc_id", "text", _),
      t => LmIndex.delete(spark, t, victimDoc, "doc_id", "text"),
      t => LmIndex.probe(spark, t, victimDoc, "doc_id", "text")
        .collect().map(_.toString).toSeq,
      layoutHoldsTakedown = true))

  families.foreach { f =>
    test(s"${f.name}: a rebuild into a taken-down index's name probes like a fresh build and keeps no takedown state") {
      val t = s"state_spec_${f.name}"
      val fresh = s"state_spec_${f.name}_fresh"
      val states = Seq(f.state(t), f.state(fresh))
      try {
        states.foreach(IndexLifecycle.clear(spark, _))
        f.build(t)
        val built = f.probe(t)
        f.delete(t)
        assert(f.probe(t) != built, "the delete must move the probe")
        f.build(t)
        f.build(fresh)
        assert(f.probe(t) == f.probe(fresh),
          "a rebuild into the same name must probe like a fresh name")
        assert(f.probe(t) == built, "the rebuild must serve the victim again")
        f.state(t).takedown.foreach { x =>
          if (f.layoutHoldsTakedown)
            assert(spark.table(x).count() == 0L, s"$x survived the rebuild")
          else assert(!spark.catalog.tableExists(x), s"$x survived the rebuild")
        }
      } finally states.foreach(IndexLifecycle.clear(spark, _))
    }
  }
}
