package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}
import graft.ext.{IndexLifecycle, IvfIndex}

/** The streaming serving loop (StreamOps.streamServe): accumulated
  * per-micro-batch chunked probeBatch results must equal ONE one-shot
  * batch probe of all queries — under ANY shard split of the query
  * stream and ANY chunk cap (including cap 1, the degenerate
  * one-query-per-probe path). Holds because every family's probeBatch
  * answers each query independently of its batch-mates (bit-identical
  * to the single probe); this spec pins the loop's plumbing —
  * chunking, batch-tagged accumulation, sink creation — on top of
  * that contract.
  */
class StreamServeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def stageShards(df: org.apache.spark.sql.DataFrame,
                          nShards: Int): String = {
    import java.nio.file.{Files, Paths}
    val base = Files.createTempDirectory("graft_serve_spec_").toString
    val inDir = s"$base/in"
    Files.createDirectories(Paths.get(inDir))
    (0 until nShards).foreach { i =>
      val w = s"$base/w$i"
      df.where(pmod(col("vec_id"), lit(nShards)) === i)
        .coalesce(1).write.mode("overwrite").parquet(w)
      val part = new java.io.File(w).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(s"no part file under $w"))
      Files.move(part.toPath, Paths.get(inDir, s"shard_$i.parquet"))
    }
    inDir
  }

  test("accumulated chunked micro-batch probes equal the one-shot batch probe under any shard split and chunk cap") {
    val e = Tables.embeddings(spark, TestSpark.sf0001)
    val corpus = e.where(col("vec_id") >= 100)
      .select(col("vec_id"), col("embedding"))
    val t = "stream_serve_spec_idx"
    IvfIndex.build(corpus, "vec_id", "embedding", t, k = 8, iters = 2)
    val queries = e.where(col("vec_id") < 12)
      .select(col("vec_id"), col("embedding"))
    val qsAll = queries.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toSeq.sortBy(_._1)
    val k = 5
    val nProbe = 4
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      .sortBy(x => (x._1, -x._3, x._2))
    val sinks = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      val oneShotDf = IvfIndex.probeBatch(spark, t, "vec_id", "embedding",
        qsAll, k, nProbe)
      val oneShot = rows(oneShotDf)
      // (shards, cap): an uneven split with mid-size chunks, a split
      // where every batch fits one chunk, and the cap-1 degenerate.
      for ((nShards, cap) <- Seq((2, 3), (3, 64), (4, 1))) {
        val inDir = stageShards(queries, nShards)
        val stream = spark.readStream.schema(queries.schema)
          .option("maxFilesPerTrigger", "1").parquet(inDir)
        val sink = s"stream_serve_spec_sink_${nShards}_$cap"
        sinks += sink
        val n = StreamOps.streamServe(spark, stream,
          sink, cap, oneShotDf.schema, "query_id",
          StreamOps.vectorQueryCollector("vec_id", "embedding"),
          (chunk: Seq[(Long, Seq[Float])]) =>
            IvfIndex.probeBatch(spark, t, "vec_id", "embedding",
              chunk, k, nProbe),
          s"serve_spec_${nShards}_$cap")
        assert(n == nShards, s"expected $nShards micro-batches, got $n")
        val got = rows(spark.table(sink).drop(StreamOps.BatchTag))
        assert(got == oneShot,
          s"accumulated results diverge from one-shot at shards=$nShards cap=$cap")
      }
    } finally {
      IndexLifecycle.clear(spark, IvfIndex.state(t))
      sinks.foreach(graft.io.Writer.dropTableAndLocation(spark, _))
    }
  }

  test("a restarted serving stream resumes after committed batches; a redelivered batch replaces a crashed attempt's rows") {
    // VERDICT r18 #3: every ingest family pins restart + crashed-
    // attempt redelivery; the serving loop rides the same
    // resume-aware sink and redelivery discipline, so it gets the
    // same pin. Restart = the AvailableNow query ends between
    // micro-batches and a later start with the SAME checkpoint
    // resumes after the last committed batch (the ingest specs'
    // driver-death model); crashed attempt = a batch's sink write
    // landed but its checkpoint commit did not, so the restart
    // redelivers it and the dynamic overwrite must replace exactly
    // the crashed rows.
    import java.nio.file.{Files, Paths}
    val e = Tables.embeddings(spark, TestSpark.sf0001)
    val corpus = e.where(col("vec_id") >= 100)
      .select(col("vec_id"), col("embedding"))
    val t = "stream_serve_restart_idx"
    val sink = "stream_serve_restart_sink"
    val base = Files.createTempDirectory("graft_serve_restart_").toString
    val inDir = s"$base/in"
    val ckpt = s"$base/ckpt"
    Files.createDirectories(Paths.get(inDir))
    val queries = e.where(col("vec_id") < 12)
      .select(col("vec_id"), col("embedding"))
    def addShard(i: Int): Unit = {
      val w = s"$base/w$i"
      queries.where(pmod(col("vec_id"), lit(3)) === i)
        .coalesce(1).write.mode("overwrite").parquet(w)
      val part = new java.io.File(w).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(inDir, s"shard_$i.parquet"))
    }
    val k = 5
    val nProbe = 4
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      .sortBy(x => (x._1, -x._3, x._2))
    try {
      IvfIndex.build(corpus, "vec_id", "embedding", t, k = 8, iters = 2)
      val oneShotDf = IvfIndex.probeBatch(spark, t, "vec_id", "embedding",
        queries.collect()
          .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toSeq.sortBy(_._1),
        k, nProbe)
      val oneShot = rows(oneShotDf)
      def run(): Int = {
        val stream = spark.readStream.schema(queries.schema)
          .option("maxFilesPerTrigger", "1").parquet(inDir)
        StreamOps.streamServe(spark, stream, sink, 3, oneShotDf.schema,
          "query_id", StreamOps.vectorQueryCollector("vec_id", "embedding"),
          (chunk: Seq[(Long, Seq[Float])]) =>
            IvfIndex.probeBatch(spark, t, "vec_id", "embedding",
              chunk, k, nProbe),
          "serve_restart_spec", checkpointLocation = Some(ckpt))
      }
      // Run 1 serves shards 0 and 1, then the driver "dies".
      addShard(0); addShard(1)
      assert(run() == 2, "first run must process its two files")
      // A crashed batch-2 ATTEMPT: sink rows landed under batch id 2,
      // checkpoint never committed. Garbage scores make silent
      // survival detectable.
      StreamOps.writeBatchToSink(spark, sink,
        oneShotDf.limit(3).withColumn("cos_sim", -col("cos_sim")), 2L)
      spark.catalog.refreshTable(sink)
      // Restart with shard 2 visible: exactly the uncommitted file is
      // processed (batch 2 redelivered), replacing the crashed rows.
      addShard(2)
      assert(run() == 1, "restart must process only the uncommitted file")
      val got = rows(spark.table(sink).drop(StreamOps.BatchTag))
      assert(got == oneShot,
        "restarted + redelivered accumulation must equal the one-shot probe")
    } finally {
      IndexLifecycle.clear(spark, IvfIndex.state(t))
      graft.io.Writer.dropTableAndLocation(spark, sink)
    }
  }
}
