package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.etl.FlightPipeline
import graft.ext.{Dedup, DedupIndex}
import graft.io.Writer

/** One timed operation's outcome. `seconds` covers only the calls into
  * the engine; the output checks run after the clock stops. */
final case class Outcome(seconds: Double, resultRows: Long, failure: Option[String])

/** A workload: seeded inputs, a repeatable set-up and the op `run()`. */
trait Workload {
  /** Generate and stage the inputs and compute their truth, without
    * Spark. Runs once and is not timed: no change to the engine can
    * move it. */
  def generate(): Unit
  /** The engine's first pass over the staged inputs, timed as
    * `setup_s`; it checks its own result. */
  def setUp(): Unit
  /** The generated input sizes, for the log. */
  def sizes: String
  def run(): Outcome
  /** Directory of the persistent state the ops grow, if any. */
  def stateDir: Option[File] = None
}

object Workload {
  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Free what an op cached: the SQL cache and every persisted or
    * locally checkpointed RDD, so each op pays its full pipeline. */
  def release(spark: SparkSession): Unit = {
    spark.sqlContext.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def apply(name: String, spark: SparkSession, seed: Long, dir: File): Workload = name match {
    case "flight_etl" => new FlightEtl(spark, seed, dir)
    case "corpus_stream_dedup" => new CorpusStreamDedup(spark, seed, dir)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

import Workload._

/** The reference pipeline: CSV load, quality checks, dedup, time
  * derivation, calendar gaps, then the sized Parquet write. */
final class FlightEtl(spark: SparkSession, seed: Long, dir: File) extends Workload {
  val nBase = 120000
  private val csv = new File(dir, "flights/flights.csv")
  private val out = new File(dir, "flights_out")
  private var truth: Gen.FlightTruth = _

  def generate(): Unit = truth = Gen.flights(seed, nBase, csv)

  /** A scan of the CSV through the pipeline's own explicit-schema loader. */
  def setUp(): Unit = {
    val n = FlightPipeline.load(spark, csv.getPath).count()
    if (n != truth.totalRows) sys.error(s"set-up scan: got $n rows, want ${truth.totalRows}")
  }

  def sizes: String =
    s"rows=${truth.totalRows} bytes=${truth.bytes} distinct=${truth.rowsAfterDedup} " +
      s"exact_dup_groups=${truth.exactDupGroups} compound_dup_groups=${truth.compoundDupGroups} " +
      s"gap_days=${truth.gapDays.mkString(",")} validity=${truth.validity.toSeq.sorted.mkString(",")}"

  def run(): Outcome = {
    val t0 = System.nanoTime()
    val report = Trace.span("FlightPipeline.run")(
      FlightPipeline.run(spark, csv.getPath, Gen.flightAsOfYear))
    Trace.span("Writer.sizedParquet")(Writer.sizedParquet(report.cleaned, out.getPath))
    val total = secondsSince(t0)
    release(spark)
    val got = Seq(
      "droppedColumns" -> (report.droppedColumns, truth.droppedColumns),
      "totalRows" -> (report.totalRows, truth.totalRows),
      "exactDupGroups" -> (report.exactDupGroups, truth.exactDupGroups),
      "rowsAfterDedup" -> (report.rowsAfterDedup, truth.rowsAfterDedup),
      "compoundDupGroups" -> (report.compoundDupGroups, truth.compoundDupGroups),
      "validity" -> (report.validity, truth.validity),
      "gapDays" -> (report.gapDays.map(_.toLocalDate), truth.gapDays),
      "writtenRows" -> (spark.read.parquet(out.getPath).count(), truth.rowsAfterDedup))
    val bad = got.collect { case (k, (a, b)) if a != b => s"$k: got $a, want $b" }
    Outcome(total, truth.rowsAfterDedup,
      if (bad.isEmpty) None else Some(bad.mkString("; ")))
  }
}

/** Near-duplicate detection over a corpus streamed shard by shard into
  * a growing band index. */
final class CorpusStreamDedup(spark: SparkSession, seed: Long, dir: File) extends Workload {
  val nShards = 4
  val docsPerShard = 300
  private val shardDir = new File(dir, "corpus_shards")
  private val table = "bench_dedup_idx"
  private val schema = StructType(Seq(StructField("id", LongType), StructField("text", StringType)))
  private var corpus: Gen.Corpus = _
  /** One-shot candidate pairs over the same documents: what the
    * streamed pair set must equal. Both come from the same MinHash
    * code, so each is also checked against the planted pairs. */
  private var truth: Set[(Long, Long)] = Set.empty
  override def stateDir: Option[File] =
    Some(new File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), table))

  def generate(): Unit = {
    corpus = Gen.corpus(seed, nShards, docsPerShard, shardDir)
    // Fixed modification times: the file source delivers the oldest
    // shard first, so batch composition is the same on every run.
    corpus.shards.zipWithIndex.foreach { case (f, k) => f.setLastModified(1600000000000L + k * 1000L) }
  }

  /** The one-shot candidate pairs over all documents. */
  def setUp(): Unit = {
    import spark.implicits._
    truth = Dedup.candidatePairs(corpus.docs.toDF("id", "text"), "id", "text", Dedup.MinHashParams())
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    release(spark)
    plantedShortfall(truth).foreach(m => sys.error(s"one-shot pairs: $m"))
  }

  /** Banding finds a pair only with high probability, so a correct
    * index may miss a rare planted pair (16 bands of 4 hashes missed
    * one in about 2 800 over the first 21 seeds tried); a broken
    * shingle, MinHash or banding step misses most of them. */
  val minPlantedRecall = 0.98

  private def plantedShortfall(found: Set[(Long, Long)]): Option[String] = {
    val missed = (corpus.planted -- found).size
    if (missed <= (1 - minPlantedRecall) * corpus.planted.size) None
    else Some(s"miss $missed of ${corpus.planted.size} planted pairs")
  }

  def sizes: String =
    s"shards=$nShards docs=${corpus.docs.size} planted_pairs=${corpus.planted.size} bytes=${corpus.bytes}"

  def run(): Outcome = {
    val before = Trace.terminatedQueries
    val nBatches0 = Trace.batches.size
    val t0 = System.nanoTime()
    val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").json(shardDir.getPath)
    val (pairs, n) = Trace.span("DedupIndex.streamIngest")(
      DedupIndex.streamIngest(spark, table, stream, "id", "text", queryName = "bench_ingest"))
    val total = secondsSince(t0)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    release(spark)
    // Progress events arrive asynchronously; the terminated event is
    // posted after the last one.
    val deadline = System.currentTimeMillis() + 10000
    while (Trace.terminatedQueries == before && System.currentTimeMillis() < deadline) Thread.sleep(10)
    import scala.jdk.CollectionConverters._
    val events = Trace.batches.asScala.drop(nBatches0).count(_.durations.contains("addBatch"))
    val bad = Seq(
      plantedShortfall(got).map(m => s"streamed pairs: $m"),
      if (got != truth) Some(s"pairs differ from one-shot: ${(truth -- got).size} missing, ${(got -- truth).size} extra") else None,
      if (n != nShards) Some(s"batches: got $n, want $nShards") else None,
      if (events != nShards) Some(s"progress events: got $events, want $nShards") else None).flatten
    Outcome(total, got.size.toLong,
      if (bad.isEmpty) None else Some(bad.mkString("; ")))
  }
}
