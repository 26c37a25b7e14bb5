package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Corpus-snapshot DISTRIBUTION drift census — the training-data
  * monitoring report next to [[graft.queries.CorpusQueries]]'
  * id-level corpusDiff: two snapshots of a corpus metric (doc token
  * count, quality score, …) bucketed on a fixed integer grid and
  * contrasted per bucket, the population-stability-index shape in the
  * repo's whole-bit integer arithmetic so every emitted value is
  * engine-exact and DuckDB-replayable (the surprisal family's
  * convention — no engine-dependent ln()):
  *
  *   - `n_old` / `n_new` — bucket counts (integers).
  *   - `d_milli` — add-one-smoothed share shift in milli-units:
  *     1000·(c_new+1) DIV (N_new+B) − 1000·(c_old+1) DIV (N_old+B),
  *     B = number of buckets (smoothing keeps empty buckets finite,
  *     the standard PSI ε in integer form).
  *   - `odds_bits` — the whole-bit log₂ odds ratio:
  *     bits((c_new+1)·(N_old+B)) − bits((c_old+1)·(N_new+B)), where
  *     bits(x) = bit_length(x) − 1 = floor(log₂ x). Positive = the
  *     bucket gained mass.
  *   - `drift_score` — d_milli · odds_bits, the PSI term's integer
  *     twin: large only when a bucket moved BOTH in share and in
  *     order of magnitude. Σ drift_score over buckets is the
  *     monitoring scalar; per-bucket rows localize WHICH part of the
  *     distribution moved.
  *
  * 100 TB shape: one single-pass bucket census per snapshot (map-side
  * combine — the exchange carries ≤ maxBucket+1 rows per partition),
  * one (maxBucket+1)-row full-outer join. Nothing corpus-sized
  * shuffles. Works unchanged on a sampled snapshot — shares are
  * scale-free.
  */
object Drift {

  /** Per-bucket drift rows between `old` and `newer` on
    * `floor(value / bucketWidth)` clamped to [0, maxBucket]. `value`
    * must be non-negative (clamp below is at 0); NULL values carry no
    * bucket and are dropped here (a null metric is a missing
    * measurement, not a distribution point — and a null bucket row
    * would break the integer replay and the streaming sink schema,
    * ADVICE r18). Output ordered by bucket; buckets empty in BOTH
    * snapshots are omitted — with no mass on either side they carry
    * no drift signal (their add-one smoothed shift is the floor
    * difference of two ≤ 1000/(N+B) terms, a quantization artifact of
    * the totals, not the data). */
  def census(old: DataFrame, newer: DataFrame, value: Column,
             bucketWidth: Double, maxBucket: Int): DataFrame = {
    require(bucketWidth > 0 && maxBucket > 0,
      s"bucketWidth/maxBucket must be positive: $bucketWidth, $maxBucket")
    def bucketed(df: DataFrame, out: String): DataFrame =
      df.where(value.isNotNull)
        .select(least(greatest(floor(value / lit(bucketWidth)), lit(0L))
          .cast("long"), lit(maxBucket.toLong)).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as(out))
    contrastCounts(bucketed(old, "n_old"), bucketed(newer, "n_new"),
      maxBucket.toLong + 1L) // smoothing mass = bucket count
  }

  /** The drift arithmetic over two PRE-BUCKETED count frames —
    * [[census]]'s core, split out so censuses that arrive as counts
    * already (an IVF index's per-cell census, a partition histogram)
    * ride the same whole-bit PSI twin. `o` carries (bucket, n_old),
    * `n` (bucket, n_new); `smoothingMass` is the add-one denominator
    * mass B (the bucket/cell count — callers fix it so both sides
    * smooth identically). Contact shape: both inputs are
    * bucket-counted already (≤ B rows each), so everything here is
    * B-row joins and one B-row sort — nothing corpus-sized. */
  def contrastCounts(o: DataFrame, n: DataFrame,
                     smoothingMass: Long): DataFrame = {
    require(smoothingMass > 0,
      s"smoothingMass must be positive: $smoothingMass")
    val b = lit(smoothingMass)
    def bits(c: Column): Column =
      (length(conv(c.cast("string"), 10, 2)) - 1).cast("long")
    val totals = o.agg(coalesce(sum(col("n_old")), lit(0L)).as("__no"))
      .crossJoin(n.agg(coalesce(sum(col("n_new")), lit(0L)).as("__nn")))
    o.join(n, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
      .crossJoin(totals)
      // floor-div in double is exact here: quotients are ≤ 1000 and
      // non-integer true quotients sit ≥ 1/(N+B) from integers, far
      // beyond double division's relative error — and DuckDB's
      // floor()+CAST replays it symbol-for-symbol (a bare CAST would
      // not: DuckDB rounds double→BIGINT, Spark truncates).
      .select(col("bucket"), col("n_old"), col("n_new"),
        (floor(lit(1000L) * (col("n_new") + 1L) / (col("__nn") + b)) -
          floor(lit(1000L) * (col("n_old") + 1L) / (col("__no") + b)))
          .cast("long").as("d_milli"),
        (bits((col("n_new") + 1L) * (col("__no") + b)) -
          bits((col("n_old") + 1L) * (col("__nn") + b))).as("odds_bits"))
      .withColumn("drift_score", col("d_milli") * col("odds_bits"))
      .orderBy(col("bucket"))
  }

  /** One monitored metric of [[censusMulti]]: its name (the output's
    * `metric` key), value expression, and its own bucket grid. */
  case class Metric(name: String, value: Column, bucketWidth: Double,
                    maxBucket: Int) {
    require(bucketWidth > 0 && maxBucket > 0,
      s"bucketWidth/maxBucket must be positive: $bucketWidth, $maxBucket")
  }

  /** Multi-metric drift census — [[census]] over SEVERAL metrics in
    * ONE pass per snapshot (VERDICT r18 #8): monitoring token count,
    * document length, and a quality ratio as three [[census]] calls
    * pays three corpus scans per snapshot; here each row explodes into
    * one (metric, bucket) pair per metric (nulls dropped per metric —
    * the [[census]] convention) and a single map-side-combined
    * group-by censuses them all, so the exchange carries
    * ≤ Σ(maxBucket+1) rows per partition. Each metric keeps its OWN
    * bucket grid and smoothing mass (maxBucket+1), and its slice of
    * the output is EXACTLY [[census]] of that metric alone (pinned by
    * DriftSpec). Output: (metric, bucket, n_old, n_new, d_milli,
    * odds_bits, drift_score), ordered (metric, bucket). */
  def censusMulti(old: DataFrame, newer: DataFrame,
                  metrics: Seq[Metric]): DataFrame = {
    require(metrics.nonEmpty, "need at least one metric")
    require(metrics.map(_.name).distinct.size == metrics.size,
      s"metric names must be distinct: ${metrics.map(_.name)}")
    def bucketed(df: DataFrame, out: String): DataFrame =
      df.select(explode(array(metrics.map(m =>
          struct(lit(m.name).as("metric"),
            when(m.value.isNotNull,
              least(greatest(floor(m.value / lit(m.bucketWidth)), lit(0L))
                .cast("long"), lit(m.maxBucket.toLong))).as("bucket"))): _*))
          .as("mb"))
        .select(col("mb.metric").as("metric"), col("mb.bucket").as("bucket"))
        .where(col("bucket").isNotNull)
        .groupBy(col("metric"), col("bucket")).agg(count(lit(1)).as(out))
    def bits(c: Column): Column =
      (length(conv(c.cast("string"), 10, 2)) - 1).cast("long")
    val spark = old.sparkSession
    import spark.implicits._
    val bdf = metrics.map(m => (m.name, m.maxBucket.toLong + 1L))
      .toDF("metric", "__b")
    val o = bucketed(old, "n_old")
    val n = bucketed(newer, "n_new")
    def totals(df: DataFrame, cnt: String, out: String): DataFrame =
      df.groupBy(col("metric")).agg(sum(col(cnt)).as(out))
    o.join(n, Seq("metric", "bucket"), "full_outer")
      .select(col("metric"), col("bucket"),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
      // A metric entirely null on one side has no totals row there:
      // left joins + coalesce give it N = 0, exactly census's empty
      // snapshot.
      .join(totals(o, "n_old", "__no"), Seq("metric"), "left_outer")
      .join(totals(n, "n_new", "__nn"), Seq("metric"), "left_outer")
      .join(broadcast(bdf), Seq("metric"))
      .select(col("metric"), col("bucket"), col("n_old"), col("n_new"),
        coalesce(col("__no"), lit(0L)).as("__no"),
        coalesce(col("__nn"), lit(0L)).as("__nn"), col("__b"))
      .select(col("metric"), col("bucket"), col("n_old"), col("n_new"),
        (floor(lit(1000L) * (col("n_new") + 1L) / (col("__nn") + col("__b"))) -
          floor(lit(1000L) * (col("n_old") + 1L) / (col("__no") + col("__b"))))
          .cast("long").as("d_milli"),
        (bits((col("n_new") + 1L) * (col("__no") + col("__b"))) -
          bits((col("n_old") + 1L) * (col("__nn") + col("__b"))))
          .as("odds_bits"))
      .withColumn("drift_score", col("d_milli") * col("odds_bits"))
      .orderBy(col("metric"), col("bucket"))
  }

  /** Streaming drift monitor — [[census]]'s streaming twin, the
    * monitoring loop next to the ingest streams: every micro-batch of
    * arriving documents is contrasted against the FIXED reference
    * snapshot and its census rows land under the batch's own
    * [[graft.streaming.StreamOps.BatchTag]] partition (idempotent
    * redelivery, resume-aware sink) — the accumulated table is a
    * drift TIME SERIES an operator reads to see WHEN the arriving
    * distribution moved, not just that it did. Each batch's census is
    * a pure function of (reference, that batch), so every accumulated
    * slice equals the batch-mode [[census]] replayed on its shard —
    * the x_stream_classify batch-replay contract, gated by
    * x_stream_drift. Returns the number of batches processed. */
  def streamCensus(spark: org.apache.spark.sql.SparkSession,
                   reference: DataFrame, stream: DataFrame, value: Column,
                   bucketWidth: Double, maxBucket: Int, sinkTable: String,
                   queryName: String,
                   checkpointLocation: Option[String] = None): Int = {
    import graft.streaming.StreamOps
    IndexLifecycle.resumeAwareTableMaker(spark, checkpointLocation)(
      spark, sinkTable, censusSinkSchema, StreamOps.BatchTag, "bucket", 1)
    StreamOps.sinkBatches(spark, stream, queryName, sinkTable,
        checkpointLocation) { (batch, _) =>
      (census(reference, batch, value, bucketWidth, maxBucket), Nil)
    }._2
  }

  /** The sink layout of a one-metric drift series — [[streamCensus]]'s
    * and IvfIndex.streamCellDrift's rows (the [[contrastCounts]]
    * columns) plus the batch tag. */
  private[ext] val censusSinkSchema: StructType = StructType(Seq(
    StructField("bucket", LongType), StructField("n_old", LongType),
    StructField("n_new", LongType), StructField("d_milli", LongType),
    StructField("odds_bits", LongType), StructField("drift_score", LongType),
    StructField(graft.streaming.StreamOps.BatchTag, LongType)))

  /** Multi-metric streaming drift monitor — [[censusMulti]]'s
    * streaming twin, completing the symmetry census/streamCensus ::
    * censusMulti/streamCensusMulti: every arriving micro-batch is
    * censused against the FIXED reference on ALL monitored grids in
    * ONE pass over the batch (the censusMulti explode — a three-
    * metric monitor pays one batch scan, not three), rows landing
    * batch-tagged under the redelivery discipline into a resume-aware
    * sink. The accumulated table is a per-(metric, bucket) drift TIME
    * SERIES; each batch is a pure function of (reference, metrics,
    * shard), so every slice is value-replayed per shard — the
    * x_stream_drift contract, gated by x_stream_drift_multi. Returns
    * the number of batches processed. */
  def streamCensusMulti(spark: org.apache.spark.sql.SparkSession,
                        reference: DataFrame, stream: DataFrame,
                        metrics: Seq[Metric], sinkTable: String,
                        queryName: String,
                        checkpointLocation: Option[String] = None): Int = {
    import graft.streaming.StreamOps
    val sinkSchema = StructType(StructField("metric", StringType) +:
      censusSinkSchema.fields)
    IndexLifecycle.resumeAwareTableMaker(spark, checkpointLocation)(
      spark, sinkTable, sinkSchema, StreamOps.BatchTag, "metric", 1)
    StreamOps.sinkBatches(spark, stream, queryName, sinkTable,
        checkpointLocation) { (batch, _) =>
      (censusMulti(reference, batch, metrics), Nil)
    }._2
  }
}
