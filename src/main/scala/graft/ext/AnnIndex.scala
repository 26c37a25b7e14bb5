package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Writer

/** Persist-and-reuse ANN index: the repeated-query shape a real
  * pipeline uses. `build` buckets every vector ONCE (LSH sign
  * signatures) and writes a bucketed+sorted catalog table on `bucket`;
  * `probeTopK` then serves any number of queries from the saved table.
  *
  * Why this beats re-bucketing per query at scale:
  *   - the bucket expression (bits × dims multiply-adds per row) is
  *     paid once at build, not per query;
  *   - the probe's `bucket IN (...)` filter hits the table's bucketBy
  *     layout, so the scan opens only the matching bucket files
  *     (`SelectedBucketsCount` in the plan) instead of the corpus;
  *   - the probe plan has NO shuffle exchange: filter → project →
  *     TakeOrderedAndProject (per-partition top-k merged on the
  *     driver). AnnIndexSpec pins both plan properties.
  */
object AnnIndex {

  /** Bucket every vector and save as a bucketed+sorted table keyed on
    * `bucket`. `nBuckets` is the FILE bucket count (storage layout);
    * `bits` the LSH signature width (2^bits logical buckets hashed
    * into the file buckets). */
  def build(corpus: DataFrame, idCol: String, vecCol: String,
            table: String, bits: Int = 8, nBuckets: Int = 16): Unit = {
    val bucketed = corpus.select(col(idCol), col(vecCol),
      Similarity.lshBucketIn(col(vecCol), bits).as("bucket"))
    Writer.bucketedTable(bucketed, table, "bucket", nBuckets)
  }

  /** Top-k cosine over the probed buckets of a saved index (query
    * bucket + Hamming-1 neighbors under multi-probe). `bits` must
    * match the build.
    *
    * EXECUTES EAGERLY (k rows) under a scoped
    * `spark.sql.sources.bucketing.autoBucketedScan.enabled=false`:
    * Spark's DisableUnnecessaryBucketedScan keeps bucketed scans only
    * when a join/aggregation requires the bucketing, so a filter-only
    * probe engages file-level bucket pruning (`SelectedBucketsCount`
    * in the scan) only with that flag off — and planner confs are
    * re-read per ACTION, so a lazily returned frame would re-plan
    * without the flag and silently lose the file skipping. The flag is
    * restored after the probe; session conf is left as found. */
  def probeTopK(spark: SparkSession, table: String, idCol: String,
                vecCol: String, query: Seq[Float], k: Int,
                bits: Int = 8, multiProbe: Boolean = true): DataFrame =
    withBucketPruning(spark) {
      Checkpoints.stage(
        probePlan(spark, table, idCol, vecCol, query, k, bits, multiProbe))
    }

  /** The lazy probe plan behind [[probeTopK]]. Callers that want to
    * inspect or compose the plan manage the `autoBucketedScan` conf
    * themselves (without it the probe still avoids any shuffle and
    * pushes the bucket IN-filter into the parquet scan — row-group
    * pruning over bucket-sorted files — just not file-skipping). */
  def probePlan(spark: SparkSession, table: String, idCol: String,
                vecCol: String, query: Seq[Float], k: Int,
                bits: Int = 8, multiProbe: Boolean = true): DataFrame = {
    val q = array(query.map(v => lit(v.toDouble)): _*)
    val probes = Similarity.probeBuckets(query, bits, multiProbe)
    spark.table(table)
      .where(col("bucket").isin(probes: _*))
      .select(col(idCol), Similarity.cosineIn(col(vecCol), q).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** The executed-plan string [[probeTopK]] runs — planned under the
    * same scoped pruning flag — for tests and plan review. */
  def probePlanString(spark: SparkSession, table: String, idCol: String,
                      vecCol: String, query: Seq[Float], k: Int,
                      bits: Int = 8, multiProbe: Boolean = true): String =
    withBucketPruning(spark) {
      probePlan(spark, table, idCol, vecCol, query, k, bits, multiProbe)
        .queryExecution.executedPlan.toString
    }

  /** Scoped save/restore of the bucketed-scan planner flag. */
  private def withBucketPruning[T](spark: SparkSession)(f: => T): T = {
    val flag = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.getOption(flag)
    spark.conf.set(flag, "false")
    try f finally prev match {
      case Some(v) => spark.conf.set(flag, v)
      case None => spark.conf.unset(flag)
    }
  }
}
