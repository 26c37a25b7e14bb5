package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic weighted mixing of training-data sources: each group
  * (source, language, quality tier, …) keeps a configured percentage
  * of its rows, chosen by the portable multiplicative id-hash rather
  * than rand() — so the mix is reproducible run-to-run, stable under
  * repartitioning and appends (a row's fate never changes), and
  * auditable by an independent engine (the x_weighted_mix oracle
  * replays it in SQL).
  *
  * Scale shape: the decision is a per-row codegen'd predicate — no
  * shuffle, no sampling pass, no driver state; exactly what a 100 TB
  * re-mix wants (contrast rand()-based sampleBy: irreproducible, and
  * per-stratum fractions drift between runs).
  */
object Mixing {

  /** Keep a row iff its id-hash bucket (0–99) falls under the group's
    * percentage. Groups absent from `pctByGroup` keep `defaultPct`. */
  def sampleByPct(df: DataFrame, idCol: String, groupCol: String,
                  pctByGroup: Map[String, Int], defaultPct: Int = 100): DataFrame = {
    val pct: Column = pctByGroup.toSeq.sortBy(_._1)
      .foldLeft(lit(defaultPct)) { case (acc, (g, p)) =>
        when(col(groupCol) === g, lit(p)).otherwise(acc)
      }
    df.where(TextAnalysis.splitBucket(col(idCol)) < pct)
  }

  /** The ranking hash exactK/stratifiedExactK order by — public so a
    * caller can re-derive a sampled row's rank (the x_hash_sample
    * oracle replays it in SQL). */
  def orderHash(id: Column): Column =
    TextAnalysis.idHashBucket(id, 1000003L)

  /** Deterministic exact-k uniform sample: the k smallest rows under
    * the id-hash order (ties broken by id) — a fixed-size,
    * reproducible subset (eval slices, spot-check batches) where
    * rand()-based limit() would pick different rows every run. The
    * TakeOrderedAndProject plan keeps only k rows per partition, never
    * a global sort. Output schema is exactly the input schema (the
    * ranking hash is internal, collision-safe, and dropped; re-derive
    * it with [[orderHash]] when needed). */
  def exactK(df: DataFrame, idCol: String, k: Int): DataFrame =
    df.withColumn("__mix_h", orderHash(col(idCol)))
      .orderBy(col("__mix_h"), col(idCol))
      .limit(k)
      .drop("__mix_h")

  /** √-temperature mixture rebalancing — the standard multilingual /
    * multi-source corpus heuristic (sampling weights ∝ count^α with
    * α = 1/2), realized downsample-only: group g keeps the fraction
    * √(c_min / c_g), so kept counts are √(c_min·c_g) ∝ √c_g — rare
    * groups survive whole, dominant ones shrink toward the geometric
    * middle. Deterministic per row (the same id-hash bucket as every
    * Mixing op, keep iff bucket < floor(100·√(c_min/c_g))) and
    * engine-exact: IEEE division, sqrt, and multiply are all
    * correctly-rounded single operations, so an oracle replaying the
    * formula computes the identical keep percentage. Fixed at α = 1/2
    * on purpose — pow() is NOT correctly rounded across libms, sqrt
    * is. The group census is a k-row broadcast join (k = number of
    * groups), never a driver loop over data.
    *
    * No quantization cliff: the keep rule is the ALL-INTEGER
    * cross-multiplication  bucket² · c_g < 10⁸ · c_min  over a
    * 10⁴-bucket id-hash — algebraically bucket < 10⁴·√(c_min/c_g), so
    * keep probability degrades smoothly to 10⁻⁴ granularity instead of
    * flooring to zero at 10⁴·c_min the way an integer percentage did
    * (a web-dump head domain against a 500-doc tail now keeps its
    * ~√-proportional share). Evaluated as
    * bucket² ≤ (10⁸·c_min − 1) div c_g so nothing ever multiplies by
    * c_g — no overflow for any group size; the only bound is
    * c_min < 2⁶³/10⁸ ≈ 9.2·10¹⁰, i.e. the SMALLEST group under 92 G
    * rows, unreachable in practice. Integer div/mod/compare are exact
    * and identical on every engine, so the oracle replays it verbatim
    * (doubles appear nowhere). */
  def sqrtTemperatureMix(df: DataFrame, idCol: String, groupCol: String): DataFrame = {
    val census = df.groupBy(col(groupCol)).agg(count(lit(1)).as("__mix_c"))
    // One k-row scalar: the smallest group's count anchors the scale.
    val minRow = census.agg(min(col("__mix_c"))).first()
    if (minRow.isNullAt(0)) return df.where(lit(false)) // empty input
    val cMin = minRow.getLong(0)
    require(cMin < Long.MaxValue / 100000000L,
      s"smallest group has $cMin rows — beyond the 10⁸·c_min integer range")
    // Per-group integer threshold t_g = (10⁸·c_min − 1) div c_g;
    // keep iff bucket² ≤ t_g  ⇔  bucket²·c_g < 10⁸·c_min.
    val thr = census.withColumn("__mix_t",
      expr(s"(${cMin}L * 100000000L - 1L) div __mix_c"))
      .drop("__mix_c")
    val b = TextAnalysis.idHashBucket(col(idCol), 10000L)
    df.join(broadcast(thr), Seq(groupCol))
      .where(b * b <= col("__mix_t"))
      .drop("__mix_t")
  }

  /** Per-group TOKEN budget cap — the domain-quota form curation
    * actually uses ("at most B tokens per source"), not a row-count
    * cap: rows are taken in the deterministic id-hash order (same
    * order as every Mixing op, so reruns and subsets agree) and a row
    * survives iff the group's running token total INCLUDING it stays
    * ≤ budget — the first over-budget row and everything after it in
    * the group drop. Groups whose whole mass fits pass through
    * untouched. Output schema = input schema.
    *
    * Scale shape: the cumsum is [[graft.operators.PrefixSum.keyedRunningTotal]],
    * NOT a `Window.partitionBy(group)` — the window form routes each
    * group through ONE task, and this operator's target use ("at most
    * B tokens per SOURCE") is exactly the few-groups/huge-rows shape
    * where that serializes a web-dump domain into a single thread. The
    * keyed prefix sum range-partitions every group across tasks, so a
    * single dominant group scales with cores (MixingSpec pins
    * window-equality; ScaleBench measures the dominant-group case). */
  def tokenBudgetPerGroup(df: DataFrame, idCol: String, groupCol: String,
                          tokCol: Column, budget: Long): DataFrame = {
    val withCum = graft.operators.PrefixSum.keyedRunningTotal(
      df.withColumn("__mix_h", orderHash(col(idCol)))
        .withColumn("__mix_tok", tokCol.cast("long")),
      groupCol, Seq("__mix_h", idCol), "__mix_tok", outCol = "__mix_cum")
    withCum.where(col("__mix_cum") <= budget)
      .drop("__mix_h", "__mix_tok", "__mix_cum")
  }

  /** Deterministic global training order + shard assignment — the
    * epoch shuffle a training dataloader consumes. Every row gets
    * `epoch_pos` (its 0-based position in the global (id-hash, id)
    * order — the same portable order as every Mixing op, so the
    * "shuffle" is reproducible run-to-run and engine-auditable),
    * `shard` (round-robin epoch_pos % nShards — shard sizes differ by
    * at most one row, and consecutive hash-order rows land on
    * DIFFERENT shards, so every shard sees an unbiased interleave of
    * the corpus rather than a contiguous hash range), and
    * `pos_in_shard` (epoch_pos div nShards — the row's read offset
    * within its shard's epoch). Writing the output partitioned by
    * `shard`, sorted by `pos_in_shard`, is the materialized epoch.
    *
    * Scale shape: the global rank is [[graft.operators.PrefixSum]]'s
    * range-partition + per-partition offsets — NOT a single-task
    * `row_number() OVER (ORDER BY …)` window, which serializes the
    * entire corpus through one task. For a different epoch, vary the
    * id space (e.g. hash id XOR epoch upstream) — the operator itself
    * stays stateless. */
  def trainOrder(df: DataFrame, idCol: String, nShards: Int): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    graft.operators.PrefixSum.runningTotal(
        df.withColumn("__mix_h", orderHash(col(idCol)))
          .withColumn("__mix_one", lit(1L)),
        Seq("__mix_h", idCol), "__mix_one", outCol = "__mix_pos")
      .withColumn("epoch_pos", col("__mix_pos") - 1L)
      .withColumn("shard", (col("epoch_pos") % nShards).cast("int"))
      .withColumn("pos_in_shard", expr(s"epoch_pos DIV $nShards"))
      .drop("__mix_h", "__mix_one", "__mix_pos")
  }

  /** Multi-epoch training order — [[trainOrder]] with an epoch
    * parameter: epoch k ranks by the canonical hash of
    * id XOR (k·2654435761), so every epoch is an independent-looking,
    * fully reproducible permutation of the corpus and epoch 0 IS
    * trainOrder's order exactly (salt 0). This closes trainOrder's
    * "vary the id space upstream" caveat in the operator itself — a
    * dataloader asks for (epoch, nShards) and gets its shard files'
    * read order with no upstream id surgery. Same distributed rank,
    * same round-robin shard arithmetic, SQL-replayable (xor is exact
    * on both engines). */
  def epochOrder(df: DataFrame, idCol: String, epoch: Int,
                 nShards: Int): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    require(epoch >= 0, s"epoch must be non-negative, got $epoch")
    val salted = col(idCol).cast("long")
      .bitwiseXOR(lit(epoch.toLong * 2654435761L))
    graft.operators.PrefixSum.runningTotal(
        df.withColumn("__mix_h", TextAnalysis.idHashBucket(salted, 1000003L))
          .withColumn("__mix_one", lit(1L)),
        Seq("__mix_h", idCol), "__mix_one", outCol = "__mix_pos")
      .withColumn("epoch_pos", col("__mix_pos") - 1L)
      .withColumn("shard", (col("epoch_pos") % nShards).cast("int"))
      .withColumn("pos_in_shard", expr(s"epoch_pos DIV $nShards"))
      .drop("__mix_h", "__mix_one", "__mix_pos")
  }

  /** Curriculum training order — [[trainOrder]]'s epoch shuffle with a
    * DIFFICULTY score as the leading sort key: rows rank by
    * (score asc, id-hash, id), so the materialized epoch reads
    * easy→hard while ties WITHIN a difficulty level still interleave
    * by the canonical hash (deterministic, and unbiased inside each
    * level — a plain (score, id) order would replay ingestion order
    * within ties). Same distributed rank (PrefixSum's range-partition
    * construction, no global-order window), same round-robin
    * shard/pos arithmetic, so each shard sees the curriculum at the
    * same pace. Score column must be integer-typed for cross-engine
    * exactness (callers with a float score quantize first — e.g.
    * milli-bits, the x_curriculum recipe). */
  def curriculumOrder(df: DataFrame, idCol: String, scoreCol: Column,
                      nShards: Int): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    graft.operators.PrefixSum.runningTotal(
        df.withColumn("__mix_s", scoreCol.cast("long"))
          .withColumn("__mix_h", orderHash(col(idCol)))
          .withColumn("__mix_one", lit(1L)),
        Seq("__mix_s", "__mix_h", idCol), "__mix_one", outCol = "__mix_pos")
      .withColumn("epoch_pos", col("__mix_pos") - 1L)
      .withColumn("shard", (col("epoch_pos") % nShards).cast("int"))
      .withColumn("pos_in_shard", expr(s"epoch_pos DIV $nShards"))
      .drop("__mix_s", "__mix_h", "__mix_one", "__mix_pos")
  }

  /** Deterministic exact-k-PER-GROUP (stratified) sample: the same
    * hash order, ranked within each group — every stratum contributes
    * exactly min(k, |stratum|) rows. One shuffle on the group key.
    * Output schema is exactly the input schema (internal rank columns
    * are collision-safe and dropped). */
  def stratifiedExactK(df: DataFrame, idCol: String, groupCol: String,
                       k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("__mix_h"), col(idCol))
    df.withColumn("__mix_h", orderHash(col(idCol)))
      .withColumn("__mix_rn", row_number().over(w))
      .where(col("__mix_rn") <= k)
      .drop("__mix_rn", "__mix_h")
  }

  /** STREAMING per-group token-budget enforcement — the quota a 100 TB
    * ingest applies as shards arrive, not after the fact: each
    * micro-batch keeps a group's rows only while the group's running
    * token total — PRIOR batches' full mass plus the batch-local
    * keyed prefix sum — stays ≤ `budget`. The ledger tracks each
    * batch's TOTAL group mass (kept + dropped), so the decision rule
    * is exactly [[tokenBudgetPerGroup]]'s global-cumsum prefix over
    * the batch-concatenation order: stream result ≡ the batch
    * operator run on the same rows in (batch, id-hash, id) order —
    * the value-exact contract x_stream_group_budget's oracle replays
    * as ONE windowed cumsum.
    *
    * Plumbing mirrors the index ingests: the kept-rows sink and the
    * per-(group, batch) ledger are batch-partitioned tables written
    * by dynamic partition overwrite (redelivery-idempotent); the
    * ledger read excludes the in-flight batch's own partition (a
    * crashed attempt's orphan must not double-count); the batch's
    * kept set materializes BEFORE the ledger append mutates state.
    * The ledger is k·batches tiny rows — the only cross-batch state.
    * Returns (accumulated kept rows, batches processed). */
  def streamTokenBudget(spark: org.apache.spark.sql.SparkSession,
                        table: String, stream: DataFrame,
                        idCol: String, groupCol: String, tokExpr: Column,
                        budget: Long,
                        queryName: String = "graft_budget_ingest",
                        checkpointLocation: Option[String] = None): (DataFrame, Int) = {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import graft.io.Writer
    val idType = stream.schema(idCol).dataType
    val grpType = stream.schema(groupCol).dataType
    val mkTable = IndexLifecycle.resumeAwareTableMaker(spark, checkpointLocation)
    mkTable(spark, table,
      StructType(Seq(
        StructField(idCol, idType),
        StructField(groupCol, grpType),
        StructField("tok", LongType),
        StructField(StreamOps.BatchTag, LongType))),
      // Source-byte-derived (r22, guide §6 — scaledSinkBuckets doc).
      StreamOps.BatchTag, idCol, StreamOps.scaledSinkBuckets(stream))
    mkTable(spark, table + "_totals",
      StructType(Seq(
        StructField(groupCol, grpType),
        StructField("total_tok", LongType),
        StructField(StreamOps.BatchTag, LongType))),
      StreamOps.BatchTag, groupCol, 1)
    StreamOps.sinkBatches(spark, stream, queryName, table,
        checkpointLocation) { (raw, batchId) =>
      // The kept set and the ledger both read the batch; stage it once.
      val b = Checkpoints.stage(raw)
      spark.catalog.refreshTable(table + "_totals")
      val rows = b.select(col(idCol), col(groupCol),
        tokExpr.cast("long").as("tok"))
      val prior = spark.table(table + "_totals")
        .where(col(StreamOps.BatchTag) =!= lit(batchId))
        .groupBy(col(groupCol))
        .agg(coalesce(sum(col("total_tok")), lit(0L)).as("__prior"))
      val withCum = graft.operators.PrefixSum.keyedRunningTotal(
        rows.withColumn("__mix_h", orderHash(col(idCol))),
        groupCol, Seq("__mix_h", idCol), "tok", outCol = "__cum")
      // Materialize the kept set before the ledger side-write lands —
      // the plan reads _totals, which that write is about to mutate.
      val kept = Checkpoints.stage(withCum
        .join(prior, Seq(groupCol), "left")
        .where(col("__cum") + coalesce(col("__prior"), lit(0L)) <= budget)
        .select(col(idCol), col(groupCol), col("tok")))
      val ledger = rows.groupBy(col(groupCol))
        .agg(coalesce(sum(col("tok")), lit(0L)).as("total_tok"))
      (kept, Seq((table + "_totals") -> ledger))
    }
  }

  /** Leakage-safe corpus split — split by near-dup CLUSTER, not by
    * document. Per-doc hash splitting (assignSplit) silently puts
    * near-duplicates of a training doc into the eval split — the
    * train/test-contamination failure mode dedup-before-split practice
    * exists to prevent. Here every document adopts the connected
    * component of the near-dup pair graph (any (id_a, id_b) pair
    * frame: exact-Jaccard, MinHash-confirmed, winnow shared-passage)
    * as `cluster_id`, and the split bucket is hashed from the CLUSTER
    * label with the same canonical id-hash every Mixing op replays in
    * SQL — so two docs joined by any pair path can never straddle
    * splits, by construction. Docs touching no pair are their own
    * singleton cluster (cluster_id = own id). Output = input schema
    * + `cluster_id` + `split`.
    *
    * Scale shape: [[graft.operators.ConnectedComponents]]'
    * large/small-star contraction runs O(log² n) keyed rounds over the
    * PAIR set only (pair mass ≈ linear in corpus size — measured, see
    * BENCH_NOTES minhash sizing); the label attach is one shuffle
    * keyed on id against a labels side that only holds paired docs;
    * split assignment is per-row codegen arithmetic. Nothing touches
    * the driver beyond CC's convergence signature.
    */
  def clusterSplit(docs: DataFrame, idCol: String, pairs: DataFrame,
                   trainPct: Int = 90, valPct: Int = 5): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"bad split percentages: train=$trainPct val=$valPct")
    val labels = graft.operators.ConnectedComponents
      .run(pairs.select(col("id_a"), col("id_b")), "id_a", "id_b")
      .select(col("node").as("__cs_id"), col("component").as("__cs_comp"))
    val b = TextAnalysis.splitBucket(col("cluster_id"))
    docs.join(labels, docs(idCol).cast("long") === col("__cs_id"), "left")
      .withColumn("cluster_id",
        coalesce(col("__cs_comp"), col(idCol).cast("long")))
      .drop("__cs_id", "__cs_comp")
      .withColumn("split",
        when(b < trainPct, "train")
          .when(b < trainPct + valPct, "val")
          .otherwise("test"))
  }
}
