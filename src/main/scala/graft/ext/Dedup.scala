package graft.ext

import scala.util.chaining._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators: exact (fingerprint hash), MinHash+LSH
  * near-dup (shingle → minhash → band → bucket join), SimHash, and
  * exact n-gram Jaccard.
  *
  * Scale design (the 100 TB contract):
  *   - NEVER all-pairs. Candidates come from an equi-join on
  *     (band_id, band_hash) buckets — Catalyst plans a plain shuffle
  *     hash join keyed on the bucket, so cost is sum(bucket^2), not n^2.
  *   - Hot buckets (degenerate shingles, boilerplate docs) are capped:
  *     buckets larger than `maxBucketSize` are dropped from candidate
  *     generation (reported separately) — this is the salting-adjacent
  *     skew guard; without it one viral doc cluster quadratically
  *     dominates a cluster-scale run.
  *   - All per-doc work (shingling, signatures) is builtin array
  *     functions inside whole-stage codegen; no UDFs, no driver loops.
  */
object Dedup {

  /** 31-bit Mersenne prime — modulus for the (a·h + b) mod p permutation
    * family; products of two <2³¹ values stay inside a Long. */
  private val P = 2147483647L

  final case class MinHashParams(
    numHashes: Int = 64,
    bands: Int = 16,
    shingleSize: Int = 3,
    maxBucketSize: Int = 1000)

  /** Distinct k-word shingles of whitespace-tokenized text. */
  def shingles(text: Column, k: Int): Column = {
    val toks = split(text, " ")
    // `sequence(1, n)` DESCENDS for n < 1 (yielding [1, 0], and
    // slice(…, 0, k) then throws) — a text with fewer than k tokens
    // must produce an empty shingle set instead; null text stays null.
    array_distinct(
      when(toks.isNull, lit(null).cast("array<string>"))
        .when(size(toks) < k, array().cast("array<string>"))
        .otherwise(
          transform(sequence(lit(1), size(toks) - (k - 1)),
            i => concat_ws(" ", slice(toks, i, lit(k))))))
  }

  /** Base hash of each shingle, reduced mod P (so permutation products
    * never overflow). */
  def shingleHashes(sh: Column): Column =
    transform(sh, s => pmod(xxhash64(s), lit(P)))

  /** MinHash signature over a PRECOMPUTED shingle-hash array: array of
    * `numHashes` minima over the universal hash family
    * h_i(x) = (a_i·x + b_i) mod P, with a_i, b_i derived
    * deterministically from i (fixed seeds → reproducible runs).
    *
    * Takes hashes, not text, on purpose: inlining the string shingling
    * into each of the 64 lambdas (which CollapseProject will happily
    * do) re-tokenizes every document 64 times — measured 30× slower.
    * Callers materialize the hash array once.
    */
  def minhashSignature(hashes: Column, numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)), minhashAt(hashes, _))

  /** Single minhash value for hash-function index i (i is a Column so
    * it can come from a lambda variable). Empty shingle set → P. */
  private def minhashAt(hashes: Column, i: Column): Column = {
    val a = pmod(i.cast("long") * lit(2654435761L) + lit(1L), lit(P))
    val b = pmod(i.cast("long") * lit(40503L) + lit(7L), lit(P))
    coalesce(array_min(transform(hashes, h => pmod(a * h + b, lit(P)))), lit(P))
  }

  /** Higher-order-function twin of the graft_minhash_bands kernel: for
    * band j, fold the minima of hash functions i ∈ [j·rows, (j+1)·rows)
    * with acc' = (acc·31 + min_i) mod P — reduced every step, so
    * acc·31 + min_i stays under 2^36 and never overflows Long (safe
    * under ANSI mode). Public so the kernel-vs-HOF
    * equivalence is oracle-checkable (x_kernel_equiv) as well as
    * spec-pinned (GraftFunctionsSpec). */
  def minhashBandsHof(hs: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), j =>
      aggregate(sequence(j * rows, j * rows + (rows - 1)),
        lit(1125899907L),
        (acc, i) => pmod(acc * 31 + minhashAt(hs, i), lit(P))))

  /** Signature-level Jaccard estimate: fraction of agreeing minhashes. */
  def estimatedJaccard(sigA: Column, sigB: Column): Column =
    aggregate(zip_with(sigA, sigB, (x, y) => (x === y).cast("int")),
      lit(0), (acc, v) => acc + v).cast("double") / size(sigA).cast("double")

  /** Exact Jaccard of two string-set columns. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** (id, band_id, band_hash) — one row per LSH band per doc.
    *
    * LAZY: no job runs at construction. The shingle-hash array feeds
    * exactly one expression (the graft_minhash_bands kernel), so the
    * 64-lambda re-tokenize trap [[minhashSignature]] documents cannot
    * arise here and no barrier is needed inside. A caller that reads
    * the result more than once stages it (Checkpoints.stage), or every
    * read re-runs shingle+minhash; one that reads it once (an index
    * build, a census) pays the pipeline once inside its own job.
    */
  def bands(docs: DataFrame, idCol: String, textCol: String,
            params: MinHashParams): DataFrame = {
    val rows = params.numHashes / params.bands
    // Spread BEFORE the heavy shingle+minhash projections (the policy
    // and its 100 TB rationale live in graft.ext.Spread).
    val hsExpr =
      call_function("graft_shingle_hashes", col(textCol), lit(params.shingleSize))
    val distributed = Spread.ensure(docs.select(col(idCol).as("id"), col(textCol)))
    // Same fold as [[minhashBandsHof]]: each band folds its own
    // rows-per-band minhash indices mod P.
    val bandArray = call_function("graft_minhash_bands", hsExpr,
      lit(params.bands), lit(rows))
    distributed
      .select(col("id"), posexplode(bandArray))
      .withColumnRenamed("pos", "band_id")
      .withColumnRenamed("col", "band_hash")
  }

  /** Candidate pairs (id_a < id_b) from same-bucket collisions, with
    * the hot-bucket cap applied. Eager: stages the band table
    * (Checkpoints.stage has the executor-loss caveat). */
  def candidatePairs(docs: DataFrame, idCol: String, textCol: String,
                     params: MinHashParams): DataFrame =
    // The band table feeds three consumers (bucket sizing + both join
    // sides) — cache it or the 64-hash fold runs three times. Eager
    // localCheckpoint, not persist: blocks are ContextCleaner-freed on
    // GC instead of living in the CacheManager until unpersist.
    candidatePairsFromBands(
      bands(docs, idCol, textCol, params).pipe(Checkpoints.stage), params)

  /** Candidate pairs from a precomputed (id, band_id, band_hash) table
    * — lets several passes reuse ONE shingle+minhash computation
    * (bands are per-row, so a subset corpus's band table is just a
    * semi-join of the full one). The input should be materialized
    * (checkpointed/persisted): it feeds three consumers here. */
  def candidatePairsFromBands(b: DataFrame, params: MinHashParams): DataFrame = {
    val sized = SkipReport.within(
      SkipReport.census(b, Seq(col("band_id"), col("band_hash"))),
      params.maxBucketSize)
    val inBucket = b.join(sized, Seq("band_id", "band_hash"))
    val l = inBucket.select(col("band_id"), col("band_hash"), col("id").as("id_a"))
    val r = inBucket.select(col("band_id"), col("band_hash"), col("id").as("id_b"))
    l.join(r, Seq("band_id", "band_hash"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** The (band_id, band_hash) buckets [[candidatePairsFromBands]]
    * SKIPS at the given params' cap, with sizes — the [[SkipReport]]
    * companion for the MinHash family (same census expression as the
    * operator's keep-filter, so the report can never drift from what
    * was actually dropped). Takes the precomputed band table so report
    * and pair generation share ONE shingle+minhash pass. */
  def minhashOversized(b: DataFrame, params: MinHashParams): DataFrame =
    SkipReport.skipped(
      SkipReport.census(b, Seq(col("band_id"), col("band_hash"))),
      params.maxBucketSize)

  /** Near-duplicate pairs: LSH candidates verified by EXACT shingle
    * Jaccard ≥ threshold. Verification joins the (small) candidate set
    * back to the shingle arrays — proportional to candidates, not n².
    */
  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                   params: MinHashParams = MinHashParams(),
                   threshold: Double = 0.8,
                   precomputedBands: Option[DataFrame] = None): DataFrame = {
    val cands = precomputedBands match {
      case Some(b) => candidatePairsFromBands(b, params)
      case None => candidatePairs(docs, idCol, textCol, params)
    }
    verifyPairs(docs, cands, idCol, textCol, params, threshold)
  }

  /** Exact-Jaccard verification of a precomputed (id_a, id_b) pair set
    * (so callers can reuse one candidate computation for several
    * downstream consumers). Eager unless the pair set is already
    * materialized (Checkpoints.stage has the executor-loss caveat). */
  def verifyPairs(docs: DataFrame, pairs: DataFrame, idCol: String,
                  textCol: String, params: MinHashParams,
                  threshold: Double): DataFrame = {
    // Shingle ONLY docs that appear in a candidate pair (an id-keyed
    // semi-join — no broadcast hint, since the candidate-id set is
    // dup-mass-sized at web dup rates; AQE broadcasts when it is
    // actually small): re-shingling every document twice — once per join
    // side — would dominate the verification cost at scale. The pair
    // set itself feeds three consumers (two id projections + the join),
    // so cache it (eager localCheckpoint — ContextCleaner-managed, no
    // unpersist bookkeeping) rather than re-running candidate
    // generation — UNLESS the caller already materialized it (a
    // checkpointed input re-checkpointed here would store the pair set
    // twice).
    val p = pairs.queryExecution.analyzed match {
      case _: org.apache.spark.sql.execution.LogicalRDD => pairs
      case _ => pairs.pipe(Checkpoints.stage)
    }
    // Collision-proof alias: idCol may itself be "id" (or docs may
    // carry one) — a bare col("id") join condition would be ambiguous.
    val ids = p.select(col("id_a").as("__vp_id"))
      .union(p.select(col("id_b").as("__vp_id"))).distinct()
    val sh = docs
      .join(ids, col(idCol) === col("__vp_id"), "left_semi")
      .select(col(idCol).as("id"),
        shingles(col(textCol), params.shingleSize).as("sh"))
    p
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** EXACT n-gram Jaccard near-dup pairs via a shingle inverted index:
    * explode each doc's distinct shingles, self-join on the shingle
    * key, count common shingles per pair, Jaccard from
    * inter / (|A| + |B| − inter). Keyed by shingle — never all-pairs —
    * so cost is Σ df(shingle)² over shared shingles: exact recall,
    * paid for by join mass on frequent shingles (boilerplate n-grams
    * act like hot LSH buckets with no cap here). This is the TRUTH
    * operator the MinHash pipeline is gated against
    * (x_minhash_neardup's oracle replays it in SQL); the banded path
    * is the 100 TB default.
    *
    * Jaccard is the identical integer ratio verifyPairs computes
    * (array_intersect/array_union sizes), so the two operators'
    * outputs are directly comparable: LSH-confirmed ⊆ exact, bit-for-
    * bit. Docs with null text or fewer than k tokens have no shingles
    * and can never pair (J would be 0/0).
    */
  def exactJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        k: Int, threshold: Double): DataFrame = {
    val sh = Spread.ensure(docs.select(col(idCol).as("id"), col(textCol)))
      .select(col("id"), shingles(col(textCol), k).as("sh"))
      .where(col("sh").isNotNull && size(col("sh")) > 0)
      .select(col("id"), size(col("sh")).as("nsh"),
        explode(col("sh")).as("shingle"))
      // Feeds both join sides — shingle the corpus once, not twice.
      .pipe(Checkpoints.stage)
    val a = sh.select(col("shingle"), col("id").as("id_a"), col("nsh").as("na"))
    val b = sh.select(col("shingle"), col("id").as("id_b"), col("nsh").as("nb"))
    a.join(b, Seq("shingle"))
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Connected components over a near-dup pair set via iterative
    * min-label propagation: every doc gets the smallest id reachable
    * through near-dup edges as its `cluster_id`. Propagation is ONE
    * HOP per round, so convergence takes O(diameter) rounds — size
    * `maxIters` to the longest expected near-dup chain (near-dup
    * clusters are tiny, diameter a handful, so the default 10 with an
    * early-exit check is plenty; adversarially long chains need
    * `maxIters` raised, or graft.operators.ConnectedComponents, whose
    * alternating large-star/small-star contraction converges in
    * O(log² n) rounds). Each round is one keyed aggregation — no
    * cartesian, no driver data beyond the 1-row convergence count.
    */
  def nearDupClusters(docs: DataFrame, idCol: String, pairs: DataFrame,
                      maxIters: Int = 10): DataFrame = {
    // EAGER checkpoint, not persist: persist caches the data but
    // the logical plan still nests one level per round, and driver-side
    // re-analysis grows exponentially (measured 4s → 10s → 38s per
    // iteration). Checkpointing truncates the lineage so every round
    // plans against a flat scan. (Set spark.graft.checkpointDir on a
    // cluster with executor loss — Checkpoints.stage then uses
    // reliable checkpoint(dir) for every round.)
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .pipe(Checkpoints.stage)
    var labels = docs.select(col(idCol).as("id"), col(idCol).as("cluster_id"))
      .pipe(Checkpoints.stage)
    var iter = 0
    var converged = false
    while (iter < maxIters && !converged) {
      // Neighbor minimum: each node adopts min(own, neighbors') label.
      val neighborMin = edges
        .join(labels.select(col("id").as("dst"), col("cluster_id").as("nl")), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("nl")).as("nmin"))
      // LAZY barrier: the changed-count below is the action that
      // materializes the round — one job per round instead of stage +
      // count (Checkpoints.stageLazy doc; labels identical, r22).
      val next = labels
        .join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("cluster_id"), coalesce(col("nmin"), col("cluster_id"))).as("cluster_id"))
        .pipe(Checkpoints.stageLazy)
      val changed = next.join(labels.withColumnRenamed("cluster_id", "prev"), Seq("id"))
        .where(col("cluster_id") =!= col("prev")).count()
      // The convergence count was the old barrier's last reader — free
      // its blocks now rather than letting rounds accumulate until the
      // async ContextCleaner gets to them. (After the count: the old
      // labels are part of `next`'s just-materialized lineage.)
      Checkpoints.release(labels)
      labels = next
      converged = changed == 0
      iter += 1
    }
    Checkpoints.release(edges)
    if (!converged)
      // Propagation is one hop per round: a chain of diameter > maxIters
      // leaves labels partial (some clusters split in two). Loud, not
      // silent — callers with adversarially long chains raise maxIters.
      System.err.println(
        s"[graft] nearDupClusters did NOT converge after $maxIters rounds; " +
          "labels are partial — raise maxIters for long near-dup chains")
    labels
  }

  /** Near-dup dedup end to end: keep ONE survivor (smallest id) per
    * near-dup cluster, everything else unchanged — the operator a
    * training pipeline actually runs, built on candidatePairs +
    * verifyPairs + nearDupClusters.
    */
  def dedupNearDups(docs: DataFrame, idCol: String, textCol: String,
                    params: MinHashParams = MinHashParams(),
                    threshold: Double = 0.8,
                    precomputedBands: Option[DataFrame] = None): DataFrame = {
    // Eager checkpoint, not persist: the pair set is consumed by three
    // lineages (touched ids, propagation edges, loser anti-join) and a
    // checkpoint needs no end-of-life unpersist bookkeeping.
    val pairs = nearDupPairs(docs, idCol, textCol, params, threshold,
        precomputedBands)
      .pipe(Checkpoints.stage)
    // Label propagation only needs the pair-connected subgraph — every
    // untouched doc is trivially its own cluster. The final anti-join is
    // a plain id-keyed join with NO broadcast hint: the loser set is the
    // corpus's duplicate mass (20–60 % of a web crawl), far past any
    // driver/broadcast ceiling at scale — AQE still picks a broadcast
    // join at runtime when the set is genuinely small.
    val touched = pairs.select(col("id_a").as("doc"))
      .union(pairs.select(col("id_b").as("doc"))).distinct()
    val clusters = nearDupClusters(touched, "doc", pairs)
    val losers = clusters.where(col("id") =!= col("cluster_id")).select(col("id"))
    docs.join(losers, docs(idCol) === losers("id"), "left_anti")
  }

  /** [[dedupNearDups]] with QUALITY-AWARE survivorship: per near-dup
    * cluster, keep the doc with the highest `scoreCol` (ties broken
    * toward the smallest id — fully deterministic) instead of the
    * smallest id. This is how production dedup actually picks: when a
    * boilerplate page and its clean twin collide, keep the clean one,
    * whatever its id. Same pipeline as dedupNearDups (bands →
    * candidates → verify → label-prop on the tiny touched subgraph);
    * the winner per cluster is a row_number() pick ordered
    * (score DESC, id ASC) over the clustered docs — the id stays in
    * its NATIVE type (string UUIDs work; an argmax that negates the
    * id would silently drop every clustered doc for non-numeric ids),
    * and the window partitions by cluster_id over the TINY touched
    * subgraph, so no single-task hazard: each partition is one
    * near-dup cluster, a handful of rows. */
  def dedupNearDupsBy(docs: DataFrame, idCol: String, textCol: String,
                      scoreCol: String,
                      params: MinHashParams = MinHashParams(),
                      threshold: Double = 0.8,
                      precomputedBands: Option[DataFrame] = None): DataFrame = {
    val pairs = nearDupPairs(docs, idCol, textCol, params, threshold,
        precomputedBands)
      .pipe(Checkpoints.stage)
    val touched = pairs.select(col("id_a").as("doc"))
      .union(pairs.select(col("id_b").as("doc"))).distinct()
    val clusters = nearDupClusters(touched, "doc", pairs)
    // Cluster frame ≈ touched-doc mass (every doc in a near-dup pair) —
    // corpus-fraction-sized at web dup rates, so no broadcast hint: the
    // id-keyed shuffle join scales with cores and AQE still broadcasts
    // when the touched set is actually small.
    val scored = docs
      .select(col(idCol).as("id"), col(scoreCol).as("__score"))
      .join(clusters, "id")
    val winners = scored
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("cluster_id"))
          .orderBy(col("__score").desc, col("id").asc)))
      .where(col("__rn") === 1)
      .select(col("id"))
    val losers = clusters.select(col("id"))
      .join(winners, Seq("id"), "left_anti")
    docs.join(losers, docs(idCol) === losers("id"), "left_anti")
  }

  /** Exact dedup via content fingerprint: keeps one row per distinct
    * fingerprint (the smallest raw text survives, full-row-hash
    * tiebreak for a deterministic pick among byte-identical texts).
    * Output schema is exactly the input schema.
    *
    * Scale shape: `groupBy(fp).agg(min_by(row, key))` — partial
    * aggregation collapses duplicate groups map-side, so the shuffle
    * carries at most one candidate row per fingerprint per map
    * partition, and a boilerplate document duplicated millions of
    * times reduces to one row per mapper instead of piling its whole
    * group into a single task (the window-function form sorts each
    * group in one task: a hot-key scale hazard).
    */
  def exactByFingerprint(df: DataFrame, textCol: String): DataFrame = {
    val cols = df.columns.toSeq
    val row = struct(cols.map(col): _*)
    // Hash expressions reject MapType children by default
    // (spark.sql.legacy.allowHashOnMapType), so the tiebreak hashes
    // only the hashable columns — a map-bearing schema dedups instead
    // of failing analysis. The pick stays deterministic: ties that
    // differ only inside an unhashed map column break arbitrarily but
    // stably within a run (min_by over equal keys), and the surviving
    // CONTENT is byte-identical text either way.
    val hashable = df.schema.fields
      .filterNot(f => containsMapType(f.dataType)).map(f => col(f.name)).toSeq
    val ord =
      if (hashable.nonEmpty) struct(col(textCol), xxhash64(hashable: _*))
      else struct(col(textCol))
    df.groupBy(TextAnalysis.fingerprint(col(textCol)).as("__fp"))
      .agg(min_by(row, ord).as("__row"))
      .select(cols.map(c => col("__row").getField(c).as(c)): _*)
  }

  private def containsMapType(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: MapType => true
      case ArrayType(e, _) => containsMapType(e)
      case StructType(fs) => fs.exists(f => containsMapType(f.dataType))
      case _ => false
    }
  }

  /** Hashes of every character k-gram of `text` — the winnowing
    * pipeline's first stage. Hash = first 8 hex chars of md5, compared
    * LEXICOGRAPHICALLY: portable across engines (DuckDB replays it
    * verbatim — SQL engines lack xxhash64), uniform enough that the
    * window-min selection is unbiased. Null text → null; text shorter
    * than k → empty array. */
  def kgramHashes(text: Column, k: Int): Column =
    when(text.isNull, lit(null).cast("array<string>"))
      .when(length(text) < k, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), length(text) - (k - 1)),
        i => substring(md5(text.substr(i, lit(k))), 1, 8)))

  /** Winnowing selection over a PRECOMPUTED k-gram hash array: the
    * minimum hash of every window of `w` consecutive k-gram hashes,
    * deduplicated — the fingerprint set of Schleimer, Wilkerson &
    * Aiken's winnowing algorithm (SIGMOD'03, the MOSS fingerprinter).
    * Guarantee: two documents sharing any substring of length
    * ≥ k + w − 1 share at least one fingerprint, while only ~2/(w+1)
    * of all k-gram hashes are kept — the local-similarity complement
    * to MinHash's global Jaccard (MinHash finds mostly-similar DOCS;
    * winnowing finds shared PASSAGES inside otherwise-different docs).
    * Ties keep the value — the output is the fingerprint SET, so the
    * classic rightmost-tie rule changes nothing observable. Fewer
    * than w hashes → one window over all of them (the standard
    * short-document degeneration).
    *
    * Takes hashes, not text, for the same reason minhashSignature
    * does: the hash array is referenced once per window, and an
    * inlined text→hashes expression would be recomputed per window by
    * the lambda (O(len²) md5 calls). Callers materialize the hashes
    * first. */
  def winnowSelect(hs: Column, w: Int): Column =
    when(hs.isNull, lit(null).cast("array<string>"))
      .when(size(hs) === 0, array().cast("array<string>"))
      .otherwise(array_distinct(transform(
        sequence(lit(1), greatest(size(hs) - (w - 1), lit(1))),
        j => array_min(slice(hs, j, lit(w))))))

  /** [[kgramHashes]] + [[winnowSelect]] end to end through the
    * codegen'd `graft_winnow` kernel — one primitive pass per row
    * (identical fingerprints: GraftFunctionsSpec pins the equality,
    * x_kernel_equiv gates it hard-0 through the DuckDB oracle). Adds
    * `outCol` (array<string> fingerprints) to `df`. */
  def winnowed(df: DataFrame, textCol: String, outCol: String,
               k: Int = 8, w: Int = 4): DataFrame =
    Spread.ensure(df).withColumn(outCol,
      call_function("graft_winnow", col(textCol), lit(k), lit(w)))

  /** [[winnowed]] with INT-PACKED fingerprints (`outCol` is
    * array<long>, each element the md5-prefix fingerprint's unsigned
    * 32-bit value): the form every shuffle-heavy consumer should use —
    * a fixed-width 8-byte long halves the exploded inverted-index row
    * vs a 16-byte offset+payload hex string, and packing is an
    * order-preserving bijection on the 8-hex fingerprints
    * (lexicographic hex == unsigned numeric), so the SELECTED
    * fingerprint set is identical to [[winnowed]]'s modulo encoding —
    * `lpad(lower(hex(fp)), 8, '0')` recovers the string form exactly
    * (GraftFunctionsSpec pins it; hex only at oracle boundaries). */
  def winnowedPacked(df: DataFrame, textCol: String, outCol: String,
                     k: Int = 8, w: Int = 4): DataFrame =
    Spread.ensure(df).withColumn(outCol,
      call_function("graft_winnow_packed", col(textCol), lit(k), lit(w)))

  /** Shared-passage document pairs via a winnow-fingerprint inverted
    * index: explode each doc's fingerprint set, self-join keyed on the
    * fingerprint (NEVER all-pairs), count shared fingerprints per
    * pair, keep pairs sharing at least `minShared`. The local-overlap
    * twin of [[exactJaccardPairs]]: that one scores whole-document
    * n-gram Jaccard; this one fires on a single shared passage of
    * ≥ k + w − 1 chars inside otherwise-unrelated documents (license
    * headers, quoted blocks, plagiarized sections).
    *
    * Scale shape: cost is Σ df(fingerprint)² over the index, and
    * fingerprints posted by more than `maxPostings` docs (boilerplate
    * passages — the hot keys) are dropped from pair generation, the
    * same quadratic guard as candidatePairs' maxBucketSize. The
    * exploded index carries INT-PACKED fingerprints
    * ([[winnowedPacked]] — the packing is an order-preserving
    * bijection, so counts are unchanged) because the explode+shuffle
    * of ~2·len/(w+1) fingerprints per doc is this operator's dominant
    * cost at scale and a fixed-width long halves the shuffled row.
    * Each doc's fingerprint set is distinct by construction, so the
    * pair count is exactly |shared fingerprint sets ∩|. Fully
    * value-exact across engines (the x_winnow_pairs oracle replays
    * the entire pipeline in SQL on the hex form). */
  def winnowPairs(docs: DataFrame, idCol: String, textCol: String,
                  k: Int = 8, w: Int = 4, minShared: Int = 2,
                  maxPostings: Int = 1000): DataFrame = {
    val fp = winnowedPacked(docs.select(col(idCol).as("id"), col(textCol)),
        textCol, "fps", k, w)
      .select(col("id"), explode(col("fps")).as("fp"))
      // Feeds the posting-size census + both join sides.
      .pipe(Checkpoints.stage)
    val sized = SkipReport.within(
      SkipReport.census(fp, Seq(col("fp"))), maxPostings)
    val in = fp.join(sized.select(col("fp")), Seq("fp"))
    val a = in.select(col("fp"), col("id").as("id_a"))
    val b = in.select(col("fp"), col("id").as("id_b"))
    a.join(b, Seq("fp"))
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** The fingerprints [[winnowPairs]] SKIPS at the given posting cap,
    * with their document frequencies — the [[SkipReport]] companion
    * for the winnow family. Same fingerprint pass and census
    * expression as the operator; output (fp, block_n). */
  def winnowOversized(docs: DataFrame, idCol: String, textCol: String,
                      k: Int = 8, w: Int = 4,
                      maxPostings: Int = 1000): DataFrame =
    SkipReport.skipped(
      SkipReport.census(
        winnowedPacked(docs.select(col(idCol).as("id"), col(textCol)),
          textCol, "fps", k, w)
          .select(col("id"), explode(col("fps")).as("fp")),
        Seq(col("fp"))),
      maxPostings)

  /** Cross-corpus shared-passage pairs — the DECONTAMINATION detector:
    * every (train doc, eval doc) pair sharing at least `minShared`
    * winnow fingerprints, i.e. training documents that quote, copy, or
    * near-copy an eval/benchmark document. The whole-doc n-gram
    * overlap gate (x_contamination) misses a leaked passage shorter
    * than the doc; winnowing's (k, w) guarantee catches any shared run
    * of ≥ k+w−1 chars, which is exactly the "benchmark question pasted
    * into a web page" shape. Posting cap decided on the train ∪ eval
    * census — the same decision [[winnowPairs]] would make on the
    * union corpus, so results equal the one-corpus operator restricted
    * to cross pairs. Eval is typically benchmark-sized, but nothing
    * assumes it: all joins are fp-keyed, never a broadcast of either
    * corpus. Output: (train_id, eval_id, n_shared). */
  def crossCorpusPairs(train: DataFrame, evalDocs: DataFrame,
                       idCol: String, textCol: String,
                       k: Int = 8, w: Int = 4, minShared: Int = 2,
                       maxPostings: Int = 1000): DataFrame = {
    def fps(df: DataFrame): DataFrame =
      winnowedPacked(df.select(col(idCol).as("id"), col(textCol)),
          textCol, "fps", k, w)
        .select(col("id"), explode(col("fps")).as("fp"))
        .pipe(Checkpoints.stage)
    val tf = fps(train)
    val ef = fps(evalDocs)
    val sized = SkipReport.within(
        SkipReport.census(
          tf.select(col("fp")).unionAll(ef.select(col("fp"))),
          Seq(col("fp"))),
        maxPostings)
      .select(col("fp"))
    tf.join(sized, Seq("fp"))
      .select(col("fp"), col("id").as("train_id"))
      .join(ef.join(sized, Seq("fp"))
        .select(col("fp"), col("id").as("eval_id")), Seq("fp"))
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** The fingerprints [[crossCorpusPairs]] SKIPS at the given posting
    * cap — the [[SkipReport]] companion for the decontamination
    * detector, over the same train ∪ eval union census the operator's
    * cap decision uses. Output (fp, block_n). */
  def crossCorpusOversized(train: DataFrame, evalDocs: DataFrame,
                           idCol: String, textCol: String,
                           k: Int = 8, w: Int = 4,
                           maxPostings: Int = 1000): DataFrame = {
    def fps(df: DataFrame): DataFrame =
      winnowedPacked(df.select(col(idCol).as("id"), col(textCol)),
          textCol, "fps", k, w)
        .select(explode(col("fps")).as("fp"))
    SkipReport.skipped(
      SkipReport.census(fps(train).unionAll(fps(evalDocs)), Seq(col("fp"))),
      maxPostings)
  }

  /** SURGICAL decontamination: cut the leaked passage OUT of a flagged
    * training doc instead of dropping the whole doc (the fix
    * deduplication literature reaches for when whole-doc removal costs
    * too much good text — remove the repeated span, keep the rest).
    * Two stages with different jobs:
    *   1. DETECT — [[crossCorpusPairs]] (winnow fingerprints, union
    *      cap, minShared) flags (train, eval) pairs exactly as
    *      [[decontaminate]] would;
    *   2. LOCALIZE — for flagged docs only, every train k-gram
    *      position whose md5-prefix hash appears among the MATCHED
    *      eval docs' k-grams marks chars [pos, pos+k) leaked; a char
    *      survives iff no leaked k-gram covers it. All k-grams here,
    *      not the winnowed subset — fingerprints are a sample and
    *      would leave most of the quoted span in place.
    * Both stages are keyed joins (pair-scoped: the k-gram join
    * touches flagged train docs × their matched eval docs only); the
    * per-char rebuild is O(len·|leaked positions|) per FLAGGED doc —
    * flagged mass is the contamination rate, typically ≪ 1% of the
    * corpus, and the construction is replayed char-exact by the
    * x_excise oracle. Returns one row per flagged doc: clean_text
    * with the spans removed plus the cut census. */
  def excisePassages(train: DataFrame, evalDocs: DataFrame,
                     idCol: String, textCol: String,
                     k: Int = 20, w: Int = 8, minShared: Int = 2,
                     maxPostings: Int = 1000): DataFrame = {
    val flagged = crossCorpusPairs(train, evalDocs, idCol, textCol,
        k, w, minShared, maxPostings)
      .select(col("train_id"), col("eval_id"))
      .pipe(Checkpoints.stage)
    val flaggedTrain = train
      .join(flagged.select(col("train_id").as(idCol)).distinct(),
        Seq(idCol), "left_semi")
      .pipe(Checkpoints.stage)
    // Train k-gram positions (0-based) of flagged docs only.
    val tpos = flaggedTrain
      .select(col(idCol), posexplode(kgramHashes(col(textCol), k)))
      .toDF(idCol, "__pos", "__h")
    // Matched eval docs' k-gram hash sets, pair-scoped via the flag
    // frame — never an all-eval join.
    val evalH = evalDocs
      .select(col(idCol).as("eval_id"),
        explode(kgramHashes(col(textCol), k)).as("__h"))
      .distinct()
    val leaked = tpos
      .join(flagged.withColumnRenamed("train_id", idCol), Seq(idCol))
      .join(evalH, Seq("eval_id", "__h"), "left_semi")
      .select(col(idCol), col("__pos")).distinct()
    val leakedSets = leaked.groupBy(col(idCol))
      .agg(sort_array(collect_list(col("__pos"))).as("__ps"),
        count(lit(1)).as("n_leaked_grams"))
    // Char c (1-based) is cut iff some leaked k-gram start p (0-based)
    // lies in [c-k, c-1]; survivors re-join in order.
    flaggedTrain.join(leakedSets, Seq(idCol))
      .withColumn("clean_text",
        array_join(
          filter(
            transform(sequence(lit(1), length(col(textCol))),
              c => when(exists(col("__ps"), p => p >= c - k && p <= c - 1),
                  lit(null).cast("string"))
                .otherwise(col(textCol).substr(c, lit(1)))),
            x => x.isNotNull),
          ""))
      .select(col(idCol),
        length(col(textCol)).cast("long").as("orig_len"),
        length(col("clean_text")).cast("long").as("clean_len"),
        col("n_leaked_grams"), col("clean_text"))
      .orderBy(col(idCol))
  }

  /** Drop every training doc flagged by [[crossCorpusPairs]] — the
    * composed "remove eval contamination from pretraining data" step.
    * The anti-join is id-keyed; pass a precomputed (staged) pair frame
    * when the caller also wants the pair report, so detection runs
    * once. */
  def decontaminate(train: DataFrame, pairs: DataFrame,
                    idCol: String): DataFrame =
    train.join(pairs.select(col("train_id").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** Directional CONTAINMENT scored over an ARBITRARY candidate-pair
    * frame — the subset/quotation signal Jaccard misses (a short doc
    * fully quoted inside a long one has |A∩B|/|A| = 1 while its
    * Jaccard stays small). `pairs` is any frame with `id_a`/`id_b`
    * columns — [[winnowPairs]] output, MinHash candidates, or an
    * explicit list; every other pair column (n_shared, …) rides
    * through untouched, with `inter`, `n_a`, `n_b`,
    * `contain_a_in_b` (= |A∩B|/|A|), `contain_b_in_a` appended.
    *
    * Scale shape: two keyed equi-joins of the pair list against the
    * per-doc distinct-token sets — cost O(|docs| + |pairs|) through
    * the shuffle, never a cartesian; detection (the candidate
    * generator) and scoring stay decoupled, so the same scorer runs
    * on any blocking scheme's output. */
  def containmentOn(docs: DataFrame, pairs: DataFrame,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val tok = docs.select(col(idCol).as("__cid"),
      array_distinct(split(col(textCol), " ")).as("__ct"))
    val scored = pairs
      .join(tok.select(col("__cid").as("id_a"), col("__ct").as("__t_a")), Seq("id_a"))
      .join(tok.select(col("__cid").as("id_b"), col("__ct").as("__t_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("__t_a"), col("__t_b"))).cast("long"))
      .withColumn("n_a", size(col("__t_a")).cast("long"))
      .withColumn("n_b", size(col("__t_b")).cast("long"))
      .withColumn("contain_a_in_b", col("inter").cast("double") / col("n_a").cast("double"))
      .withColumn("contain_b_in_a", col("inter").cast("double") / col("n_b").cast("double"))
    scored.select(pairs.columns.map(col) ++ Seq(col("inter"), col("n_a"),
      col("n_b"), col("contain_a_in_b"), col("contain_b_in_a")): _*)
  }

  /** SimHash near-dup pairs via band blocking (Manku, Jain &
    * Sarma 2007, "Detecting near-duplicates for web crawling"): the
    * 64-bit [[simhash]] splits into FOUR 16-bit bands; two hashes with
    * Hamming distance ≤ 3 must agree exactly on ≥ 1 band (pigeonhole
    * — 3 differing bits can dirty at most 3 of the 4 bands), so the
    * band equi-join is a COMPLETE candidate generator for the
    * default radius, never a recall heuristic. 16-bit bands give
    * 65 536 values per band — expected bucket size n/65 536, so the
    * default 1000 cap saturates only past ~65 M docs per partition-
    * able corpus slice (an 8-bit band space saturates by ~256 k docs,
    * silently voiding the completeness guarantee). Candidates verify
    * with one bit_count(xor) — no text re-read. The same hot-bucket
    * cap as the MinHash path bounds a degenerate band value (e.g. an
    * all-zeros band from short docs); capped buckets are NEVER silent:
    * [[simhashOversized]] reports exactly the (band, value) buckets
    * the detector skipped, with sizes. Within uncapped buckets the
    * pigeonhole guarantee is exact, which x_simhash_dedup's truth
    * pass checks over the real corpus (all-pairs over DISTINCT hash
    * values — gate-scale only; production trusts the theorem).
    *
    * Scale shape: banding is per-row codegen; the join is keyed on
    * (band, value) with mass Σ bucket² capped; verification is one
    * integer op per candidate. The cheapest near-dup detector in the
    * family — one 8-byte hash per doc through the shuffle, vs
    * MinHash's 16 band hashes or winnowing's fingerprint set. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3,
                   maxBucketSize: Long = 1000L): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4-band pigeonhole covers hamming <= 3, got $maxHamming")
    val bands = Checkpoints.stage(simhashBands(docs, idCol, textCol))
    val sized = SkipReport.within(
        SkipReport.census(bands, Seq(col("band_id"), col("band_val"))),
        maxBucketSize)
      .select(col("band_id"), col("band_val"))
    val inB = bands.join(sized, Seq("band_id", "band_val"))
    inB.select(col("band_id"), col("band_val"),
        col("id").as("id_a"), col("sh").as("sh_a"))
      .join(inB.select(col("band_id"), col("band_val"),
        col("id").as("id_b"), col("sh").as("sh_b")),
        Seq("band_id", "band_val"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sh_a"), col("sh_b"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long"))
      .where(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** The per-doc (band_id, band_val) table behind [[simhashPairs]]:
    * four 16-bit bands of the 64-bit [[simhash]], one row per
    * (doc, band). Per-row codegen, no shuffle. */
  private def simhashBands(docs: DataFrame, idCol: String,
                           textCol: String): DataFrame =
    docs.where(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        simhashIn(col(textCol)).as("sh"))
      .select(col("id"), col("sh"),
        explode(array((0 until 4).map(j =>
          struct(lit(j).as("band_id"),
            shiftright(col("sh"), 16 * j).bitwiseAND(lit(65535L))
              .as("band_val"))): _*)).as("b"))
      .select(col("id"), col("sh"), col("b.band_id").as("band_id"),
        col("b.band_val").as("band_val"))

  /** The (band_id, band_val) buckets [[simhashPairs]] would SKIP at the
    * given cap, with their sizes — the saturation report that keeps a
    * capped bucket from being a silent recall hole (the completeness
    * guarantee is per-pair "≥ 1 uncapped shared band"; when the band
    * space saturates, this table is how a pipeline notices). Same
    * shape as [[graft.ext.Similarity.oversizedBlocks]]. */
  def simhashOversized(docs: DataFrame, idCol: String, textCol: String,
                       maxBucketSize: Long = 1000L): DataFrame =
    SkipReport.skipped(
      SkipReport.census(simhashBands(docs, idCol, textCol),
        Seq(col("band_id"), col("band_val"))),
      maxBucketSize)

  /** SimHash dedup end to end: one smallest-id survivor per connected
    * component of the [[simhashPairs]] graph — the dedupNearDups
    * survivor machinery on the cheapest detector. */
  def simhashDedup(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame =
    simhashDedupFromPairs(docs, idCol,
      simhashPairs(docs, idCol, textCol, maxHamming))

  /** [[simhashDedup]] from a PRECOMPUTED (id_a, id_b, …) pair frame of
    * the same corpus — a pipeline that already ran [[simhashPairs]]
    * for another consumer (a verification gate, a pair report) ends
    * with the survivor anti-join WITHOUT paying a second detector
    * pass (the buildFromBands / appendFromPostings precedent). */
  def simhashDedupFromPairs(docs: DataFrame, idCol: String,
                            pairFrame: DataFrame): DataFrame = {
    val pairs = pairFrame.select(col("id_a"), col("id_b"))
      .pipe(Checkpoints.stage)
    val touched = pairs.select(col("id_a").as("doc"))
      .union(pairs.select(col("id_b").as("doc"))).distinct()
    val clusters = nearDupClusters(touched, "doc", pairs)
    val losers = clusters.where(col("id") =!= col("cluster_id")).select(col("id"))
    // No broadcast hint — loser set is dup-mass-sized (see dedupNearDups).
    docs.join(losers, docs(idCol) === losers("id"), "left_anti")
  }

  /** 64-bit SimHash of the whitespace tokens: per bit, majority vote of
    * the token hashes' bit values (+1/−1). Near-dups differ in few bits
    * (compare via bit_count(a ^ b) ≤ r). 64 bits is the width Manku et
    * al. (WWW'07) use for web-scale near-dup detection — a 32-bit
    * fingerprint cut into 8-bit bands saturates the band space (256
    * values/band) by ~10⁶ docs, collapsing every banded bucket into the
    * size cap. Bits accumulate via bitwiseOR (masks are distinct powers
    * of two, and OR sidesteps the bit-63 two's-complement overflow a
    * `+` would rely on).
    */
  def simhash(text: Column): Column = {
    val hs = transform(split(text, " "), t => xxhash64(t))
    val masks = array((0 until 64).map(i => lit(1L << i)): _*)
    aggregate(
      masks,
      lit(0L),
      (acc, m) => {
        val votes = aggregate(hs, lit(0L),
          (a, h) => a + when(h.bitwiseAND(m) =!= 0, 1L).otherwise(-1L))
        acc.bitwiseOR(when(votes > 0, m).otherwise(0L))
      })
  }

  /** [[simhash]] through the codegen'd `graft_simhash` kernel: ONE
    * token pass, where the HOF form re-evaluates the split+hash array
    * once per mask bit, 64× per row (bit-identical — pinned in
    * DedupSpec). */
  def simhashIn(text: Column): Column = call_function("graft_simhash", text)
}
