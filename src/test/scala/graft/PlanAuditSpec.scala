package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan pins for the join-heavy registry queries — the shape
  * that must survive at 100 TB, asserted at fixture scale (plans are
  * size-independent here: the broadcast side is bounded by its FILTER,
  * not the scale factor).
  */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("x_shipping_priority: broadcast dim, pushed date filters, pruned lineitem scan") {
    val plan = SparkEntry.queries("x_shipping_priority")(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"filtered customer side must broadcast:\n$plan")
    assert(plan.contains("LessThan(o_orderdate"),
      s"order-date filter must reach the orders scan:\n$plan")
    assert(plan.contains("GreaterThan(l_shipdate"),
      s"ship-date filter must reach the lineitem scan:\n$plan")
    // Column pruning: the query touches 4 of lineitem's 11 columns;
    // untouched ones must not appear anywhere in the physical plan.
    Seq("l_tax", "l_quantity", "l_returnflag").foreach { c =>
      assert(!plan.contains(c), s"lineitem scan must prune $c:\n$plan")
    }
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-10 must fuse into TakeOrderedAndProject, not a global sort:\n$plan")
  }

  test("x_table_diff: full-outer reconciliation is a sort-merge join, keys pushed non-null-free") {
    val plan = SparkEntry.queries("x_table_diff")(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin") && plan.contains("FullOuter"),
      s"symmetric diff of two big sides must sort-merge full-outer:\n$plan")
  }

  test("salted join: shuffle join keyed on (key, salt), never broadcast of the salted side") {
    import org.apache.spark.sql.functions._
    // Salting exists for the dim that does NOT fit a broadcast — pin
    // the shape under that regime (threshold off), scoped and restored.
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(thresholdKey)
    spark.conf.set(thresholdKey, "-1")
    try {
      val li = Tables.lineitem(spark, TestSpark.sf0001)
        .select(col("l_orderkey").as("okey"), col("l_quantity"))
      val o = Tables.orders(spark, TestSpark.sf0001)
        .select(col("o_orderkey").as("okey"), col("o_orderstatus"))
      val plan = graft.ext.Skew.saltedJoin(li, o, "okey", salt = 8)
        .queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"salted join must shuffle on (key, salt):\n$plan")
      assert(!plan.contains("BroadcastHashJoin"),
        s"the 8x-replicated salted side must not broadcast:\n$plan")
      // Both join key lists carry the salt — the hot key really is
      // spread over `salt` shuffle partitions.
      assert(plan.linesIterator.exists(l =>
        (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")) &&
          l.contains("__salt") && l.contains("okey")),
        s"join keys must be (okey, __salt):\n$plan")
    } finally prev match {
      case Some(v) => spark.conf.set(thresholdKey, v)
      case None => spark.conf.unset(thresholdKey)
    }
  }

  test("dedup band join: equi-join keyed on (band_id, band_hash), no quadratic shape") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val plan = graft.ext.Dedup.candidatePairs(docs, "doc_id", "text",
        graft.ext.Dedup.MinHashParams())
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"band join must never be quadratic:\n$plan")
    // The candidate join is keyed on the bucket — cost sum(bucket^2),
    // the contract at Dedup.scala:13-21.
    assert(plan.linesIterator.exists(l =>
      (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin")) &&
        l.contains("band_id") && l.contains("band_hash")),
      s"candidate join must be keyed on (band_id, band_hash):\n$plan")
  }

  test("as-of join: one exchange, one sort, one window — no self-join explosion") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, TestSpark.sf0001)
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val errors = ev.where(col("event_type") === "error")
      .select(col("user_id"), col("ts"), col("event_id").as("err_id"))
    val plan = graft.operators.AsOfJoin.asOfBackward(
        clicks, errors, "user_id", "ts", Seq("err_id"), "prev_")
      .queryExecution.executedPlan.toString
    def occurrences(needle: String) =
      plan.linesIterator.count(_.contains(needle))
    // The tagged-union + window shape: no join operator of any kind...
    Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
      "CartesianProduct", "BroadcastNestedLoop").foreach { j =>
      assert(!plan.contains(j), s"as-of must not plan a $j:\n$plan")
    }
    // ...exactly one Window pass, fed by exactly one shuffle Exchange
    // and one Sort on (key, ts, side).
    assert(occurrences("Window") == 1, s"expected exactly one Window:\n$plan")
    assert(occurrences("Exchange") == 1,
      s"expected exactly one Exchange (the key shuffle):\n$plan")
    assert(occurrences("Sort ") == 1,
      s"expected exactly one Sort (the window order):\n$plan")
  }

  test("DedupIndex.probeNewBatch: left_semi bucket restriction BELOW the sizing agg, no broadcast hint") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val params = graft.ext.Dedup.MinHashParams()
    val table = "graft_plan_audit_probe_idx"
    graft.ext.DedupIndex.build(
      docs.where(pmod(col("doc_id"), lit(5)) =!= 4), "doc_id", "text", table, params)
    // identity stager: the pin needs the UNSTAGED logical plan — the
    // production checkpoints hide the semi-join behind LogicalRDDs.
    val probe = graft.ext.DedupIndex.probeNewBatch(spark, table,
      docs.where(pmod(col("doc_id"), lit(5)) === 4), "doc_id", "text", params,
      stager = identity)
    val opt = probe.queryExecution.optimizedPlan
    // 1) The index is cut to touched buckets with a left_semi join.
    val semis = opt.collect { case j: Join if j.joinType == LeftSemi => j }
    assert(semis.nonEmpty, s"no left_semi bucket restriction in:\n$opt")
    // 2) Every bucket-sizing aggregate sits ABOVE the restriction: the
    //    probe sizes only touched buckets, never the whole index.
    val sizing = opt.collect {
      case a: Aggregate if a.aggregateExpressions.exists(_.name == graft.ext.SkipReport.CountCol) => a
    }
    assert(sizing.nonEmpty, s"bucket-sizing aggregate missing from:\n$opt")
    sizing.foreach { a =>
      assert(a.exists { case j: Join => j.joinType == LeftSemi; case _ => false },
        s"sizing aggregate not fed by the left_semi restriction:\n$opt")
    }
    // 3) ONE groupBy on the bucket key sizes the buckets and collects
    //    their members; pairs come from exploding those lists, so no
    //    inner join is left — only the left_semi restriction and the
    //    tombstone left_anti (absent here: nothing is tombstoned).
    val keyed = opt.collect {
      case a: Aggregate if a.groupingExpressions.flatMap(_.references.map(_.name))
          .toSet == Set("band_id", "band_hash") => a
    }
    assert(keyed.size == 1,
      s"expected exactly one Aggregate keyed on (band_id, band_hash), got ${keyed.size}:\n$opt")
    val joinTypes = opt.collect { case j: Join => j.joinType }
    assert(joinTypes.forall(t => t == LeftSemi || t == LeftAnti),
      s"probeNewBatch must plan no inner join, got ${joinTypes.mkString(", ")}:\n$opt")
    // 4) No broadcast HINT on any join — a huge shard must never be
    //    forced through the driver; AQE may still pick broadcast at
    //    runtime, which is the intended adaptivity.
    opt.collect { case j: Join => j.hint }.foreach { h =>
      assert(h.leftHint.isEmpty && h.rightHint.isEmpty,
        s"probeNewBatch must not carry join hints:\n$opt")
    }
  }

  test("WinnowIndex.probeNewBatch: left_semi posting restriction below the sizing agg, no hints") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val table = "graft_plan_audit_winnow_idx"
    graft.ext.WinnowIndex.build(
      docs.where(pmod(col("doc_id"), lit(5)) =!= 4), "doc_id", "text", table)
    val probe = graft.ext.WinnowIndex.probeNewBatch(spark, table,
      docs.where(pmod(col("doc_id"), lit(5)) === 4), "doc_id", "text",
      stager = identity)
    val opt = probe.queryExecution.optimizedPlan
    val semis = opt.collect { case j: Join if j.joinType == LeftSemi => j }
    assert(semis.nonEmpty, s"no left_semi posting restriction in:\n$opt")
    val sizing = opt.collect {
      case a: Aggregate if a.aggregateExpressions.exists(_.name == graft.ext.SkipReport.CountCol) => a
    }
    assert(sizing.nonEmpty, s"posting-sizing aggregate missing from:\n$opt")
    sizing.foreach { a =>
      assert(a.exists { case j: Join => j.joinType == LeftSemi; case _ => false },
        s"sizing aggregate not fed by the left_semi restriction:\n$opt")
    }
    // ONE groupBy on `fp` sizes the postings and collects their
    // members (the DedupIndex census shape): no inner join is left —
    // only the left_semi restriction and the tombstone left_anti.
    val keyed = opt.collect {
      case a: Aggregate if a.groupingExpressions.flatMap(_.references.map(_.name))
          .toSet == Set("fp") => a
    }
    assert(keyed.size == 1 &&
      keyed.head.aggregateExpressions.exists(_.name == graft.ext.SkipReport.CountCol),
      s"expected exactly one Aggregate keyed on fp carrying the census count, got ${keyed.size}:\n$opt")
    val joinTypes = opt.collect { case j: Join => j.joinType }
    assert(joinTypes.forall(t => t == LeftSemi || t == LeftAnti),
      s"probeNewBatch must plan no inner join, got ${joinTypes.mkString(", ")}:\n$opt")
    opt.collect { case j: Join => j.hint }.foreach { h =>
      assert(h.leftHint.isEmpty && h.rightHint.isEmpty,
        s"probeNewBatch must not carry join hints:\n$opt")
    }
  }

  test("IvfIndex.probeNewBatch: left_semi cell restriction, cluster-keyed pair join, no hints") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
    import graft.streaming.StreamOps
    val e = Tables.embeddings(spark, TestSpark.sf0001)
      .select(col("vec_id"), col("embedding"))
    val cents = graft.ext.Similarity.ivfCentroids(e, "vec_id", "embedding", 8)
    val table = "graft_plan_audit_ivf_stream_idx"
    graft.io.Writer.emptyPartitionedBucketedTable(spark, table,
      StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", e.schema("embedding").dataType),
        StructField("cluster_id", IntegerType),
        StructField(StreamOps.BatchTag, LongType))),
      StreamOps.BatchTag, "cluster_id", 16)
    try {
      val assignedAll = graft.ext.Similarity
        .ivfAssign(e, "vec_id", "embedding", cents)
        .select(col("vec_id"), col("embedding"), col("cluster_id"))
      StreamOps.writeBatchToSink(spark, table,
        assignedAll.where(pmod(col("vec_id"), lit(5)) =!= 4), 0L)
      // identity stager: the pin needs the UNSTAGED logical plan (same
      // rationale as the dedup/winnow probe pins above).
      val probe = graft.ext.IvfIndex.probeNewBatch(spark, table,
        assignedAll.where(pmod(col("vec_id"), lit(5)) === 4),
        "vec_id", "embedding", 0.9, stager = identity)
      val opt = probe.queryExecution.optimizedPlan
      // 1) The index contact is a left_semi cut to the batch's cells.
      val semis = opt.collect { case j: Join if j.joinType == LeftSemi => j }
      assert(semis.nonEmpty, s"no left_semi cell restriction in:\n$opt")
      // 2) The pair join stays keyed on cluster_id — never
      //    cartesian/nested-loop (Σ cell², not n²).
      val phys = probe.queryExecution.executedPlan.toString
      assert(!phys.contains("CartesianProduct") && !phys.contains("BroadcastNestedLoop"),
        s"pair join must stay cell-keyed:\n$phys")
      // 3) No broadcast hints — AQE picks the strategy at runtime.
      opt.collect { case j: Join => j.hint }.foreach { h =>
        assert(h.leftHint.isEmpty && h.rightHint.isEmpty,
          s"probeNewBatch must not carry join hints:\n$opt")
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS `$table`")
  }

  test("winnowPairs: fp-keyed equi-join, posting cap filtered below the pair join") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val df = graft.ext.Dedup.winnowPairs(docs, "doc_id", "text", maxPostings = 777)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"winnowPairs plans a quadratic join:\n$plan")
    // The pair join is keyed on the packed fingerprint.
    assert(plan.linesIterator.exists(l =>
      (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin")) && l.contains("fp")),
      s"pair join must be keyed on fp:\n$plan")
    // The df <= maxPostings cap is applied BELOW the pair join (hot
    // fingerprints never reach pair generation).
    val opt = df.queryExecution.optimizedPlan
    val joins = opt.collect { case j: Join => j }
    assert(joins.nonEmpty, s"no join in winnowPairs plan:\n$opt")
    val capBelowJoin = joins.exists(_.exists {
      case f: Filter => f.condition.toString.contains("777")
      case _ => false
    })
    assert(capBelowJoin, s"posting cap (777) not below the pair join:\n$opt")
  }

  test("x_asof_join and x_range_join stay free of cartesian/nested-loop shapes") {
    Seq("x_asof_join", "x_range_join").foreach { q =>
      val plan = SparkEntry.queries(q)(spark, TestSpark.sf0001)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
        s"$q plans a quadratic join:\n$plan")
    }
  }

  // The quantized-IVF probe's whole claim is a SCAN contract — the
  // int8 pre-rank reads only the tinyint column, the float re-rank
  // reaches the embedding column through a pushed id shortlist — so
  // the two pins live here with the other plan audits (value
  // equivalence stays in IvfIndexSpec). Shared index for both pins.
  private lazy val ivfAuditTable: String = {
    import org.apache.spark.sql.functions._
    val t = "plan_audit_ivf_idx"
    val corpus = Tables.embeddings(spark, TestSpark.sf0001)
      .where(col("vec_id") =!= 0).select(col("vec_id"), col("embedding"))
    graft.ext.IvfIndex.build(corpus, "vec_id", "embedding", t, k = 8, iters = 2)
    t
  }
  private lazy val ivfAuditQuery: Seq[Float] =
    Tables.embeddings(spark, TestSpark.sf0001)
      .where(org.apache.spark.sql.functions.col("vec_id") === 0)
      .select("embedding").first().getSeq[Float](0)

  test("quantized IVF pre-rank: scans ONLY qv — never the float embedding column") {
    val plan = graft.ext.IvfIndex.quantizedPreRank(spark, ivfAuditTable,
        "vec_id", ivfAuditQuery, nProbe = 2, shortlist = 40)
      .queryExecution.executedPlan.toString
    val scans = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(scans.nonEmpty && scans.forall(l =>
      l.contains("qv") && !l.contains("embedding")),
      s"pre-rank must scan qv only (the 4x byte cut):\n$plan")
    assert(plan.contains("PartitionFilters") && plan.contains("cluster_id"),
      s"pre-rank must stay partition-pruned to the probed clusters:\n$plan")
  }

  test("quantized IVF re-rank: float column reached via pushed In(vec_id) shortlist, partition-pruned") {
    val plan = graft.ext.IvfIndex.probeTopKQuantized(spark, ivfAuditTable,
        "vec_id", "embedding", ivfAuditQuery, 10, nProbe = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(vec_id") &&
      plan.contains("PartitionFilters"),
      s"re-rank must push the shortlist id filter into the scan:\n$plan")
  }

  test("x_curation_pipeline: dedup survivor rides WindowGroupLimit, no cartesian anywhere") {
    // Audited with the stage barrier replaced by identity: the
    // production query checkpoints the survivor set (it feeds two
    // consumers), which hides the window inside the checkpoint job —
    // the un-staged plan is the one whose SHAPE must hold at scale.
    val plan = CorpusQueries.curationPipeline(
        spark, TestSpark.sf0001, stager = df => df)
      .queryExecution.executedPlan.toString
    // The rn=1 survivor filter must trigger WindowGroupLimit so each
    // map task keeps one row per fingerprint BEFORE the shuffle — at
    // corpus scale the exchange carries O(distinct fingerprints), not
    // the raw corpus.
    assert(plan.contains("WindowGroupLimit"),
      s"fingerprint-survivor must use WindowGroupLimit:\n$plan")
    assert(!plan.contains("Cartesian") && !plan.contains("BroadcastNestedLoop"),
      s"curation pipeline must stay equi-keyed:\n$plan")
  }

  test("x_group_budget: keyed prefix sum, no Window node (the one-task-per-group funnel)") {
    // "At most B tokens per SOURCE" is the few-groups/huge-rows shape:
    // Window.partitionBy(source) would route each source through ONE
    // task. The keyed-prefix-sum rebuild must keep WindowExec out.
    val plan = SparkEntry.queries("x_group_budget")(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"tokenBudgetPerGroup must not plan a Window:\n$plan")
  }

  test("x_train_order: distributed rank, no Window node (the global-order funnel)") {
    // A row_number() OVER (ORDER BY …) global window serializes the
    // whole corpus through one task; trainOrder's rank must come from
    // PrefixSum's range-partition + offsets construction instead.
    val plan = SparkEntry.queries("x_train_order")(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"trainOrder must not plan a Window:\n$plan")
  }

  test("x_curriculum: score-led distributed rank, no Window node") {
    // Same funnel pin as x_train_order with the difficulty score as
    // the leading sort key — the rank must stay PrefixSum-shaped.
    val plan = SparkEntry.queries("x_curriculum")(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"curriculumOrder must not plan a Window:\n$plan")
  }

  test("per-row transforms (FIM / NFC / BPE encode) plan no Exchange: the tokenize/rewrite map is shuffle-free") {
    import org.apache.spark.sql.functions._
    val docs = spark.range(0, 100, 1, 4)
      .selectExpr("id AS doc_id", "concat('text number ', id) AS text")
    // The OPERATOR plans (the registered queries add orderBy/agg for
    // the oracle, which legitimately exchange) — the claim "shuffle-
    // free at 100 TB" belongs to the transforms themselves.
    val fim = graft.ext.Packing.fimTransform(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!fim.contains("Exchange"), s"fimTransform must not shuffle:\n$fim")
    val nfc = graft.ext.TextAnalysis.nfcNormalize(docs, "text", "n")
      .queryExecution.executedPlan.toString
    assert(!nfc.contains("Exchange"), s"nfcNormalize must not shuffle:\n$nfc")
    val bpe = graft.ext.TextAnalysis.bpeEncode(docs, "text",
        Seq("t e", "te x"), "toks")
      .queryExecution.executedPlan.toString
    assert(!bpe.contains("Exchange"), s"bpeEncode must not shuffle:\n$bpe")
    // And the kernels stay inside whole-stage codegen — the starred
    // `*(n)` stage marker on the Project carrying the kernel call (a
    // CodegenFallback expression would strip the star).
    assert(bpe.linesIterator.exists(l =>
        l.contains("graftbpeencode") && l.trim.startsWith("*(")),
      s"bpeEncode's kernel Project must be codegen-starred:\n$bpe")
    assert(nfc.linesIterator.exists(l =>
        l.contains("graftnfc") && l.trim.startsWith("*(")),
      s"nfcNormalize's kernel Project must be codegen-starred:\n$nfc")
  }

  test("gopherRules: shuffle-free per-row census — no Exchange in the pre-sort plan") {
    // The orderBy is presentation; audit the plan BELOW it (the census
    // itself must be one codegen projection over the scan).
    val plan = graft.ext.TextAnalysis.gopherRules(
        graft.Tables.documents(spark, TestSpark.sf0001), "doc_id", "text")
      .queryExecution.executedPlan.toString
    val body = plan.split("\n").dropWhile(l => !l.contains("Project")).mkString("\n")
    assert(!body.contains("Exchange hashpartitioning"),
      s"per-row rule census must not shuffle below its projection:\n$plan")
    assert(!plan.contains("Window("), s"no window machinery:\n$plan")
  }

  test("Pq.probeBatch: per-query top-k rides WindowGroupLimit, partitioned by query") {
    val docs = spark.range(0, 200).selectExpr("id as vec_id",
      "transform(sequence(1, 8), i -> cast(pmod(hash(id, i), 100) as float) / 100.0) as embedding")
    val books = graft.ext.Pq.trainCodebooks(docs, "vec_id", "embedding", m = 2, k = 4, iters = 1)
    val enc = graft.ext.Pq.encodePacked(docs, "vec_id", "embedding", books)
    val qs = Seq(1L -> Seq(1f, 0f, 0f, 1f, 1f, 0f, 0f, 1f),
      2L -> Seq(0f, 1f, 1f, 0f, 0f, 1f, 1f, 0f))
    val plan = graft.ext.Pq.probeBatch(enc, "vec_id", qs, books, topK = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"per-query top-k must prune partially pre-shuffle:\n$plan")
    assert(plan.contains("query_id"),
      s"window must partition by query_id:\n$plan")
  }

  test("nbClassify scoring: word-keyed join against the grid — no corpus-sized nested loop") {
    val plan = SparkEntry.queries("x_nb_classify")(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString
    // The only nested-loop inputs are the k-row class table (grid
    // build) and the 1-row default; the doc-word scoring join itself
    // must be a keyed hash/sort join on the word column.
    assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin")
        || plan.contains("BroadcastHashJoin"),
      s"scoring must join keyed on the word:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"no cartesian anywhere in the classifier:\n$plan")
  }

  test("dedup enders: survivor anti-join is NEVER a forced broadcast of a corpus-derived frame") {
    import org.apache.spark.sql.functions._
    import graft.ext.{Dedup, Similarity}
    // The loser set is the corpus's duplicate mass (20-60% of a web
    // crawl) — a broadcast() hint on it is a driver-fatal scale bug.
    // With the auto-broadcast threshold OFF, any BroadcastExchange
    // left in the plan can only come from an explicit hint; corpus-
    // derived frames must show none. (AQE still broadcasts small sets
    // at runtime in production — that is the point of dropping the
    // hint: the decision moves to statistics.)
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(thresholdKey)
    spark.conf.set(thresholdKey, "-1")
    try {
      val docs = Tables.documents(spark, TestSpark.sf0001).limit(120)
      val vecs = Tables.embeddings(spark, TestSpark.sf0001).limit(120)
      val noHint = Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "dedupNearDups" -> (() => Dedup.dedupNearDups(docs, "doc_id", "text")),
        "dedupNearDupsBy" -> (() => Dedup.dedupNearDupsBy(
          docs.withColumn("q", length(col("text"))), "doc_id", "text", "q")),
        "simhashDedup" -> (() => Dedup.simhashDedup(docs, "doc_id", "text")),
        "dedupEmbeddings" -> (() => Similarity.dedupEmbeddings(
          vecs, "vec_id", "embedding", threshold = 0.95)))
      noHint.foreach { case (name, mk) =>
        val plan = mk().queryExecution.executedPlan.toString
        assert(!plan.contains("BroadcastExchange"),
          s"$name: corpus-derived frame forced into a broadcast:\n$plan")
      }
      // semanticDedup legitimately broadcasts the k-row CENTROID frame
      // (a hint on a constant-size local table); the loser anti-join
      // itself must still be hint-free.
      val cents = Seq(Seq(1f, 0f, 0f, 0f), Seq(0f, 1f, 0f, 0f))
      val semPlan = Similarity.semanticDedup(
          vecs.select(col("vec_id"),
            expr("transform(slice(embedding, 1, 4), x -> cast(x as float))")
              .as("embedding")),
          "vec_id", "embedding", cents, threshold = 0.95)
        .queryExecution.executedPlan.toString
      assert(!semPlan.linesIterator.exists(l =>
          l.contains("BroadcastHashJoin") && l.contains("LeftAnti")),
        s"semanticDedup: loser anti-join must not be a forced broadcast:\n$semPlan")
      // (the centroid lineage appears once per consumer, so count the
      // JOINS, not the exchanges: every broadcast join must be the
      // __cell-keyed centroid attach)
      assert(semPlan.linesIterator.filter(_.contains("BroadcastHashJoin"))
          .forall(_.contains("__cell")),
        s"semanticDedup: only the k-row centroid frame may broadcast:\n$semPlan")
    } finally prev match {
      case Some(v) => spark.conf.set(thresholdKey, v)
      case None => spark.conf.unset(thresholdKey)
    }
  }
}
