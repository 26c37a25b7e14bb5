package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** The index ops census (IndexOps.census): the when-to-compact report.
  * Mid-lifecycle state must surface as nonzero backlog / merge_parts /
  * zeroed_grams with compact_due = 1, and running each family's OWN
  * compaction path (purgeTombstones for the tombstoned batch layouts,
  * compact for the LM's wave layout) must collapse the census —
  * backlog 0, merge_parts ≤ 1, zeroed 0, compact_due 0.
  */
class IndexOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private case class Cen(layout: String, mergeParts: Long, nTables: Long,
                         backlog: Long, zeroed: Long, nFiles: Long,
                         bytes: Long, due: Long)
  private def byFamily(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getString(0) ->
      Cen(r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8))).toMap

  /** Drop everything each entry's family can leave behind. */
  private def clear(entries: Seq[IndexOps.Entry]): Unit =
    entries.foreach(e => IndexLifecycle.clear(spark, e.state))

  test("an absent index yields a dashboard row, not an exception") {
    val got = IndexOps.census(spark,
      Seq(IndexOps.Entry("ghost", DedupIndex.state("census_spec_no_such_table"))))
      .collect().head
    assert(got.getString(1) == "<absent>" && got.getLong(3) == 0L &&
      got.getLong(6) == 0L && got.getLong(7) == 0L &&
      got.getLong(8) == 0L, got.toString)
  }

  test("filesBytes equals an independent filesystem walk of the table locations") {
    import spark.implicits._
    val t = "census_spec_filesbytes"
    try {
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
        .repartition(3, col("id"))
        .write.format("parquet").saveAsTable(t)
      val (nFiles, bytes) = IndexOps.filesBytes(spark, Seq(t))
      // Independent truth: walk the warehouse directory with java.nio,
      // counting non-hidden regular files and summing their lengths.
      val loc = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(t)).location
      val root = java.nio.file.Paths.get(loc)
      var expF = 0L
      var expB = 0L
      java.nio.file.Files.walk(root).forEach { p =>
        val n = p.getFileName.toString
        if (java.nio.file.Files.isRegularFile(p) &&
            !n.startsWith("_") && !n.startsWith(".")) {
          expF += 1L
          expB += java.nio.file.Files.size(p)
        }
      }
      assert(nFiles == expF && bytes == expB,
        s"filesBytes ($nFiles, $bytes) != walked ($expF, $expB)")
      assert(nFiles >= 1L && bytes > 0L, s"($nFiles, $bytes)")
      // A missing table contributes nothing rather than failing.
      val (zf, zb) = IndexOps.filesBytes(spark, Seq(t, "census_spec_ghost"))
      assert(zf == nFiles && zb == bytes)
    } finally spark.sql(s"DROP TABLE IF EXISTS `$t`")
  }

  test("mid-lifecycle census surfaces backlog/waves/zeroed-grams; each family's compaction collapses it") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .where(col("doc_id") < 60 && col("text").isNotNull)
    val dels = docs.where(col("doc_id") % 20 === 3) // 3, 23, 43
    val delIds = dels.select(col("doc_id").as("id"))
    val em = Tables.embeddings(spark, TestSpark.sf0001)
      .where(col("vec_id") < 60).select(col("vec_id"), col("embedding"))
    val emDelIds = em.where(col("vec_id") % 20 === 3)
      .select(col("vec_id").as("id"))
    def t(n: String) = "census_spec_" + n
    val entries = Seq(
      IndexOps.Entry("bands", DedupIndex.state(t("bands"))),
      IndexOps.Entry("bm25", PostingsIndex.state(t("bm25"))),
      IndexOps.Entry("ivf", IvfIndex.state(t("ivf"), "vec_id")),
      IndexOps.Entry("lm", LmIndex.state(t("lm"))))
    try {
      DedupIndex.build(docs, "doc_id", "text", t("bands"))
      DedupIndex.delete(spark, t("bands"), delIds)
      PostingsIndex.build(spark, docs, "doc_id", "text", t("bm25"))
      PostingsIndex.delete(spark, t("bm25"), delIds)
      IvfIndex.build(em, "vec_id", "embedding", t("ivf"), k = 4, iters = 1)
      IvfIndex.delete(spark, t("ivf"), emDelIds)
      LmIndex.build(spark, docs.where(col("doc_id") < 40), "doc_id", "text", t("lm"))
      LmIndex.append(spark, t("lm"), docs.where(col("doc_id") >= 40),
        "doc_id", "text")
      LmIndex.delete(spark, t("lm"), dels, "doc_id", "text")

      val mid = byFamily(IndexOps.census(spark, entries))
      def core(c: Cen) = (c.layout, c.mergeParts, c.nTables, c.backlog,
        c.zeroed, c.due)
      assert(core(mid("bands")) == (("", 0L, 2L, 3L, 0L, 1L)),
        s"bands mid-lifecycle census off: ${mid("bands")}")
      // 5 tables mid-lifecycle: main, _docs, _stats, the takedown's
      // _stats_deltas row, and the tombstone list.
      assert(core(mid("bm25")) == (("", 0L, 5L, 3L, 0L, 1L)),
        s"bm25 mid-lifecycle census off: ${mid("bm25")}")
      assert(core(mid("ivf")) == (("cluster_id", 0L, 3L, 3L, 0L, 1L)),
        s"ivf mid-lifecycle census off: ${mid("ivf")}")
      val lm = mid("lm")
      assert(lm.layout == "__wave" && lm.mergeParts == 3L &&
        lm.nTables == 3L && lm.backlog == 3L && lm.due == 1L,
        s"lm mid-lifecycle census off: $lm")
      val lmZeroed = lm.zeroed
      // File/byte pressure mid-lifecycle: every family has data on
      // disk, and a wave/batch layout carries at least one file per
      // partition the compaction would merge.
      mid.foreach { case (fam, c) =>
        assert(c.nFiles > 0L && c.bytes > 0L &&
          c.nFiles >= math.max(c.mergeParts, 1L),
          s"$fam mid-lifecycle file census off: $c")
      }
      // The deleted docs' exclusive bigrams are exactly the zeroed
      // gram rows — replay the definition over the data.
      def bg(df: org.apache.spark.sql.DataFrame) = df.select(
          explode(TextAnalysis.shingleStrings(col("text"), 2)).as("g"))
        .distinct()
      val expectZeroed = bg(dels)
        .join(bg(docs.where(col("doc_id") % 20 =!= 3)), Seq("g"), "left_anti")
        .count()
      assert(lmZeroed == expectZeroed,
        s"lm zeroed_grams $lmZeroed != data-derived $expectZeroed")

      DedupIndex.purgeTombstones(spark, t("bands"))
      PostingsIndex.purgeTombstones(spark, t("bm25"))
      IvfIndex.purgeTombstones(spark, t("ivf"), "vec_id")
      LmIndex.compact(spark, t("lm"))
      val post = byFamily(IndexOps.census(spark, entries))
      post.foreach { case (fam, c) =>
        assert(c.backlog == 0L && c.mergeParts <= 1L && c.zeroed == 0L &&
          c.due == 0L,
          s"$fam census did not collapse post-compaction: $c")
        // Byte/file collapse: compaction never leaves MORE files than
        // the accumulated layout had, and the state stays on disk.
        assert(c.nFiles > 0L && c.bytes > 0L &&
          c.nFiles <= mid(fam).nFiles,
          s"$fam file census did not collapse post-compaction: " +
            s"mid=${mid(fam)} post=$c")
      }
      // The wave layout's collapse is strict: 3 merged wave partitions
      // (>= 3 files) become one, so the file count must DROP.
      assert(post("lm").nFiles < mid("lm").nFiles,
        s"lm wave compaction must shrink files: mid=${mid("lm")} " +
          s"post=${post("lm")}")
    } finally clear(entries)
  }

  test("sweep acts exactly where compact_due says, skips byte-identically, and is idempotent") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .where(col("doc_id") < 60 && col("text").isNotNull)
    val dels = docs.where(col("doc_id") % 20 === 3) // 3, 23, 43
    val delIds = dels.select(col("doc_id").as("id"))
    def t(n: String) = "sweep_spec_" + n
    val plans = Seq(
      IndexOps.Plan(IndexOps.Entry("bands", DedupIndex.state(t("bands"))),
        s => DedupIndex.purgeTombstones(s, t("bands"))),
      IndexOps.Plan(IndexOps.Entry("bm25", PostingsIndex.state(t("bm25"))),
        s => PostingsIndex.purgeTombstones(s, t("bm25"))),
      IndexOps.Plan(IndexOps.Entry("lm", LmIndex.state(t("lm"))),
        s => LmIndex.compact(s, t("lm")).toLong),
      IndexOps.Plan(IndexOps.Entry("winnow", WinnowIndex.state(t("winnow"))),
        s => WinnowIndex.purgeTombstones(s, t("winnow"))))
    try {
      DedupIndex.build(docs, "doc_id", "text", t("bands"))
      DedupIndex.delete(spark, t("bands"), delIds)
      PostingsIndex.build(spark, docs, "doc_id", "text", t("bm25"))
      PostingsIndex.delete(spark, t("bm25"), delIds)
      LmIndex.build(spark, docs.where(col("doc_id") < 40), "doc_id", "text", t("lm"))
      LmIndex.append(spark, t("lm"), docs.where(col("doc_id") >= 40),
        "doc_id", "text")
      LmIndex.delete(spark, t("lm"), dels, "doc_id", "text")
      WinnowIndex.build(docs, "doc_id", "text", t("winnow")) // no delete: not due

      // Winnow's untouched-skip truth, taken BEFORE the sweep.
      val winnowRows = spark.table(t("winnow")).count()
      val (wf, wb) = IndexOps.filesBytes(spark, Seq(t("winnow")))

      val log = IndexOps.sweep(spark, plans).collect()
        .map(r => r.getString(0) -> r).toMap
      assert(log.size == 4)
      def l(f: String, c: String) = log(f).getAs[Long](c)
      // Decision column: due families acted (reclaimed > 0), the
      // not-due family was skipped (reclaimed == 0).
      Seq("bands", "bm25", "lm").foreach { f =>
        assert(l(f, "due_before") == 1L && l(f, "reclaimed") > 0L,
          s"$f should have acted: ${log(f)}")
        assert(l(f, "backlog_before") == 3L, log(f).toString)
      }
      assert(l("winnow", "due_before") == 0L &&
        l("winnow", "reclaimed") == 0L, log("winnow").toString)
      // Collapse + discipline columns hold for every row.
      log.values.foreach { r =>
        assert(r.getAs[Long]("backlog_after") == 0L &&
          r.getAs[Long]("parts_after") <= 1L &&
          r.getAs[Long]("zeroed_after") == 0L &&
          r.getAs[Long]("due_after") == 0L &&
          r.getAs[Long]("fs_discipline_ok") == 1L, r.toString)
      }
      assert(l("lm", "parts_before") == 3L && l("lm", "zeroed_before") > 0L,
        log("lm").toString)
      // The skipped family is BIT-identical on disk: same rows, same
      // file count, same bytes — the sweep never touched it.
      assert(spark.table(t("winnow")).count() == winnowRows)
      assert(IndexOps.filesBytes(spark, Seq(t("winnow"))) == ((wf, wb)),
        "sweep rewrote a family the census said was not due")

      // Idempotence: a second sweep finds nothing due and acts nowhere.
      val again = IndexOps.sweep(spark, plans).collect()
      again.foreach { r =>
        assert(r.getAs[Long]("due_before") == 0L &&
          r.getAs[Long]("reclaimed") == 0L &&
          r.getAs[Long]("due_after") == 0L &&
          r.getAs[Long]("fs_discipline_ok") == 1L,
          s"second sweep must be a no-op: $r")
      }
    } finally clear(plans.map(_.entry))
  }

  test("orphan census + vacuum: drop crashed-STAGE garbage, adopt crashed swaps, heal markers, touch nothing else") {
    import spark.implicits._
    def mk(t: String, n: Int): Unit =
      (1 to n).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .write.format("parquet").saveAsTable(t)
    // Plain tables under the tombstoned-family declaration (main +
    // takedown list — what the janitor shadows).
    def e(family: String, t: String) =
      IndexOps.Entry(family, DedupIndex.state(t))
    val entries = Seq(e("clean", "janitor_spec_clean"),
      e("crashed_stage", "janitor_spec_stage"),
      e("crashed_swap", "janitor_spec_swap"),
      e("inflight", "janitor_spec_marked"), e("suspect", "janitor_spec_sus"))
    try {
      mk("janitor_spec_clean", 5)
      // Crashed STAGE: live intact, both staging shadows left behind.
      mk("janitor_spec_stage", 7)
      mk(PurgeSwap.stagingOf("janitor_spec_stage"), 7)
      mk("janitor_spec_stage_compact_stage", 2)
      // Crashed SWAP (drop→rename window): staging holds the index,
      // live table gone, no marker.
      mk(PurgeSwap.stagingOf("janitor_spec_swap"), 9)
      // In-flight marked swap: staging complete, marker written.
      mk("janitor_spec_marked", 4)
      mk(PurgeSwap.stagingOf("janitor_spec_marked"), 3)
      IndexLifecycle.markSwap(spark, "janitor_spec_marked",
        Seq("janitor_spec_marked"))
      // SUSPECT (ADVICE r19): a compact-stage whose base is MISSING —
      // impossible under compactSink's crash discipline, so possibly
      // the only surviving copy of the index. Reported distinctly,
      // never dropped.
      mk("janitor_spec_sus_compact_stage", 6)

      val cen = IndexOps.orphanCensus(spark, entries).collect()
        .map(r => r.getString(0) -> r).toMap
      def c(f: String, col: String) = cen(f).getAs[Long](col)
      assert(c("clean", "n_orphans") == 0L &&
        c("clean", "heal_pending") == 0L && c("clean", "inflight") == 0L)
      assert(c("crashed_stage", "n_orphans") == 2L &&
        c("crashed_stage", "orphan_bytes") > 0L &&
        c("crashed_stage", "orphan_files") > 0L, cen("crashed_stage").toString)
      assert(c("crashed_swap", "heal_pending") == 1L &&
        c("crashed_swap", "n_orphans") == 0L, cen("crashed_swap").toString)
      assert(c("inflight", "inflight") == 1L &&
        c("inflight", "n_orphans") == 0L, cen("inflight").toString)
      // The suspect staging is neither orphan nor heal-pending — its
      // own column, and nothing else's.
      assert(c("suspect", "suspect") == 1L &&
        c("suspect", "n_orphans") == 0L &&
        c("suspect", "heal_pending") == 0L, cen("suspect").toString)
      assert(entries.filterNot(_.family == "suspect")
        .forall(e => c(e.family, "suspect") == 0L))

      val cleanBefore = IndexOps.filesBytes(spark, Seq("janitor_spec_clean"))
      val vac = IndexOps.vacuum(spark, entries).collect()
        .map(r => r.getString(0) -> r).toMap
      def v(f: String, col: String) = vac(f).getAs[Long](col)
      // Every family ends with zero residual work (the suspect is not
      // residual WORK — it is a refuse-to-touch state, its own column).
      vac.values.foreach(r =>
        assert(r.getAs[Long]("residual") == 0L, r.toString))
      // Vacuum REFUSES the suspect: nothing dropped, nothing adopted,
      // the staging survives with its rows intact, and the flag
      // persists for manual inspection.
      assert(v("suspect", "dropped") == 0L && v("suspect", "adopted") == 0L &&
        v("suspect", "bytes_reclaimed") == 0L &&
        v("suspect", "suspect") == 1L, vac("suspect").toString)
      assert(spark.table("janitor_spec_sus_compact_stage").count() == 6L,
        "vacuum must never delete a possibly-only-copy staging")
      assert(v("clean", "dropped") == 0L && v("clean", "adopted") == 0L &&
        v("clean", "healed_swap") == 0L)
      assert(v("crashed_stage", "dropped") == 2L &&
        v("crashed_stage", "bytes_reclaimed") > 0L, vac("crashed_stage").toString)
      assert(v("crashed_swap", "adopted") == 1L, vac("crashed_swap").toString)
      assert(v("inflight", "healed_swap") == 1L, vac("inflight").toString)
      // The untouched family is bit-identical on disk; the crashed-
      // STAGE family's LIVE table survived its garbage collection.
      assert(IndexOps.filesBytes(spark, Seq("janitor_spec_clean")) == cleanBefore)
      assert(spark.table("janitor_spec_stage").count() == 7L)
      assert(!spark.catalog.tableExists(
        PurgeSwap.stagingOf("janitor_spec_stage")))
      // Adoption re-created the index-of-record from the staged rows.
      assert(spark.table("janitor_spec_swap").count() == 9L)
      // The heal completed the marked swap: staged rows are the table,
      // marker gone.
      assert(spark.table("janitor_spec_marked").count() == 3L)
      assert(!spark.catalog.tableExists(
        IndexLifecycle.rebalanceMarkerOf("janitor_spec_marked")))

      // Idempotence: a second census and vacuum find nothing to DO —
      // while the suspect keeps being reported, un-acted-on.
      IndexOps.orphanCensus(spark, entries).collect().foreach(r =>
        assert(r.getAs[Long]("n_orphans") == 0L &&
          r.getAs[Long]("heal_pending") == 0L &&
          r.getAs[Long]("inflight") == 0L, r.toString))
      IndexOps.vacuum(spark, entries).collect().foreach(r =>
        assert(r.getAs[Long]("dropped") == 0L &&
          r.getAs[Long]("adopted") == 0L &&
          r.getAs[Long]("healed_swap") == 0L &&
          r.getAs[Long]("residual") == 0L, r.toString))
      assert(spark.table("janitor_spec_sus_compact_stage").count() == 6L)
      // Duplicate family names would silently collapse the one-row-
      // per-family maps — refused loudly at entry (ADVICE r19).
      val dup = entries :+ e("clean", "janitor_spec_other")
      intercept[IllegalArgumentException](IndexOps.orphanCensus(spark, dup))
      intercept[IllegalArgumentException](IndexOps.vacuum(spark, dup))
      intercept[IllegalArgumentException](IndexOps.census(spark, dup))
      intercept[IllegalArgumentException](
        IndexOps.freshness(spark, dup, spark.range(1).toDF("id")))
      intercept[IllegalArgumentException](
        IndexOps.takedownAudit(spark, dup, spark.range(1).toDF("id")))
    } finally clear(entries)
  }

  test("takedown audit: visible ids expose the missed family; purge zeroes physical presence") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .where(col("doc_id") < 60 && col("text").isNotNull)
    val dels = docs.where(col("doc_id") % 20 === 3) // 3, 23, 43
    val ids = dels.select(col("doc_id").as("id"))
    val em = Tables.embeddings(spark, TestSpark.sf0001)
      .where(col("vec_id") < 60).select(col("vec_id"), col("embedding"))
    def t(n: String) = "audit_spec_" + n
    val entries = Seq(
      IndexOps.Entry("bands", DedupIndex.state(t("bands"))),
      IndexOps.Entry("ivf", IvfIndex.state(t("ivf"), "vec_id")),
      IndexOps.Entry("lm", LmIndex.state(t("lm"))))
    try {
      DedupIndex.build(docs, "doc_id", "text", t("bands"))
      IvfIndex.build(em, "vec_id", "embedding", t("ivf"), k = 4, iters = 1)
      LmIndex.build(spark, docs, "doc_id", "text", t("lm"))
      // The takedown lands ONLY on bands — ivf and lm are the missed
      // families a compliance audit must expose.
      DedupIndex.delete(spark, t("bands"), ids)

      val a1 = IndexOps.takedownAudit(spark, entries, ids).collect()
        .map(r => r.getString(0) -> r).toMap
      def g(m: Map[String, org.apache.spark.sql.Row], f: String,
            c: String) = m(f).getAs[Long](c)
      assert(a1.values.forall(_.getAs[Long]("n_ids") == 3L))
      assert(g(a1, "bands", "tombstoned") == 3L &&
        g(a1, "bands", "present_ids") == 3L &&
        g(a1, "bands", "visible_ids") == 0L, a1("bands").toString)
      // ivf: the same NUMERIC ids exist as vec_ids < 60 — served.
      assert(g(a1, "ivf", "tombstoned") == 0L &&
        g(a1, "ivf", "visible_ids") == 3L, a1("ivf").toString)
      assert(g(a1, "lm", "tombstoned") == 0L &&
        g(a1, "lm", "visible_ids") == 3L, a1("lm").toString)

      // Close the gap: the generic cross-family takedown covers the
      // tombstone-contract families; the LM needs its text-bearing
      // delete (the documented exception).
      IndexOps.takedown(spark, entries.filter(_.family == "ivf"), ids)
      LmIndex.delete(spark, t("lm"), dels, "doc_id", "text")
      val a2 = IndexOps.takedownAudit(spark, entries, ids).collect()
        .map(r => r.getString(0) -> r).toMap
      a2.values.foreach(r => assert(r.getAs[Long]("visible_ids") == 0L &&
        r.getAs[Long]("tombstoned") == 3L, r.toString))

      // Physical purge (each family's own path) zeroes presence.
      DedupIndex.purgeTombstones(spark, t("bands"))
      IvfIndex.purgeTombstones(spark, t("ivf"), "vec_id")
      LmIndex.compact(spark, t("lm"))
      val a3 = IndexOps.takedownAudit(spark, entries, ids).collect()
      a3.foreach(r => assert(r.getAs[Long]("present_ids") == 0L &&
        r.getAs[Long]("visible_ids") == 0L, r.toString))

      // An absent family is a dashboard row, not an exception.
      val ghost = IndexOps.takedownAudit(spark,
        Seq(IndexOps.Entry("ghost", DedupIndex.state("audit_spec_no_such"))),
        ids)
        .collect().head
      assert(ghost.getAs[Long]("present_ids") == 0L &&
        ghost.getAs[Long]("visible_ids") == 0L &&
        ghost.getAs[Long]("tombstoned") == 0L)
    } finally clear(entries)
  }

  test("freshness census: append debt per family, tombstoned ids are deliberate absence, not lag") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .where(col("doc_id") < 60 && col("text").isNotNull)
    def t(n: String) = "fresh_spec_" + n
    val entries = Seq(
      IndexOps.Entry("bands", DedupIndex.state(t("bands"))),
      IndexOps.Entry("winnow", WinnowIndex.state(t("winnow"))))
    try {
      // bands indexes only the first 40 ids; a takedown is registered
      // for the NEVER-INDEXED id 43 (a takedown arriving before the
      // doc was indexed — deliberate absence, not append debt).
      DedupIndex.build(docs.where(col("doc_id") < 40), "doc_id", "text",
        t("bands"))
      DedupIndex.delete(spark, t("bands"),
        docs.where(col("doc_id") >= 40 && col("doc_id") % 20 === 3)
          .select(col("doc_id").as("id")))
      // winnow is fully caught up, with a registered (unpurged)
      // takedown of present ids — also not staleness.
      WinnowIndex.build(docs, "doc_id", "text", t("winnow"))
      WinnowIndex.delete(spark, t("winnow"),
        docs.where(col("doc_id") % 20 === 3).select(col("doc_id").as("id")))

      val ids = docs.select(col("doc_id").as("id"))
      val n60 = ids.count()
      val n40 = docs.where(col("doc_id") < 40).count()
      val ntd = docs.where(col("doc_id") >= 40 && col("doc_id") % 20 === 3)
        .count()
      val got = IndexOps.freshness(spark, entries, ids).collect()
        .map(r => r.getString(0) -> r).toMap
      def g(f: String, c: String) = got(f).getAs[Long](c)
      assert(g("bands", "n_corpus") == n60 && g("bands", "n_indexed") == n40 &&
        g("bands", "n_missing") == n60 - n40 - ntd &&
        g("bands", "stale") == 1L, got("bands").toString)
      assert(g("winnow", "n_corpus") == n60 && g("winnow", "n_indexed") == n60 &&
        g("winnow", "n_missing") == 0L && g("winnow", "stale") == 0L,
        got("winnow").toString)

      // Closing the debt clears the bit (catch-up = rebuild over the
      // full slice here; production would append the missing rows).
      DedupIndex.build(docs, "doc_id", "text", t("bands"))
      val after = IndexOps.freshness(spark, entries, ids).collect()
        .map(r => r.getString(0) -> r).toMap
      assert(after("bands").getAs[Long]("n_missing") == 0L &&
        after("bands").getAs[Long]("stale") == 0L, after("bands").toString)
    } finally clear(entries)
  }

  test("index-facing reports heal a crashed swap at entry; the janitor census still sees it") {
    import spark.implicits._
    val t = "heal_spec_idx"
    val entry = IndexOps.Entry("fam", DedupIndex.state(t))
    try {
      // Crashed drop→rename window: staging holds the index, live gone.
      (1L to 5L).map(i => (i, s"v$i")).toDF("id", "v")
        .write.format("parquet").saveAsTable(PurgeSwap.stagingOf(t))
      // The janitor CENSUS reports the crash state without healing it.
      val cen = IndexOps.orphanCensus(spark, Seq(entry)).collect().head
      assert(cen.getAs[Long]("heal_pending") == 1L, cen.toString)
      assert(!spark.catalog.tableExists(t))
      // An index-facing report heals at entry instead of reporting a
      // transient crash layout as "<absent>".
      val row = IndexOps.census(spark, Seq(entry)).collect().head
      assert(row.getString(1) != "<absent>", row.toString)
      assert(spark.catalog.tableExists(t) &&
        spark.table(t).count() == 5L)
    } finally clear(Seq(entry))
  }

  test("sweepAll: act-iff-due across all four decision bits, afters collapse, fully idempotent") {
    import spark.implicits._
    def t(n: String) = "sweepall_spec_" + n
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .where(col("doc_id") < 60 && col("text").isNotNull)
      .localCheckpoint(true)
    val delIds = docs.where(col("doc_id") % 20 === 3)
      .select(col("doc_id").as("id"))
    // The corpus of record excludes taken-down ids (the x_sweep_full
    // doc: a purge drops the tombstone list, and purged ids must not
    // re-read as append debt).
    val corpus = docs.where(col("doc_id") % 20 =!= 3)
      .select(col("doc_id").as("id"))
    val nMissing = corpus.where(col("id") >= 40).count()
    // The rebalance pair as a planted decision/action: a flag table IS
    // the due bit, the action retires it — pinning sweepAll's LOOP
    // contract (act-iff-due, ordering, idempotence) independently of
    // Lloyd dynamics (IvfRebalanceSpec owns those; the registered
    // x_sweep_full runs the real IvfIndex.rebalance wiring).
    val flagT = t("skew_flag")
    val entries = Seq(IndexOps.Entry("bands", DedupIndex.state(t("bands"))),
      IndexOps.Entry("winnow", WinnowIndex.state(t("win"))))
    def clearAll(): Unit = {
      clear(entries)
      graft.io.Writer.dropTableAndLocation(spark, flagT)
    }
    try {
      clearAll()
      DedupIndex.build(docs, "doc_id", "text", t("bands"))
      DedupIndex.delete(spark, t("bands"), delIds)
      spark.table(t("bands")).write.format("parquet")
        .saveAsTable(PurgeSwap.stagingOf(t("bands")))
      WinnowIndex.build(docs.where(col("doc_id") < 40), "doc_id",
        "text", t("win"))
      Seq((1L, "due")).toDF("id", "v").write.format("parquet")
        .saveAsTable(flagT)
      var rebalanceRuns = 0
      val plans = Seq(
        IndexOps.FullPlan(entries(0),
          x => DedupIndex.purgeTombstones(x, t("bands"))),
        IndexOps.FullPlan(entries(1),
          x => WinnowIndex.purgeTombstones(x, t("win")),
          append = Some((x, missing) => {
            val nd = docs.join(missing.select(col("id").as("doc_id")),
              Seq("doc_id"), "left_semi")
            val n = nd.count()
            WinnowIndex.append(x, t("win"), nd, "doc_id", "text")
            n
          }),
          rebalanceDue = Some(x =>
            if (x.catalog.tableExists(flagT)) 1L else 0L),
          rebalance = Some { x =>
            rebalanceRuns += 1
            graft.io.Writer.dropTableAndLocation(x, flagT)
          }))
      val log1 = IndexOps.sweepAll(spark, plans, corpus).collect()
        .map(r => r.getString(0) -> r).toMap
      def g(f: String, c: String) = log1(f).getAs[Long](c)
      // bands: orphan vacuumed, compaction acted on the backlog bit,
      // nothing appended (not stale), nothing rebalanced (no hook).
      assert(g("bands", "orphans_before") == 1L &&
        g("bands", "dropped") == 1L, log1("bands").toString)
      assert(g("bands", "stale_before") == 0L &&
        g("bands", "appended") == 0L)
      assert(g("bands", "compact_due_mid") == 1L &&
        g("bands", "reclaimed") > 0L)
      assert(g("bands", "rebalance_due") == 0L &&
        g("bands", "rebalanced") == 0L)
      // winnow: append acted on exactly the missing ids; compaction
      // SKIPPED (not due); the planted rebalance bit acted and retired.
      assert(g("winnow", "stale_before") == 1L &&
        g("winnow", "n_missing_before") == nMissing &&
        g("winnow", "appended") == nMissing, log1("winnow").toString)
      assert(g("winnow", "compact_due_mid") == 0L &&
        g("winnow", "reclaimed") == 0L)
      assert(g("winnow", "rebalance_due") == 1L &&
        g("winnow", "rebalanced") == 1L && rebalanceRuns == 1)
      // Afters collapse everywhere.
      log1.values.foreach { r =>
        assert(r.getAs[Long]("orphans_after") == 0L &&
          r.getAs[Long]("n_missing_after") == 0L &&
          r.getAs[Long]("compact_due_after") == 0L &&
          r.getAs[Long]("rebalance_due_after") == 0L, r.toString)
      }
      // Idempotence: a second full pass acts NOWHERE.
      val log2 = IndexOps.sweepAll(spark, plans, corpus).collect()
      log2.foreach { r =>
        assert(r.getAs[Long]("dropped") == 0L &&
          r.getAs[Long]("appended") == 0L &&
          r.getAs[Long]("reclaimed") == 0L &&
          r.getAs[Long]("rebalanced") == 0L &&
          r.getAs[Long]("stale_before") == 0L &&
          r.getAs[Long]("compact_due_mid") == 0L &&
          r.getAs[Long]("rebalance_due") == 0L, r.toString)
      }
      assert(rebalanceRuns == 1, "second sweep must not re-rebalance")
    } finally clearAll()
  }

  test("dashboard: one row per family composing janitor + census + freshness + fleet audit + skew") {
    import spark.implicits._
    def t(n: String) = "dash_spec_" + n
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .where(col("doc_id") < 60 && col("text").isNotNull)
      .localCheckpoint(true)
    val delIds = docs.where(col("doc_id") % 20 === 3)
      .select(col("doc_id").as("id"))
    val nDel = delIds.count()
    val entries = Seq(IndexOps.Entry("a", DedupIndex.state(t("a"))),
      IndexOps.Entry("b", DedupIndex.state(t("b"))))
    try {
      clear(entries)
      DedupIndex.build(docs, "doc_id", "text", t("a"))
      DedupIndex.delete(spark, t("a"), delIds) // a: tombstoned
      DedupIndex.build(docs.where(col("doc_id") < 40), "doc_id",
        "text", t("b")) // b: stale vs the <60 corpus, misses a's takedown
      spark.table(t("a")).write.format("parquet")
        .saveAsTable(PurgeSwap.stagingOf(t("a"))) // a: orphan
      val corpus = docs.select(col("doc_id").as("id"))
      val dash = IndexOps.dashboard(spark, entries, corpus,
          skewDue = Map("b" -> (_ => 1L))).collect()
        .map(r => r.getString(0) -> r).toMap
      def g(f: String, c: String) = dash(f).getAs[Long](c)
      assert(dash.keySet == Set("a", "b"))
      // a: backlog + compact_due + orphan; fully fresh; its own
      // takedown fully tombstoned (visible 0, present = the dels).
      assert(g("a", "tombstone_backlog") == nDel &&
        g("a", "compact_due") == 1L && g("a", "n_orphans") == 1L,
        dash("a").toString)
      assert(g("a", "n_missing") == 0L && g("a", "stale") == 0L)
      assert(g("a", "n_takedown_ids") == nDel &&
        g("a", "tombstoned") == nDel && g("a", "present_ids") == nDel &&
        g("a", "visible_ids") == 0L)
      assert(g("a", "rebalance_due") == 0L && g("a", "attention") == 1L)
      // b: stale (the [40, 60) debt — tombstoned ids of OTHER families
      // are not deliberate absence HERE, so they stay in b's debt);
      // the fleet audit exposes a's ids < 40 as VISIBLE in b (missed
      // takedown); the planted skew hook reads through.
      val nMissB = docs.where(col("doc_id") >= 40).count()
      val nVisB = docs.where(col("doc_id") < 40 &&
        col("doc_id") % 20 === 3).count()
      assert(g("b", "stale") == 1L && g("b", "n_missing") == nMissB,
        dash("b").toString)
      assert(g("b", "visible_ids") == nVisB && nVisB > 0L)
      assert(g("b", "rebalance_due") == 1L && g("b", "attention") == 1L)
      // READ-ONLY: the dashboard censused the orphan without acting.
      assert(spark.catalog.tableExists(PurgeSwap.stagingOf(t("a"))))
      val again = IndexOps.dashboard(spark, entries, corpus,
        skewDue = Map("b" -> (_ => 1L))).collect()
      assert(again.map(_.toString).toSeq ==
        dash.values.toSeq.sortBy(_.getString(0)).map(_.toString),
        "a second read must see identical state")
    } finally clear(entries)
  }

  test("takedown runs each family's own delete: a bm25 takedown sheds the removed docs from N and avgdl") {
    import spark.implicits._
    // PostingsIndexSpec's 8-doc corpus with controlled term overlap.
    val corpus = Seq(
      (1L, "dup data alpha bravo"),
      (2L, "data data charlie delta data"),
      (3L, "alpha bravo charlie"),
      (4L, "dup dup data echo"),
      (5L, ""),
      (6L, "echo fox golf hotel india julia kilo lima"),
      (7L, "data alpha"),
      (8L, "dup zulu")).toDF("doc_id", "text")
    val terms = Seq("dup", "data")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSeq
    val entries = Seq(
      IndexOps.Entry("deleted", PostingsIndex.state("takedown_spec_bm25_del")),
      IndexOps.Entry("taken_down", PostingsIndex.state("takedown_spec_bm25_td")))
    try {
      clear(entries)
      entries.foreach(e =>
        PostingsIndex.build(spark, corpus, "doc_id", "text", e.table))
      val gone = Seq(4L).toDF("id")
      PostingsIndex.delete(spark, entries(0).table, gone)
      IndexOps.takedown(spark, entries.filter(_.family == "taken_down"), gone)
      val live = rows(TextAnalysis.bm25TopK(corpus.where(col("doc_id") =!= 4L),
        "doc_id", "text", terms, 10))
      entries.foreach(e =>
        assert(rows(PostingsIndex.probe(spark, e.table, terms, 10)) == live,
          s"${e.family}: the probe must equal bm25TopK on the live docs"))
    } finally clear(entries)
  }

  test("takedown refuses an LM entry up front, naming LmIndex.delete") {
    import spark.implicits._
    val entries = Seq(
      IndexOps.Entry("bands", DedupIndex.state("takedown_spec_lm_bands")),
      IndexOps.Entry("lm", LmIndex.state("takedown_spec_lm")))
    try {
      val docs = Seq((1L, "alpha bravo charlie"), (2L, "delta echo fox"))
        .toDF("doc_id", "text")
      DedupIndex.build(docs, "doc_id", "text", entries(0).table)
      LmIndex.build(spark, docs, "doc_id", "text", entries(1).table)
      val e = intercept[IllegalArgumentException](
        IndexOps.takedown(spark, entries, Seq(1L).toDF("id")))
      assert(e.getMessage.contains("LmIndex.delete"), e.getMessage)
      // Refused before any family is touched: no tombstone anywhere.
      entries.foreach(x => assert(
        !spark.catalog.tableExists(IndexLifecycle.tombstonesOf(x.table)) ||
          spark.table(IndexLifecycle.tombstonesOf(x.table)).count() == 0L,
        s"${x.family} took a tombstone from a refused takedown"))
    } finally clear(entries)
  }
}
