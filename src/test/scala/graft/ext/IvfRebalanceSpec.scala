package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** IVF rebalance — the index-maintenance answer to distribution
  * drift: retrain on the live corpus, rewrite under the new layout,
  * purge tombstones in the same pass. Contracts pinned here:
  *
  *   - rebalance ≡ a FRESH build(live) with the same (k, iters),
  *     probe-for-probe on both tiers (Lloyd is deterministic);
  *   - cellCensus/cellSkew report the planted drift before and the
  *     sum-conservation after;
  *   - the two-table swap heals from both crash windows (marker
  *     present with staged tables; marker present mid-swap) at the
  *     next probe, which then serves the NEW layout;
  *   - a fresh build discards a crashed rebalance: a build into the
  *     name drops the marker and the stagings, so the next probe
  *     serves the fresh build, not the stale staged layout;
  *   - build and rebalance leave the same cell layout: one parquet
  *     file per `cluster_id=` directory, every catalog partition
  *     located under the table's own location (the rename-safe shape,
  *     Writer.emptyPartitionedTable's doc).
  */
class IvfRebalanceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def blobOf(src: org.apache.spark.sql.DataFrame, n: Int,
                     baseId: Long) =
    src.select(explode(sequence(lit(0L), lit(n - 1L))).as("i"),
        col("embedding"))
      .select((col("i") + baseId).as("vec_id"),
        transform(col("embedding"), (x, j) =>
          (x.cast("double") +
            (pmod(xxhash64(col("i"), j), lit(21L)).cast("double") - 10.0)
              / 2000.0).cast("float")).as("embedding"))

  private def probes(t: String, q: Seq[Float]) = {
    val f = IvfIndex.probeTopK(spark, t, "vec_id", "embedding", q,
        k = 10, nProbe = 4).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val z = IvfIndex.probeTopKQuantized(spark, t, "vec_id", "embedding", q,
        k = 10, nProbe = 4).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    (f, z)
  }

  /** The published cell layout of `t`: exactly one parquet file per
    * `cluster_id=` directory, and every catalog partition located
    * under the table location (a partition left at a staging path
    * scans a vanished directory after the swap's rename). */
  private def assertCellLayout(t: String): Unit = {
    val id = org.apache.spark.sql.catalyst.TableIdentifier(t)
    val catalog = spark.sessionState.catalog
    val root = new java.io.File(catalog.getTableMetadata(id).location)
      .getCanonicalPath
    val cells = new java.io.File(root).listFiles()
      .filter(_.getName.startsWith("cluster_id="))
    assert(cells.nonEmpty, s"$t has no cell directories under $root")
    cells.foreach { d =>
      val files = d.listFiles().map(_.getName)
        .filter(n => n.endsWith(".parquet") && !n.startsWith("."))
      assert(files.length == 1,
        s"$t cell ${d.getName} holds ${files.length} parquet files")
    }
    val parts = catalog.listPartitions(id)
    assert(parts.size == cells.length,
      s"$t: ${parts.size} catalog partitions vs ${cells.length} cell dirs")
    parts.foreach { p =>
      val loc = new java.io.File(p.location).getCanonicalPath
      assert(loc.startsWith(root + java.io.File.separator),
        s"$t partition ${p.spec} lies at $loc, outside $root")
    }
  }

  /** Reconstruct the exact post-marker crash state of `t` from a
    * freshly built `ref`: `ref`'s tables moved into `t`'s staging
    * slots the way rebalance writes them (the MAIN staging
    * DDL-created + insertInto — a renamed saveAsTable staging would
    * carry explicit dead partition locations, the
    * Writer.emptyPartitionedTable doc), then the marker listing `t`
    * and its `sides`; the old index of `t` stays in place. */
  private def stageAndMark(t: String, ref: String,
                           sides: String => Seq[String]): Unit = {
    graft.io.Writer.emptyPartitionedTable(spark, PurgeSwap.stagingOf(t),
      spark.table(ref).schema, "cluster_id")
    spark.table(ref).write.insertInto(PurgeSwap.stagingOf(t))
    sides(ref).zip(sides(t)).foreach { case (from, to) =>
      spark.sql(s"ALTER TABLE `$from` RENAME TO `${PurgeSwap.stagingOf(to)}`")
    }
    graft.io.Writer.dropTableAndLocation(spark, ref)
    IndexLifecycle.markSwap(spark, t, t +: sides(t))
  }

  private def ivfSides(x: String) = Seq(IvfIndex.centroidsTable(x))
  private def ivfPqSides(x: String) =
    Seq(IvfIndex.centroidsTable(x), IvfPq.codebooksTable(x))

  test("rebalance equals a fresh build on the live corpus; census reports drift before and conserves after") {
    val e = Tables.embeddings(spark, TestSpark.sf0001)
    val base = e.where(col("vec_id") >= 100 && col("vec_id") < 300)
      .select(col("vec_id"), col("embedding"))
    val blob = blobOf(e.where(col("vec_id") === 100), 100, 9000L)
    val corpus = base.unionByName(blob)
    val t = "ivf_rebalance_spec"
    val t2 = "ivf_rebalance_spec_fresh"
    try {
      IvfIndex.build(corpus, "vec_id", "embedding", t, k = 8, iters = 2)
      assertCellLayout(t)
      // The blob (100 near-twins of one vector) piles into one cell.
      val skew = IvfIndex.cellSkew(spark, t, "vec_id", dueMilli = 2000L)
        .collect().head
      assert(skew.getLong(1) == 300L && skew.getLong(4) == 1L,
        s"planted drift must trip the skew report: $skew")
      // Take down part of the blob, then rebalance.
      import spark.implicits._
      val dels = (9000L until 9040L)
      IvfIndex.delete(spark, t, dels.toDF("id"))
      IvfIndex.rebalance(spark, t, "vec_id", "embedding", k = 8, iters = 2)
      assert(!spark.catalog.tableExists(t + "_tombstones"),
        "rebalance must purge the tombstone list")
      assertCellLayout(t)
      val live = corpus.where(!col("vec_id").isin(dels: _*))
      IvfIndex.build(live, "vec_id", "embedding", t2, k = 8, iters = 2)
      val qs = e.where(col("vec_id") < 2).select(col("embedding"))
        .collect().map(_.getSeq[Float](0).toSeq)
      qs.foreach { q =>
        val (f1, z1) = probes(t, q)
        val (f2, z2) = probes(t2, q)
        assert(f1 == f2, s"float probe diverges from fresh build:\n$f1\nvs\n$f2")
        assert(z1 == z2, s"int8 probe diverges from fresh build:\n$z1\nvs\n$z2")
      }
      // Census conserves: per-cell live counts sum to the live corpus.
      val census = IvfIndex.cellCensus(spark, t, "vec_id").collect()
      assert(census.map(_.getLong(1)).sum == 260L, census.mkString(","))
    } finally {
      Seq(t, t2).flatMap(x => Seq(x, IvfIndex.centroidsTable(x),
          x + "_tombstones", PurgeSwap.stagingOf(x),
          PurgeSwap.stagingOf(IvfIndex.centroidsTable(x)),
          x + "_rebalance_inflight"))
        .foreach(x => spark.sql(s"DROP TABLE IF EXISTS `$x`"))
    }
  }

  test("IVFADC rebalance equals a fresh IvfPq build on the live corpus; tombstones purge") {
    val e = Tables.embeddings(spark, TestSpark.sf0001)
    val corpus = e.where(col("vec_id") >= 100 && col("vec_id") < 250)
      .select(col("vec_id"), col("embedding"))
    val dels = (103L to 193L by 10L)
    val live = corpus.where(!col("vec_id").isin(dels: _*))
    val t = "ivfpq_rebalance_spec"
    val t2 = "ivfpq_rebalance_spec_fresh"
    def tablesOf(x: String) = Seq(x, IvfIndex.centroidsTable(x),
      IvfPq.codebooksTable(x), x + "_tombstones", PurgeSwap.stagingOf(x),
      PurgeSwap.stagingOf(IvfIndex.centroidsTable(x)),
      PurgeSwap.stagingOf(IvfPq.codebooksTable(x)),
      IndexLifecycle.rebalanceMarkerOf(x))
    try {
      IvfPq.build(corpus, "vec_id", "embedding", t,
        kCells = 4, ivfIters = 1, m = 8, kPq = 8, pqIters = 1)
      assertCellLayout(t)
      import spark.implicits._
      IvfPq.delete(spark, t, dels.toDF("id"))
      IvfPq.rebalance(spark, t, "vec_id", "embedding",
        kCells = 4, ivfIters = 1, m = 8, kPq = 8, pqIters = 1)
      assert(!spark.catalog.tableExists(t + "_tombstones"),
        "rebalance must purge the tombstone list")
      assertCellLayout(t)
      IvfPq.build(live, "vec_id", "embedding", t2,
        kCells = 4, ivfIters = 1, m = 8, kPq = 8, pqIters = 1)
      val qs = e.where(col("vec_id") < 2).select(col("embedding"))
        .collect().map(_.getSeq[Float](0).toSeq)
      qs.foreach { q =>
        def rows(x: String) = IvfPq.probeTopK(spark, x, "vec_id",
            "embedding", q, k = 10, nProbe = 2).collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(rows(t) == rows(t2),
          s"IVFADC probe diverges from fresh build for query $q")
      }
    } finally {
      (tablesOf(t) ++ tablesOf(t2))
        .foreach(x => spark.sql(s"DROP TABLE IF EXISTS `$x`"))
    }
  }

  test("a crashed THREE-table IVFADC swap heals at the next probe (marker lists the tables)") {
    val e = Tables.embeddings(spark, TestSpark.sf0001)
    val corpus = e.where(col("vec_id") >= 100 && col("vec_id") < 220)
      .select(col("vec_id"), col("embedding"))
    val live = corpus.where(col("vec_id") % 10 =!= 7)
    val t = "ivfpq_rebalance_crash_spec"
    val ref = "ivfpq_rebalance_crash_ref"
    def tablesOf(x: String) = Seq(x, IvfIndex.centroidsTable(x),
      IvfPq.codebooksTable(x), x + "_tombstones", PurgeSwap.stagingOf(x),
      PurgeSwap.stagingOf(IvfIndex.centroidsTable(x)),
      PurgeSwap.stagingOf(IvfPq.codebooksTable(x)),
      IndexLifecycle.rebalanceMarkerOf(x))
    val q = e.where(col("vec_id") === 0)
      .select(col("embedding")).first().getSeq[Float](0).toSeq
    try {
      IvfPq.build(corpus, "vec_id", "embedding", t,
        kCells = 4, ivfIters = 1, m = 8, kPq = 8, pqIters = 1)
      import spark.implicits._
      IvfPq.delete(spark, t,
        corpus.where(col("vec_id") % 10 === 7).select(col("vec_id").as("id")))
      // Expected post-heal answers: a fresh build of the live corpus.
      IvfPq.build(live, "vec_id", "embedding", ref,
        kCells = 4, ivfIters = 1, m = 8, kPq = 8, pqIters = 1)
      def rows(x: String) = IvfPq.probeTopK(spark, x, "vec_id", "embedding",
          q, k = 10, nProbe = 2).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val expected = rows(ref)
      // Reconstruct the post-marker crash state: the fresh build's
      // three tables moved into the staging slots (main via
      // DDL+insertInto — the rename-safe staging shape), marker rows
      // listing all three, old index in place, crash INSIDE the main
      // swap (old main already dropped).
      graft.io.Writer.emptyPartitionedTable(spark, PurgeSwap.stagingOf(t),
        spark.table(ref).schema, "cluster_id")
      spark.table(ref).write.insertInto(PurgeSwap.stagingOf(t))
      spark.sql(s"ALTER TABLE `${IvfIndex.centroidsTable(ref)}` RENAME TO " +
        s"`${PurgeSwap.stagingOf(IvfIndex.centroidsTable(t))}`")
      spark.sql(s"ALTER TABLE `${IvfPq.codebooksTable(ref)}` RENAME TO " +
        s"`${PurgeSwap.stagingOf(IvfPq.codebooksTable(t))}`")
      graft.io.Writer.dropTableAndLocation(spark, ref)
      IndexLifecycle.markSwap(spark, t, Seq(t, IvfIndex.centroidsTable(t),
        IvfPq.codebooksTable(t)))
      graft.io.Writer.dropTableAndLocation(spark, t)
      assert(rows(t) == expected, "heal must serve the new 3-table layout")
      assert(!spark.catalog.tableExists(IndexLifecycle.rebalanceMarkerOf(t)) &&
        !spark.catalog.tableExists(t + "_tombstones"),
        "heal must clear marker and tombstones")
    } finally {
      (tablesOf(t) ++ tablesOf(ref))
        .foreach(x => spark.sql(s"DROP TABLE IF EXISTS `$x`"))
    }
  }

  test("both crash windows of the two-table swap heal at the next probe") {
    val e = Tables.embeddings(spark, TestSpark.sf0001)
    val corpus = e.where(col("vec_id") >= 100 && col("vec_id") < 250)
      .select(col("vec_id"), col("embedding"))
    val live = corpus.where(col("vec_id") % 10 =!= 3)
    val t = "ivf_rebalance_crash_spec"
    val ref = "ivf_rebalance_crash_ref"
    val q = e.where(col("vec_id") === 0)
      .select(col("embedding")).first().getSeq[Float](0).toSeq
    def stageLiveAndMark(): Unit = {
      // The exact post-marker crash state: both staged tables fully
      // written, marker present, old index still in place with live
      // tombstones registered.
      IvfIndex.build(live, "vec_id", "embedding", ref, k = 4, iters = 1)
      stageAndMark(t, ref, ivfSides)
    }
    try {
      IvfIndex.build(corpus, "vec_id", "embedding", t, k = 4, iters = 1)
      import spark.implicits._
      IvfIndex.delete(spark, t,
        corpus.where(col("vec_id") % 10 === 3).select(col("vec_id").as("id")))
      // Expected post-heal answers: a fresh build of the live corpus.
      IvfIndex.build(live, "vec_id", "embedding", ref, k = 4, iters = 1)
      val (expF, expZ) = probes(ref, q)
      Seq(IvfIndex.centroidsTable(ref), ref)
        .foreach(x => spark.sql(s"DROP TABLE `$x`"))
      // Window 1: crash right after the marker, before any swap.
      stageLiveAndMark()
      val (f1, z1) = probes(t, q)
      assert(f1 == expF && z1 == expZ, "window-1 heal serves the new layout")
      assert(!spark.catalog.tableExists(t + "_rebalance_inflight") &&
        !spark.catalog.tableExists(t + "_tombstones"),
        "window-1 heal must clear marker and tombstones")
      // Window 2: crash inside the MAIN swap's drop→rename (old main
      // dropped, staging still named staging).
      IvfIndex.delete(spark, t,
        spark.range(0).select(col("id"))) // re-create an empty tombstone list
      stageLiveAndMark()
      graft.io.Writer.dropTableAndLocation(spark, t)
      val (f2, z2) = probes(t, q)
      assert(f2 == expF && z2 == expZ, "window-2 heal serves the new layout")
      assert(!spark.catalog.tableExists(t + "_rebalance_inflight"),
        "window-2 heal must clear the marker")
    } finally {
      Seq(t, ref).flatMap(x => Seq(x, IvfIndex.centroidsTable(x),
          x + "_tombstones", PurgeSwap.stagingOf(x),
          PurgeSwap.stagingOf(IvfIndex.centroidsTable(x)),
          x + "_rebalance_inflight"))
        .foreach(x => spark.sql(s"DROP TABLE IF EXISTS `$x`"))
    }
  }

  test("a fresh build discards a crashed two-table rebalance: stale marker and stagings dropped") {
    val e = Tables.embeddings(spark, TestSpark.sf0001)
    val old = e.where(col("vec_id") >= 100 && col("vec_id") < 250)
      .select(col("vec_id"), col("embedding"))
    val next = e.where(col("vec_id") >= 250 && col("vec_id") < 400)
      .select(col("vec_id"), col("embedding"))
    val t = "ivf_rebuild_over_marker_spec"
    val ref = "ivf_rebuild_over_marker_ref"
    val fresh = "ivf_rebuild_over_marker_fresh"
    val q = e.where(col("vec_id") === 0)
      .select(col("embedding")).first().getSeq[Float](0).toSeq
    try {
      IvfIndex.build(old, "vec_id", "embedding", t, k = 4, iters = 1)
      IvfIndex.build(old, "vec_id", "embedding", ref, k = 4, iters = 1)
      // A rebalance of `old` that crashed right after its marker.
      stageAndMark(t, ref, ivfSides)
      IvfIndex.build(next, "vec_id", "embedding", t, k = 4, iters = 1)
      IvfIndex.build(next, "vec_id", "embedding", fresh, k = 4, iters = 1)
      assert(probes(t, q) == probes(fresh, q),
        "the first probe after a rebuild must serve the fresh build")
      assert(!spark.catalog.tableExists(IndexLifecycle.rebalanceMarkerOf(t)),
        "the rebuild must drop the stale marker")
      assert((t +: ivfSides(t)).forall(x =>
          !spark.catalog.tableExists(PurgeSwap.stagingOf(x))),
        "the rebuild must drop the stale stagings")
    } finally {
      Seq(t, ref, fresh).flatMap(x => (x +: ivfSides(x)).flatMap(y =>
          Seq(y, PurgeSwap.stagingOf(y))) ++ Seq(x + "_tombstones",
          IndexLifecycle.rebalanceMarkerOf(x)))
        .foreach(x => spark.sql(s"DROP TABLE IF EXISTS `$x`"))
    }
  }

  test("a fresh IvfPq build discards a crashed three-table rebalance: stale marker and stagings dropped") {
    val e = Tables.embeddings(spark, TestSpark.sf0001)
    val old = e.where(col("vec_id") >= 100 && col("vec_id") < 220)
      .select(col("vec_id"), col("embedding"))
    val next = e.where(col("vec_id") >= 220 && col("vec_id") < 340)
      .select(col("vec_id"), col("embedding"))
    val t = "ivfpq_rebuild_over_marker_spec"
    val ref = "ivfpq_rebuild_over_marker_ref"
    val fresh = "ivfpq_rebuild_over_marker_fresh"
    val q = e.where(col("vec_id") === 0)
      .select(col("embedding")).first().getSeq[Float](0).toSeq
    def build(c: org.apache.spark.sql.DataFrame, x: String) =
      IvfPq.build(c, "vec_id", "embedding", x,
        kCells = 4, ivfIters = 1, m = 8, kPq = 8, pqIters = 1)
    def rows(x: String) = IvfPq.probeTopK(spark, x, "vec_id", "embedding",
        q, k = 10, nProbe = 2).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    try {
      build(old, t)
      build(old, ref)
      // A rebalance of `old` that crashed right after its marker.
      stageAndMark(t, ref, ivfPqSides)
      build(next, t)
      build(next, fresh)
      assert(rows(t) == rows(fresh),
        "the first probe after a rebuild must serve the fresh build")
      assert(!spark.catalog.tableExists(IndexLifecycle.rebalanceMarkerOf(t)),
        "the rebuild must drop the stale marker")
      assert((t +: ivfPqSides(t)).forall(x =>
          !spark.catalog.tableExists(PurgeSwap.stagingOf(x))),
        "the rebuild must drop the stale stagings")
    } finally {
      Seq(t, ref, fresh).flatMap(x => (x +: ivfPqSides(x)).flatMap(y =>
          Seq(y, PurgeSwap.stagingOf(y))) ++ Seq(x + "_tombstones",
          IndexLifecycle.rebalanceMarkerOf(x)))
        .foreach(x => spark.sql(s"DROP TABLE IF EXISTS `$x`"))
    }
  }

  test("cellDrift localizes a planted blob: positive drift_score in the blob's cell") {
    val e = Tables.embeddings(spark, TestSpark.sf0001)
    val base = e.where(col("vec_id") >= 100 && col("vec_id") < 200)
      .select(col("vec_id"), col("embedding"))
    val blob = blobOf(e.where(col("vec_id") === 100), 60, 9000L)
    val t = "ivf_celldrift_spec"
    try {
      IvfIndex.build(base, "vec_id", "embedding", t, k = 4, iters = 0)
      val ref = graft.ext.Checkpoints.stage(
        IvfIndex.cellCensus(spark, t, "vec_id"))
      IvfIndex.build(base.unionByName(blob), "vec_id", "embedding", t,
        k = 4, iters = 0)
      // The blob's cell, read from the live index itself.
      val blobCell = spark.table(t).where(col("vec_id") === 9000L)
        .select(col("cluster_id")).first().getInt(0).toLong
      val drift = IvfIndex.cellDrift(spark, t, "vec_id", ref).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
          r.getLong(5))).toMap
      val (nOld, nNew, score) = drift(blobCell)
      assert(nNew - nOld >= 60L,
        s"blob cell $blobCell must gain the 60 twins: $drift")
      assert(score > 0L,
        s"blob cell $blobCell must carry positive drift_score: $drift")
      assert(drift.values.map(_._3).sum > 0L,
        s"the census scalar must go positive under the blob: $drift")
    } finally {
      Seq(t, IvfIndex.centroidsTable(t), t + "_tombstones")
        .foreach(x => spark.sql(s"DROP TABLE IF EXISTS `$x`"))
    }
  }

  test("cellCensus heals the post-marker crash window instead of throwing") {
    // ADVICE r18: cellCensus evaluated spark.table(table) as a call
    // argument BEFORE minusTombstones' recovery hook ran, so a census
    // in the window where the old main is already dropped mid-swap
    // threw AnalysisException — the one lifecycle entry that broke the
    // heals-at-every-contact doctrine.
    val e = Tables.embeddings(spark, TestSpark.sf0001)
    val corpus = e.where(col("vec_id") >= 100 && col("vec_id") < 200)
      .select(col("vec_id"), col("embedding"))
    val t = "ivf_census_crash_spec"
    val ref = "ivf_census_crash_ref"
    try {
      IvfIndex.build(corpus, "vec_id", "embedding", t, k = 4, iters = 1)
      IvfIndex.build(corpus, "vec_id", "embedding", ref, k = 4, iters = 1)
      val expected = IvfIndex.cellCensus(spark, ref, "vec_id").collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSeq
      // Post-marker crash, mid-MAIN-swap: staging written, marker up,
      // old main dropped.
      graft.io.Writer.emptyPartitionedTable(spark, PurgeSwap.stagingOf(t),
        spark.table(ref).schema, "cluster_id")
      spark.table(ref).write.insertInto(PurgeSwap.stagingOf(t))
      spark.sql(s"ALTER TABLE `${IvfIndex.centroidsTable(ref)}` RENAME TO " +
        s"`${PurgeSwap.stagingOf(IvfIndex.centroidsTable(t))}`")
      IndexLifecycle.markSwap(spark, t, Seq(t, IvfIndex.centroidsTable(t)))
      graft.io.Writer.dropTableAndLocation(spark, t)
      val got = IvfIndex.cellCensus(spark, t, "vec_id").collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSeq
      assert(got == expected, "census must heal the swap, then count")
      assert(!spark.catalog.tableExists(t + "_rebalance_inflight"),
        "census contact must clear the marker")
    } finally {
      Seq(t, ref).flatMap(x => Seq(x, IvfIndex.centroidsTable(x),
          x + "_tombstones", PurgeSwap.stagingOf(x),
          PurgeSwap.stagingOf(IvfIndex.centroidsTable(x)),
          x + "_rebalance_inflight"))
        .foreach(x => spark.sql(s"DROP TABLE IF EXISTS `$x`"))
    }
  }

  test("a corrupt marker refuses the heal instead of half-swapping") {
    // ADVICE r18: finishSwap trusted the marker's rows completely — an
    // empty marker (non-atomic CTAS commit) or one naming a table with
    // neither staging nor live present (external writer, partial rows)
    // would swap some tables yet still drop tombstones and marker.
    import spark.implicits._
    val e = Tables.embeddings(spark, TestSpark.sf0001)
    val corpus = e.where(col("vec_id") >= 100 && col("vec_id") < 160)
      .select(col("vec_id"), col("embedding"))
    val t = "ivf_marker_corrupt_spec"
    val m = IndexLifecycle.rebalanceMarkerOf(t)
    try {
      IvfIndex.build(corpus, "vec_id", "embedding", t, k = 4, iters = 1)
      val before = IvfIndex.cellCensus(spark, t, "vec_id").collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSeq
      // Empty marker: zero rows visible.
      Seq.empty[(Int, String)].toDF("idx", "t")
        .write.format("parquet").saveAsTable(m)
      intercept[IllegalArgumentException] {
        IndexLifecycle.recoverSwap(spark, t)
      }
      assert(spark.catalog.tableExists(t) && spark.catalog.tableExists(m),
        "refused heal must leave the index and the marker in place")
      spark.sql(s"DROP TABLE `$m`")
      // Marker naming a vanished table: neither staging nor live.
      IndexLifecycle.markSwap(spark, t, Seq(t, t + "_gone_sibling"))
      intercept[IllegalArgumentException] {
        IndexLifecycle.recoverSwap(spark, t)
      }
      assert(spark.catalog.tableExists(t) && spark.catalog.tableExists(m),
        "refused heal must leave the index and the marker in place")
      spark.sql(s"DROP TABLE `$m`")
      val after = IvfIndex.cellCensus(spark, t, "vec_id").collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSeq
      assert(after == before, "the live index must be untouched")
    } finally {
      Seq(t, IvfIndex.centroidsTable(t), t + "_tombstones",
          PurgeSwap.stagingOf(t), m)
        .foreach(x => spark.sql(s"DROP TABLE IF EXISTS `$x`"))
    }
  }
}
