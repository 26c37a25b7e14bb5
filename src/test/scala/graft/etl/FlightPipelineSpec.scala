package graft.etl

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.quality.{Completeness, Timeliness, Uniqueness, Validity}

/** End-to-end golden test of the reference pipeline on the committed
  * miniature fixture (FIXTURES.md §1a): every recorded reference golden
  * shape — all-null column drop, exact-dup census, dedup, compound-key
  * dups, the validity report (incl. 3VL nulls), and the calendar gap.
  * The fused `run` is also checked against the unfused library calls
  * and for its one-decode, one-shuffle plan shape.
  */
class FlightPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val miniPath = getClass.getResource("/flights_mini.csv").getPath

  private lazy val report = FlightPipeline.run(spark, miniPath, asOfYear = 2009)

  private lazy val header = Files.readAllLines(Paths.get(miniPath)).get(0)

  /** A one-file CSV input directory holding `header` and `rows`. */
  private def csvDir(prefix: String, rows: Seq[String]): Path = {
    val dir = Files.createTempDirectory(prefix)
    Files.writeString(dir.resolve("flights.csv"), (header +: rows).mkString("\n"))
    dir
  }

  /** A file of only cancelled flights: DepTime/ArrTime all null. */
  private def cancelledOnly(): Path = csvDir("graft_cancelled", Seq(
    "2008,2,1,5,,1200,,1300,WN,503,N1,,,,,,HOU,DAL,239,,,1,A,0,,,,,",
    "2008,2,2,6,,900,,1015,AA,104,N2,,,,,,JFK,ORD,740,,,1,B,0,,,,,"))

  /** Three consecutive days; the middle one has only a cancelled flight. */
  private def cancelledDay(): Path = csvDir("graft_cancelday", Seq(
    "2008,3,1,6,700,700,830,835,DL,1,N1,90,95,80,-5,0,ATL,BNA,214,5,5,0,,0,,,,,",
    "2008,3,2,7,,900,,1015,AA,2,N2,,,,,,JFK,ORD,740,,,1,B,0,,,,,", // cancelled only
    "2008,3,3,1,700,700,830,835,DL,3,N3,90,95,80,-5,0,ATL,BNA,214,5,5,0,,0,,,,,"))

  /** Deterministic generator mirroring the recorded 2008 slice's SHAPE
    * (.dbc pos=13.0/19.0/21.0/23.0): 29 columns, alphanumeric TailNum
    * (all-null under the int schema), 121 contiguous days (Jan 1 –
    * Apr 30 2008, leap year), 4 exact-duplicate groups, 12
    * compound-key duplicate groups, exactly one CRSDepTime=0 row as
    * the sole validity failure. The recorded ABSOLUTE counts (2.39M
    * rows, 12,245 compound dups) scale with the slice; the structural
    * goldens asserted on it are scale-free. */
  private def shape2008(): Path = {
    val daysInMonth = Map(1 -> 31, 2 -> 29, 3 -> 31, 4 -> 30)
    val carriers = Seq("AA", "WN", "DL", "UA", "9E")
    val origins = Seq("ATL", "ORD", "DFW", "DEN", "PHX")
    val dests = Seq("LAX", "SFO", "JFK", "SEA", "MCO")
    val base = scala.collection.mutable.ArrayBuffer[Array[String]]()
    var n = 0
    for (m <- 1 to 4; d <- 1 to daysInMonth(m); i <- 0 until 6) {
      n += 1
      val dep = 100 * ((n % 23) + 1) + (n % 60) // HHmm in [100, 2359]
      val crsDep = if (m == 1 && d == 15 && i == 0) 0 else dep
      val arr = 100 * (((n + 7) % 23) + 1) + ((n + 13) % 60)
      base += Array(
        "2008", m.toString, d.toString, ((n % 7) + 1).toString,
        dep.toString, crsDep.toString, arr.toString,
        (100 * (((n + 11) % 23) + 1) + ((n + 29) % 60)).toString,
        carriers(i % 5), (100 + (n % 900)).toString, s"N${n % 997}AB",
        (60 + n % 300).toString, (60 + (n + 5) % 300).toString,
        (50 + n % 250).toString, ((n % 40) - 10).toString,
        ((n % 35) - 5).toString, origins((i + d) % 5), dests((i + m) % 5),
        (100 + n % 2000).toString, (n % 30).toString, (n % 25).toString,
        if (n % 181 == 0) "1" else "0", if (n % 181 == 0) "A" else "",
        "0", "0", "0", "0", "0", "0")
    }
    val exactDupCopies = base.take(4).map(_.clone())
    val compoundExtras = (1 to 12).map { j =>
      val src = base(50 * j + 45) // n = 50j+46: never row 1–4 or the CRS row (n=85)
      val e = src.clone()
      e(6) = "777"; e(14) = "99"; e(17) = "XXX" // same compound key, different row
      e
    }
    csvDir("flights_2008_shape_", (base ++ exactDupCopies ++ compoundExtras).map(_.mkString(",")).toSeq)
  }

  /** The pipeline as separate library calls, one pass per check — what
    * the fused `run` must reproduce field for field. */
  private def unfused(path: String, asOfYear: Int): FlightPipeline.Report = {
    val (dropped, kept) = Completeness.dropAllNull(FlightPipeline.load(spark, path))
    val derivable = FlightPipeline.withRequiredColumns(kept)
    val deduped = FlightPipeline.deriveTimestamps(Uniqueness.dropDups(derivable))
    val rules = FlightPipeline.referenceRulesWithColumns(asOfYear).collect {
      case (rule, column) if !dropped.contains(column) => rule
    }
    FlightPipeline.Report(dropped, derivable.count(),
      Uniqueness.exactDupGroups(derivable).first().getLong(0), deduped.count(),
      Uniqueness.compoundDupGroups(deduped, FlightPipeline.compoundKey).count(),
      Validity.report(deduped, rules).collect().map(r => r.getString(0) -> r.getLong(1)).toMap,
      Timeliness.calendarGaps(spark, Timeliness.dailyCounts(deduped, col("DepTime_Date")))
        .collect().map(_.getDate(0)).toSeq,
      deduped)
  }

  private def assertSameReport(got: FlightPipeline.Report, want: FlightPipeline.Report): Unit = {
    assert(got.droppedColumns == want.droppedColumns)
    assert(got.totalRows == want.totalRows)
    assert(got.exactDupGroups == want.exactDupGroups)
    assert(got.rowsAfterDedup == want.rowsAfterDedup)
    assert(got.compoundDupGroups == want.compoundDupGroups)
    assert(got.validity == want.validity)
    assert(got.gapDays == want.gapDays)
    assert(got.cleaned.schema == want.cleaned.schema)
    assert(got.cleaned.exceptAll(want.cleaned).count() == 0)
    assert(want.cleaned.exceptAll(got.cleaned).count() == 0)
  }

  test("TailNum (alphanumeric under int schema, PERMISSIVE) parses all-null and is dropped") {
    assert(report.droppedColumns == Seq("TailNum"))
    assert(!report.cleaned.columns.contains("TailNum"))
  }

  test("exact-duplicate census finds the planted pair; dedup removes one row") {
    assert(report.totalRows == 15)
    assert(report.exactDupGroups == 1)
    assert(report.rowsAfterDedup == 14)
  }

  test("compound-key census finds the same-(origin,carrier,flight,ts) pair") {
    assert(report.compoundDupGroups == 1)
  }

  test("validity: CRSDepTime=0 and DepTime=2430 fail; nulls are neither pass nor failure (3VL)") {
    assert(report.validity("crsdeptime_range") == 1)
    assert(report.validity("deptime_range") == 1)
    // The two cancelled rows have null DepTime — 3VL must keep them out
    // of every count; all other rules are clean.
    (report.validity - "crsdeptime_range" - "deptime_range").foreach {
      case (rule, n) => assert(n == 0, s"rule $rule expected 0 failures")
    }
  }

  test("calendar-gap join reports exactly the missing day") {
    assert(report.gapDays.map(_.toString) == Seq("2008-01-04"))
  }

  test("run survives a slice whose derivation columns are all null (dropped)") {
    // A file of only cancelled flights: DepTime/ArrTime all null →
    // dropped by the census; the pipeline must not crash and the
    // DepTime rules must silently not apply.
    val dir = cancelledOnly()
    val rep = FlightPipeline.run(spark, dir.toString, asOfYear = 2009)
    assert(rep.totalRows == 2)
    assert(rep.droppedColumns.contains("DepTime"))
    assert(!rep.validity.contains("deptime_range"))
    assert(rep.validity("crsdeptime_range") == 0)
    assert(rep.gapDays.isEmpty) // no timestamps → no calendar to gap-check
  }

  test("a day with only cancelled flights counts as present, not as a gap (A9 parity)") {
    // Reference DepTime_Date derives from Year/Month/DayofMonth alone
    // (notebook.py:365-377): null DepTime must not erase the day.
    val dir = cancelledDay()
    val rep = FlightPipeline.run(spark, dir.toString, asOfYear = 2009)
    assert(rep.gapDays.isEmpty,
      s"cancelled-only day must not be a gap, got ${rep.gapDays}")
  }

  test("full Report golden on a generated 2008-slice-shaped fixture") {
    // Every one of the Report's seven fields is pinned in this single
    // test on the generated fixture (see shape2008).
    val path = shape2008()
    try {
      val r = FlightPipeline.run(spark, path.toString, asOfYear = 2009)
      assert(r.droppedColumns == Seq("TailNum"))        // .dbc pos=13.0
      assert(r.totalRows == 726L + 4 + 12)              // 121 days × 6 + planted
      assert(r.exactDupGroups == 4L)                    // .dbc pos=19.0 (recorded: 4)
      assert(r.rowsAfterDedup == r.totalRows - 4)
      assert(r.compoundDupGroups == 12L)                // shape of recorded 12,245
      assert(r.validity("crsdeptime_range") == 1L)      // .dbc pos=21.0: sole failure
      (r.validity - "crsdeptime_range").foreach { case (rule, failed) =>
        assert(failed == 0L, s"rule $rule expected clean, got $failed")
      }
      assert(r.gapDays.isEmpty)                         // 121 contiguous days
      // The daily series spans exactly the recorded 121 days (.dbc pos=23.0).
      assert(Timeliness.dailyCounts(r.cleaned, col("DepTime_Date")).count() == 121L)
    } finally {
      Files.deleteIfExists(path.resolve("flights.csv"))
      Files.deleteIfExists(path)
    }
  }

  test("cleaned output survives a parquet round-trip bit-identically") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_rt").toString
    val n = graft.io.Writer.sizedParquet(report.cleaned, tmp)
    assert(n == 1) // 14 rows ≪ 200 MB target
    val back = spark.read.parquet(tmp)
    assert(back.schema == report.cleaned.schema)
    assert(back.exceptAll(report.cleaned).count() == 0)
    assert(report.cleaned.exceptAll(back).count() == 0)
  }

  test("fused run equals the unfused library calls on every fixture") {
    val inputs = Seq("mini" -> Paths.get(miniPath), "2008 shape" -> shape2008(),
      "cancelled only" -> cancelledOnly(), "cancelled day" -> cancelledDay())
    inputs.foreach { case (name, path) =>
      withClue(s"$name: ") {
        assertSameReport(FlightPipeline.run(spark, path.toString, asOfYear = 2009),
          unfused(path.toString, asOfYear = 2009))
      }
    }
  }

  test("header-only CSV: a zero Report, no crash") {
    val dir = csvDir("graft_empty", Nil)
    val rep = FlightPipeline.run(spark, dir.toString, asOfYear = 2009)
    // Every column of an empty file has zero non-null values.
    assert(rep.droppedColumns == FlightSchema.schema.fieldNames.toSeq)
    assert(rep.totalRows == 0 && rep.exactDupGroups == 0 && rep.rowsAfterDedup == 0)
    assert(rep.compoundDupGroups == 0)
    assert(rep.validity.values.forall(_ == 0L))
    assert(rep.gapDays.isEmpty) // min/max over zero rows are null: no calendar
    assert(rep.cleaned.count() == 0)
    assertSameReport(rep, unfused(dir.toString, asOfYear = 2009))
    // The fused aggregation's failure counts over zero rows are 0, not
    // the null that sum returns.
    val rules = FlightPipeline.referenceRules(2009)
    val zero = FlightPipeline.load(spark, dir.toString)
      .agg(lit(0), Validity.failureCounts(rules): _*).first()
    assert(rules.indices.forall(i => !zero.isNullAt(i + 1) && zero.getLong(i + 1) == 0L))
  }

  /** Nodes of an executed plan. Adaptive plans are walked as finally
    * executed; a cached relation's plan is walked only the first time
    * it is met, which is the query that filled it — later reads of the
    * cache decode and shuffle nothing. */
  private def nodes(p: SparkPlan, seen: java.util.Set[AnyRef]): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan, seen)
    case q: QueryStageExec => nodes(q.plan, seen)
    case m: InMemoryTableScanExec =>
      if (seen.add(m.relation.cacheBuilder)) nodes(m.relation.cachedPlan, seen) else Nil
    case other => other.children.flatMap(nodes(_, seen))
  })

  test("one pass: one executed plan decodes the CSV, one shuffle keys on all kept columns") {
    // A fresh copy: no cache from another run over the same path can
    // stand in for this run's work.
    val dir = Files.createTempDirectory("graft_onepass")
    Files.copy(Paths.get(miniPath), dir.resolve("flights.csv"))
    val marker = "one_pass_marker_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    @volatile var drained = false
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.toString.contains(marker)) drained = true
        else plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val rep = try {
      val r = FlightPipeline.run(spark, dir.toString, asOfYear = 2009)
      // Listener events arrive in order: once the marker query's has,
      // every event of the run has too.
      spark.range(1).select(lit(marker)).collect()
      val deadline = System.currentTimeMillis() + 30000
      while (!drained && System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(drained, "listener events did not arrive")
      r
    } finally spark.listenerManager.unregister(listener)

    val seen = java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    import scala.jdk.CollectionConverters._
    val walked = plans.asScala.toSeq.map(nodes(_, seen))
    val decodes = walked.count(_.exists {
      case s: FileSourceScanExec => s.relation.location.rootPaths.exists(_.toString.contains(dir.getFileName.toString))
      case _ => false
    })
    assert(decodes == 1, s"plans decoding the CSV: $decodes")
    val kept = rep.cleaned.columns.toSet --
      Set("DepTime_Hour", "DepTime_Min", "DepTime_Timestamp", "DepTime_Date")
    val allColumnShuffles = walked.flatten.count {
      case e: ShuffleExchangeExec => e.outputPartitioning match {
        case h: HashPartitioning =>
          h.expressions.collect { case a: Attribute => a.name }.toSet == kept
        case _ => false
      }
      case _ => false
    }
    assert(allColumnShuffles == 1, s"all-column shuffles: $allColumnShuffles")
  }
}
