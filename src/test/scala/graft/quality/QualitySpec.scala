package graft.quality

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** Invariants + cross-checks for the quality dimensions against the
  * driver-provided sf0.001 tables (never synthesized data — TESTDATA.md).
  */
class QualitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("census invariant: nulls + non-nulls = total for every column") {
    val df = Tables.events(spark, TestSpark.sf0001)
    val total = df.count()
    val nonNull = Completeness.nonNullCensus(df).first()
    val nulls = Completeness.nullCensus(df).first()
    df.columns.foreach { c =>
      assert(nonNull.getAs[Long](c) + nulls.getAs[Long](s"${c}_nulls") == total,
        s"census invariant broken for $c")
    }
  }

  test("summaryStats matches Spark's describe() on lineitem numerics") {
    val df = Tables.lineitem(spark, TestSpark.sf0001)
    val cols = Seq("l_quantity", "l_extendedprice")
    val ours = Accuracy.summaryStats(df, cols).collect()
      .map(r => r.getString(0) -> r).toMap
    val theirs = df.select(cols.map(col): _*).describe()
    val byStat = theirs.collect().map(r => r.getString(0) -> r).toMap
    cols.foreach { c =>
      val r = ours(c)
      assert(r.getAs[Long]("n") == byStat("count").getAs[String](c).toLong)
      assert(math.abs(r.getAs[Double]("mean") - byStat("mean").getAs[String](c).toDouble) < 1e-6)
      assert(math.abs(r.getAs[Double]("stddev") - byStat("stddev").getAs[String](c).toDouble) < 1e-6)
      assert(r.getAs[Double]("min") == byStat("min").getAs[String](c).toDouble)
      assert(r.getAs[Double]("max") == byStat("max").getAs[String](c).toDouble)
    }
  }

  test("histogram: buckets partition all rows; constant column collapses to bucket 0") {
    val df = Tables.lineitem(spark, TestSpark.sf0001)
    val h = Accuracy.histogram(df, "l_extendedprice", 20).collect()
    assert(h.map(_.getAs[Long]("n")).sum == df.count())
    assert(h.forall(r => r.getAs[Long]("bucket") >= 0 && r.getAs[Long]("bucket") <= 19))
    // div-by-zero regression (VERDICT r1 §wrong-3): constant column
    val const = spark.range(100).select(lit(7.5).as("v"))
    val hc = Accuracy.histogram(const, "v", 20).collect()
    assert(hc.length == 1 && hc.head.getAs[Long]("bucket") == 0L
      && hc.head.getAs[Long]("n") == 100L)
  }

  test("validity 3VL: null predicate rows count as neither pass nor failure") {
    val df = Seq[(java.lang.Integer, String)](
      (1, "a"), (5, "b"), (null, "c"), (12, "d")).toDF("x", "id")
    val rep = Validity.report(df, Seq(Validity.Rule("x_small", col("x") <= 5)))
      .collect()
    assert(rep.length == 1)
    // x=12 fails; x=null is excluded by 3VL; 1 and 5 pass.
    assert(rep.head.getAs[Long]("failures") == 1L)
    // A rule name with a quote must not break the plan (regression for
    // the round-1 stack()-injection defect).
    val quoted = Validity.report(df, Seq(Validity.Rule("it's x", col("x") <= 5))).collect()
    assert(quoted.head.getAs[String]("rule") == "it's x")
    assert(quoted.head.getAs[Long]("failures") == 1L)
  }

  test("dedup idempotence and dup-census consistency on events") {
    val df = Tables.events(spark, TestSpark.sf0001)
    val once = Uniqueness.dropDups(df)
    assert(Uniqueness.dropDups(once).count() == once.count())
    // After dedup, the exact-dup census must be zero.
    assert(Uniqueness.exactDupGroups(once).first().getLong(0) == 0L)
  }

  test("consistency frequency table sums to the row count") {
    val df = Tables.events(spark, TestSpark.sf0001)
    val freq = Consistency.freqTable(df, "event_type")
    assert(freq.agg(sum(col("n"))).first().getLong(0) == df.count())
  }

  test("date dimension edges: single day, full span, and the range source") {
    val d = java.sql.Date.valueOf("2024-06-15")
    assert(Timeliness.dateDim(spark, d, d).collect()
      .map(_.getDate(0).toString).toSeq == Seq("2024-06-15"))
    val span = Timeliness.dateDim(spark,
      java.sql.Date.valueOf("2024-02-27"), java.sql.Date.valueOf("2024-03-02"))
    // Crosses a leap-year Feb 29.
    assert(span.collect().map(_.getDate(0).toString).toSeq ==
      Seq("2024-02-27", "2024-02-28", "2024-02-29", "2024-03-01", "2024-03-02"))
    assert(graft.etl.Sources.range(spark, 5).collect().map(_.getLong(0)).toSeq ==
      Seq(0L, 1L, 2L, 3L, 4L))
  }

  test("string-column discovery matches the schema (reference M2)") {
    val li = graft.Tables.lineitem(spark, graft.TestSpark.sf0001)
    assert(Consistency.stringColumns(li).toSet == Set("l_returnflag", "l_linestatus"))
  }

  test("calendar gaps: planted missing day is found, dense series is gap-free") {
    val daily = Seq(
      ("2024-03-01", 5L), ("2024-03-02", 3L), ("2024-03-04", 7L))
      .toDF("day", "n").select(col("day").cast("date").as("day"), col("n"))
    val gaps = Timeliness.calendarGaps(spark, daily).collect()
    assert(gaps.map(_.getDate(0).toString).toSeq == Seq("2024-03-03"))
    val dense = Seq(("2024-03-01", 5L), ("2024-03-02", 3L))
      .toDF("day", "n").select(col("day").cast("date").as("day"), col("n"))
    assert(Timeliness.calendarGaps(spark, dense).count() == 0)
  }

  test("calendar gaps over known bounds equal the self-bounded form") {
    def daily(days: String*) = days.map(d => (d, 1L)).toDF("day", "n")
      .select(col("day").cast("date").as("day"), col("n"))
    val series = Seq(
      daily("2024-03-01", "2024-03-02", "2024-03-04"), // planted gap
      daily("2024-03-01", "2024-03-02"),               // dense
      daily("2024-02-27", "2024-03-02"),               // gaps across Feb 29
      daily("2024-06-15"))                             // single day
    series.foreach { d =>
      val mm = d.agg(min(col("day")), max(col("day"))).first()
      val bounded = Timeliness.calendarGaps(spark, d, mm.getDate(0), mm.getDate(1))
        .collect().map(_.getDate(0)).toSeq
      assert(bounded == Timeliness.calendarGaps(spark, d).collect().map(_.getDate(0)).toSeq)
    }
    // Null bounds (empty or all-null series): no calendar, no gaps.
    assert(Timeliness.calendarGaps(spark, daily().limit(0), null, null).count() == 0)
  }

  test("missingDays (driver) equals the calendarGaps join on random day sets across Feb 29 and a year end") {
    import org.scalacheck.{Gen, Prop, Test}
    val first = java.time.LocalDate.parse("2007-12-20")
    val span = 81 // through 2008-03-09: crosses 2008-01-01 and 2008-02-29
    def agrees(present: Seq[java.time.LocalDate]): Boolean = {
      val daily = present.map(d => (java.sql.Date.valueOf(d), 1L)).toDF("day", "n")
      val (lo, hi) =
        if (present.isEmpty) (null, null)
        else (java.sql.Date.valueOf(present.minBy(_.toEpochDay)),
          java.sql.Date.valueOf(present.maxBy(_.toEpochDay)))
      val joined = Timeliness.calendarGaps(spark, daily, lo, hi)
        .collect().map(_.getDate(0).toLocalDate).toSeq
      Timeliness.missingDays(present) == joined
    }
    assert(agrees(Nil))
    assert(agrees(Seq(java.time.LocalDate.parse("2008-02-29"))))
    val days = Gen.listOf(Gen.choose(0, span - 1)).map(_.distinct.map(first.plusDays(_)))
    val prop = Prop.forAll(days)(agrees)
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(result.passed, result.status.toString)
  }

  test("gapFill: zero-fill counts, LOCF gauges across planted gaps") {
    val daily = Seq(
      ("2024-03-01", 5L, 1.5), ("2024-03-04", 7L, 9.0))
      .toDF("day", "n", "mx")
      .select(col("day").cast("date").as("day"), col("n"), col("mx"))
    val got = Timeliness.gapFill(spark, daily, "day", Seq("n"), Seq("mx"))
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq(
      ("2024-03-01", 5L, 1.5),
      ("2024-03-02", 0L, 1.5),  // count zero-fills, gauge carries forward
      ("2024-03-03", 0L, 1.5),
      ("2024-03-04", 7L, 9.0)))
    val empty = daily.limit(0)
    val filledEmpty = Timeliness.gapFill(spark, empty, "day", Seq("n"), Seq("mx"))
    assert(filledEmpty.count() == 0)
    assert(filledEmpty.columns.contains("mx_filled"),
      "empty input must keep the <gauge>_filled schema contract")
  }

  test("kAnonymityProfile: class-size histogram on a hand-built table") {
    import spark.implicits._
    // Quasi-identifier (zip, age): sizes 3, 2, 1, 1 → histogram
    // k=1: 2 groups/2 rows, k=2: 1 group/2 rows, k=3: 1 group/3 rows.
    // min k = 1 → the table is only 1-anonymous.
    val t = Seq(
      ("02139", 30, "a"), ("02139", 30, "b"), ("02139", 30, "c"),
      ("02139", 40, "d"), ("02139", 40, "e"),
      ("94110", 30, "f"),
      ("94110", 50, "g")
    ).toDF("zip", "age", "payload")
    val got = Uniqueness.kAnonymityProfile(t, Seq("zip", "age"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 2L), (2L, 1L, 2L), (3L, 1L, 3L)))
    // Invariant: Σ n_rows over the profile = table row count.
    assert(got.map(_._3).sum == 7L)
  }
}
