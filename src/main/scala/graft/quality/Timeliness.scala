package graft.quality

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Timeliness dimension (reference notebook.py:364–401): daily count
  * time-series + calendar-gap detection via a generated date dimension
  * LEFT JOIN'd to the daily counts (the anti-join-via-left-join idiom).
  *
  * Scale notes: the date dimension is tiny (days between min and max)
  * → always broadcast; min/max is a 1-row agg collected to the driver
  * (driver-level adaptivity, SURVEY §3 E1). The daily counts shuffle is
  * keyed on day — bounded by the calendar, never by row count.
  */
object Timeliness {

  /** `groupBy(date(ts)).count()` daily series (reference A9). */
  def dailyCounts(df: DataFrame, ts: Column): DataFrame =
    df.groupBy(ts.cast("date").as("day"))
      .agg(count(lit(1)).as("n"))

  /** Continuous date dimension covering [lo, hi] (reference S8+X10). */
  def dateDim(spark: SparkSession, lo: java.sql.Date, hi: java.sql.Date): DataFrame = {
    val ndays = java.time.temporal.ChronoUnit.DAYS
      .between(lo.toLocalDate, hi.toLocalDate)
    spark.range(0, ndays + 1)
      .select(date_add(lit(lo), col("id").cast("int")).as("day"))
  }

  /** Calendar gap-fill over a daily series: every day in
    * [min(day), max(day)] appears once, `countCols` zero-fill on
    * missing days, and each gauge column is replaced by
    * `<name>_filled` — last observation carried forward (LOCF), the
    * interpolation convention for sampled gauges where absence means
    * "unchanged", not zero.
    *
    * Scale shape: the fill runs on the AGGREGATED daily series (one
    * row per calendar day), so the unpartitioned LOCF window's
    * single-partition sort is calendar-bounded — never row-count
    * bounded. The calendar dimension joins broadcast, as in
    * [[calendarGaps]].
    */
  def gapFill(spark: SparkSession, dailyIn: DataFrame, dayCol: String,
              countCols: Seq[String], gaugeCols: Seq[String]): DataFrame = {
    val daily = dailyIn.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mm = daily.agg(min(col(dayCol)), max(col(dayCol))).first()
    // Empty input returns an empty frame with the SAME schema contract
    // as the filled output (gauges renamed to <name>_filled), so
    // callers selecting the documented columns never break.
    if (mm.isNullAt(0)) return gaugeCols.foldLeft(dailyIn.limit(0)) {
      (d, c) => d.withColumnRenamed(c, s"${c}_filled")
    }
    val dim = dateDim(spark, mm.getDate(0), mm.getDate(1))
      .withColumnRenamed("day", dayCol)
    val joined = dim.join(broadcast(daily), Seq(dayCol), "left")
    val w = org.apache.spark.sql.expressions.Window.orderBy(col(dayCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val zeroed = countCols.foldLeft(joined) { (d, c) =>
      d.withColumn(c, coalesce(col(c), lit(0L)))
    }
    gaugeCols.foldLeft(zeroed) { (d, c) =>
      d.withColumn(s"${c}_filled", last(col(c), ignoreNulls = true).over(w))
        .drop(c)
    }.orderBy(col(dayCol))
  }

  /** Calendar days in [min(day), max(day)] with zero rows (reference J1). */
  def calendarGaps(spark: SparkSession, dailyIn: DataFrame): DataFrame = {
    // Two consumers (the min/max bounds collect + the gap join): persist
    // the calendar-bounded aggregate or its upstream shuffle runs twice.
    val daily = dailyIn.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mm = daily.agg(min(col("day")), max(col("day"))).first()
    calendarGaps(spark, daily, mm.getDate(0), mm.getDate(1))
  }

  /** [[calendarGaps]] over KNOWN bounds: the days in [lo, hi] with zero
    * rows in `daily`. For a caller that already has min/max of the
    * series from an aggregation it runs anyway — `daily` then has one
    * consumer, so no persist and no bounds job. Null bounds (an empty
    * or all-null series) give no gaps. */
  def calendarGaps(spark: SparkSession, daily: DataFrame,
                   lo: java.sql.Date, hi: java.sql.Date): DataFrame = {
    if (lo == null || hi == null)
      return spark.emptyDataFrame.select(lit(null).cast("date").as("day")).limit(0)
    dateDim(spark, lo, hi).join(broadcast(daily), Seq("day"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .where(col("n") === 0)
      .select(col("day"))
      .orderBy(col("day"))
  }
}
