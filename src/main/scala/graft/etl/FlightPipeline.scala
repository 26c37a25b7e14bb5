package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.quality.{Completeness, Timeliness, Uniqueness, Validity}

/** The reference's end-to-end flight pipeline, re-expressed Spark-first
  * (reference: /root/reference/Processing Flight Data with Spark on
  * Databricks.py — load notebook.py:125–149, completeness 166–194,
  * dedup 249–294, SQL timestamp derivation 260–291, validity 314–352,
  * timeliness 364–401, persist 419–437).
  *
  * Differences from the reference, by design (SURVEY §4): the reference
  * rescans the CSV for every check — the completeness census, the dup
  * census, the dedup and each validity rule's filter+count. `run`
  * computes each stage of the data once:
  *   - one CSV decode: the raw scan is persisted, and the single
  *     count(*) + per-column non-null aggregation that fills the cache
  *     also gives `totalRows` and the all-null drop list;
  *   - one all-column shuffle: groupBy(all kept columns) with a copy
  *     count is both the dedup (one row per group) and the exact-dup
  *     census (groups with more than one copy); time derivation runs on
  *     it and the result is persisted;
  *   - one global pass over that cache: the row count after dedup, the
  *     exact-dup census, every validity rule's failure count and the
  *     min/max day that bounds the calendar-gap check.
  * The compound-key census and the daily series for the gap join stay
  * keyed shuffles of their own. None of this changes a result:
  * FlightPipelineSpec checks the Report against the unfused library
  * calls (Completeness.dropAllNull, Uniqueness.exactDupGroups/dropDups,
  * Validity.report, the two-argument Timeliness.calendarGaps).
  */
object FlightPipeline {

  /** Compound flight key (notebook.py:258). */
  val compoundKey: Seq[String] =
    Seq("Origin", "UniqueCarrier", "FlightNum", "DepTime_Timestamp")

  /** The reference's 10 validity rules (notebook.py:314–352) paired
    * with the column each guards (one table defines both the rule and
    * the dropped-column filter), the `year(current_date())` bound
    * injectable for determinism (SURVEY §7.5.6). */
  def referenceRulesWithColumns(asOfYear: Int): Seq[(Validity.Rule, String)] = Seq(
    (Validity.Rule("year_past", col("Year") < asOfYear), "Year"),
    (Validity.Rule("month_range", col("Month").between(1, 12)), "Month"),
    (Validity.Rule("dayofmonth_range", col("DayofMonth").between(1, 31)), "DayofMonth"),
    (Validity.Rule("dayofweek_range", col("DayOfWeek").between(1, 7)), "DayOfWeek"),
    (Validity.Rule("deptime_range", col("DepTime").between(1, 2400)), "DepTime"),
    (Validity.Rule("crsdeptime_range", col("CRSDepTime").between(1, 2400)), "CRSDepTime"),
    (Validity.Rule("arrtime_range", col("ArrTime").between(1, 2400)), "ArrTime"),
    (Validity.Rule("crsarrtime_range", col("CRSArrTime").between(1, 2400)), "CRSArrTime"),
    (Validity.Rule("flightnum_pos", col("FlightNum") > 0), "FlightNum"),
    (Validity.Rule("distance_pos", col("Distance") > 0), "Distance"))

  def referenceRules(asOfYear: Int): Seq[Validity.Rule] =
    referenceRulesWithColumns(asOfYear).map(_._1)

  /** S5: explicit-schema PERMISSIVE CSV load. */
  def load(spark: SparkSession, path: String): DataFrame =
    Sources.csv(spark, path, FlightSchema.schema)

  /** Column-API timestamp derivation (X1–X8). `DepTime_Date` derives
    * from Year/Month/DayofMonth ONLY (reference notebook.py:365–377) —
    * a row with null/malformed DepTime still has its calendar date, so
    * cancelled flights count toward their day in the timeliness check.
    */
  def deriveTimestamps(df: DataFrame): DataFrame =
    df.withColumn("DepTime_Hour", TimeDerivation.hhmmHour(col("DepTime")))
      .withColumn("DepTime_Min", TimeDerivation.hhmmMin(col("DepTime")))
      .withColumn("DepTime_Timestamp", TimeDerivation.hhmmTimestamp(
        col("Year"), col("Month"), col("DayofMonth"), col("DepTime")))
      .withColumn("DepTime_Date", try_to_timestamp(
        concat(col("Year").cast("string"), lit("-"),
          lpad(col("Month").cast("string"), 2, "0"), lit("-"),
          lpad(col("DayofMonth").cast("string"), 2, "0")),
        lit("yyyy-MM-dd")))

  /** SQL-surface twin of deriveTimestamps (Y4/E2: temp view +
    * spark.sql), semantically identical to the reference's embedded SQL
    * (notebook.py:260–291). Tests assert SQL ≡ Column-API. */
  def deriveTimestampsSql(spark: SparkSession, df: DataFrame): DataFrame = {
    // Unique per-call view name: a fixed name would clobber a caller's
    // view and race between concurrent calls in one session.
    val view = "flights_v_" + java.util.UUID.randomUUID().toString.replace("-", "")
    df.createOrReplaceTempView(view)
    try deriveSql(spark, view)
    finally spark.catalog.dropTempView(view)
  }

  private def deriveSql(spark: SparkSession, view: String): DataFrame = {
    val hourCase =
      """CASE WHEN substring(CAST(DepTime AS STRING), 1, 2) = '24' THEN '00'
        |     WHEN length(CAST(DepTime AS STRING)) < 3 THEN '00'
        |     WHEN length(CAST(DepTime AS STRING)) = 3 THEN substring(CAST(DepTime AS STRING), 1, 1)
        |     ELSE substring(CAST(DepTime AS STRING), 1, 2) END""".stripMargin
    spark.sql(
      s"""SELECT *,
         |  $hourCase AS DepTime_Hour,
         |  right(CAST(DepTime AS STRING), 2) AS DepTime_Min,
         |  try_to_timestamp(concat(
         |    CAST(Year AS STRING), '-',
         |    lpad(CAST(Month AS STRING), 2, '0'), '-',
         |    lpad(CAST(DayofMonth AS STRING), 2, '0'), ' ',
         |    lpad($hourCase, 2, '0'), ':',
         |    lpad(right(CAST(DepTime AS STRING), 2), 2, '0')),
         |   'yyyy-MM-dd HH:mm') AS DepTime_Timestamp,
         |  try_to_timestamp(concat(
         |    CAST(Year AS STRING), '-',
         |    lpad(CAST(Month AS STRING), 2, '0'), '-',
         |    lpad(CAST(DayofMonth AS STRING), 2, '0')),
         |   'yyyy-MM-dd') AS DepTime_Date
         |FROM $view""".stripMargin)
  }

  /** Full pipeline report — every reference golden in one struct. */
  final case class Report(
    droppedColumns: Seq[String],
    totalRows: Long,
    exactDupGroups: Long,
    rowsAfterDedup: Long,
    compoundDupGroups: Long,
    validity: Map[String, Long],
    gapDays: Seq[java.sql.Date],
    cleaned: DataFrame)

  /** The pipeline re-adds these as typed null columns when the census
    * drops them: the timestamp derivation and the compound key read
    * them (e.g. a file of only cancelled flights has all-null DepTime).
    * The data was all null anyway, so derived values are identical and
    * nothing crashes downstream. */
  private val requiredColumns: Seq[String] = Seq("Year", "Month", "DayofMonth", "DepTime",
    "FlightNum", "Origin", "UniqueCarrier")

  /** `kept` plus any missing [[requiredColumns]], typed from the
    * authoritative schema (never restated here), appended in order. */
  def withRequiredColumns(kept: DataFrame): DataFrame =
    requiredColumns.foldLeft(kept) { (df, c) =>
      if (df.columns.contains(c)) df
      else df.withColumn(c, lit(null).cast(FlightSchema.schema(c).dataType))
    }

  /** The copy count the dedup aggregation carries next to each row;
    * the flight schema has no such column. */
  private val copies = "__copies"

  def run(spark: SparkSession, path: String, asOfYear: Int): Report = {
    val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // One CSV decode: the census fills the raw cache and yields the row
    // count and the drop list (Completeness.dropAllNull's rule: zero
    // non-null values). Everything after it reads the cache.
    val raw = load(spark, path).persist(level)
    val census = raw.agg(count(lit(1)),
      raw.columns.toSeq.map(c => count(col(c))): _*).first()
    val totalRows = census.getLong(0)
    val dropped = raw.columns.toSeq.zipWithIndex.collect {
      case (c, i) if census.getLong(i + 1) == 0L => c
    }
    val kept = withRequiredColumns(if (dropped.isEmpty) raw else raw.drop(dropped: _*))
    // One all-column shuffle: a group is a deduped row, its size says
    // whether that row had exact duplicates.
    val deduped = deriveTimestamps(kept.groupBy(kept.columns.toSeq.map(col): _*)
      .agg(count(lit(1)).as(copies))).persist(level)
    // One global pass over the deduped cache (which it fills).
    val applicableRules = referenceRulesWithColumns(asOfYear).collect {
      case (rule, column) if !dropped.contains(column) => rule
    }
    val day = col("DepTime_Date").cast("date")
    val global = deduped.agg(count(lit(1)).as("rows"),
      Seq(count(when(col(copies) > 1, lit(1))).as("dup_groups"),
        min(day).as("lo"), max(day).as("hi"))
        ++ Validity.failureCounts(applicableRules): _*).first()
    // Everything downstream reads `deduped`; don't pin the raw scan.
    raw.unpersist()
    val validity = applicableRules.map(r => r.name -> global.getAs[Long](r.name)).toMap
    val compoundDups = Uniqueness.compoundDupGroups(deduped, compoundKey)
      .agg(count(lit(1))).first().getLong(0)
    val daily = Timeliness.dailyCounts(deduped, col("DepTime_Date"))
    val gaps = Timeliness.calendarGaps(spark, daily,
      global.getAs[java.sql.Date]("lo"), global.getAs[java.sql.Date]("hi"))
      .collect().map(_.getDate(0)).toSeq
    Report(dropped, totalRows, global.getAs[Long]("dup_groups"), global.getAs[Long]("rows"),
      compoundDups, validity, gaps, deduped.drop(copies))
  }
}
