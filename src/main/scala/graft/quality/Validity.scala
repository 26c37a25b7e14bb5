package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Validity dimension (reference notebook.py:314–352): rule = a Column
  * predicate; failures = rows where the rule does NOT hold. Catalyst
  * three-valued logic applies: rows where the predicate is NULL are
  * neither passes nor failures (reference P4 semantics — `~cond` of
  * null is null, filtered out).
  *
  * The reference runs one filter+count job per rule (10 scans). At
  * scale that is 10 full passes; `report` instead computes ALL rule
  * failure counts in a single aggregation pass using conditional sums,
  * then reshapes to the long (rule, failures) form — same numbers, one
  * scan.
  */
object Validity {

  final case class Rule(name: String, holds: Column)

  /** Failing rows for one rule — the reference's check_validity filter. */
  def failures(df: DataFrame, rule: Rule): DataFrame = df.filter(!rule.holds)

  /** One aggregate column per rule, named after it: the rule's failure
    * count. `!holds <=> true` counts only genuine failures (3VL: null →
    * false); coalesce(…, 0) because sum over ZERO rows is null, and an
    * empty slice has zero failures, not null ones. For callers that fold
    * the counts into an aggregation of their own. */
  def failureCounts(rules: Seq[Rule]): Seq[Column] =
    rules.map(r =>
      coalesce(sum((!r.holds <=> lit(true)).cast("long")), lit(0L)).as(r.name))

  /** (rule, failures) table for all rules in ONE pass ([[failureCounts]]). */
  def report(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    if (rules.isEmpty)
      // No applicable rules (every guarded column dropped): an empty
      // report with the right schema, not an aggs.head crash.
      return df.sparkSession.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("rule",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("failures",
            org.apache.spark.sql.types.LongType))))
    val aggs = failureCounts(rules)
    val wide = df.agg(aggs.head, aggs.tail: _*)
    // Reshape wide→long with Column literals (never string-spliced SQL:
    // a rule name containing a quote must not break the plan).
    val entries = rules.map(r =>
      struct(lit(r.name).as("rule"), col(r.name).as("failures")))
    wide.select(explode(array(entries: _*)).as("s"))
      .select(col("s.rule").as("rule"), col("s.failures").as("failures"))
      .orderBy(col("rule"))
  }
}
