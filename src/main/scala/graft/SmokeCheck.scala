package graft

import org.apache.spark.sql.types.TimestampType

/** Environment-drift smoke (seconds, not the 3.5-minute suite): the
  * sandbox regenerates /root/testdata between rounds and has already
  * changed the events.ts parquet encoding twice (TIMESTAMP(NANOS) →
  * int64, then timestamp[us]-NTZ — the round-11 breakage). This main
  * asserts, for every sf dir present, the contract the whole
  * event-time family builds on and that SparkEntrySpec:89 pins:
  * `Tables.events(...)("ts")` resolves to session-tz TimestampType and
  * the table has rows. Wired into tools/precommit.sh so a drifted
  * regen fails the next commit, not the next round.
  *
  * Exit code 0 = all green; 1 = any violation (printed to stderr).
  */
object SmokeCheck {
  def main(args: Array[String]): Unit = {
    val base = if (args.nonEmpty) args(0)
               else sys.env.getOrElse("SPARK_GRAFT_TESTDATA", "/root/testdata")
    val sfDirs = Option(new java.io.File(base).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("sf"))
      .map(_.getAbsolutePath).sorted.toSeq
    if (sfDirs.isEmpty) {
      System.err.println(s"[smoke] no sf* dirs under $base — testdata missing or moved")
      sys.exit(1)
    }
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    var bad = 0
    for (dir <- sfDirs) {
      // Every table must at least resolve a schema (catches a renamed
      // or vanished parquet), events additionally meets the ts contract.
      for (t <- Tables.names) {
        val r = scala.util.Try {
          if (t == "events") {
            val ev = Tables.events(spark, dir)
            val dt = ev.schema("ts").dataType
            require(dt == TimestampType, s"events.ts resolved to $dt")
            // count() on parquet is metadata-only — cheap at any sf.
            val n = ev.count()
            require(n > 0, "events has 0 rows")
            s"ts=TimestampType rows=$n"
          } else {
            val n = Tables.load(spark, dir, t).schema.length
            require(n > 0, s"$t schema is empty")
            s"cols=$n"
          }
        }
        r match {
          case scala.util.Success(msg) => println(s"[smoke] OK   $dir/$t $msg")
          case scala.util.Failure(e) =>
            System.err.println(s"[smoke] FAIL $dir/$t: ${e.getMessage}")
            bad += 1
        }
      }
    }
    spark.stop()
    if (bad > 0) { System.err.println(s"[smoke] $bad FAILURES"); sys.exit(1) }
    println("[smoke] all green")
  }
}
