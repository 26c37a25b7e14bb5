package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM — the
  * [[GraftSession]] config at 4 cores.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  val sf0001 = "/root/testdata/sf0.001"
}
