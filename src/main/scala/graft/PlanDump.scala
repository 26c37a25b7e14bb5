package graft

/** Dump `.explain("formatted")` of registered queries to files — the
  * optimization rounds' plan evidence (plans/r21/<query>_{before,after}
  * .txt). Usage:
  *
  *   sbt "runMain graft.PlanDump <outDir> <suffix> <q1,q2,...>"
  *
  * Builds each query's DataFrame against $SPARK_GRAFT_SF_DIR (gate
  * queries execute their fixture jobs eagerly — expected) and writes
  * the FORMATTED physical plan of the RETURNED frame to
  * `<outDir>/<name>_<suffix>.txt`. Orchestrated operators (multi-job
  * lifecycles) carry most of their cost outside this one plan; the
  * accompanying OPTIMIZATION notes say per query which jobs changed.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(outDir, suffix, names) = args.take(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    names.split(",").foreach { name =>
      val txt =
        try {
          val df = SparkEntry.queries(name)(spark, sfDir)
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        } catch { case e: Throwable =>
          s"PLAN FAILED: ${e.getClass.getName}: ${e.getMessage}"
        }
      val w = new java.io.PrintWriter(s"$outDir/${name}_$suffix.txt", "UTF-8")
      try w.print(txt) finally w.close()
      System.err.println(s"[plandump] $name -> $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
