package graft

/** Per-job profiling harness for ONE registered query — the
  * measurement tool the optimization rounds use to see WHERE a
  * fixed-overhead-dominated query's wall goes (guide §1: measure
  * first; the Spark UI is disabled in bench sessions, so this prints
  * the job timeline instead).
  *
  *   sbt "runMain graft.JobProfile x_lm_index [reps]"
  *
  * Runs the query `reps` times (default 2 — the second run is the
  * warm one to read) in the GraftSession.local session Bench uses,
  * each under [[TaskMeter.run]]. For the last (warm) rep it prints one
  * line per Spark job: job id, wall seconds, the DRIVER GAP since the
  * previous job's end — catalog/metastore/planning time that never
  * shows up in any job — and the job group/description if set. Output
  * is stderr; not part of any artifact.
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(
      sys.error("usage: JobProfile <queryName> [reps]"))
    val reps = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries(name)
    (0 until reps).foreach { r =>
      spark.sqlContext.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      val (_, reading) = TaskMeter.run(spark)(fn(spark, sfDir).count())
      if (r == reps - 1) {
        reading.jobs.foldLeft(0L) { (lastEnd, j) =>
          val gap = if (lastEnd == 0L) 0.0 else (j.startNs - lastEnd) / 1e9
          System.err.println(f"[prof] job=${j.id}%4d " +
            f"dur=${(j.endNs - j.startNs) / 1e9}%7.3fs gap=$gap%7.3fs ${j.description}")
          j.endNs
        }
      }
      System.err.println(f"[prof] === $name rep=$r wall=${reading.wallSeconds}%.3fs ===")
    }
    spark.stop()
  }
}
