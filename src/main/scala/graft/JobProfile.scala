package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Per-job profiling harness for ONE registered query — the
  * measurement tool the optimization rounds use to see WHERE a
  * fixed-overhead-dominated query's wall goes (guide §1: measure
  * first; the Spark UI is disabled in bench sessions, so this prints
  * the job timeline instead).
  *
  *   sbt "runMain graft.JobProfile x_lm_index [reps]"
  *
  * Runs the query `reps` times (default 2 — the second run is the
  * warm one to read) in the GraftSession.local session Bench uses, with a
  * listener printing one line per Spark job: job id, wall seconds,
  * the job group/description if set, and the DRIVER GAP since the
  * previous job's end — catalog/metastore/planning time that never
  * shows up in any job. Output is stderr; not part of any artifact.
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
    @volatile var lastEnd = 0L
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    var enabled = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = if (enabled) {
        val p = Option(js.properties)
        val desc = p.flatMap(x => Option(x.getProperty("spark.job.description")))
          .orElse(js.stageInfos.lastOption.map(_.name))
          .getOrElse("")
        starts.put(js.jobId, (System.nanoTime(), desc))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = if (enabled) {
        val now = System.nanoTime()
        Option(starts.get(je.jobId)).foreach { case (t0, desc) =>
          val gap = if (lastEnd == 0L) 0.0 else (t0 - lastEnd) / 1e9
          System.err.println(
            f"[prof] job=${je.jobId}%4d dur=${(now - t0) / 1e9}%7.3fs gap=$gap%7.3fs $desc")
        }
        lastEnd = now
      }
    })
    (0 until reps).foreach { r =>
      spark.sqlContext.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      enabled = r == reps - 1 // profile only the last (warm) rep
      lastEnd = 0L
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      // Let straggler listener events drain before the summary line.
      Thread.sleep(300)
      System.err.println(f"[prof] === $name rep=$r wall=$wall%.3fs ===")
    }
    spark.stop()
  }
}
