package graft

import org.apache.spark.sql.SparkSession

/** The one session factory every entry point (Verify, Bench,
  * ScaleBench, JobProfile, PlanDump, SmokeCheck) and the test JVM
  * builds on, so their configs cannot drift. */
object GraftSession {

  /** Local parallelism of the entry points: `SPARK_GRAFT_CPUS`, 32 if unset. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** A `local[cpus]` session with the graft kernels installed. UTC and
    * non-ANSI semantics match the oracle's TRY_-style functions
    * (SURVEY §7.5); dynamic partition overwrite is the house overwrite
    * discipline (Writer.ensureDynamicOverwrite doc), set at startup so
    * the library's latch never mutates conf mid-run. */
  def local(cpus: Int = envCpus): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
