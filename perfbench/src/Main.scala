package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark driver: one JVM, one closed-loop client thread.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --dir <run dir>
  *
  * It generates the inputs once. With `--trace 0` it then sets up five
  * times (reporting the median as `setup_s`), warms up, repeats the
  * workload's op for `--seconds` and prints the end-to-end metrics.
  * With `--trace 1` it sets up once, warms up, runs four ops with
  * tracing off and on in turn, and prints the per-layer metrics. The
  * last stdout line is the result. */
object Main {

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def session(dir: File): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(dir, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(dir, "local").getAbsolutePath)
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val dir = new File(args("dir"))
    val spark = session(dir)
    val result = try measure(spark, Workload(name, spark, seed, dir), seconds, traced, dir, name, seed)
      finally spark.stop()
    println(result)
  }

  private def json(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double, String)]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map { case (k, v, u) => s""""$k": {"value": ${if (v.isNaN || v.isInfinite) "null" else v.toString}, "unit": "$u"}""" }
        .mkString(", ") + "}}"

  /** Untimed ops before any measurement, at least `warmUpOps` and at
    * least `warmUpSeconds`: op times fall while the JIT compiles the
    * hot paths. */
  val warmUpOps = 3
  val warmUpSeconds = 15.0

  private def measure(spark: SparkSession, w: Workload, seconds: Double, traced: Boolean,
                      dir: File, name: String, seed: Long): String = {
    Trace.installStreamListener(spark)
    val tg = System.nanoTime()
    w.generate()
    System.err.println(f"[perfbench] $name seed=$seed generated in ${Workload.secondsSince(tg)}%.3f s: ${w.sizes}")
    val setups = (0 until (if (traced) 1 else 5)).map { _ =>
      val t0 = System.nanoTime()
      w.setUp()
      Workload.secondsSince(t0)
    }
    System.err.println(f"[perfbench] set-ups: ${setups.map(s => f"$s%.3f").mkString(" ")} s")
    val tw = System.nanoTime()
    val warm = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (warm.size < warmUpOps || Workload.secondsSince(tw) < warmUpSeconds) {
      val o = w.run()
      o.failure.foreach(f => sys.error(s"warm-up op failed: $f"))
      warm += o.seconds
    }
    System.err.println(f"[perfbench] warm-up op seconds: ${warm.map(s => f"$s%.3f").mkString(" ")}")
    val outcomes = scala.collection.mutable.ArrayBuffer.empty[Outcome]
    def runOp(i: Int): Unit = {
      val o = try w.run() catch {
        case e: Throwable => Outcome(0.0, 0L, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
      o.failure.foreach(f => System.err.println(s"[perfbench] op $i FAILED: $f"))
      outcomes += o
    }
    def failed = outcomes.count(_.failure.nonEmpty)
    if (!traced) {
      val t0 = System.nanoTime()
      var i = 0
      while (Workload.secondsSince(t0) < seconds || i < 2) { runOp(i); i += 1 }
      val ok = outcomes.filter(_.failure.isEmpty).toSeq
      System.err.println(f"[perfbench] op seconds: ${outcomes.map(o => f"${o.seconds}%.3f").mkString(" ")}")
      json(failed == 0, outcomes.size, failed, Seq(
        ("setup_s", median(setups), "s"),
        ("op_p50_s", median(ok.map(_.seconds)), "s")))
    } else {
      // A fixed script of four ops: untraced, traced, traced, untraced.
      // Op times still fall slowly after the warm-up; in this order a
      // steady fall adds the same to both sides, so the two sides'
      // mean times give the tracing overhead. Each op's listener events
      // are drained before the flag flips, so every record lands on the
      // right side.
      def isTraced(i: Int) = i == 1 || i == 2
      Trace.start(spark)
      val ops = (0 until 4).flatMap { i =>
        Trace.on = isTraced(i)
        Trace.op = i
        runOp(i)
        Trace.drain(spark)
        val traced = Trace.on
        Trace.on = false
        // The op's interval spans its timed engine calls only.
        val kids = Trace.spans.asScala.filter(s => s.op == i && s.parent == 0)
        if (traced && kids.nonEmpty) Some((kids.map(_.start).min, kids.map(_.end).max)) else None
      }
      def side(traced: Boolean) = outcomes.zipWithIndex.collect { case (o, i) if isTraced(i) == traced => o }.toSeq
      val overhead = side(true).map(_.seconds).sum / side(false).map(_.seconds).sum - 1
      val stateFiles = w.stateDir.toSeq.flatMap(d => Layers.listFiles(d))
      Trace.stop(spark)
      Trace.dump(new File(dir.getParentFile.getParentFile, s"traces/$name-$seed.jsonl"))
      json(failed == 0, outcomes.size, failed, Layers.compute(ops, side(true), stateFiles, overhead))
    }
  }
}
