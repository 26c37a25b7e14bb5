package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import Trace.covered

/** Per-layer metrics of a traced phase, from the benchmark's spans and
  * the listener records. Every metric is printed for every workload (0
  * where the layer is not on the workload's path); counts and times are
  * per op, averaged over the phase's fixed op script. */
object Layers {

  /** Data files under `d`, skipping checksum files, `_SUCCESS` markers
    * and `_temporary` staging (partition directories may start with `_`). */
  def listFiles(d: File): Seq[(String, Long)] =
    if (!d.exists()) Nil
    else if (d.isFile) Seq(d.getPath -> d.length)
    else Option(d.listFiles()).toSeq.flatten
      .filterNot(f => f.getName.startsWith(".") || f.getName == "_SUCCESS" || f.getName == "_temporary")
      .flatMap(listFiles)

  val spanNames = Seq("FlightPipeline.run", "Writer.sizedParquet", "DedupIndex.streamIngest")

  /** `ops` are the traced ops' intervals (epoch ms, engine calls only);
    * `outcomes` their results. Records starting within 1 ms of an
    * interval belong to it (listener times have millisecond grain). */
  def compute(ops: Seq[(Double, Double)], outcomes: Seq[Outcome], stateFiles: Seq[(String, Long)],
              overhead: Double): Seq[(String, Double, String)] = {
    val n = ops.size.toDouble
    def within(t: Double, a: Double, b: Double) = t >= a - 1 && t <= b + 1
    def inOp(t: Double) = ops.exists { case (a, b) => within(t, a, b) }
    val jobs = Trace.jobs.values.asScala.toSeq.filter(j => j.end >= 0 && inOp(j.start.toDouble))
    def tasksOf(js: Seq[Trace.Job]) = {
      val st = js.flatMap(_.stages).toSet
      Trace.tasks.asScala.toSeq.filter(t => st.contains(t.stage))
    }
    val tasks = tasksOf(jobs)
    def ival(j: Trace.Job) = (j.start.toDouble, j.end.toDouble)
    def jobsIn(a: Double, b: Double) = jobs.filter(j => within(j.start.toDouble, a, b))
    def scanBytes(a: Double, b: Double) = tasksOf(jobsIn(a, b)).map(_.inBytes).sum.toDouble

    val gap = ops.map { case (a, b) => (b - a) - covered(jobsIn(a, b).map(ival), a, b) }.sum / 1e3
    val skew = ops.map { case (a, b) =>
      val byStage = tasksOf(jobsIn(a, b)).groupBy(_.stage)
      if (byStage.isEmpty) 1.0
      else {
        val longest = byStage.values.maxBy(_.map(_.runMs).sum).map(_.runMs.toDouble)
        val med = Main.median(longest)
        if (med > 0) longest.max / med else 1.0
      }
    }
    val writes = Trace.writes.asScala.toSeq
    val byModule = jobs.groupBy(Trace.module)
    val moduleMetrics = (Trace.modules :+ "spark").flatMap { m =>
      val js = byModule.getOrElse(m, Nil)
      Seq((s"$m.jobs", js.size / n, "count"),
        (s"$m.job_s", js.map(j => j.end - j.start).sum / 1e3 / n, "s"))
    }

    val batches = Trace.batches.asScala.toSeq
      .filter(b => b.durations.contains("addBatch") && inOp(b.start.toDouble))
    def batchMean(k: String) =
      if (batches.isEmpty) 0.0 else batches.map(_.durations.getOrElse(k, 0L)).sum / 1e3 / batches.size
    val batchMetrics = Seq("addBatch", "getBatch", "latestOffset", "queryPlanning", "walCommit", "commitOffsets")
      .map(k => (s"batch.${k}_s", batchMean(k), "s")) :+
      (("batch.input_rows", batches.map(_.inputRows).sum / n, "count"))

    val spans = Trace.spans.asScala.toSeq
    val spanMetrics = spanNames.map { name =>
      val ss = spans.filter(_.name == name)
      val self = ss.map(s => s.dur - covered(jobsIn(s.start, s.end).map(ival), s.start, s.end))
      (s"span.${name}_s", if (ss.isEmpty) 0.0 else self.sum / 1e3 / ss.size, "s")
    }

    // How much more the last micro-batch of an op scans than its first,
    // as the index it probes grows.
    val growth = ops.map { case (a, b) =>
      batches.filter(x => within(x.start.toDouble, a, b)).sortBy(_.start)
    }.filter(_.size >= 2).map { bs =>
      val first = scanBytes(bs.head.start.toDouble, bs.head.end.toDouble)
      if (first > 0) scanBytes(bs.last.start.toDouble, bs.last.end.toDouble) / first else 0.0
    }
    val resultRows = outcomes.map(_.resultRows).sum.toDouble

    Seq(
      ("driver.gap_s", gap / n, "s"),
      ("driver.jobs", jobs.size / n, "count"),
      ("driver.tasks", tasks.size / n, "count"),
      ("task.run_s", tasks.map(_.runMs).sum / 1e3 / n, "s"),
      ("task.cpu_s", tasks.map(_.cpuNs).sum / 1e9 / n, "s"),
      ("task.gc_s", tasks.map(_.gcMs).sum / 1e3 / n, "s"),
      ("task.skew", skew.sum / n, "ratio"),
      ("scan.bytes", tasks.map(_.inBytes).sum / n, "bytes"),
      ("scan.rows", tasks.map(_.inRows).sum / n, "count"),
      ("shuffle.write_bytes", tasks.map(_.shWrite).sum / n, "bytes"),
      ("shuffle.read_bytes", tasks.map(_.shRead).sum / n, "bytes"),
      ("shuffle.spill_bytes", tasks.map(_.spill).sum / n, "bytes"),
      ("sink.files", writes.map(_.files).sum / n, "count"),
      ("sink.bytes", writes.map(_.bytes).sum / n, "bytes"),
      ("sink.job_commit_s", writes.map(_.jobCommitMs).sum / 1e3 / n, "s"),
      ("sink.task_commit_s", writes.map(_.taskCommitMs).sum / 1e3 / n, "s")) ++
      moduleMetrics ++ batchMetrics ++ spanMetrics ++ Seq(
      ("index.files", stateFiles.size.toDouble, "count"),
      ("index.bytes", stateFiles.map(_._2).sum.toDouble, "bytes"),
      ("index.scan_growth", if (growth.isEmpty) 0.0 else growth.sum / growth.size, "ratio"),
      ("probe.rows_per_result", if (resultRows > 0) tasks.map(_.inRows).sum / resultRows else 0.0, "ratio"),
      ("trace.overhead_frac", overhead, "ratio"))
  }
}
