package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One Spark listener for the harnesses that read job and task
  * metrics: ScaleBench's shuffle-byte legs and JobProfile's per-job
  * timeline. [[run]] attaches it around one computation and hands back
  * what ran during it. */
object TaskMeter {

  /** One job that ended during the run: nanoTime stamps, and the job
    * description (or its last stage's name when none was set). */
  final case class Job(id: Int, startNs: Long, endNs: Long, description: String)

  /** Wall seconds of `f` alone, the jobs in end order, and the summed
    * task input bytes and shuffle-write bytes. */
  final case class Reading(wallSeconds: Double, jobs: Seq[Job],
                           bytesRead: Long, shuffleBytesWritten: Long)

  def run[T](spark: SparkSession)(f: => T): (T, Reading) = {
    val starts = new ConcurrentHashMap[Int, (Long, String)]()
    val ended = new ConcurrentLinkedQueue[Job]()
    val bytesRead = new AtomicLong(0L)
    val shuffleWritten = new AtomicLong(0L)
    val events = new AtomicLong(0L)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(js.stageInfos.lastOption.map(_.name))
          .getOrElse("")
        starts.put(js.jobId, (System.nanoTime(), desc))
        events.incrementAndGet()
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val now = System.nanoTime()
        Option(starts.get(je.jobId)).foreach { case (t0, desc) =>
          ended.add(Job(je.jobId, t0, now, desc))
        }
        events.incrementAndGet()
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        Option(e.taskMetrics).foreach { m =>
          bytesRead.addAndGet(m.inputMetrics.bytesRead)
          shuffleWritten.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
        events.incrementAndGet()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // finally: a throwing measurement must never leave the listener
    // attached — it would count every later computation too.
    try {
      val t0 = System.nanoTime()
      val r = f
      val wall = (System.nanoTime() - t0) / 1e9
      // The listener bus is async: wait until no event has arrived for
      // three 200 ms ticks. Bounded, so a concurrent job cannot spin
      // this forever — after 30 s, take the counts as they are.
      var last = -1L
      var stable = 0
      var waited = 0
      while (stable < 3 && waited < 150) {
        Thread.sleep(200)
        waited += 1
        val cur = events.get()
        if (cur == last) stable += 1 else { stable = 0; last = cur }
      }
      (r, Reading(wall, ended.asScala.toSeq, bytesRead.get(), shuffleWritten.get()))
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
