package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into the engine, plus a SparkListener
  * that assigns every Spark job to the span it started in. The benchmark is
  * a single closed-loop client, so spans never overlap and a job's start
  * time names its span exactly; checks run between spans and are never
  * attributed. Spans are kept in memory and summarised when a phase ends. */
final class Tracer extends SparkListener {

  private final case class Span(op: String, startMs: Long, endMs: Long)
  private final class Job(val startMs: Long) {
    var endMs: Long = -1L
    val agg = new Array[Double](4) // task s, input bytes, shuffle write bytes, spill bytes
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.HashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  def span[A](op: String)(body: => A): A = {
    val s = System.currentTimeMillis()
    try body finally spans += Span(op, s, System.currentTimeMillis())
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new Job(e.time)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.agg(0) += m.executorRunTime / 1e3
      j.agg(1) += m.inputMetrics.bytesRead
      j.agg(2) += m.shuffleWriteMetrics.bytesWritten
      j.agg(3) += m.diskBytesSpilled
    }
  }

  /** Per-call means for each traced op: jobs, task seconds, input bytes,
    * shuffle-write bytes, spill bytes, and driver seconds (span time during
    * which no job of the span was running: metadata, planning, commit). */
  def summary(): Map[String, Map[String, Double]] = synchronized {
    spans.groupBy(_.op).map { case (op, ss) =>
      val tot = new Array[Double](6)
      ss.foreach { s =>
        val mine = jobs.values.filter(j => j.startMs >= s.startMs && j.startMs < s.endMs).toSeq
        tot(0) += mine.size
        mine.foreach(j => (0 until 4).foreach(i => tot(i + 1) += j.agg(i)))
        val busy = unionMs(mine.map(j => (j.startMs, if (j.endMs < 0) s.endMs else math.min(j.endMs, s.endMs))))
        tot(5) += math.max(0L, s.endMs - s.startMs - busy) / 1e3
      }
      val n = ss.size.toDouble
      op -> Seq("jobs", "task_s", "input_bytes", "shuffle_write_bytes", "spill_bytes", "driver_s")
        .zip(tot.map(_ / n)).toMap
    }
  }

  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
