package graftbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import graft.scan.StatsPruning
import graft.table.TsTable

/** One measured phase of a workload: a single closed-loop client that
  * issues one engine call at a time, the next only after the last returns.
  *
  * Every call goes through [[op]]: the call is timed, then its output is
  * checked outside the timing. A call that throws or fails its check counts
  * as failed and leaves no latency sample. A traced phase also wraps each
  * call in a span and records per-layer figures by calling the layers'
  * public functions directly (see [[probeLayers]] and [[read]]). */
final class Phase(val spark: SparkSession, val traced: Boolean, fault: Boolean,
                  val warmUp: Boolean = false) {

  val tracer: Option[Tracer] = if (traced) Some(new Tracer) else None
  tracer.foreach(spark.sparkContext.addSparkListener)

  /** Latency samples in seconds, by op kind, and by span (the engine
    * verb) where one kind pools several verbs. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val bySpan = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Per-layer readings: each reports the median of its samples. */
  val layer = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Per-layer totals over the phase. */
  val totals = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  private var faultUsed = false

  private val t0 = System.nanoTime()
  def elapsed: Double = (System.nanoTime() - t0) / 1e9

  def sample(kind: String, v: Double): Unit =
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += v
  def layerSample(name: String, v: Double): Unit =
    layer.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def add(name: String, v: Double): Unit = totals(name) = totals.getOrElse(name, 0.0) + v

  /** The expected value a count check compares against. With fault
    * injection on, the first one asked for is off by one, which must show
    * up as a failed operation. */
  def expect(n: Long): Long =
    if (fault && !faultUsed) { faultUsed = true; n + 1 } else n

  /** Run one checked engine call. `span` names the trace span (the op kind
    * when omitted); `check` returns None when the output is right, or the
    * reason it is wrong. Returns the call's result if it passed. */
  def op[A](kind: String, span: String = null)(body: => A)(check: A => Option[String]): Option[A] = {
    attempted += 1
    val s = System.nanoTime()
    val name = Option(span).getOrElse(kind)
    val res: Either[String, A] =
      try Right(tracer.fold(body)(_.span(name)(body)))
      catch { case e: Throwable => Left(s"threw $e") }
    val dt = (System.nanoTime() - s) / 1e9
    val verdict = res.flatMap { a =>
      val why = try check(a) catch { case e: Throwable => Some(s"check threw $e") }
      why.toLeft(a)
    }
    verdict match {
      case Right(a) =>
        sample(kind, dt)
        bySpan.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += dt
        Some(a)
      case Left(why) =>
        failed += 1
        if (failures.size < 20) failures += s"$kind: $why"
        if (!warmUp) System.err.println(s"[graftbench] FAILED $kind: $why")
        None
    }
  }

  /** A filtered read: `filtered` builds the query, `shape` projects what
    * the caller reads from it, and the result is materialized with
    * collect() and checked. Traced, the planning and execution halves are
    * timed apart, and the stats pruning the scan relies on is re-run over
    * the snapshot to count files total, kept and useful. */
  def read(t: TsTable)(filtered: => DataFrame, shape: DataFrame => DataFrame)
          (check: Array[Row] => Option[String]): Unit = {
    var f: DataFrame = null
    var q: DataFrame = null
    op("scan") {
      f = filtered
      q = shape(f)
      if (traced) {
        val p = System.nanoTime()
        q.queryExecution.executedPlan
        layerSample("scan.plan_ms", (System.nanoTime() - p) / 1e6)
        val e = System.nanoTime()
        val rows = q.collect()
        layerSample("scan.exec_s", (System.nanoTime() - e) / 1e9)
        rows
      } else q.collect()
    }(check)
    if (traced && q != null) {
      val filters = q.queryExecution.sparkPlan.collectFirst { case s: FileSourceScanExec => s.dataFilters }
        .getOrElse(Nil)
      val live = t.state.liveSegments
      val p = System.nanoTime()
      val kept = StatsPruning.pruneSegments(live, filters)
      layerSample("scan.prune_ms", (System.nanoTime() - p) / 1e6)
      add("scan.reads", 1)
      add("scan.files_total", live.size)
      add("scan.files_kept", kept.size)
      add("scan.files_useful", f.select(input_file_name()).distinct().count())
    }
  }

  /** Layer probes on the table as it stands: log replay, coverage load,
    * footer reads and scan construction, each timed by calling the layer's
    * public function, plus the manifest's segment and DV counts. */
  def probeLayers(t: TsTable): Unit = if (traced) {
    def ms[A](f: => A): Double = { val s = System.nanoTime(); f; (System.nanoTime() - s) / 1e6 }
    layerSample("log.replay_ms", ms(graft.log.TableState.rebuild(t.store)))
    layerSample("coverage.load_ms", ms(t.loadTableCoverage()))
    val live = t.state.liveSegments
    val files = live.map(s => graft.meta.PathNorm.resolve(t.root, s.path))
    layerSample("table.footer_read_ms",
      ms(graft.table.FooterStats.readAll(spark.sparkContext.hadoopConfiguration, files)))
    layerSample("table.scan_build_ms", ms(t.scan(spark)))
    layerSample("meta.live_segments", live.size)
    layerSample("meta.dv_segments", live.count(_.dvPath.isDefined))
    layerSample("meta.dv_rows", live.map(_.dvCardinality).sum)
  }

  /** Analyze's clustering and debt readings (traced phases only). */
  def probeAnalyze(t: TsTable): Unit = if (traced) {
    val r = graft.maintain.Analyze.analyze(t, targetFileSize = Workloads.TargetFileSize)
    r.clustering.headOption.foreach(c => layerSample("maintain.analyze.avg_overlap_first", c.avgOverlap))
    r.clustering.lastOption.foreach(c => layerSample("maintain.analyze.avg_overlap_last", c.avgOverlap))
    layerSample("maintain.analyze.dv_debt_ratio", r.dvDebtRatio)
    layerSample("maintain.analyze.small_files", r.smallFiles)
  }

  def close(): Unit = tracer.foreach { tr =>
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(tr)
  }
}

/** Every file under a table root, remembered from the first time it is
  * seen: the bytes written during a phase, including files a later expire
  * removes, without hooks inside the engine. Observed after each call. */
final class Ledger(root: Path) {
  private val seen = mutable.HashMap.empty[String, Long]
  private val before: Set[String] = Ledger.walk(root).keySet

  def observe(): Unit = Ledger.walk(root).foreach { case (p, n) => if (!seen.contains(p)) seen(p) = n }

  private def fresh = seen.iterator.filter { case (p, _) => !before(p) }
  def bytesWritten: Long = fresh.map(_._2).sum
  def dataFiles: Seq[Long] = fresh.collect { case (p, n) if p.startsWith("data/") => n }.toSeq
  def bytesUnder(prefix: String): Long = fresh.collect { case (p, n) if p.startsWith(prefix) => n }.sum
}

object Ledger {
  /** Root-relative path → size for every regular file under `root`. */
  def walk(root: Path): Map[String, Long] = {
    if (!Files.exists(root)) return Map.empty
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .flatMap(p => try Some(root.relativize(p).toString -> Files.size(p)) catch { case _: Exception => None })
      .toMap
    finally s.close()
  }
  def bytes(root: Path): Long = walk(root).values.sum
}
