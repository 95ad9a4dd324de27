package graftbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** graft benchmark main.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> [--cpus <n>] [--toy] [--fault]
  *
  * One closed-loop client, Spark local[cpus] with cpus shuffle partitions.
  * Set-up (session start, one warm-up pass at toy size, and input staging
  * from the seed) is timed as `setup_s`; then one phase runs the
  * workload's fixed work, sized from `seconds`. With `--trace 1` an untraced phase is followed
  * by a traced one over the same inputs: the traced phase gives the
  * per-layer figures, and the difference between the two is printed as
  * the tracing overhead.
  *
  * Stdout carries a human-readable report (every metric with its unit and
  * sample count, host context, failures) and, as its last line, one JSON
  * object: {"correct", "attempted", "failed", "metrics"}, where metrics
  * are every end-to-end metric (`--trace 0`) or every per-layer metric
  * (`--trace 1`) the phase measured; run.py keeps the ones BENCHMARK.json
  * lists. `--toy` runs the self-test size; `--fault` makes one expected
  * count wrong, which must show up as a failed operation. */
object Main {

  final case class Metric(name: String, unit: String, value: Option[Double], n: Int)

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opts = parse(args)
    val wl = Workloads.byName(opts("workload"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val toy = opts.contains("toy")
    val fault = opts.contains("fault")
    val work = Paths.get(opts("work")).toAbsolutePath
    val cpus = opts.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    Files.createDirectories(work)

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("ERROR")
      graft.functions.GraftFunctions.register(spark)
      val sessionS = (System.nanoTime() - t0) / 1e9

      // set-up: one warm-up pass at toy size (absorbs the cold start),
      // then staging repeated (median reported; the phases read the last copy)
      val w0 = System.nanoTime()
      val warm = wl.stage(spark, work.resolve("warm-in"), seed + 1, 0, toy = true)
      val wph = new Phase(spark, traced = false, fault = false, warmUp = true)
      wl.run(wph, warm, work.resolve("warm"))
      wph.close()
      Workloads.deleteTree(work.resolve("warm-in"))
      val warmS = (System.nanoTime() - w0) / 1e9
      val reps = if (toy) 1 else 3
      val staged = (0 until reps).map { r =>
        val s = System.nanoTime()
        val in = wl.stage(spark, work.resolve(s"in-$r"), seed, seconds, toy)
        if (r > 0) Workloads.deleteTree(work.resolve(s"in-${r - 1}"))
        (in, (System.nanoTime() - s) / 1e9)
      }
      val in = staged.last._1
      val stageTimes = staged.map(_._2)
      val setupS = sessionS + median(stageTimes) + warmS
      if (wph.failed > 0) System.err.println(s"[graftbench] warm-up: ${wph.failed} failed op(s): ${wph.failures.mkString("; ")}")

      val plain = new Phase(spark, traced = false, fault = fault)
      wl.run(plain, in, work.resolve("run"))
      plain.close()
      val traced = if (trace) {
        val ph = new Phase(spark, traced = true, fault = fault)
        wl.run(ph, in, work.resolve("run-traced"))
        ph.close()
        Some(ph)
      } else None

      val e2e = endToEnd(plain, setupS)
      val out = new StringBuilder
      def line(s: String): Unit = out ++= s ++= "\n"
      line(s"# graftbench workload=${wl.name} seed=$seed seconds=$seconds trace=${if (trace) 1 else 0}" +
        s" toy=$toy fault=$fault")
      line(f"# setup: session ${sessionS}%.3f s, staging median ${median(stageTimes)}%.3f s of " +
        s"${stageTimes.map(x => f"$x%.3f").mkString("[", ", ", "]")}, warm-up $warmS%.3f s")
      line(s"# end-to-end (untraced phase, ${f"${plain.elapsed}%.1f"} s):")
      e2e.foreach(m => line(fmt(m)))
      plain.bySpan.foreach { case (k, v) =>
        line(f"#   call $k%-12s n=${v.size}%-4d min=${v.min}%.4f p50=${pct(v, 50)}%.4f max=${v.max}%.4f s")
      }
      traced.foreach { ph =>
        val te = endToEnd(ph, setupS)
        line("# tracing overhead (traced phase vs untraced phase, same inputs):")
        e2e.zip(te).foreach { case (a, b) =>
          (a.value, b.value) match {
            case (Some(x), Some(y)) if x != 0 && a.name != "setup_s" =>
              line(f"#   ${a.name}%-22s untraced $x%.5g  traced $y%.5g  (${(y - x) / x * 100}%+.1f%%)")
            case _ =>
          }
        }
        line("# per-layer (traced phase):")
        perLayer(ph).foreach(m => line(fmt(m)))
      }
      val phases = Seq(plain) ++ traced
      val attempted = phases.map(_.attempted).sum
      val failed = phases.map(_.failed).sum
      phases.flatMap(_.failures).foreach(f => line(s"# FAILED $f"))
      val h0 = System.nanoTime()
      line(hostContext(cpus) + f" (probes took ${(System.nanoTime() - h0) / 1e9}%.1f s)")

      val correct = failed == 0 && attempted > 0
      val metrics = traced.map(perLayer).getOrElse(e2e).collect { case Metric(name, unit, Some(v), _) =>
        "\"" + name + "\": {\"value\": " + num(v) + ", \"unit\": \"" + unit + "\"}"
      }.mkString("{", ", ", "}")
      print(out.toString)
      println(s"""{"correct": $correct, "attempted": ${math.max(attempted, 1)}, "failed": $failed, "metrics": $metrics}""")
      System.out.flush()
    } finally spark.stop()
  }

  def endToEnd(ph: Phase, setupS: Double): Seq[Metric] = {
    def s(k: String) = ph.samples.getOrElse(k, mutable.ArrayBuffer.empty[Double])
    def p(name: String, k: String, q: Int): Metric = {
      val v = s(k)
      // a p90 needs at least ten samples beyond it
      val ok = v.nonEmpty && (q == 50 || v.size >= 100)
      Metric(name, "s", if (ok) Some(pct(v, q)) else None, v.size)
    }
    def med(name: String, unit: String, k: String, scale: Double = 1.0): Metric = {
      val v = s(k)
      Metric(name, unit, if (v.isEmpty) None else Some(median(v.toSeq) * scale), v.size)
    }
    val writes = Seq("append", "upsert", "delete", "update").flatMap(s(_))
    Seq(
      Metric("setup_s", "s", Some(setupS), 1),
      Metric("write_p50_s", "s", if (writes.isEmpty) None else Some(pct(writes, 50)), writes.size),
      p("append_p50_s", "append", 50), p("append_p90_s", "append", 90),
      p("upsert_p50_s", "upsert", 50), p("upsert_p90_s", "upsert", 90),
      p("scan_p50_s", "scan", 50), p("scan_p90_s", "scan", 90),
      med("full_scan_rows_per_s", "rows/s", "full_scan_rows_per_s"),
      med("compact_rows_per_s", "rows/s", "compact_rows_per_s"),
      med("maintain_s", "s", "maintain_s"),
      med("open_ms", "ms", "open", 1000.0),
      med("write_amp", "ratio", "write_amp"),
      med("space_amp", "ratio", "space_amp"),
      Metric("failed_op_frac", "ratio",
        Some(if (ph.attempted == 0) 1.0 else ph.failed.toDouble / ph.attempted), ph.attempted.toInt))
  }

  val SparkOps: Seq[String] = Seq("append", "scan", "full_scan", "compact", "merge", "merge_mor",
    "delete", "delete_mor", "update", "update_mor")
  val Verbs: Seq[String] = Seq("compact", "merge", "merge_mor", "delete", "delete_mor", "update",
    "update_mor", "expire")
  val DmlVerbs: Seq[String] = Seq("merge", "merge_mor", "delete", "delete_mor", "update", "update_mor")

  def perLayer(ph: Phase): Seq[Metric] = {
    def med(name: String, unit: String): Metric = {
      val v = ph.layer.get(name)
      Metric(name, unit, v.filter(_.nonEmpty).map(x => median(x.toSeq)), v.map(_.size).getOrElse(0))
    }
    def tot(name: String, unit: String, key: String = null): Metric = {
      val k = Option(key).getOrElse(name)
      Metric(name, unit, ph.totals.get(k), 1)
    }
    def ratio(name: String, num: String, den: String): Metric = {
      val v = for (a <- ph.totals.get(num); b <- ph.totals.get(den) if b > 0) yield a / b
      Metric(name, "ratio", v, 1)
    }
    def perCall(name: String, unit: String, key: String, verb: String): Metric = {
      val calls = ph.bySpan.get(verb).map(_.size).getOrElse(0)
      Metric(name, unit, ph.totals.get(key).filter(_ => calls > 0).map(_ / calls), calls)
    }
    val reads = ph.totals.getOrElse("scan.reads", 0.0)
    def perRead(name: String) =
      Metric(name, "count", ph.totals.get(name).filter(_ => reads > 0).map(_ / reads), reads.toInt)
    val spark = ph.tracer.map(_.summary()).getOrElse(Map.empty)
    val units = Map("jobs" -> "count", "task_s" -> "s", "input_bytes" -> "bytes",
      "shuffle_write_bytes" -> "bytes", "spill_bytes" -> "bytes", "driver_s" -> "s")
    Seq(
      med("log.replay_ms", "ms"), tot("log.commits", "count"),
      ratio("log.commits_per_op", "log.commits", "log.writer_ops"), tot("log.bytes", "bytes"),
      med("meta.live_segments", "count"), med("meta.dv_segments", "count"), med("meta.dv_rows", "count"),
      med("coverage.load_ms", "ms"), tot("coverage.bitmap_bytes", "bytes"),
      med("table.footer_read_ms", "ms"), med("table.scan_build_ms", "ms"),
      tot("table.files_written", "count"), tot("table.bytes_written", "bytes"),
      med("scan.plan_ms", "ms"), med("scan.exec_s", "s"), med("scan.prune_ms", "ms"),
      perRead("scan.files_total"), perRead("scan.files_kept"), perRead("scan.files_useful"),
      ratio("scan.useful_ratio", "scan.files_useful", "scan.files_kept")) ++
    Verbs.map { v =>
      val x = ph.bySpan.get(v)
      Metric(s"maintain.$v.s", "s", x.filter(_.nonEmpty).map(y => median(y.toSeq)), x.map(_.size).getOrElse(0))
    } ++
    DmlVerbs.flatMap(v => Seq(med(s"maintain.$v.candidates", "count"),
      ratio(s"maintain.$v.useful_ratio", s"maintain.$v.changed", s"maintain.$v.written"))) ++
    Seq(perCall("maintain.compact.files_in", "count", "maintain.compact.files_in", "compact"),
      perCall("maintain.compact.files_out", "count", "maintain.compact.files_out", "compact"),
      perCall("maintain.compact.bytes_rewritten", "bytes", "maintain.compact.bytes_rewritten", "compact"),
      perCall("maintain.expire.files_deleted", "count", "maintain.expire.files_deleted", "expire"),
      perCall("maintain.expire.bytes_deleted", "bytes", "maintain.expire.bytes_deleted", "expire"),
      med("maintain.analyze.avg_overlap_first", "files"), med("maintain.analyze.avg_overlap_last", "files"),
      med("maintain.analyze.dv_debt_ratio", "ratio"), med("maintain.analyze.small_files", "count")) ++
    SparkOps.flatMap { op =>
      val m = spark.get(op)
      Seq("jobs", "task_s", "input_bytes", "shuffle_write_bytes", "spill_bytes", "driver_s").map { k =>
        Metric(s"spark.$op.$k", units(k), m.map(_(k)), ph.bySpan.get(op).map(_.size).getOrElse(0))
      }
    }
  }

  /** Host readings beside the metrics, so a contended window is visible.
    * They never adjust a metric. */
  private def hostContext(cpus: Int): String = {
    val heapGb = Runtime.getRuntime.maxMemory / 1e9
    val membw = graft.HostProbes.memBandwidthGbps(cpus)
    val gops = graft.HostProbes.cpuGops(cpus)
    f"# host: nproc=$cpus heap=${heapGb}%.2f GB membw=${membw}%.1f GB/s cpu=${gops}%.2f Gops/s"
  }

  private def fmt(m: Metric): String = m.value match {
    case Some(v) => f"#   ${m.name}%-40s ${num(v)}%-16s ${m.unit}%-8s n=${m.n}"
    case None => f"#   ${m.name}%-40s ${"n/a"}%-16s ${m.unit}%-8s n=${m.n}"
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Linear-interpolated percentile. */
  def pct(xs: collection.Seq[Double], q: Int): Double = {
    val s = xs.sorted
    if (s.isEmpty) return Double.NaN
    val r = (s.size - 1) * q / 100.0
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  private def parse(args: Array[String]): Map[String, String] = {
    val flags = Set("toy", "fault")
    val m = mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val k = args(i).stripPrefix("--")
      if (flags(k)) { m(k) = "1"; i += 1 }
      else {
        require(i + 1 < args.length, s"missing value for ${args(i)}")
        m(k) = args(i + 1); i += 2
      }
    }
    Seq("workload", "seed", "seconds", "trace", "work").foreach(k => require(m.contains(k), s"--$k is required"))
    m.toMap
  }
}
