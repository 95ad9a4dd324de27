package graftbench

import java.nio.file.{Files, Path}
import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.data.TokenGen
import graft.maintain.{Compaction, DeleteWhere, Expire, MergeInto, UpdateWhere}
import graft.meta._
import graft.table.TsTable

/** A workload: inputs staged from the seed, then phases run over them. */
trait Workload {
  /** The staged inputs and the phase's fixed work. */
  type In
  def name: String
  /** Generate every input from `seed` under `dir`, and fix the phase's
    * work: a set number of operations sized so that a phase lasts about
    * `seconds` on a 4-core host. Fixed work keeps runs comparable: a faster
    * engine finishes sooner rather than doing more. `toy` is the self-test
    * size. Runs before the timed phase and is counted in setup. */
  def stage(spark: SparkSession, dir: Path, seed: Long, seconds: Double, toy: Boolean): In
  /** One closed-loop phase over fresh tables under `work`. */
  def run(ph: Phase, in: In, work: Path): Unit
}

object Workloads {
  val all: Seq[Workload] = Seq(MaintainZorder, IngestTimeseries, UpsertLexico)
  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload '$n' (known: ${all.map(_.name).mkString(", ")})"))

  /** Target file size for every compaction and analysis (the frozen Bench's). */
  val TargetFileSize: Long = 64L * 1024 * 1024

  def liveRows(t: TsTable): Long = { t.refresh(); t.state.liveSegments.map(_.liveRowCount).sum }
  def liveDataBytes(t: TsTable): Long = { t.refresh(); t.state.liveSegments.flatMap(_.fileSize).sum }

  /** Count and tok_sum of a token-table read: touches every payload byte. */
  def tokAgg(df: DataFrame): DataFrame =
    df.agg(count(lit(1)), coalesce(sum(expr("tok_sum(tokens)")), lit(0L)))

  def mismatch(what: String, got: Any, want: Any): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")

  def bytesOf(dir: String): Long = Ledger.bytes(java.nio.file.Paths.get(dir))

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toSeq.reverse.foreach(f => Files.deleteIfExists(f))
    } finally s.close()
  }

  /** A doc_id range [lo, hi) as a predicate (ids are zero-padded, so the
    * string order is the numeric order). */
  def idRange(lo: Long, hi: Long) =
    col("doc_id") >= f"doc-$lo%012d" && col("doc_id") < f"doc-$hi%012d"
  def docId(i: Long): String = f"doc-$i%012d"

  /** n_tok of generated row `id` under `lenSpread` (TokenGen's formula),
    * for many ids in one small job. */
  def nTok(spark: SparkSession, ids: Seq[Long], lenSpread: Int): Map[Long, Int] = {
    import spark.implicits._
    ids.toDF("i").select(col("i"),
      expr(s"CAST(64 + pmod(xxhash64(format_string('doc-%012d', i), 'ntok'), $lenSpread) AS INT)"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
  }

  /** A full `tok_sum(tokens)` read, checked against the modelled row count
    * and, when `wantSum` >= 0, against the tok_sum it must equal. Returns
    * the tok_sum read. `rated` reads feed `full_scan_rows_per_s`: each
    * workload rates repeated reads of one kind of table state, so the
    * median never falls between states of different speed. */
  def tokFullScan(ph: Phase, t: TsTable, model: Long, wantSum: Long, rated: Boolean): Option[Long] =
    ph.op("full_scan")(tokAgg(t.scan(ph.spark)).collect()(0)) { r =>
      mismatch("full scan rows", r.getLong(0), ph.expect(model))
        .orElse(if (wantSum >= 0) mismatch("tok_sum across compaction", r.getLong(1), wantSum) else None)
    }.map { r =>
      if (rated) ph.sample("full_scan_rows_per_s", r.getLong(0) / ph.samples("full_scan").last)
      r.getLong(1)
    }

  /** `n` rounded up to a whole number of `k`-sized cycles, at least one. */
  def cycles(n: Double, k: Int): Int = math.max(1, math.ceil(n / k).toInt) * k

  /** Fresh opens of a table, as a user would make them: log replay to
    * CURRENT plus metadata. `kind` "open" feeds `open_ms`: runs of opens
    * just before an expire, when the log tail to replay is longest (a ~1 ms
    * call needs many samples). The warm-up repeats each open 20 times so
    * the replay path is JIT-compiled before it is measured; otherwise runs
    * differ by how much of it is still interpreted. A rated run starts
    * from a collected heap, so a ~1 ms call does not share the cores with
    * a concurrent collection of the previous calls' garbage. */
  def opens(ph: Phase, t: TsTable, n: Int, kind: String = "open"): Unit = {
    if (kind == "open") System.gc()
    (1 to (if (ph.warmUp) 20 * n else n)).foreach { _ =>
      ph.op(kind, "open")(TsTable.open(t.root))(o => mismatch("opened version", o.version, t.version))
    }
  }

  /** `Compaction.run` as one checked call (live rows unchanged, plus
    * `check`), recording `compact_rows_per_s` and the compaction counters.
    * The ledger observes the table afterwards. */
  def compact(ph: Phase, t: TsTable, led: Ledger, model: Long,
              check: => Option[String] = None): Option[Compaction.Report] = {
    val r = ph.op("compact")(Compaction.run(ph.spark, t, targetFileSize = TargetFileSize)) { _ =>
      mismatch("live rows", liveRows(t), ph.expect(model)).orElse(check)
    }
    led.observe()
    r.foreach { c =>
      ph.sample("compact_rows_per_s", model / ph.samples("compact").last)
      if (ph.traced) {
        ph.add("maintain.compact.files_in", c.filesIn)
        ph.add("maintain.compact.files_out", c.filesOut)
        ph.add("maintain.compact.bytes_rewritten", c.bytesRewritten)
      }
    }
    r
  }

  /** `Expire.expire` up to the current version (checkpointing the log) as
    * one checked call, recording the expire counters. */
  def expire(ph: Phase, t: TsTable, led: Ledger, model: Long): Option[Expire.Report] = {
    val r = ph.op("expire")(Expire.expire(t, t.version))(_ => mismatch("live rows", liveRows(t), model))
    led.observe()
    r.foreach { e =>
      if (ph.traced) {
        ph.add("maintain.expire.files_deleted", e.dataFilesDeleted)
        ph.add("maintain.expire.bytes_deleted", e.bytesDeleted)
      }
    }
    r
  }

  /** Writer-side per-layer counters shared by the workloads. */
  def logLayer(ph: Phase, t: TsTable, led: Ledger, commits: Long, writerOps: Long): Unit = if (ph.traced) {
    ph.add("log.commits", commits)
    ph.add("log.writer_ops", writerOps)
    ph.add("log.bytes", led.bytesUnder("_timeseries_log/"))
    ph.add("coverage.bitmap_bytes", led.bytesUnder("_coverage/"))
    ph.add("table.files_written", led.dataFiles.size)
    ph.add("table.bytes_written", led.dataFiles.sum)
  }

  /** Rows changed ÷ rows written by a DML call, where rows written are
    * the rows of new data files plus rows newly masked by deletion
    * vectors. Read from the manifest before and after the call. */
  def dmlLayer(ph: Phase, verb: String, before: Seq[SegmentMeta], t: TsTable,
               candidates: Long, changed: Long): Unit = if (ph.traced) {
    t.refresh()
    val after = t.state.liveSegments
    val old = before.map(s => s.segmentId -> s).toMap
    val oldPaths = before.map(_.path).toSet
    val written = after.filterNot(s => old.contains(s.segmentId) || oldPaths(s.path)).map(_.rowCount).sum
    val masked = after.map(s => s.dvCardinality - old.get(s.segmentId).map(_.dvCardinality).getOrElse(0L))
      .filter(_ > 0).sum
    ph.layerSample(s"maintain.$verb.candidates", candidates)
    ph.add(s"maintain.$verb.changed", changed)
    ph.add(s"maintain.$verb.written", written + masked)
  }
}

import Workloads._

/** Z-order token table, 6k rows in 40 small files. One pass: append,
  * filtered and full scans before and after compaction, MERGE in both
  * modes, DELETE and UPDATE in both modes, a full scan through the
  * deletion vectors, expire and opens. Each pass runs on a fresh table. */
object MaintainZorder extends Workload {
  val name = "maintain_zorder"

  final case class In(base: String, mergeCow: String, mergeMor: String, rows: Long, files: Int,
                      slot: Long, ranges: Map[String, Long], inserts: Long,
                      pointKey: String, nTokLo: Int, source: String,
                      wantPoint: Long, wantNTok: Long, wantSource: Long,
                      probe: Map[String, (String, Int)], submittedBytes: Long, passes: Int)

  def stage(spark: SparkSession, dir: Path, seed: Long, seconds: Double, toy: Boolean): In = {
    val rows = if (toy) 600L else 6000L
    val files = if (toy) 6 else 40
    val lenSpread = if (toy) 100 else 1000
    val altSpread = lenSpread / 2 + 7
    val rnd = new Random(seed)
    val slot = rows / 100
    // six disjoint 1 % id slots: merge, merge_mor, delete, delete_mor, update, update_mor
    val picks = rnd.shuffle((0 until 100).toList)
    val verbs = Seq("merge", "merge_mor", "delete", "delete_mor", "update", "update_mor")
    val ranges = verbs.zip(picks.take(6).map(_ * slot)).toMap
    val inserts = math.max(1L, rows / 1000)
    val base = dir.resolve("base").toString
    TokenGen.generate(spark, rows, lenSpread = lenSpread, numFiles = 4).write.parquet(base)
    def mergeIn(verb: String, insStart: Long) =
      TokenGen.generate(spark, slot, idStart = ranges(verb), lenSpread = altSpread)
        .unionByName(TokenGen.generate(spark, inserts, idStart = insStart, lenSpread = lenSpread))
        .repartition(2)
    val mergeCow = dir.resolve("merge").toString
    val mergeMor = dir.resolve("merge_mor").toString
    mergeIn("merge", rows * 10).write.parquet(mergeCow)
    mergeIn("merge_mor", rows * 20).write.parquet(mergeMor)

    // filtered-read probes, away from every DML slot
    val free = picks.drop(6)
    val pointId = free.head * slot + rnd.nextInt(slot.toInt)
    val nTokLo = 64 + rnd.nextInt(lenSpread - 60)
    val source = f"src${rnd.nextInt(4)}%02d"
    val r = spark.read.parquet(base).agg(
      sum(when(col("doc_id") === docId(pointId), 1).otherwise(0)),
      sum(when(col("n_tok").between(nTokLo, nTokLo + 59), 1).otherwise(0)),
      sum(when(col("source") === source, 1).otherwise(0))).head()

    // one sampled key per verb, with the value its check expects
    val firstIds = ranges.values.flatMap(lo => lo until lo + math.min(slot, 40)).toSeq
    val oldN = nTok(spark, firstIds, lenSpread)
    val newN = nTok(spark, firstIds, altSpread)
    val probe = ranges.map { case (verb, lo) =>
      val ids = lo until lo + math.min(slot, 40)
      verb -> (verb match {
        case "merge" | "merge_mor" =>
          val i = ids.find(i => oldN(i) != newN(i)).getOrElse(
            throw new IllegalStateException(s"no changed key in $verb slot"))
          (docId(i), newN(i))
        case "update" | "update_mor" => (docId(lo), oldN(lo) + 1)
        case _ => (docId(lo), -1) // deleted: no row
      })
    }
    In(base, mergeCow, mergeMor, rows, files, slot, ranges, inserts,
      docId(pointId), nTokLo, source, r.getLong(0), r.getLong(1), r.getLong(2), probe,
      bytesOf(base) + bytesOf(mergeCow) + bytesOf(mergeMor),
      if (toy) 1 else cycles(seconds / 12, 1))
  }

  def run(ph: Phase, in: In, work: Path): Unit = {
    (0 until in.passes).foreach { pass =>
      val root = work.resolve(s"zorder-$pass")
      try onePass(ph, in, root) finally deleteTree(root)
    }
  }

  private def onePass(ph: Phase, in: In, rootPath: Path): Unit = {
    val spark = ph.spark
    val root = rootPath.toString
    val t = TsTable.create(root, TableMeta("tokens",
      TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), "zorder")), None, None))
    val led = new Ledger(rootPath)
    val v0 = t.version
    var model = in.rows
    var maint = 0.0
    var ok = true
    // a maintenance call's result: its time counts into maintain_s
    def maintained[A](verb: String)(r: Option[A]): Option[A] = {
      if (r.isEmpty) ok = false else maint += ph.bySpan(verb).last
      r
    }
    def rowsAre(n: Long) = mismatch("live rows", liveRows(t), ph.expect(n))
    def keyRow(k: String): Option[Int] = {
      val r = t.scan(spark).where(col("doc_id") === k).select("n_tok").collect()
      r.headOption.map(_.getInt(0))
    }
    def probeKey(verb: String): Option[String] = {
      val (k, want) = in.probe(verb)
      mismatch(s"n_tok of $k after $verb", keyRow(k), if (want < 0) None else Some(want))
    }
    // each read twice: three kinds of read at different speeds, so that the
    // scan median falls inside one kind rather than between two
    def filteredReads(): Unit = (1 to 2).foreach { _ =>
      ph.read(t)(t.scan(spark).where(col("doc_id") === in.pointKey), identity) { rs =>
        mismatch("point rows", rs.length.toLong, ph.expect(in.wantPoint))
      }
      ph.read(t)(t.scan(spark).where(col("n_tok").between(in.nTokLo, in.nTokLo + 59)), tokAgg) { rs =>
        mismatch("n_tok range rows", rs(0).getLong(0), ph.expect(in.wantNTok))
      }
      ph.read(t)(t.scan(spark).where(col("source") === in.source), tokAgg) { rs =>
        mismatch("source rows", rs(0).getLong(0), ph.expect(in.wantSource))
      }
    }
    var tokSum = -1L
    def fullScan(compareSum: Boolean, rated: Boolean = false): Unit =
      tokFullScan(ph, t, model, if (compareSum) tokSum else -1L, rated).foreach(tokSum = _)
    def dml[R](verb: String, kind: String)(body: => R)(candidates: R => Long, changed: R => Long, want: Long): Unit = {
      val before = t.state.liveSegments
      val r = ph.op(kind, verb)(body) { r =>
        mismatch(s"$verb rows changed", changed(r), want)
          .orElse(rowsAre(model)).orElse(probeKey(verb))
      }
      led.observe()
      maintained(verb)(r).foreach(r => dmlLayer(ph, verb, before, t, candidates(r), changed(r)))
    }

    if (ph.op("append")(t.append(spark.read.parquet(in.base).repartition(in.files)))(_ => rowsAre(in.rows)).isEmpty)
      ok = false
    led.observe()
    ph.probeLayers(t); ph.probeAnalyze(t)
    filteredReads()
    fullScan(compareSum = false)
    maintained("compact")(compact(ph, t, led, model))
    fullScan(compareSum = true)
    // the rated full scans: the compacted layout, which the seed does not
    // change (it only moves the DML ranges and probes)
    (1 to 8).foreach(_ => fullScan(compareSum = false, rated = true))
    filteredReads()
    ph.probeLayers(t); ph.probeAnalyze(t)

    model += in.inserts
    dml("merge", "upsert")(MergeInto.merge(spark, t, spark.read.parquet(in.mergeCow)))(
      _.candidates, r => r.updated + r.inserted, in.slot + in.inserts)
    model += in.inserts
    dml("merge_mor", "upsert")(MergeInto.mergeMor(spark, t, spark.read.parquet(in.mergeMor)))(
      _.candidates, r => r.updated + r.inserted, in.slot + in.inserts)
    model -= in.slot
    dml("delete", "delete")(DeleteWhere.delete(spark, t,
      idRange(in.ranges("delete"), in.ranges("delete") + in.slot)))(_.candidates, _.rowsDeleted, in.slot)
    model -= in.slot
    dml("delete_mor", "delete")(DeleteWhere.deleteMor(spark, t,
      idRange(in.ranges("delete_mor"), in.ranges("delete_mor") + in.slot)))(_.candidates, _.rowsDeleted, in.slot)
    val bump = Map("n_tok" -> (col("n_tok") + 1))
    dml("update", "update")(UpdateWhere.update(spark, t,
      idRange(in.ranges("update"), in.ranges("update") + in.slot), bump))(_.candidates, _.rowsUpdated, in.slot)
    dml("update_mor", "update")(UpdateWhere.updateMor(spark, t,
      idRange(in.ranges("update_mor"), in.ranges("update_mor") + in.slot), bump))(_.candidates, _.rowsUpdated, in.slot)
    ph.probeLayers(t); ph.probeAnalyze(t)
    fullScan(compareSum = false) // through the deletion vectors the DML left
    opens(ph, t, 60)

    maintained("expire")(expire(ph, t, led, model))
    ph.probeLayers(t)
    if (ok) {
      ph.sample("maintain_s", maint)
      ph.sample("write_amp", led.bytesWritten.toDouble / in.submittedBytes)
      ph.sample("space_amp", Ledger.bytes(rootPath).toDouble / liveDataBytes(t))
    }
    logLayer(ph, t, led, t.version - v0, 9) // append, compact, six DML verbs, expire
  }
}

/** Reference-shaped `(ts, symbol, price)` table with 1-minute coverage
  * buckets: appends of one hour of 1-second ticks each, with seeded gap
  * hours, and between appends a scanRange, a coverage query and a reopen.
  * Every few appends a maintenance pass compacts the hourly files and
  * expires (checkpoints) the log. */
object IngestTimeseries extends Workload {
  val name = "ingest_timeseries"
  val Tick = 3600 // rows per hour
  val Epoch0 = 1704067200L // 2024-01-01T00:00:00Z
  def hourMicros(slot: Int): Long = (Epoch0 + slot * 3600L) * 1000000L

  final case class In(dir: String, covered: IndexedSeq[Int], gaps: Set[Int], seed: Long,
                      maintainEvery: Int, fullEvery: Int, hourBytes: Map[Int, Long]) {
    def appends: Int = covered.size
  }

  def stage(spark: SparkSession, dir: Path, seed: Long, seconds: Double, toy: Boolean): In = {
    val rnd = new Random(seed)
    val maintainEvery = if (toy) 3 else 6
    val appends = if (toy) 3 else cycles(1.2 * seconds, maintainEvery)
    // hour slots until `appends` are covered: slot 0 always is, and about
    // one hour in seven after it is a gap
    val gapFlags = Iterator.from(0).map(s => s > 0 && rnd.nextInt(7) == 0)
      .scanLeft((0, -1, false)) { case ((covered, slot, _), gap) => (covered + (if (gap) 0 else 1), slot + 1, gap) }
      .drop(1).takeWhile(_._1 <= appends).toIndexedSeq
    val slots = gapFlags.last._2 + 1
    val gaps = gapFlags.collect { case (_, s, true) => s }.toSet
    val covered = (0 until slots).filterNot(gaps).toIndexedSeq
    val out = dir.resolve("hours").toString
    spark.range(0L, slots.toLong * Tick)
      .select((col("id") / Tick).cast("int").as("slot"),
        timestamp_seconds(lit(Epoch0) + col("id")).as("ts"),
        lit("ACME").as("symbol"),
        round(lit(100.0) + (pmod(xxhash64(lit(seed), col("id")), lit(20000L)) - 10000) / 100.0, 2).as("price"))
      .where(!col("slot").isin(gaps.toSeq: _*))
      .repartition(col("slot"))
      .write.partitionBy("slot").parquet(out)
    val hourBytes = covered.map(s => s -> bytesOf(s"$out/slot=$s")).toMap
    In(out, covered, gaps, seed, maintainEvery, if (toy) 2 else 3, hourBytes)
  }

  def run(ph: Phase, in: In, work: Path): Unit = {
    val spark = ph.spark
    val rootPath = work.resolve("ingest")
    try {
      val t = TsTable.create(rootPath.toString, TableMeta("prices",
        TableKind.TimeSeries(TimeIndexSpec("ts", Seq("symbol"), TimeBucket.parse("1m"), None)), None, None))
      val led = new Ledger(rootPath)
      val v0 = t.version
      val rnd = new Random(in.seed * 31 + 7)
      var model = 0L
      var submitted = 0L
      var writerOps = 0L
      var i = 0
      def rowsAre(n: Long) = mismatch("live rows", liveRows(t), ph.expect(n))
      def coveredIn(lo: Int, hi: Int) = (lo to hi).count(s => s >= 0 && !in.gaps(s))
      while (i < in.appends) {
        val slot = in.covered(i)
        ph.op("append")(t.append(spark.read.parquet(s"${in.dir}/slot=$slot")))(_ => rowsAre(model + Tick))
        model += Tick
        submitted += in.hourBytes(slot)
        writerOps += 1
        led.observe()

        // a 2-hour window ending at a random appended hour
        val end = in.covered(rnd.nextInt(i + 1))
        val w = 2
        ph.read(t)(t.scanRange(spark, hourMicros(end - w + 1), hourMicros(end + 1)),
          _.agg(count(lit(1)), sum("price"))) { rs =>
          mismatch(s"scanRange rows over hours ${end - w + 1}..$end", rs(0).getLong(0),
            ph.expect(Tick.toLong * coveredIn(end - w + 1, end)))
        }

        // coverage since the first hour: ratio and longest gap (in 1m buckets)
        val lo = hourMicros(0)
        val hi = hourMicros(slot + 1)
        ph.op("coverage")((t.coverageRatioForRange(lo, hi), t.maxGapLenForRange(lo, hi))) { case (ratio, gap) =>
          val want = coveredIn(0, slot).toDouble / (slot + 1)
          val runs = (0 to slot).foldLeft((0, 0)) { case ((best, cur), s) =>
            if (in.gaps(s)) (math.max(best, cur + 1), cur + 1) else (best, 0)
          }._1
          if (math.abs(ratio - want) > 1e-9) Some(s"coverage ratio $ratio, want $want")
          else mismatch("max gap buckets", gap, runs * 60L)
        }
        opens(ph, t, 1, "reopen")

        if ((i + 1) % in.fullEvery == 0) fullScan(ph, t, model, rated = false)
        if ((i + 1) % in.maintainEvery == 0) {
          maintain(ph, t, led, model)
          writerOps += 2
        }
        if ((i + 1) % in.fullEvery == 0) { ph.probeLayers(t); ph.probeAnalyze(t) }
        i += 1
      }
      // the rated full scans, on the final table
      (1 to 5).foreach(_ => fullScan(ph, t, model, rated = true))
      ph.probeLayers(t)
      if (submitted > 0) {
        ph.sample("write_amp", led.bytesWritten.toDouble / submitted)
        ph.sample("space_amp", Ledger.bytes(rootPath).toDouble / liveDataBytes(t))
      }
      logLayer(ph, t, led, t.version - v0, writerOps)
    } finally deleteTree(rootPath)
  }

  /** A full read of the series, checked against the modelled row count. */
  private def fullScan(ph: Phase, t: TsTable, model: Long, rated: Boolean): Unit =
    ph.op("full_scan")(t.scan(ph.spark).agg(count(lit(1)), sum("price")).collect()(0)) { r =>
      mismatch("full scan rows", r.getLong(0), ph.expect(model))
    }.foreach { r =>
      if (rated) ph.sample("full_scan_rows_per_s", r.getLong(0) / ph.samples("full_scan").last)
    }

  /** Compact the hourly files, then expire (checkpoint) the log. */
  private def maintain(ph: Phase, t: TsTable, led: Ledger, model: Long): Unit = {
    opens(ph, t, 40)
    def ratio = t.coverageRatioForRange(hourMicros(0), hourMicros(1 << 16))
    val ratio0 = ratio
    val c = compact(ph, t, led, model, mismatch("coverage ratio after compaction", ratio, ratio0))
    val e = expire(ph, t, led, model)
    if (c.isDefined && e.isDefined) ph.sample("maintain_s", ph.samples("compact").last + ph.samples("expire").last)
  }
}

/** Lexico-clustered token table of ~12k rows taking small, insert-heavy
  * merge-on-read MERGE batches (half changed keys, half new keys past the
  * current maximum), with point and range reads between batches, periodic
  * full scans, and a compaction plus expire every few batches that
  * materializes the deletion-vector debt. */
object UpsertLexico extends Workload {
  val name = "upsert_lexico"

  final case class In(base: String, batches: String, rows: Long, half: Long, nBatches: Int,
                      probe: IndexedSeq[(String, Int)], rangeLen: Long, seed: Long,
                      compactEvery: Int, fullEvery: Int, batchBytes: IndexedSeq[Long])

  def stage(spark: SparkSession, dir: Path, seed: Long, seconds: Double, toy: Boolean): In = {
    val rows = if (toy) 1000L else 12000L
    val half = if (toy) 25L else 250L
    val compactEvery = if (toy) 2 else 3
    val nBatches = if (toy) 2 else cycles(0.6 * seconds, compactEvery)
    val lenSpread = if (toy) 200 else 600
    val altSpread = lenSpread / 2 + 7
    val rnd = new Random(seed)
    val base = dir.resolve("base").toString
    TokenGen.generate(spark, rows, lenSpread = lenSpread, numFiles = 2).write.parquet(base)
    // batch b: `half` changed keys in a seeded block of the original ids,
    // `half` new keys past every id so far
    val starts = (0 until nBatches).map(_ => (rnd.nextLong() & Long.MaxValue) % (rows - half))
    val batches = dir.resolve("batches").toString
    import spark.implicits._
    val changedKeys = starts.zipWithIndex.flatMap { case (s, b) => (s until s + half).map(i => (docId(i), b)) }
    val changed = changedKeys.toDF("doc_id", "batch")
      .join(TokenGen.generateForIds(spark, changedKeys.map(_._1).distinct, altSpread), "doc_id")
    val fresh = TokenGen.generate(spark, nBatches * half, idStart = rows, lenSpread = lenSpread)
      .withColumn("batch", ((substring(col("doc_id"), 5, 12).cast("long") - rows) / half).cast("int"))
    changed.unionByName(fresh).repartition(col("batch")).write.partitionBy("batch").parquet(batches)
    val ids = starts.flatMap(s => s until s + math.min(half, 20)).distinct
    val oldN = nTok(spark, ids, lenSpread)
    val newN = nTok(spark, ids, altSpread)
    val probe = starts.map { s =>
      val i = (s until s + math.min(half, 20)).find(i => oldN(i) != newN(i)).getOrElse(
        throw new IllegalStateException(s"no changed key in block at $s"))
      (docId(i), newN(i))
    }
    In(base, batches, rows, half, nBatches, probe, math.max(10L, rows / 50), seed,
      compactEvery, 2,
      (0 until nBatches).map(b => bytesOf(s"$batches/batch=$b")))
  }

  def run(ph: Phase, in: In, work: Path): Unit = {
    val spark = ph.spark
    val rootPath = work.resolve("upsert")
    try {
      val t = TsTable.create(rootPath.toString, TableMeta("tokens",
        TableKind.Clustered(ClusterSpec(Seq("doc_id"), "lexico")), None, None))
      // the seed table is loaded before the clock matters: it is the
      // starting state, not part of the measured traffic
      t.append(spark.read.parquet(in.base))
      val led = new Ledger(rootPath)
      val v0 = t.version
      val rnd = new Random(in.seed * 17 + 3)
      var model = in.rows
      var submitted = 0L
      var writerOps = 0L
      var b = 0
      var tokSum = -1L
      def fullScan(compareSum: Boolean, rated: Boolean = false): Unit =
        tokFullScan(ph, t, model, if (compareSum) tokSum else -1L, rated).foreach(tokSum = _)
      while (b < in.nBatches) {
        val before = t.state.liveSegments
        ph.op("upsert", "merge_mor")(MergeInto.mergeMor(spark, t,
          spark.read.parquet(s"${in.batches}/batch=$b"))) { r =>
          mismatch("updated", r.updated, in.half).orElse(mismatch("inserted", r.inserted, in.half))
            .orElse(mismatch("live rows", liveRows(t), ph.expect(model + in.half)))
        }.foreach(r => dmlLayer(ph, "merge_mor", before, t, r.candidates, r.updated + r.inserted))
        model += in.half
        submitted += in.batchBytes(b)
        writerOps += 1
        led.observe()

        val (key, want) = in.probe(b)
        ph.read(t)(t.scan(spark).where(col("doc_id") === key), _.select("n_tok")) { rs =>
          mismatch(s"n_tok of $key after batch $b", rs.map(_.getInt(0)).toSeq, Seq(want))
        }
        // two range reads per point read, so the scan median falls inside
        // the range reads rather than between the two kinds
        (1 to 2).foreach { _ =>
          val lo = (rnd.nextLong() & Long.MaxValue) % (in.rows - in.rangeLen)
          ph.read(t)(t.scan(spark).where(idRange(lo, lo + in.rangeLen)), tokAgg) { rs =>
            mismatch("range rows", rs(0).getLong(0), ph.expect(in.rangeLen))
          }
        }
        opens(ph, t, 1, "reopen")

        if ((b + 1) % in.compactEvery == 0) {
          // the rated full scans: at the most DV and small-file debt
          (1 to 3).foreach(_ => fullScan(compareSum = false, rated = true))
          opens(ph, t, 40)
          ph.probeLayers(t); ph.probeAnalyze(t)
          val c = compact(ph, t, led, model)
          fullScan(compareSum = true)
          val e = expire(ph, t, led, model)
          writerOps += 2
          if (c.isDefined && e.isDefined)
            ph.sample("maintain_s", ph.samples("compact").last + ph.samples("expire").last)
          ph.probeLayers(t); ph.probeAnalyze(t)
        } else if ((b + 1) % in.fullEvery == 0) fullScan(compareSum = false)
        b += 1
      }
      ph.probeLayers(t)
      if (submitted > 0) {
        ph.sample("write_amp", led.bytesWritten.toDouble / submitted)
        ph.sample("space_amp", Ledger.bytes(rootPath).toDouble / liveDataBytes(t))
      }
      logLayer(ph, t, led, t.version - v0, writerOps)
    } finally deleteTree(rootPath)
  }
}
