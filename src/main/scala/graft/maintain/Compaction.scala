package graft.maintain

import java.util.UUID
import org.apache.spark.sql.SparkSession
import graft.log.{ConflictException, CommitFileExistsException, LogAction}
import graft.meta.SegmentMeta
import graft.table.{Change, FooterStats, TsTable}

/** Bin-packing small-file compaction with space-filling-curve clustering —
  * the centerpiece of the north rule (new vs the reference, whose roadmap
  * lists compaction as unbuilt, README.md:374-376; the atomic
  * RemoveSegment+AddSegment swap reuses the reference's own replay verbs,
  * transaction_log/actions.rs:19-39).
  *
  * Scale design:
  *  - The PLAN is O(files) driver-side arithmetic over manifest stats — no
  *    data is read to decide what to rewrite.
  *  - Each bin's REWRITE is one narrow bounds sample of the bin's
  *    cluster-key columns plus one distributed job through the clustering
  *    router ([[RangeBuckets.cluster]], shared by every clustered writer):
  *    read(bin files) → curve key (codegen'd CurveKey3: zorder, hilbert
  *    or lexico) → range bucket over the sampled (key, salt) bounds →
  *    hash repartition on the bucket label → sortWithinPartitions(key,
  *    salt) → write. The sampled bounds balance skewed sources across
  *    output files; the salt breaks ties for heavily-duplicated curve keys
  *    (hot sources) without perturbing the final order.
  *  - Bins commit independently (atomic swap per bin) and journal to the
  *    lineage log, so a crashed job resumes by skipping completed bins and
  *    concurrent readers stay snapshot-isolated throughout.
  */
object Compaction {

  final case class Bin(id: String, segments: Seq[SegmentMeta]) {
    def bytes: Long = segments.flatMap(_.fileSize).sum
    def rows: Long = segments.map(_.rowCount).sum
  }

  final case class Report(jobId: String, binsPlanned: Int, binsExecuted: Int,
                          binsSkipped: Int, rowsRewritten: Long, bytesRewritten: Long,
                          filesIn: Int, filesOut: Int, millis: Long)

  /** Plan rewrite groups ("bins"): small files below the threshold are
    * packed greedily into groups of up to `groupFactor × targetFileSize`
    * bytes. Each group is ONE distributed rewrite with a GLOBAL
    * range-partition over the curve key — clustering quality (and hence
    * post-maintenance scan pruning) needs many inputs sorted together,
    * not per-output-file sorts; the group cap only bounds the unit of
    * checkpoint/resume and of commit atomicity. A group is worth
    * rewriting when it has ≥ 2 inputs. Deterministic given the manifest.
    */
  /** A DV'd file becomes a rewrite candidate only once its masked-row
    * ratio crosses this — compaction is the pass that materializes DVs
    * away, but "any DV ⇒ rewrite" would let a 0.01 % MOR delete trigger a
    * full-table rewrite at the next maintenance pass (rewrite bytes ∝
    * file size, benefit ∝ masked rows). Below the threshold the file
    * keeps its DV and scans keep paying one conjunct — the cheaper side
    * of the trade until debt accumulates. Pass 0.0 to force full
    * materialization (RESTORE-hygiene, pre-export cleanup). */
  val DefaultDvDebtThreshold: Double = 0.05

  /** Concurrent bin rewrites per pass. Bins are independent rewrite units
    * (the plan never puts one segment in two bins), but each costs the
    * driver a boundary-sample job, a commit, and a journal write — run
    * sequentially, a 200-bin pass at production file counts serializes
    * minutes of per-bin fixed cost through the driver while the cluster
    * idles between stages. A bounded pool overlaps bin A's commit with
    * bin B's scan (the OPTIMIZE-maxThreads lever); OCC swaps rebase on
    * conflict, so correctness never depends on the pool size. Keep
    * `maxRetries ≥ binParallelism`: with K concurrent commits, a swap can
    * lose the version race K−1 times before its turn. */
  val DefaultBinParallelism: Int = 4

  def plan(segments: Seq[SegmentMeta], targetFileSize: Long,
           smallFileThreshold: Double = 0.9, groupFactor: Int = 64,
           dvDebtThreshold: Double = DefaultDvDebtThreshold): Seq[Bin] = {
    def dvDebtDue(s: SegmentMeta): Boolean =
      s.dvCardinality > 0 && s.dvCardinality.toDouble >= dvDebtThreshold * s.rowCount
    val small = segments
      .filter(s => dvDebtDue(s) ||
        s.fileSize.exists(_ < (targetFileSize * smallFileThreshold).toLong))
      .sortBy(_.segmentId)
    val cap = targetFileSize * groupFactor
    val bins = scala.collection.mutable.ArrayBuffer.empty[scala.collection.mutable.ArrayBuffer[SegmentMeta]]
    var size = 0L
    for (s <- small) {
      val sz = s.fileSize.getOrElse(0L)
      if (bins.isEmpty || size + sz > cap) { bins += scala.collection.mutable.ArrayBuffer(s); size = sz }
      else { bins.last += s; size += sz }
    }
    bins.collect {
      // CONTENT-ADDRESSED bin id (hash of the sorted member segment ids):
      // resume replans from the post-crash manifest, where completed
      // bins' inputs are gone — ordinal ids would renumber the remaining
      // bins onto the completed ids and silently skip ALL remaining work.
      // Same members ⇒ same id (mid-job resume skips correctly); any
      // other membership ⇒ a fresh id that executes.
      // singleton bins are no-ops UNLESS the lone member carries a
      // deletion vector — then the rewrite is the DV materialization
      // pass, and skipping it would leave the scan-time filter forever
      case b if b.size >= 2 || b.exists(_.dvCardinality > 0) => Bin(binId(b.toSeq), b.toSeq)
    }.toSeq
  }

  private def binId(segments: Seq[SegmentMeta]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    segments.map(_.segmentId).sorted.foreach(id => md.update((id + "\n").getBytes("UTF-8")))
    md.digest().take(6).map(b => f"$b%02x").mkString
  }

  /** Execute a compaction+clustering pass. Resumable: pass the same jobId
    * to skip already-committed bins. Returns the metrics report.
    *
    * `where`: scope the pass to the stats-selected slice of the table — a
    * file is IN SCOPE unless some conjunct of the predicate is provably
    * false over its stats (the same 3-valued evaluation the scan and
    * DELETE use, so padded transform rewrites only ever widen the scope:
    * sound, never lossy). The operational shape at 10^12 rows: "compact
    * yesterday's ingest" touches yesterday's files, not the table. The
    * predicate selects FILES, never rows — rewritten bins keep every row
    * byte-identical. */
  def run(spark: SparkSession, table: TsTable, targetFileSize: Long,
          jobId: String = UUID.randomUUID().toString.take(8),
          curve: Option[String] = None,
          groupFactor: Int = 64,
          maxRetries: Int = 5,
          where: Option[org.apache.spark.sql.Column] = None,
          dvDebtThreshold: Double = DefaultDvDebtThreshold,
          binParallelism: Int = DefaultBinParallelism): Report = {
    val t0 = System.currentTimeMillis()
    val journal = new LineageJournal(table.root, jobId)
    val done = journal.completedBins()
    table.refresh()
    val curveName = curve.orElse(table.clusterSpec.map(_.curve)).getOrElse("none")
    val inScope = where match {
      case None => table.state.liveSegments
      case Some(cond) =>
        import org.apache.spark.sql.catalyst.expressions.{And => CAnd, Expression}
        def conjuncts(e: Expression): Seq[Expression] = e match {
          case CAnd(l, r) => conjuncts(l) ++ conjuncts(r)
          case other => Seq(other)
        }
        // resolve against the table schema so stats see real attributes
        val analyzed = table.scan(spark).where(cond).queryExecution.analyzed
        val resolved = analyzed
          .collectFirst { case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition }
          .map(conjuncts)
          .getOrElse(Seq(org.apache.spark.sql.graft.Bridge.toExpr(cond)))
        table.state.liveSegments.filter { seg =>
          !resolved.exists(c =>
            graft.scan.StatsPruning.eval(c, table.logicalStats(seg), seg.rowCount) == graft.scan.StatsPruning.AlwaysFalse)
        }
    }
    val bins = plan(inScope, targetFileSize, groupFactor = groupFactor,
      dvDebtThreshold = dvDebtThreshold)
    val (alreadyDone, pending) = bins.partition(b => done.contains(b.id))

    /** One bin end-to-end; returns its metrics, or None when the bin
      * degenerated (inputs rewritten by a concurrent job) and was skipped.
      * Thread-confined except for `table` (whose swap path is OCC-safe and
      * concurrency-stressed) and the journal (atomic per-bin files). */
    def execute(bin: Bin): Option[BinMetrics] = {
      val b0 = System.currentTimeMillis()
      val liveIds = table.state.segments.keySet
      val inputs = bin.segments.filter(s => liveIds.contains(s.segmentId))
      if (inputs.size >= 2 || inputs.exists(_.dvCardinality > 0)) {
        val outFiles = math.max(1, math.ceil(bin.bytes.toDouble / targetFileSize).toInt)
        val fit = ClusterKey.fitFor(table)
        // the journal records the version THIS bin's swap committed at —
        // under concurrent bins `table.version` may already have advanced
        // past it by the time we get here
        val (added, swapV) = rewriteBin(spark, table, inputs, outFiles, curveName, fit, maxRetries)
        val m = BinMetrics(inputs.map(_.rowCount).sum, inputs.flatMap(_.fileSize).sum, inputs.size,
          added.map(_.rowCount).sum, added.flatMap(_.fileSize).sum, added.size,
          System.currentTimeMillis() - b0)
        journal.record(BinRecord(bin.id, inputs.map(_.segmentId), Some(swapV), Some(m)))
        Some(m)
      } else None
    }

    val threads = math.max(1, math.min(binParallelism, pending.size))
    val results: Seq[Option[BinMetrics]] =
      if (threads <= 1) pending.map(execute)
      else {
        val poolSeq = new java.util.concurrent.atomic.AtomicInteger
        val pool = java.util.concurrent.Executors.newFixedThreadPool(threads, r => {
          // per-thread index so a thread dump correlates stacks to bins
          val th = new Thread(r, s"graft-compact-$jobId-${poolSeq.getAndIncrement()}")
          th.setDaemon(true); th
        })
        try {
          val futures = pending.map(b => pool.submit(
            new java.util.concurrent.Callable[Option[BinMetrics]] {
              override def call(): Option[BinMetrics] = execute(b)
            }))
          // await ALL before propagating a failure: in-flight bins own
          // staged files whose abort paths must run; completed bins are
          // journaled and will be skipped on the resume retry
          val tries = futures.map(f => scala.util.Try(f.get()))
          tries.collectFirst { case scala.util.Failure(e) =>
            throw Option(e.getCause).getOrElse(e) }
          tries.map(_.get)
        } finally pool.shutdown()
      }

    val ms = results.flatten
    Report(jobId, bins.size, ms.size,
      alreadyDone.size + (results.size - ms.size),
      ms.map(_.rowsIn).sum, ms.map(_.bytesIn).sum,
      ms.map(_.filesIn).sum, ms.map(_.filesOut).sum,
      System.currentTimeMillis() - t0)
  }

  /** Rewrite one bin: cluster-sorted copy-on-write, atomic Remove+Add.
    *
    * Read parallelism is sized to the cluster: the default 128 MB
    * maxPartitionBytes turns a multi-GB bin into a handful of scan tasks
    * and starves the scan + range-sampling stages (observed 0.54 scaling
    * efficiency 8→32 cores before this). Target ≥ 3 read waves per core. */
  private def rewriteBin(spark: SparkSession, table: TsTable, inputs: Seq[SegmentMeta],
                         outFiles: Int, curve: String, fit: ClusterKey.Fit,
                         maxRetries: Int): (Seq[SegmentMeta], Long) = {
    val totalBytes = math.max(inputs.flatMap(_.fileSize).sum, 1L)
    withSizedReadSplits(spark, totalBytes, inputs.size) { scoped =>
      // merge-on-read deletes materialize here: inputs are read
      // live-rows-only, outputs are fresh segments with no DV. (The
      // boundary SAMPLE below stays physical — deleted rows skew the
      // approximate range bounds marginally, never correctness.)
      val raw = table.segmentScan(scoped, inputs)
      // row tracking: a compaction is row-preserving, so the rewrite reads
      // ids attached (coalesce of materialized column / base+position) and
      // MATERIALIZES them into the output files — the sort below reorders
      // rows, so position-based defaults could not survive it. The
      // boundary sample keeps the plain (untracked) relation: it prunes to
      // the cluster-key columns only.
      val rawIds =
        if (table.rowTrackingEnabled) table.segmentScanWithRowIds(scoped, inputs) else raw
      val df = graft.table.DeletionVectors.liveRowFilter(table.root, inputs)
        .map(rawIds.where).getOrElse(rawIds)
      // bounds sample the same manifest-backed physical scan (a second
      // read.parquet re-listed the bin); caching the rows instead LOST
      // badly — deserialized token rows are ~3× the parquet bytes
      val sorted = RangeBuckets.cluster(df, Seq(raw), inputs.map(_.rowCount).sum, curve, outFiles, fit)
      // compaction is LOGICALLY ROW-PRESERVING (DV materialization
      // included: the masked rows were already deleted, and recorded, by
      // the commit that attached the DV) — mark it so change-feed readers
      // skip it instead of erroring on an unrecorded Remove+Add
      table.scoped { scope =>
        val added = scope.stageSegments(sorted)
        (added, scope.commit(maxRetries)(_ => Change(removes = inputs, adds = added,
          actions = Seq(LogAction.DataNeutral))))
      }
    }
  }

  /** Run `f` with parquet read splits sized so `totalBytes` of input makes
    * ≥ 3 scan waves per core. The default 128 MB maxPartitionBytes turns a
    * multi-GB rewrite into a handful of scan tasks and starves the scan +
    * range-sampling stages (measured 0.54 scaling efficiency 8→32 cores
    * before this); shared by compaction and MERGE INTO.
    *
    * `f` receives an ISOLATED session (same SparkContext, own SQLConf,
    * current runtime conf carried over) and must create its parquet reads
    * from it — split sizing binds to the session the relation was created
    * on. Round-2 finding: mutating the shared session's conf made every
    * CONCURRENT query on that session silently plan with the maintenance
    * job's split size (and vice versa on restore). */
  def withSizedReadSplits[T](spark: SparkSession, totalBytes: Long,
                             numFiles: Int = 0)(f: SparkSession => T): T = {
    val cores = spark.sparkContext.defaultParallelism
    // Spark pads every file with files.openCostInBytes (4 MB default) when
    // packing splits into read tasks, so sizing from raw bytes alone lands
    // the scan off whole waves (observed: a 1 GB/122-file bin planned 41
    // tasks at 8 cores — a 6th wave with ONE straggler task, +17 % stage
    // wall). Budget the padding so task count ≈ 3 × cores exactly.
    val openCost = spark.conf.getOption("spark.sql.files.openCostInBytes")
      .map(org.apache.spark.network.util.JavaUtils.byteStringAsBytes)
      .getOrElse(4L * 1024 * 1024)
    val padded = math.max(totalBytes, 1L) + numFiles.toLong * openCost
    val targetSplit = math.min(128L * 1024 * 1024,
      math.max(8L * 1024 * 1024, padded / (3L * cores)))
    val scoped = spark.newSession()
    // newSession() starts from the context defaults; carry the caller's
    // runtime SQL conf (shuffle partitions, AQE, timezone) so maintenance
    // plans like the caller would — static/non-settable entries skipped
    spark.conf.getAll.foreach { case (k, v) =>
      try scoped.conf.set(k, v) catch { case _: Exception => () }
    }
    scoped.conf.set("spark.sql.files.maxPartitionBytes", targetSplit.toString)
    f(scoped)
  }
}
