package graft.table

import java.nio.file.{Files, Path, Paths}
import java.util.UUID
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.coverage.Bitmap
import graft.log.{CommitFileExistsException, ConflictException, LogAction, TableState}
import graft.meta.{PathNorm, SegmentMeta, TimeIndexSpec}

/** What one writer lands over a snapshot. `removes` and the first half of
  * each `upserts` pair are the segments AS THE WRITER READ THEM: the
  * commit refuses to land unless each is still live under the same
  * deletion-vector pointer. An upsert re-adds the same segment id with new
  * sidecar pointers (a DV attach); `adds` are fresh segments; `actions`
  * ride along verbatim (metadata, change-feed records, DataNeutral,
  * coverage, a branch publish's net effect). */
private[graft] final case class Change(
    removes: Seq[SegmentMeta] = Nil,
    upserts: Seq[(SegmentMeta, SegmentMeta)] = Nil,
    adds: Seq[SegmentMeta] = Nil,
    actions: Seq[LogAction] = Nil) {
  def isEmpty: Boolean = removes.isEmpty && upserts.isEmpty && adds.isEmpty && actions.isEmpty
}

/** One writer verb's commit scope — the only way anything lands in a
  * table's log. Everything the verb writes before its commit (data files,
  * coverage and DV sidecars, change-feed files, table-coverage snapshots)
  * goes through the scope's staging calls and is registered with it; when
  * the scope closes, every registered file the landed commit does not
  * reference is deleted — abort, lost race, replayed txn, rejected re-gate
  * or no commit at all. Opened by [[TsTable.scoped]]; closing runs outside
  * the commit lock, so a large aborting rewrite never stalls other
  * writers' commits.
  *
  * [[commit]] is the single OCC primitive (the reference's
  * `commit_with_expected_version` loop, log_store.rs:116-207), and every
  * guard lives there, applied to every writer alike. */
private[graft] final class CommitScope private[table] (table: TsTable) {
  private val root = table.root
  /** root-relative paths of every file this scope wrote */
  private val staged = scala.collection.mutable.LinkedHashSet.empty[String]
  /** CHECK sets the staged segments were validated against, and the
    * session to re-validate them with */
  private var gatedUnder = Set.empty[Seq[(String, String)]]
  private var session: Option[SparkSession] = None
  private var landedActions: Option[Seq[LogAction]] = None
  /** coverage sidecars staged in this scope, by root-relative path */
  private val stagedCoverage = scala.collection.mutable.HashMap.empty[String, Bitmap]

  /** Whether this scope's commit landed (false after a no-op change or an
    * already-applied txn). */
  def landed: Boolean = landedActions.isDefined

  // ------------------------------------------------------------- commit

  /** Land `change(st)` over the freshest snapshot `st`, with rebase-retry
    * on version races (up to `maxRetries`). `change` runs inside the
    * commit lock and may throw to abort. Guards, in order:
    *  - `txn = (appId, batchId)`: when the table's watermark for `appId`
    *    is already ≥ `batchId` nothing lands (a replayed streaming batch);
    *    otherwise the SetTxn rides the commit. Checked before `change`
    *    runs, so a replay never trips a verb's own validation;
    *  - every removed or upserted segment must still be live under the
    *    deletion vector it was read under — a rewrite read under the old
    *    DV would resurrect a concurrent delete's rows, and a DV attach
    *    unioned against the old bitmap would drop them;
    *  - segments staged in this scope are re-gated when the table's
    *    CHECKs changed since staging;
    *  - time-series changes that touch segments get their table coverage
    *    recomputed in the same commit unless they are DataNeutral or carry
    *    their own coverage action.
    * Returns the committed version, or the snapshot version when nothing
    * landed. */
  def commit(maxRetries: Int = 3, txn: Option[(String, Long)] = None)
            (change: TableState => Change): Long = {
    require(landedActions.isEmpty, "a commit scope lands at most one commit")
    occLoop(maxRetries) { st =>
      if (txn.exists { case (app, batch) => st.txns.get(app).exists(_ >= batch) }) st.version
      else {
        val c = change(st)
        if (c.isEmpty && txn.isEmpty) st.version else land(st, c, txn)
      }
    }
  }

  /** The OCC loop. The validate+commit section runs under the table's
    * commit lock, so in-JVM writers (e.g. 4 concurrent compaction bins +
    * an append + a MOR delete on one table instance) serialize instead of
    * burning each other's retry budgets on pure self-races; cross-process
    * losers rebase-retry with jittered backoff outside the lock. */
  private def occLoop(maxRetries: Int)(body: TableState => Long): Long = {
    var attempt = 0
    while (true) {
      val res: Option[Long] = table.commitLock.synchronized {
        table.refresh()
        try Some(body(table.state))
        catch {
          case _: ConflictException | _: CommitFileExistsException if attempt < maxRetries =>
            attempt += 1; None
        }
      }
      res match {
        case Some(v) => return v
        case None => Thread.sleep(5L + scala.util.Random.nextInt(25 * attempt))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def land(st: TableState, c: Change, txn: Option[(String, Long)]): Long = {
    val read = c.removes ++ c.upserts.map(_._1)
    val missing = read.map(_.segmentId).filterNot(st.segments.contains)
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"swap aborted: segments already rewritten by a concurrent job: ${missing.mkString(", ")}")
    val reDvd = read.filter(s => st.segments(s.segmentId).dvPath != s.dvPath).map(_.segmentId)
    if (reDvd.nonEmpty)
      throw new IllegalStateException(
        s"swap aborted: segments re-DV'd by a concurrent DELETE/MERGE: ${reDvd.mkString(", ")}")
    val checks = st.tableMeta.map(_.checks).getOrElse(Nil)
    val fresh = c.adds.filter(a => staged(a.path))
    for (spark <- session if fresh.nonEmpty && gatedUnder != Set(checks))
      table.enforceChecks(spark, checks, fresh.map(s => (s"$root/${s.path}", s.stats, s.rowCount)))

    val removeIds = read.map(_.segmentId)
    val removed = removeIds.toSet
    val added = c.upserts.map(_._2) ++ c.adds
    val coverage = table.timeSpec match {
      case Some(spec) if (read.nonEmpty || added.nonEmpty) && !c.actions.exists {
            case LogAction.DataNeutral | _: LogAction.UpdateTableCoverage => true
            case _ => false
          } =>
        Some(coverageAction(st, spec, coverageOf(
          st.liveSegments.filterNot(s => removed(s.segmentId)) ++ added)))
      case _ => None
    }
    val actions = assignRowTracking(st,
      removeIds.map(LogAction.RemoveSegment) ++ added.map(LogAction.AddSegment) ++
        c.actions ++ coverage ++ txn.map { case (app, batch) => LogAction.SetTxn(app, batch) })
    val v = table.store.commitWithExpectedVersion(st.version, actions)
    landedActions = Some(actions)
    table.advance(actions.foldLeft(st)(_ apply _).copy(version = v))
    v
  }

  /** Row-tracking id allocation, applied to every commit: each AddSegment
    * that carries no baseRowId yet (fresh append/rewrite output) is
    * assigned `[hw, hw + rowCount)` plus `rowVersion = this commit's
    * version`; DV re-attach and RESTORE re-adds COPY their SegmentMeta and
    * thus keep their ranges untouched. The bumped high-water mark rides
    * the SAME commit (reusing the commit's own UpdateTableMeta when it
    * carries one). Runs inside the OCC loop, so a rebase re-assigns from
    * the new snapshot's high water — two racing appends can never mint
    * overlapping id ranges. Pure metadata. */
  private def assignRowTracking(st: TableState, actions: Seq[LogAction]): Seq[LogAction] = {
    // honor the POST-commit flag: the enabling commit backfills its own adds
    val metaIdx = actions.lastIndexWhere(_.isInstanceOf[LogAction.UpdateTableMeta])
    val effMeta =
      if (metaIdx >= 0) actions(metaIdx).asInstanceOf[LogAction.UpdateTableMeta].meta
      else st.tableMeta.orNull
    if (effMeta == null || !effMeta.rowTracking) return actions
    var hw = math.max(effMeta.rowIdHighWater,
      st.tableMeta.map(_.rowIdHighWater).getOrElse(0L))
    val v = st.version + 1
    var assigned = false
    val out = actions.map {
      case LogAction.AddSegment(s) if s.baseRowId.isEmpty =>
        val b = hw; hw += s.rowCount; assigned = true
        LogAction.AddSegment(s.copy(baseRowId = Some(b), rowVersion = Some(v)))
      case a => a
    }
    if (!assigned) return actions
    val newMeta = effMeta.copy(rowIdHighWater = hw)
    if (metaIdx >= 0) out.updated(metaIdx, LogAction.UpdateTableMeta(newMeta))
    else out :+ LogAction.UpdateTableMeta(newMeta)
  }

  /** Union of the segments' coverage sidecars (those staged in this scope
    * from memory, the rest from disk). */
  private[table] def coverageOf(segs: Seq[SegmentMeta]): Bitmap =
    segs.flatMap(_.coveragePath).foldLeft(Bitmap.empty) { (acc, rel) =>
      acc.union(stagedCoverage.getOrElse(rel,
        Bitmap.deserialize(Files.readAllBytes(local(s"$root/$rel")))))
    }

  /** Write `cov` as the table-coverage snapshot for the commit over `st`
    * and return its pointer action. */
  private[table] def coverageAction(st: TableState, spec: TimeIndexSpec,
                                    cov: Bitmap): LogAction = {
    val rel = s"_coverage/table/${st.version + 1}-tblcov-${UUID.randomUUID().toString.take(8)}.cov"
    writeSidecar(rel, cov.serialize())
    LogAction.UpdateTableCoverage(spec.bucket.spec, rel)
  }

  // ------------------------------------------------------------ staging

  /** Stage `df` as segments under data/ (zero-row parts discarded, footer
    * stats, CHECK gate, coverage sidecars for time-series tables) and
    * return their metas, ready to ride this scope's commit. */
  def stageSegments(df: DataFrame): Seq[SegmentMeta] =
    segmentsOf(df.sparkSession, stageData(df))

  /** Write `df` as data files; on a time-series table each file's writer
    * also builds its coverage bitmap (the time column is checked first,
    * before any job runs). */
  private[table] def stageData(df: DataFrame): Seq[CommitScope.Staged] =
    stage(df, "data/", table.segmentWriteOptions ++
      table.timeSpec.map(CoverageParquet.options(df.schema, _)).getOrElse(Map.empty))

  /** Stage a change-record DataFrame (logical table columns +
    * `_change_type`) under `_cdc/` and return the AddCdcFile actions that
    * must ride the SAME commit as the change. Physical column names on
    * disk, like the data files — the feed reader maps back through the
    * read-time column mapping, so a record written before a RENAME still
    * reads under the new name. */
  def stageCdc(df: DataFrame): Seq[LogAction.AddCdcFile] =
    stage(df, "_cdc/cdc-", Map.empty).map(f => LogAction.AddCdcFile(f.rel, f.stats.rowCount))

  /** Write a per-segment sidecar (DV bitmap, coverage) owned by this scope. */
  def writeSidecar(rel: String, bytes: Array[Byte]): Unit = {
    staged += rel
    table.writeBytes(s"$root/$rel", bytes)
  }

  /** The one staging routine: write `df` (physical names) through
    * [[CoverageParquet]] into a `.staging-*` tree, read every part file's
    * footer stats (and, when `options` turn coverage on, its coverage
    * sidecar), discard zero-row parts (a rewrite partition whose rows were
    * all filtered away; committing one would create a rowCount=0
    * segment), and move the rest to `<relPrefix><id>-NNNNN.parquet`.
    * A liveness beacon keeps the staging tree's mtime fresh for the whole
    * write, so Expire's crashed-writer reclamation never races a live
    * writer whose upstream stages outlast its grace period. */
  private[table] def stage(df: DataFrame, relPrefix: String,
                           options: Map[String, String]): Seq[CommitScope.Staged] = {
    val id = UUID.randomUUID().toString.take(8)
    val stagingAbs = s"$root/.staging-$id"
    val heartbeat = StagingHeartbeat.start(stagingAbs)
    try {
      // toPhysical: inputs arrive logical (appends, user expressions) or
      // physical (segmentScan); the rename is by-name, so either lands
      // under the files' frozen physical names
      try table.toPhysical(df).write.format(classOf[CoverageParquet].getName)
        .options(options).mode("overwrite").save(stagingAbs)
      catch {
        // the writer's typed overflow arrives as the cause of Spark's
        // write-failure error; surface it as itself
        case e: Exception =>
          var c: Throwable = e
          while (c != null && !c.isInstanceOf[BucketDomainOverflowException]) c = c.getCause
          throw (if (c != null) c else e)
      }
      val conf = df.sparkSession.sparkContext.hadoopConfiguration
      val coverage = CoverageParquet.enabled(options)
      FooterStats.readAll(conf, listParquet(local(stagingAbs)))
        .filter(_._2.rowCount > 0).zipWithIndex.map { case ((src, fs), i) =>
          val cov = if (coverage)
            Some(Bitmap.deserialize(Files.readAllBytes(local(src + CoverageParquet.Suffix))))
          else None
          val rel = f"$relPrefix$id-$i%05d.parquet"
          val dst = local(s"$root/$rel")
          Files.createDirectories(dst.getParent)
          staged += rel
          Files.move(local(src), dst)
          CommitScope.Staged(rel, fs, cov)
        }
    } finally {
      // stop (join) the beacon BEFORE deleting its tree: a touch racing the
      // recursive delete could recreate .heartbeat mid-walk
      heartbeat.stop()
      try deleteRecursively(local(stagingAbs))
      catch { case _: java.io.IOException => () } // leftovers age out via Expire
    }
  }

  /** Segment metas for staged data files: CHECK gate (stats fast path —
    * pass-through rewrites clear it from footer stats, and it is the only
    * net that can catch an UPDATE whose SET drives rows out of bounds),
    * then each file's coverage bitmap registered as its sidecar under
    * `_coverage/segments/` (kept in memory for this scope's commit). */
  private[table] def segmentsOf(spark: SparkSession,
                                files: Seq[CommitScope.Staged]): Seq[SegmentMeta] = {
    if (files.isEmpty) return Nil
    val checks = table.state.tableMeta.map(_.checks).getOrElse(Nil)
    table.enforceChecks(spark, checks,
      files.map(f => (s"$root/${f.rel}", f.stats.stats, f.stats.rowCount)))
    gatedUnder += checks
    session = Some(spark)
    files.map { f =>
      val segId = SegmentMeta.segmentIdV1(f.rel, local(s"$root/${f.rel}"))
      val covRel = f.coverage.map { bm =>
        val r = s"_coverage/segments/segcov-$segId.cov"
        writeSidecar(r, bm.serialize())
        stagedCoverage(r) = bm
        r
      }
      SegmentMeta(segId, f.rel, "parquet", f.stats.rowCount, Some(f.stats.fileSize),
        f.stats.stats, covRel)
    }
  }

  /** Delete every registered file the landed commit does not reference
    * (all of them when nothing landed). Best effort: a file that cannot
    * be deleted is unreferenced debris Expire's sweep reclaims. */
  private[table] def close(): Unit = {
    val keep: Set[String] = landedActions.getOrElse(Nil).flatMap {
      case LogAction.AddSegment(s) => Seq(s.path) ++ s.coveragePath ++ s.dvPath
      case LogAction.AddCdcFile(p, _) => Seq(p)
      case LogAction.UpdateTableCoverage(_, p) => Seq(p)
      case _ => Nil
    }.toSet
    staged.filterNot(keep).foreach { rel =>
      try Files.deleteIfExists(local(s"$root/$rel"))
      catch { case _: java.io.IOException => () }
    }
  }

  private def local(p: String): Path = Paths.get(PathNorm.stripFileScheme(p))

  private def listParquet(dir: Path): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val s = Files.list(dir)
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
      .map(_.toString).toSeq.sorted
    finally s.close()
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try { import scala.jdk.CollectionConverters._; s.iterator().asScala.foreach(deleteRecursively) }
      finally s.close()
    }
    Files.deleteIfExists(p)
  }
}

private[table] object CommitScope {
  /** One staged file: root-relative path, footer stats, and — when its
    * write built one — its coverage bitmap. */
  final case class Staged(rel: String, stats: FooterStats.FileStats, coverage: Option[Bitmap])
}
