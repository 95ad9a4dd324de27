package graft.maintain

import java.nio.file.{Files, Paths}
import graft.log.TableState
import graft.meta.PathNorm
import graft.table.{Change, TsTable}

/** RESTORE TABLE … TO VERSION — roll the live set back to an earlier
  * snapshot as a NEW commit (Delta RESTORE / Iceberg rollback analog; the
  * reference has time-travel reads but no rollback verb). The log is
  * append-only and history is never rewritten: the restore commit swaps
  * the current live set for the target version's (metadata-only — no data
  * file is read, copied or rewritten, so restoring a 100 TB table is a
  * manifest-sized operation), concurrent readers keep snapshot isolation,
  * and the restore itself shows up in history and can be restored away.
  *
  * Fails loudly if snapshot expiration has already reclaimed any file the
  * target snapshot references (data, coverage sidecar, or deletion
  * vector) — a restore that silently resurrected a half-swept snapshot
  * would fail at scan time instead, far from the cause. (A tagged
  * version stays restorable even after expiration: expire checkpoints it
  * and keeps its files.)
  *
  * CHECK-constraint caveat: restore is metadata-only BY DESIGN, so it
  * does not re-validate the target's rows against checks added after the
  * target was written — a restore can resurrect rows a newer check would
  * reject. Constraints added via addCheck validate the CURRENT state, so
  * re-running addCheck (drop + add) after a restore re-establishes the
  * invariant, or run a validating scan: scan.where(NOT check).count.
  */
object Restore {

  final case class Report(restoredTo: Long, filesAdded: Int, filesRemoved: Int,
                          rowsBefore: Long, rowsAfter: Long, version: Long)

  def restore(table: TsTable, toVersion: Long): Report = {
    table.refresh()
    require(toVersion <= table.version,
      s"cannot restore to v$toVersion: table is at v${table.version}")
    val target =
      try TableState.rebuildAt(table.store, toVersion)
      catch {
        case e: Exception if e.getMessage != null && e.getMessage.contains("missing commit file") =>
          throw new IllegalArgumentException(
            s"cannot restore to v$toVersion: its history was already reclaimed by " +
              s"snapshot expiration (${e.getMessage})", e)
      }
    val targetSegs = target.liveSegments

    // every file the target references must still exist — expire sweeps
    // unreferenced files after a grace, and a target past that horizon is
    // unrestorable by construction (same guard Delta's RESTORE applies)
    val missing = targetSegs.flatMap { s =>
      (Seq(s.path) ++ s.coveragePath.toSeq ++ s.dvPath.toSeq).filterNot { rel =>
        Files.exists(Paths.get(PathNorm.stripFileScheme(
          PathNorm.canonical(s"${table.root}/$rel"))))
      }
    }
    require(missing.isEmpty,
      s"cannot restore to v$toVersion: ${missing.size} referenced file(s) already " +
        s"reclaimed by snapshot expiration, e.g. ${missing.take(3).mkString(", ")}")

    val before = table.state.liveSegments
    val beforeIds = before.map(s => s.segmentId -> s).toMap
    val targetIds = targetSegs.map(s => s.segmentId -> s).toMap
    val added = targetSegs.count(s => !beforeIds.get(s.segmentId).contains(s))
    val removed = before.count(s => !targetIds.get(s.segmentId).contains(s))
    val rowsBefore = before.map(_.liveRowCount).sum

    // the diff is recomputed INSIDE the commit loop, so a rebase retry
    // reconciles against the state it actually commits over: a live id
    // absent from the target is removed, a live id whose meta differs (e.g.
    // a deletion vector attached since) is upserted back to the target's
    // SegmentMeta (sidecar pointers included), a target id absent from the
    // live set is re-added, identical id+meta stays untouched
    val targetById = targetSegs.map(s => s.segmentId -> s).toMap
    require(targetById.size == targetSegs.size,
      "target snapshot has duplicate segment ids — corrupt manifest?")
    val v = table.commit() { st =>
      val live = st.liveSegments
      Change(
        removes = live.filterNot(s => targetById.contains(s.segmentId)),
        upserts = live.flatMap(s => targetById.get(s.segmentId).filter(_ != s).map(s -> _)),
        adds = targetSegs.filterNot(s => st.segments.contains(s.segmentId)))
    }
    Report(toVersion, added, removed, rowsBefore,
      targetSegs.map(_.liveRowCount).sum, v)
  }
}
