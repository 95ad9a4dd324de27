package graft.maintain

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.meta.{ColStats, PathNorm, StatVal}
import graft.table.{Change, DeletionVectors, RowTracking, TsTable}

/** Maintenance by ROW IDENTITY — the operators row tracking unlocks.
  * A change-feed consumer (or any revision pipeline) that knows WHICH
  * rows to touch by `_row_id` should not have to re-derive a key
  * predicate; and for never-rewritten files the id→position mapping is
  * pure arithmetic (`pos = id − baseRowId`), so an id-addressed delete
  * attaches deletion vectors with ZERO data reads on those files — the
  * only scan is over rewritten (materialized-id) candidates, and it is
  * pruned to the id column. No analog in the reference (append-only log,
  * no row identity) nor in Delta (row tracking there is read-only).
  */
object RowIdOps {

  /** Merge-on-read DELETE of the given row ids (a one-column DataFrame or
    * any frame whose FIRST column is the id). Plan shape at 10^12 rows:
    *
    *  1. Candidates: manifest interval intersection against the id set's
    *     [min, max] — positional files via [base, base+rows), rewritten
    *     files via `_row_id` footer stats. Metadata only.
    *  2. Positional matches: a broadcast interval join of the id set
    *     against the candidate manifest — `(file, id − base)` computed
    *     WITHOUT reading a byte of data.
    *  3. Materialized matches: one scan of only the rewritten candidates,
    *     column-pruned to `_row_id` + parquet position, semi-joined to
    *     the id set.
    *  4. Rows already masked by a DV are excluded (a replayed id set is
    *     idempotent), then the standard MOR attach commits per-file
    *     bitmap sidecars — fully-matched files drop metadata-only.
    *
    * Clustered tables only: a time-series DELETE must recompute coverage
    * from surviving rows, which requires the scan this operator exists to
    * avoid — use [[DeleteWhere.deleteMor]] with a predicate there. */
  def deleteByRowIds(spark: SparkSession, table: TsTable, ids: DataFrame): DeleteWhere.Report = {
    table.refresh()
    require(table.rowTrackingEnabled, "deleteByRowIds needs row tracking enabled")
    require(table.timeSpec.isEmpty,
      "deleteByRowIds supports clustered tables; time-series tables recompute " +
        "coverage from survivors — use DeleteWhere.deleteMor with a predicate")
    val RowId = RowTracking.RowIdCol
    val live = table.state.liveSegments
    val totalLive = live.map(_.liveRowCount).sum
    val del = ids.select(col(ids.columns.head).cast("long").as(RowId))
      .where(col(RowId).isNotNull).dropDuplicates(RowId)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cnt = del.count()
      if (cnt == 0 || live.isEmpty)
        return DeleteWhere.Report(0, live.size, 0, 0L, totalLive, table.version)
      val (candidates, filteredOpt) = idMatchBase(spark, table, del, live)
      val filtered = filteredOpt.getOrElse(
        return DeleteWhere.Report(0, live.size, 0, 0L, totalLive, table.version))
      DeleteWhere.morAttach(spark, table, candidates,
        live.size - candidates.size, totalLive, filtered,
        changeRows = Some(() => {
          val raw = table.toLogical(DeleteWhere.cdcScanOf(spark, table, candidates))
          DeletionVectors.liveRowFilter(table.root, candidates)
            .map(raw.where).getOrElse(raw)
            .join(del, Seq(RowId), "left_semi")
        }))
    } finally del.unpersist(false)
  }

  /** The id-addressed match base shared by the id verbs: candidates by
    * manifest interval intersection, then a `(file, pos, matched=true,
    * time=null)` frame — the positional arm a zero-read broadcast
    * interval join, the materialized arm one id-column-pruned scan,
    * already-masked positions excluded. None when nothing can match. */
  private def idMatchBase(spark: SparkSession, table: TsTable, del: DataFrame,
                          live: Seq[graft.meta.SegmentMeta])
      : (Seq[graft.meta.SegmentMeta], Option[DataFrame]) = {
    val RowId = RowTracking.RowIdCol
    val bounds = del.agg(min(col(RowId)), max(col(RowId))).head
    if (bounds.isNullAt(0)) return (Nil, None) // empty id set
    val (mn, mx) = (bounds.getLong(0), bounds.getLong(1))

    // metadata-only candidate selection (same rule as scanRowIdRange)
    val (materialized, positional) = live.partition(_.stats.contains(RowId))
    val posCand = positional.filter(s =>
      s.baseRowId.exists(b => b <= mx && b + s.rowCount - 1 >= mn))
    val matCand = materialized.filter(_.stats.get(RowId).exists {
      case ColStats(Some(StatVal.L(a)), Some(StatVal.L(b)), _) => a <= mx && b >= mn
      case _ => true // stat shape unknown -> sound
    })
    val candidates = posCand ++ matCand
    if (candidates.isEmpty) return (Nil, None)

    // positional arm: pure arithmetic, zero data reads
    def canon(s: graft.meta.SegmentMeta): String =
      PathNorm.canonical(PathNorm.resolve(table.root, s.path))
    val posBase: Option[DataFrame] =
      if (posCand.isEmpty) None
      else {
        import spark.implicits._
        val intervals = posCand.map(s =>
          (canon(s), s.baseRowId.get, s.baseRowId.get + s.rowCount - 1))
          .toDF("__f", "__lo", "__hi")
        Some(del.join(broadcast(intervals),
            col(RowId) >= col("__lo") && col(RowId) <= col("__hi"))
          .select(col("__f"), (col(RowId) - col("__lo")).as("__i"),
            lit(true).as("__m"), lit(null).cast("long").as("__t")))
      }

    // materialized arm: id-column-pruned scan of only those files
    val matBase: Option[DataFrame] =
      if (matCand.isEmpty) None
      else Some(table.segmentScanWithRowIds(spark, matCand)
        .select(col("_metadata.file_path").as("__f"),
          col("_metadata.row_index").as("__i"), col(RowId))
        .join(del, Seq(RowId), "left_semi")
        .select(col("__f"), col("__i"),
          lit(true).as("__m"), lit(null).cast("long").as("__t")))

    // already-deleted positions are excluded (replayed sets stay no-ops)
    val base = (posBase.toSeq ++ matBase.toSeq).reduce(_ unionByName _)
    (candidates, Some(DeletionVectors.predicate(table.root, candidates,
      col("__f"), col("__i")).map(base.where).getOrElse(base)))
  }

  /** UPSERT by row id — apply full revised row images by identity, the
    * CDC-apply primitive (consume `update_post`/`insert` records, or any
    * revision pipeline keyed by `_row_id`, and write them back without a
    * key predicate). `rows` = the table's logical columns plus `_row_id`:
    * a NON-NULL id revises that row IN PLACE (the old position is masked
    * via the same zero-read arithmetic as [[deleteByRowIds]]; the new
    * image lands with the SAME materialized id, so identity survives the
    * upsert), a NULL id inserts a fresh row (id minted by the commit).
    * An id with no live row resurrects it — last-writer-wins, the right
    * semantics for applying a feed against concurrent deletes. ONE atomic
    * commit carries masks + images (+ the CDF record when the feed is
    * on); cost ∝ the update set + one id-pruned scan of rewritten
    * candidates. Clustered tables only, like the delete. */
  def upsertByRowIds(spark: SparkSession, table: TsTable, rows: DataFrame,
                     targetFileSize: Long = 512L * 1024 * 1024): MergeInto.Report = {
    table.refresh()
    require(table.rowTrackingEnabled, "upsertByRowIds needs row tracking enabled")
    require(table.timeSpec.isEmpty,
      "upsertByRowIds supports clustered tables (same rule as deleteByRowIds)")
    val RowId = RowTracking.RowIdCol
    val schema = table.meta.schema.getOrElse(
      throw new IllegalStateException("table has no schema yet"))
    require(rows.columns.contains(RowId), s"upsertByRowIds needs a $RowId column")
    val missing = schema.fieldNames.filterNot(rows.columns.contains)
    require(missing.isEmpty, s"upsert rows lack table columns: ${missing.mkString(", ")}")

    val live = table.state.liveSegments
    val curve = table.clusterSpec.map(_.curve).getOrElse("none")
    // pin to the table schema; one image per non-null id (latest-free
    // dedup like MERGE), every null-id row inserts
    val pinnedAll = rows.select(
      schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq
        :+ col(RowId).cast("long").as(RowId): _*)
    val pinned = pinnedAll.where(col(RowId).isNotNull).dropDuplicates(RowId)
      .unionByName(pinnedAll.where(col(RowId).isNull))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cnt = pinned.count()
      if (cnt == 0)
        return MergeInto.Report(0, 0, 0, 0, live.map(_.liveRowCount).sum, table.version)
      val del = pinned.where(col(RowId).isNotNull).select(col(RowId))
      val (candidates, filteredOpt) =
        if (live.isEmpty) (Nil, None) else idMatchBase(spark, table, del, live)
      table.scoped { scope =>
        val plan = filteredOpt.flatMap(f => DeleteWhere.morCompute(spark, table, scope, candidates, f))
        // images land as new clustered segments: revised rows KEEP their
        // materialized id; inserts (NULL) mint from the commit's base
        val images = pinned.withColumn(
          RowTracking.RowCommitCol, lit(null).cast("long"))
        val outFiles = math.max(1, math.min(spark.sparkContext.defaultParallelism,
          math.ceil((cnt * 4096L).toDouble / targetFileSize).toInt * 4))
        val newSegs = scope.stageSegments(
          RangeBuckets.cluster(images, Seq(pinned), cnt, curve, outFiles, ClusterKey.fitFor(table)))
        val cdc =
          if (!table.cdfEnabled) Nil
          else {
            val pre =
              if (candidates.isEmpty) None
              else Some({
                val raw = table.toLogical(DeleteWhere.cdcScanOf(spark, table, candidates))
                DeletionVectors.liveRowFilter(table.root, candidates)
                  .map(raw.where).getOrElse(raw)
                  .join(del, Seq(RowId), "left_semi")
                  .withColumn("_change_type", lit("update_pre"))
              })
            val post = pinned.where(col(RowId).isNotNull)
              .withColumn("_change_type", lit("update_post"))
            val ins = pinned.where(col(RowId).isNull)
              .withColumn("_change_type", lit("insert"))
            scope.stageCdc(pre.fold(post.unionByName(ins))(
              _.unionByName(post).unionByName(ins)))
          }
        scope.commit()(_ => plan.fold(Change())(_.change).copy(adds = newSegs, actions = cdc))

        val matched = plan.map(_.rowsMatched).getOrElse(0L)
        MergeInto.Report(candidates.size, newSegs.size, matched, cnt - matched,
          live.map(_.liveRowCount).sum - matched, table.version)
      }
    } finally pinned.unpersist(false)
  }
}
