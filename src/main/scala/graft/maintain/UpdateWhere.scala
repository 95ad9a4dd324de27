package graft.maintain

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.meta.SegmentMeta
import graft.table.{Change, DeletionVectors, TsTable}

/** UPDATE WHERE — copy-on-write predicate update, the in-place revision
  * operator (re-score a quality column, re-tag a source, patch token
  * arrays after a tokenizer fix). Not in the reference (its log is
  * append-only); north-rule addition alongside DELETE/MERGE/compaction.
  *
  * Plan shape at scale (mirrors [[DeleteWhere.delete]]):
  *  1. Candidate files via the same 3-valued stats evaluation the scan
  *     uses — a file whose stats prove AlwaysFalse for the predicate holds
  *     no matching row and is never read or rewritten.
  *  2. One column-pruned pass counts matches per candidate over LIVE rows
  *     (deletion vectors respected); candidates with zero matches keep
  *     their bytes and segment ids.
  *  3. Grazed files are rewritten whole — matched rows take the SET
  *     expressions (evaluated against the row's OLD values, standard SQL
  *     UPDATE semantics; assignments are simultaneous), unmatched rows
  *     pass through byte-identical — and swap in ONE atomic commit
  *     (snapshot isolation, OCC rebase). A rewrite also materializes any
  *     deletion vector away, like compaction.
  *  4. SET values are cast to the column's existing type, so the table
  *     schema is invariant under UPDATE; time-series tables recompute
  *     coverage in the same commit (the SET may touch the ts column).
  *
  * SQL UPDATE semantics: rows where the predicate is NULL are NOT updated.
  */
object UpdateWhere {

  final case class Report(candidates: Int, filesKept: Int, filesOut: Int,
                          rowsUpdated: Long, version: Long)

  def update(spark: SparkSession, table: TsTable, condition: Column,
             set: Map[String, Column]): Report = {
    require(set.nonEmpty, "UPDATE WHERE needs at least one SET assignment")
    table.refresh()
    val live = table.state.liveSegments
    val (_, candidates, untouched) = DeleteWhere.resolveAndPrune(spark, table, condition)
    if (candidates.isEmpty)
      return Report(0, live.size, 0, 0L, table.version)

    val schema = table.scan(spark).schema
    val unknown = set.keySet.filterNot(schema.fieldNames.contains)
    require(unknown.isEmpty, s"UPDATE WHERE SET targets unknown columns: $unknown")

    val matchesCond = coalesce(condition, lit(false)) // NULL predicate -> untouched

    def liveRows(df: DataFrame, segs: Seq[SegmentMeta]): DataFrame =
      DeletionVectors.liveRowFilter(table.root, segs).map(df.where).getOrElse(df)

    // per-file match counts over live rows (shared with DELETE, incl. the
    // exotic-path fallback): zero-match candidates are never rewritten; a
    // fully-no-op UPDATE returns without committing
    val (matchedPerFile, hit, clean) =
      DeleteWhere.matchCounts(spark, table, candidates, matchesCond)
    val rowsUpdated = matchedPerFile.values.sum
    if (rowsUpdated == 0L)
      return Report(candidates.size, live.size, 0, 0L, table.version)

    // simultaneous assignment against OLD values: every SET expression is
    // planned over the original row (a SET that references an updated
    // column sees its pre-update value), and the cast pins the column's
    // declared type so the rewrite cannot drift the table schema
    val projected = schema.fields.map { f =>
      set.get(f.name) match {
        case Some(v) => when(matchesCond, v.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
        case None => col(f.name)
      }
    }

    // row tracking: every rewritten row keeps its id; rows the SET touched
    // get a NULL materialized `_row_commit`, which the read side resolves
    // to the new file's rowVersion — i.e. THIS commit — while untouched
    // passthrough rows freeze their old value
    val trackCols: Seq[Column] =
      if (table.rowTrackingEnabled) Seq(
        col(graft.table.RowTracking.RowIdCol),
        when(matchesCond, lit(null).cast("long"))
          .otherwise(col(graft.table.RowTracking.RowCommitCol))
          .as(graft.table.RowTracking.RowCommitCol))
      else Nil
    def hitScan = if (table.rowTrackingEnabled) table.segmentScanWithRowIds(spark, hit)
                  else table.segmentScan(spark, hit)

    val (newSegs, committedV) = table.scoped { scope =>
      // change feed: pre/post images of the matched rows, one extra
      // matched-rows read (paid only when the feed is on), same commit;
      // row tracking: both images carry the row's `_row_id`
      val cdc =
        if (table.cdfEnabled)
          scope.stageCdc(changeImages(table, spark, schema, set,
            liveRows(table.toLogical(DeleteWhere.cdcScanOf(spark, table, hit)), hit)
              .where(matchesCond)))
        else Nil
      val segs = scope.stageSegments(liveRows(table.toLogical(hitScan), hit)
        .select(projected.toIndexedSeq ++ trackCols: _*))
      (segs, scope.commit()(_ => Change(removes = hit, adds = segs, actions = cdc)))
    }

    Report(candidates.size, untouched.size + clean.size, newSegs.size,
      rowsUpdated, committedV)
  }

  /** UPDATE's change-feed record: each matched row exploded into its pre
    * image and its post image (SET applied unconditionally — rows arrive
    * already matched), [[ChangeFeed]]'s update_pre/update_post vocabulary.
    * When `matched` carries `_row_id` (row tracking), both images keep it —
    * the pre/post pair links by id, so feed consumers apply updates
    * join-free. */
  private def changeImages(table: TsTable, spark: SparkSession,
                           schema: org.apache.spark.sql.types.StructType,
                           set: Map[String, org.apache.spark.sql.Column],
                           matched: DataFrame): DataFrame = {
    val names = schema.fieldNames.toSeq
    val idCols: Seq[org.apache.spark.sql.Column] =
      if (matched.columns.contains(graft.table.RowTracking.RowIdCol))
        Seq(col(graft.table.RowTracking.RowIdCol))
      else Nil
    val idNames = idCols.map(_ => graft.table.RowTracking.RowIdCol)
    val pre = struct((names.map(col) ++ idCols
      :+ lit("update_pre").as("_change_type")): _*)
    val post = struct((schema.fields.toSeq.map { f =>
      set.get(f.name).map(_.cast(f.dataType).as(f.name)).getOrElse(col(f.name))
    } ++ idCols :+ lit("update_post").as("_change_type")): _*)
    matched.select(explode(array(pre, post)).as("__c"))
      .select((names ++ idNames :+ "_change_type").map(c => col(s"__c.`$c`").as(c)): _*)
  }

  /** Merge-on-read UPDATE: the matched rows are masked with
    * deletion-vector sidecars and their UPDATED images are appended as
    * new clustered segments — one atomic commit, exactly the
    * [[MergeInto.mergeMor]] shape. Cost is proportional to the MATCHED
    * rows (one candidate scan + the rewrite of only those rows), not the
    * grazed files' bytes; the read side pays the DV conjunct on grazed
    * files until compaction materializes it away. Same SQL semantics as
    * [[update]]: NULL predicate keeps the row untouched, SET expressions
    * evaluate over OLD values, casts pin the table schema. */
  def updateMor(spark: SparkSession, table: TsTable, condition: Column,
                set: Map[String, Column]): Report = {
    require(set.nonEmpty, "UPDATE WHERE needs at least one SET assignment")
    table.refresh()
    val live = table.state.liveSegments
    val (_, candidates, untouched) = DeleteWhere.resolveAndPrune(spark, table, condition)
    if (candidates.isEmpty)
      return Report(0, live.size, 0, 0L, table.version)

    val schema = table.scan(spark).schema
    val unknown = set.keySet.filterNot(schema.fieldNames.contains)
    require(unknown.isEmpty, s"UPDATE WHERE SET targets unknown columns: $unknown")
    val matchesCond = coalesce(condition, lit(false))

    // pass 1 (column-pruned: predicate inputs + position): per-file
    // matched-position bitmaps + survivor coverage
    val base = DeleteWhere.morBase(spark, table, candidates)(raw =>
      raw.select(
        col("_metadata.file_path").as("__f"),
        col("_metadata.row_index").as("__i"),
        matchesCond.as("__m"),
        DeleteWhere.timeMicrosExpr(table).as("__t")))
    val projected = schema.fields.map { f =>
      set.get(f.name) match {
        case Some(v) => v.cast(f.dataType).as(f.name)
        case None => col(f.name)
      }
    }
    table.scoped { scope =>
      DeleteWhere.morCompute(spark, table, scope, candidates, base) match {
        case None => Report(candidates.size, live.size, 0, 0L, table.version)
        case Some(plan) =>
          // pass 2 (full rows, matched only): the updated images, appended
          // as new clustered segments — the only data write, sized by the
          // matched rows (manifest bytes/row estimate; never below core
          // count so the sort keeps the cluster busy — see MergeInto's
          // outFiles rationale)
          val candBytes = candidates.flatMap(_.fileSize).sum
          val candRows = math.max(1L, candidates.map(_.liveRowCount).sum)
          val bytesPerRow = if (candBytes > 0) candBytes.toDouble / candRows else 4096.0
          val targetFileSize = 512L * 1024 * 1024
          val outFiles = math.max(
            math.max(1, math.ceil(plan.rowsMatched * bytesPerRow / targetFileSize).toInt),
            math.min(spark.sparkContext.defaultParallelism,
              math.max(1, (plan.rowsMatched / 10000L).toInt)))
          val curve = table.clusterSpec.map(_.curve).getOrElse("none")
          // row tracking: a MOR update's re-appended images KEEP their row
          // ids (materialized from the masked source rows) and carry a NULL
          // `_row_commit` — the new segment's rowVersion (this commit)
          // becomes their last-modified version at read time
          val candScan =
            if (table.rowTrackingEnabled) table.segmentScanWithRowIds(spark, candidates)
            else table.segmentScan(spark, candidates)
          val trackCols: Seq[Column] =
            if (table.rowTrackingEnabled) Seq(
              col(graft.table.RowTracking.RowIdCol),
              lit(null).cast("long").as(graft.table.RowTracking.RowCommitCol))
            else Nil
          val raw = table.toLogical(candScan)
          val matchedRaw = DeletionVectors.liveRowFilter(table.root, candidates)
            .map(raw.where).getOrElse(raw)
            .where(matchesCond)
          val matchedRows = matchedRaw.select(projected.toIndexedSeq ++ trackCols: _*)
          val newSegs = scope.stageSegments(RangeBuckets.cluster(matchedRows, Seq(matchedRows),
            plan.rowsMatched, curve, outFiles, ClusterKey.fitFor(table)))
          // change feed: pre/post images of the matched rows, same commit
          val cdc =
            if (table.cdfEnabled) scope.stageCdc(changeImages(table, spark, schema, set, matchedRaw))
            else Nil
          scope.commit()(_ => plan.change.copy(adds = newSegs, actions = cdc))
          Report(candidates.size,
            untouched.size + candidates.size - plan.upserts.size - plan.removes.size,
            newSegs.size, plan.rowsMatched, table.version)
      }
    }
  }
}
