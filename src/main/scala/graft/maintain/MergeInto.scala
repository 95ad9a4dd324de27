package graft.maintain

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.meta.{SegmentMeta, StatVal}
import graft.table.{Change, KeyBloom, TsTable}

/** Catalyst-planned MERGE INTO (upsert) for revised sequences — new vs the
  * reference (north rule): copy-on-write over only the files whose key
  * range can contain an update key.
  *
  * Plan shape (all declarative Dataset ops; Catalyst picks broadcast vs
  * shuffle join, AQE handles skew):
  *  1. FILE PRUNING: candidate files = live segments whose [min,max] stats
  *     on the key column intersect the update keyset. Evaluated by joining
  *     the (tiny, broadcast) file-range list against the distinct update
  *     keys — one metadata-sized job; at 10^12 rows this is what keeps
  *     MERGE from rewriting the table.
  *  2. REWRITE: rows from candidate files left-anti-joined against update
  *     keys (survivors), unioned with matched updates and brand-new keys,
  *     re-clustered with the table's curve, written as new files.
  *  3. COMMIT: Remove(candidates) + Add(new) in one atomic commit
  *     (snapshot isolation for concurrent readers).
  *
  * Untouched files are never read or rewritten, so their token arrays are
  * byte-identical trivially; rewritten survivors pass through a single
  * parquet read/write with pinned schema (no coercion).
  */
object MergeInto {

  final case class Report(candidates: Int, filesOut: Int, updated: Long, inserted: Long,
                          survivors: Long, version: Long)

  /** Max distinct update keys probed against parquet footer BLOOMS on the
    * driver pool. This is a path-selection threshold, not a pruning cap:
    * above it, refinement switches to the exact key-column semi-join
    * (below), which never collects keys to the driver.
    *
    * Why switch so early — the bloom math: segment blooms are
    * adaptive-sized at ~1 % FPP, so a file containing NONE of the K update
    * keys escapes candidacy only if ALL K probes miss: 0.99^K ≈ 0.36 at
    * K=100, 0.077 at K=256, ~0 beyond. Footer blooms prune point-lookups
    * and small batches brilliantly and large batches not at all — no bloom
    * sized for 1 % FPP can testify about 10^5 keys. The old implementation
    * capped K at 200 000 (collect-cost bound) and above that SKIPPED
    * refinement entirely; between ~10^3 and the cap it burned footer IO on
    * probes that pruned nothing. The exact pass keeps pruning working at
    * any K. */
  val BloomKeyCap: Long = 256L

  /** Exact distributed candidate refinement for update sets too large for
    * footer blooms: semi-join the candidates' key column (single-column
    * projected scan, input_file_name-tagged) against the update keys and
    * return the segment ids of files that actually contain ≥ 1 key.
    * Update keys never collect to the driver; the only collect is the
    * distinct hit FILE list, bounded by the candidate count. Sound by
    * construction (zero false negatives — a file omitted here provably
    * holds no update key) and, unlike blooms, zero false positives at any
    * key-set size. */
  private[graft] def refineCandidatesExact(spark: SparkSession, updKeys: DataFrame,
      key: String, files: Seq[(String, String)],
      physKey: Option[String] = None): Set[String] = {
    val byPath = files.map { case (p, id) => graft.meta.PathNorm.canonical(p) -> id }.toMap
    spark.read.parquet(files.map(_._1): _*)
      .select(col(physKey.getOrElse(key)).as(key), input_file_name().as("__file"))
      .join(updKeys, Seq(key), "left_semi")
      .select("__file").distinct().collect()
      .iterator.flatMap(r => byPath.get(graft.meta.PathNorm.canonical(r.getString(0))))
      .toSet
  }

  /** MERGE's change-feed record: update_pre = the candidates' live rows
    * whose key is in the update set (the rows the merge replaces),
    * update_post / insert = the update rows split by whether their key
    * exists in the candidates. Classification is two semi-joins and one
    * anti-join against the candidates' key column — Catalyst sizes
    * broadcast vs shuffle; cost is an extra candidate read, paid only when
    * the feed is on. */
  private def mergeCdc(spark: SparkSession, table: TsTable,
                       candidates: Seq[SegmentMeta], upd: DataFrame,
                       key: String): DataFrame = {
    val RowId = graft.table.RowTracking.RowIdCol
    val tracked = table.rowTrackingEnabled
    // tracked inserts carry NULL _row_id: their ids are minted by the
    // commit itself (the feed's synthesized-append path computes real ids
    // because it reads AFTER the commit; a writer-staged record cannot)
    def nullId(df: DataFrame): DataFrame =
      if (tracked) df.withColumn(RowId, lit(null).cast("long")) else df
    if (candidates.isEmpty)
      return nullId(upd).withColumn("_change_type", lit("insert"))
    val raw = table.toLogical(
      if (tracked) table.segmentScanWithRowIds(spark, candidates)
        .drop(graft.table.RowTracking.RowCommitCol)
      else table.segmentScan(spark, candidates))
    val candLive = graft.table.DeletionVectors.liveRowFilter(table.root, candidates)
      .map(raw.where).getOrElse(raw)
    val candKeys = candLive.select(col(key))
    val pre = candLive.join(upd.select(col(key)), Seq(key), "left_semi")
      .withColumn("_change_type", lit("update_pre"))
    // update_post keeps the matched row's id (min over duplicated keys,
    // matching the rewrite's id-preservation rule) — pre/post link by id
    val post0 = upd.join(candKeys, Seq(key), "left_semi")
    val post = (if (tracked)
        post0.join(candLive.groupBy(col(key)).agg(min(col(RowId)).as(RowId)),
          Seq(key), "left")
      else post0).withColumn("_change_type", lit("update_post"))
    val ins = nullId(upd.join(candKeys, Seq(key), "left_anti"))
      .withColumn("_change_type", lit("insert"))
    pre.unionByName(post).unionByName(ins)
  }

  /** `txn` = (appId, batchId) streaming-upsert watermark: lands as a
    * SetTxn action in the SAME commit as the merge, and a replayed batch
    * (same app, batchId ≤ watermark) is skipped inside the OCC loop — the
    * exactly-once discipline of [[graft.streaming.StreamingIngest]],
    * applied to upserts (see [[graft.streaming.StreamingUpsert]]). */
  def merge(spark: SparkSession, table: TsTable, updates: DataFrame,
            key: String = "doc_id", targetFileSize: Long = 512L * 1024 * 1024,
            txn: Option[(String, Long)] = None): Report = {
    table.refresh()
    // cheap pre-skip for an already-applied batch (the authoritative
    // check re-runs inside the commit loop — no crash window)
    txn.foreach { case (app, batch) =>
      if (table.state.txns.get(app).exists(_ >= batch))
        return Report(0, 0, 0, 0, 0, table.version)
    }
    val live = table.state.liveSegments
    val curve = table.clusterSpec.map(_.curve).getOrElse("none")

    // updates must be key-unique or the union would duplicate rows
    val upd = updates.dropDuplicates(key)
    val updCount = upd.count() // the only job over the (small) update set

    // --- 2. rewrite -------------------------------------------------------
    if (updCount == 0) {
      // an EMPTY streamed batch still advances the watermark, so its
      // replay after recovery is recognized as already-applied. Checked
      // BEFORE candidate selection: zero keys can match nothing, and
      // stat-less segments (always candidates, soundly) must not be
      // rewritten by a heartbeat batch
      return Report(0, 0, 0, 0, 0, table.commit(txn = txn)(_ => Change()))
    }

    val candidates = selectCandidates(spark, table, upd, updCount, key, live)

    val candBytes = candidates.flatMap(_.fileSize).sum

    // size the output by estimated bytes/row of the inputs (4 KiB default);
    // row counts come from the manifest, never from extra data passes
    val targetRows = candidates.map(_.liveRowCount).sum // DV'd rows never reach the rewrite
    val bytesPerRow =
      if (candidates.nonEmpty) candBytes.toDouble / math.max(targetRows, 1L)
      else 4096.0
    val outFilesEst = math.max(1, math.ceil((targetRows + updCount) * bytesPerRow / targetFileSize).toInt)
    // Sort parallelism is decoupled from the output-file estimate: a 2-file
    // rewrite must not become a 2-task global sort (it was the dominant
    // term of the round-1 bench). Small merges emit up to cores-many files
    // that the next compaction bin-packs; at 10^12-row scale outFilesEst ≫
    // cores so targetFileSize governs, exactly as in compaction.
    val outFiles = math.max(outFilesEst, spark.sparkContext.defaultParallelism)
    // clustered through the router: boundaries come from an explicit
    // NARROW sample (cluster-key columns only) of the candidates' scan
    // together with the update set, so the merged plan — read→anti-
    // join→union — executes ONCE and nothing is cached, and insert-heavy
    // merges whose new keys lie past every candidate's range spread over
    // the buckets instead of piling into the last one
    val (added, mergedV, landed) = Compaction.withSizedReadSplits(spark, candBytes, candidates.size) { scoped =>
      // the candidate read is created on the scoped session: split sizing
      // binds to the relation's session, so the tuned maxPartitionBytes
      // applies here and ONLY here (upd keeps the caller's session/conf)
      val tracked = table.rowTrackingEnabled
      val merged =
        if (candidates.isEmpty) upd // fresh keys: commit-time bases mint their ids
        else {
          // merge-on-read deletes: candidates are read live-rows-only, so
          // the rewrite materializes any DV away (outputs carry none) and
          // deleted rows can never resurrect through a MERGE
          val raw = table.toLogical(
            if (tracked) table.segmentScanWithRowIds(scoped, candidates)
            else table.segmentScan(scoped, candidates))
          val liveRows = graft.table.DeletionVectors.liveRowFilter(table.root, candidates)
            .map(raw.where).getOrElse(raw)
          val survivors = liveRows.join(upd.select(col(key)), Seq(key), "left_anti")
          if (!tracked) survivors.unionByName(upd)
          else {
            // row tracking: a matched update KEEPS the old row's id (min id
            // when the key was duplicated — all its rows collapse into the
            // one update row); an unmatched insert carries NULL and mints a
            // fresh id from the new file's commit-assigned base. Both are
            // MODIFIED by this commit: `_row_commit` = NULL resolves to the
            // new segment's rowVersion at read time.
            val oldIds = liveRows.groupBy(col(key))
              .agg(min(col(graft.table.RowTracking.RowIdCol))
                .as(graft.table.RowTracking.RowIdCol))
            survivors.unionByName(
              upd.join(oldIds, Seq(key), "left")
                .withColumn(graft.table.RowTracking.RowCommitCol, lit(null).cast("long")))
          }
        }
      val keys = (if (candidates.isEmpty) Nil
        else Seq(table.toLogical(table.segmentScan(scoped, candidates)))) :+ upd
      val clustered = RangeBuckets.cluster(merged, keys, targetRows + updCount, curve, outFiles,
        ClusterKey.fitFor(table))
      table.scoped { scope =>
        val cdc =
          if (table.cdfEnabled) scope.stageCdc(mergeCdc(scoped, table, candidates, upd, key))
          else Nil
        val segs = scope.stageSegments(clustered)
        val v = scope.commit(txn = txn)(_ => Change(removes = candidates, adds = segs, actions = cdc))
        (segs, v, scope.landed)
      }
    }
    // replayed streaming batch: nothing landed (the scope deleted its
    // staged files); report the batch as applied at the watermark's version
    if (!landed) return Report(0, 0, 0, 0, 0, mergedV)

    // report math from metadata only: out = survivors + updCount
    val outRows = added.map(_.rowCount).sum
    val survivors = outRows - updCount
    val updated = targetRows - survivors
    val inserted = updCount - updated
    Report(candidates.size, added.size, updated, inserted, survivors, mergedV)
  }

  /** Merge-on-read MERGE (upsert): identical semantics to [[merge]] —
    * matched keys take the update row, unmatched update keys insert,
    * untouched rows survive — but the matched OLD rows are masked with
    * deletion-vector sidecars instead of rewriting their files, and the
    * update set lands as NEW clustered segments. ONE atomic commit carries
    * the DV upserts, the fully-matched removals, and the added segments,
    * so no reader can observe the delete without the replacement.
    *
    * Cost shape at 10^12 rows: COW merge pays the BYTES of every
    * candidate file (curve interleaving makes a uniform 1 % update touch
    * nearly every file — the rewrite approaches a full-table compaction);
    * MOR merge pays one column-pruned scan of the candidates (key +
    * position), KB-scale bitmap sidecars, and a write proportional to the
    * UPDATE SET. The read side pays the DV conjunct on grazed files until
    * compaction materializes it away — the same deliberate write/read
    * trade as [[DeleteWhere.deleteMor]]. */
  def mergeMor(spark: SparkSession, table: TsTable, updates: DataFrame,
               key: String = "doc_id",
               targetFileSize: Long = 512L * 1024 * 1024,
               txn: Option[(String, Long)] = None): Report = {
    table.refresh()
    // cheap pre-skip for an already-applied streamed batch (authoritative
    // check re-runs inside the commit loop — see [[merge]])
    txn.foreach { case (app, batch) =>
      if (table.state.txns.get(app).exists(_ >= batch))
        return Report(0, 0, 0, 0, table.state.liveSegments.map(_.liveRowCount).sum, table.version)
    }
    val live = table.state.liveSegments
    val curve = table.clusterSpec.map(_.curve).getOrElse("none")
    // the update set is consumed five times (count, candidate refinement,
    // match join, bounds sample, clustered write) — pin it once, whatever
    // upstream it came from
    val upd = updates.dropDuplicates(key)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    val updCount = upd.count()
    if (updCount == 0) {
      // an empty streamed batch still advances the watermark (see merge)
      return Report(0, 0, 0, 0, live.map(_.liveRowCount).sum,
        table.commit(txn = txn)(_ => Change()))
    }

    // pin the update set to the TABLE schema (order + types) BEFORE any
    // side effect: the COW path gets this via unionByName with the
    // candidate read, but here the updates land as segments directly —
    // an extra/missing column fails loudly, a compatible type is cast,
    // so the table schema is invariant under MERGE
    val pinned = table.state.tableMeta.flatMap(_.schema) match {
      case Some(sch) =>
        val missing = sch.fieldNames.filterNot(upd.columns.contains)
        require(missing.isEmpty, s"MERGE update set lacks table columns: ${missing.mkString(", ")}")
        val extra = upd.columns.filterNot(sch.fieldNames.contains)
        require(extra.isEmpty, s"MERGE update set has unknown columns: ${extra.mkString(", ")}")
        upd.select(sch.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
      case None => upd
    }

    val candidates = selectCandidates(spark, table, upd, updCount, key, live, refineExact = false)

    table.scoped { scope =>
    // matched-position pass (only when something can match)
    val plan: Option[DeleteWhere.MorPlan] =
      if (candidates.isEmpty) None
      else {
        val keysDf = upd.select(col(key))
        val base = DeleteWhere.morBase(spark, table, candidates) { raw =>
          raw.select(
              col("_metadata.file_path").as("__f"),
              col("_metadata.row_index").as("__i"),
              col(key),
              DeleteWhere.timeMicrosExpr(table).as("__t"))
            .join(keysDf.withColumn("__hit", lit(true)), Seq(key), "left")
            .select(col("__f"), col("__i"),
              coalesce(col("__hit"), lit(false)).as("__m"), col("__t"))
        }
        DeleteWhere.morCompute(spark, table, scope, candidates, base)
      }

    // the update set as new clustered segments; sized like a small
    // append (compaction bin-packs later) — never fewer files than
    // cores would leave the cluster idle, never so many that tiny
    // updates fragment
    val updBytesEst = updCount * 4096L
    val outFiles = math.max(1, math.min(spark.sparkContext.defaultParallelism,
      math.ceil(updBytesEst.toDouble / targetFileSize).toInt * 4))
    // row tracking: matched updates keep the masked row's id (one extra
    // key+id column-pruned pass over the candidates — the same cost
    // class as the matched-position pass); inserts carry NULL and mint
    // fresh ids from the new segments' commit-assigned base. `_row_commit`
    // NULL = this commit, via the new segments' rowVersion.
    val toWrite =
      if (!table.rowTrackingEnabled || candidates.isEmpty) pinned
      else {
        val raw = table.toLogical(table.segmentScanWithRowIds(spark, candidates))
        val liveRows = graft.table.DeletionVectors.liveRowFilter(table.root, candidates)
          .map(raw.where).getOrElse(raw)
        val oldIds = liveRows.groupBy(col(key))
          .agg(min(col(graft.table.RowTracking.RowIdCol))
            .as(graft.table.RowTracking.RowIdCol))
        pinned.join(oldIds, Seq(key), "left")
          .withColumn(graft.table.RowTracking.RowCommitCol, lit(null).cast("long"))
      }
    val newSegs = scope.stageSegments(
      RangeBuckets.cluster(toWrite, Seq(pinned), updCount, curve, outFiles, ClusterKey.fitFor(table)))
    val cdc =
      if (table.cdfEnabled) scope.stageCdc(mergeCdc(spark, table, candidates, pinned, key))
      else Nil
    // no plan = pure insert: no matched rows anywhere, just the adds
    val v = scope.commit(txn = txn)(_ =>
      plan.fold(Change())(_.change).copy(adds = newSegs, actions = cdc))
    // a replayed streaming batch lands nothing (the scope deleted this
    // attempt's segments and sidecars): report it as already-applied
    if (!scope.landed) Report(0, 0, 0, 0, live.map(_.liveRowCount).sum, v)
    else {
      val matched = plan.map(_.rowsMatched).getOrElse(0L)
      val survivors = live.map(_.liveRowCount).sum - matched
      Report(candidates.size, newSegs.size, matched, updCount - matched,
        survivors, table.version)
    }
    }
    } finally upd.unpersist(false)
  }

  /** `MERGE INTO … WHEN MATCHED THEN DELETE` — delete-by-key, the other
    * half of the upsert MERGE (GDPR/right-to-be-forgotten over doc ids).
    * Same candidate selection as [[merge]] (stats ranges → footer blooms /
    * exact semi-join), then MERGE-ON-READ: one column-pruned pass joins the
    * candidates' key column (plus parquet `_metadata` position) against the
    * key set and attaches deletion-vector sidecars — matched-row-
    * proportional cost, no file bytes move, exactly like
    * [[DeleteWhere.deleteMor]]. Keys never collect to the driver: the
    * match test is a broadcast/shuffle LEFT join Catalyst sizes itself. */
  def mergeDelete(spark: SparkSession, table: TsTable, keys: DataFrame,
                  key: String = "doc_id"): DeleteWhere.Report = {
    table.refresh()
    val live = table.state.liveSegments
    val totalLive = live.map(_.liveRowCount).sum
    val del = keys.select(col(key)).dropDuplicates(key)
    val delCount = del.count()
    if (delCount == 0 || live.isEmpty)
      return DeleteWhere.Report(0, live.size, 0, 0L, totalLive, table.version)

    val candidates = selectCandidates(spark, table, del, delCount, key, live, refineExact = false)
    if (candidates.isEmpty)
      return DeleteWhere.Report(0, live.size, 0, 0L, totalLive, table.version)

    val base = DeleteWhere.morBase(spark, table, candidates) { raw =>
      raw.select(
          col("_metadata.file_path").as("__f"),
          col("_metadata.row_index").as("__i"),
          col(key),
          DeleteWhere.timeMicrosExpr(table).as("__t"))
        // LEFT join + hit flag = "key IS IN the delete set", evaluated
        // distributed (broadcast when the key set is small, shuffle
        // otherwise); NULL keys never match, matching MERGE ON semantics
        .join(del.withColumn("__hit", lit(true)), Seq(key), "left")
        .select(col("__f"), col("__i"),
          coalesce(col("__hit"), lit(false)).as("__m"), col("__t"))
    }
    DeleteWhere.morAttach(spark, table, candidates,
      live.size - candidates.size, totalLive, base,
      changeRows = Some(() => {
        val raw = table.toLogical(DeleteWhere.cdcScanOf(spark, table, candidates))
        graft.table.DeletionVectors.liveRowFilter(table.root, candidates)
          .map(raw.where).getOrElse(raw)
          .join(del, Seq(key), "left_semi")
      }))
  }

  /** Shared candidate-file selection for [[merge]] and [[mergeDelete]]:
    * stats-range hits refined by footer blooms (small key sets) or an
    * exact distributed semi-join (large ones); stat-less files are always
    * candidates (sound).
    *
    * `refineExact = false` (the merge-on-read callers): above the bloom
    * cap, the COW rewrite saves full file-BYTES per pruned candidate, so
    * the exact key-column pre-pass always pays there — but the MOR paths'
    * next step ([[DeleteWhere.morBase]]) is itself a key-column-projected
    * scan of the candidates whose join produces no DV for unmatched files.
    * Running the exact pre-pass first would read the same narrow bytes
    * TWICE for at most the saving of morBase's tiny join output (round-6
    * measurement: merge_upsert_mor carries two back-to-back candidate
    * key scans). Footer blooms (≤ cap) stay on: they prune from metadata
    * alone, no scan. */
  private def selectCandidates(spark: SparkSession, table: TsTable, upd: DataFrame,
                               updCount: Long, key: String,
                               live: Seq[SegmentMeta],
                               refineExact: Boolean = true): Seq[SegmentMeta] = {
    // stats sidecars, footer blooms, and raw candidate files are keyed by
    // the frozen PHYSICAL column name; `key` is logical (identical unless
    // the merge key was renamed)
    val physKey = table.colMap.getOrElse(key, key)
    // --- 1a. stats-based candidate selection (per-file [min,max]) --------
    // Ranges are collected PER STAT TYPE: a table merged on a numeric key
    // carries StatVal.L/D stats, and matching only the string arm would
    // classify every live segment stat-less — zero pruning, so every
    // micro-batch of a streaming upsert on a numeric key would pay a
    // full-table rewrite/scan instead of batch-proportional cost.
    val sRanges = live.flatMap { seg => seg.stats.get(physKey) match {
      case Some(graft.meta.ColStats(Some(StatVal.S(mn)), Some(StatVal.S(mx)), _)) =>
        Some((seg.segmentId, mn, mx))
      case _ => None
    } }
    val lRanges = live.flatMap { seg => seg.stats.get(physKey) match {
      case Some(graft.meta.ColStats(Some(StatVal.L(mn)), Some(StatVal.L(mx)), _)) =>
        Some((seg.segmentId, mn, mx))
      case _ => None
    } }
    val dRanges = live.flatMap { seg => seg.stats.get(physKey) match {
      case Some(graft.meta.ColStats(Some(StatVal.D(mn)), Some(StatVal.D(mx)), _)) =>
        Some((seg.segmentId, mn, mx))
      case _ => None
    } }
    val withStats = (sRanges.iterator.map(_._1) ++ lRanges.iterator.map(_._1) ++
      dRanges.iterator.map(_._1)).toSet // O(live), not O(live²)
    val statless = live.filterNot(s => withStats(s.segmentId)).map(_.segmentId)

    import spark.implicits._
    val keysDf = upd.select(col(key)).distinct()
    // broadcast the file ranges (manifest-sized), shuffle only the keys
    def rangeHitIds(rangesDf: DataFrame): Set[String] = keysDf
      .join(broadcast(rangesDf),
        col(key) >= col("kmin") && col(key) <= col("kmax"), "inner")
      .select("segment_id").distinct().as[String].collect().toSet
    val hitIds =
      (if (sRanges.nonEmpty) rangeHitIds(sRanges.toDF("segment_id", "kmin", "kmax")) else Set.empty[String]) ++
      (if (lRanges.nonEmpty) rangeHitIds(lRanges.toDF("segment_id", "kmin", "kmax")) else Set.empty[String]) ++
      (if (dRanges.nonEmpty) rangeHitIds(dRanges.toDF("segment_id", "kmin", "kmax")) else Set.empty[String])

    // --- 1b. refinement: range stats are void after space-curve
    // clustering (interleaved keys make every file span the keyspace), so
    // range-hit candidates are re-tested for ACTUAL key presence:
    //  - small update sets (≤ BloomKeyCap): probe each candidate's parquet
    //    column bloom — footer metadata only, one driver-pool pass, no job;
    //  - large update sets: an exact DISTRIBUTED semi-join of the
    //    candidates' KEY COLUMN against the update keys, grouped to the
    //    distinct source files (input_file_name). Keys never collect to
    //    the driver (only hit file-ids do, bounded by the candidate
    //    count), there are no false positives at any K (unlike blooms at
    //    1 % FPP — see BloomKeyCap), and the cost is a single-column
    //    projected scan of the candidates: a few % of the bytes the
    //    rewrite would spend on each file the pass excludes. Parquet
    //    column pruning keeps the scan to the key column; Catalyst plans
    //    the semi-join shuffle/broadcast by size.
    val rangeHits = live.filter(s => hitIds.contains(s.segmentId))
    // (Round-6 note: an expected-yield guard to SKIP the exact pre-pass
    // when a uniform-key model predicts zero pruning was tried and
    // reverted — insert-heavy merges carry many ABSENT keys that inflate K
    // while being exactly what the pass prunes, so the model mis-fires on
    // the common workload. The pre-pass stays unconditional: one
    // key-column-projected scan, a few % of the bytes each pruned file
    // would cost the rewrite.)
    val bloomHits: Set[String] = table.bloomKeyColumn match {
      case Some(bloomCol) if bloomCol == physKey && rangeHits.nonEmpty && updCount > 0 =>
        val files = rangeHits.map(s => (graft.meta.PathNorm.resolve(table.root, s.path), s.segmentId))
        if (updCount <= BloomKeyCap) {
          val keys: Array[Any] = upd.select(col(key)).collect().map(_.get(0))
          KeyBloom.filterMayContain(spark.sparkContext.hadoopConfiguration,
            files, bloomCol, keys).toSet
        } else if (refineExact)
          refineCandidatesExact(spark, upd.select(col(key)), key, files, Some(physKey))
        else hitIds
      case _ => hitIds
    }

    val candidateIds = bloomHits ++ statless // stat-less files must be rewritten (sound)
    live.filter(s => candidateIds.contains(s.segmentId))
  }
}
