package graft.table

import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import graft.coverage.{Bitmap, BucketMath}
import graft.log._
import graft.meta._
import graft.scan.TsFileIndex

/** The table handle: transaction-log + replayed state + scan/append/
  * maintenance entry points. Spark-native rebuild of the reference's
  * `TimeSeriesTable` (crates/timeseries-table-core/src/table.rs:53-57).
  *
  * Metadata (log replay, coverage bitmaps, commit protocol) is driver-side
  * and O(files); every data-plane operation (stats, coverage construction,
  * rewrite, scan) is a distributed Spark job. Readers are snapshot-isolated:
  * `scan` captures CURRENT once and then touches only immutable files.
  *
  * Writers land through ONE commit scope ([[CommitScope]]): each verb
  * stages its files through the scope, describes its effect as a
  * [[Change]] (removes, DV upserts, adds, extra actions) and commits it,
  * with an optional streaming txn, through the single OCC primitive,
  * which applies every guard (txn replay, live-under-the-same-DV, CHECK
  * re-gate, coverage recompute) in one place. Whatever the scope staged
  * that the landed commit does not reference is deleted when the scope
  * closes.
  */
final class TsTable private (val root: String, val store: LogStore) {

  @volatile private var cachedState: TableState = TableState.rebuild(store)

  /** Serializes intra-process validate+commit critical sections — the
    * in-JVM half of the Delta-style "lock locally, OCC globally" commit
    * discipline ([[CommitScope.commit]]). */
  private[table] val commitLock = new Object

  def state: TableState = cachedState
  def version: Long = cachedState.version

  /** Run one writer verb inside a [[CommitScope]]: it stages through the
    * scope and lands through [[CommitScope.commit]]; on exit, every file
    * the scope wrote that its landed commit does not reference is deleted. */
  private[graft] def scoped[A](body: CommitScope => A): A = {
    val scope = new CommitScope(this)
    try body(scope) finally scope.close()
  }

  /** A commit that stages nothing (metadata, txn watermark, restore,
    * branch publish): [[CommitScope.commit]] in a scope of its own. */
  private[graft] def commit(maxRetries: Int = 3, txn: Option[(String, Long)] = None)
                           (change: TableState => Change): Long =
    scoped(_.commit(maxRetries, txn)(change))

  /** Advance the cached state to a just-committed snapshot. The monotonic
    * guard keeps a slow writer's post-commit assignment from regressing a
    * newer snapshot already visible to readers. */
  private[table] def advance(ns: TableState): Unit =
    if (ns.version > cachedState.version) cachedState = ns

  /** Reload state only if CURRENT advanced (reference table.rs:205-251). */
  def refresh(): Boolean = {
    val cur = store.currentVersion()
    if (cur != cachedState.version) { cachedState = TableState.rebuildAt(store, cur); true }
    else false
  }

  def meta: TableMeta = cachedState.tableMeta.getOrElse(
    throw CorruptLogException("table has no metadata"))

  def timeSpec: Option[TimeIndexSpec] = meta.kind match {
    case TableKind.TimeSeries(s) => Some(s)
    case _ => None
  }
  def clusterSpec: Option[ClusterSpec] = meta.kind match {
    case TableKind.Clustered(s) => Some(s)
    case _ => None
  }

  // ---------------------------------------------------------------- scan

  /** DataFrame over the current snapshot via our manifest-backed FileIndex:
    * file pruning from per-file stats + Spark's native vectorized Parquet
    * scan (reference R1, ts_table_provider.rs:240-295). */
  def scan(spark: SparkSession): DataFrame = scanState(spark, cachedState)

  /** Time travel: scan the table as of a pinned version. */
  def scanAt(spark: SparkSession, version: Long): DataFrame =
    scanState(spark, TableState.rebuildAt(store, version))

  /** Structured Streaming tail of this table: initial snapshot, then each
    * append commit as a micro-batch (graft.streaming.TableStreamSource —
    * the Spark-native form of the reference's sql_stream_reader.rs). */
  def readStream(spark: SparkSession, options: Map[String, String] = Map.empty): DataFrame =
    spark.readStream.format("graft-table").options(options).load(root)

  /** One row per commit (newest first): version, timestamp, action
    * counts, and a derived operation label — the audit/debug view of the
    * transaction log (DESCRIBE HISTORY analog). Driver-side metadata only:
    * commit JSONs are KBs; rows are materialized via createDataFrame. */
  def history(spark: SparkSession, limit: Int = Int.MaxValue): DataFrame = {
    import spark.implicits._
    val cur = store.currentVersion()
    val lo = math.max(1L, cur - limit + 1)
    // snapshot expiration drops commit files at or below its checkpoint;
    // history covers what the log still holds
    val rows = (lo to cur).reverseIterator
      .filter(v => Files.exists(store.commitPath(v)))
      .map { v =>
      val c = store.readCommit(v)
      val adds = c.actions.count(_.isInstanceOf[LogAction.AddSegment])
      val removes = c.actions.count(_.isInstanceOf[LogAction.RemoveSegment])
      // a DV attach re-adds the SAME segment ids it removes (upsert); a
      // compaction/merge swap always adds fresh ids
      val removedIds = c.actions.collect { case LogAction.RemoveSegment(id) => id }.toSet
      val dvUpsert = adds > 0 && removes > 0 && c.actions.forall {
        case LogAction.AddSegment(s) => removedIds.contains(s.segmentId)
        case _ => true
      }
      val meta = c.actions.exists(_.isInstanceOf[LogAction.UpdateTableMeta])
      val cov = c.actions.exists(_.isInstanceOf[LogAction.UpdateTableCoverage])
      val txn = c.actions.collectFirst { case LogAction.SetTxn(app, b) => s"$app#$b" }
      val rowsAdded = c.actions.collect { case LogAction.AddSegment(s) => s.rowCount }.sum
      val op =
        if (dvUpsert) "DELETE (DV)"                       // merge-on-read delete
        else if (adds > 0 && removes > 0) "REWRITE"       // compaction/merge/delete swap
        else if (removes > 0) "DELETE"                    // metadata-only removal
        else if (adds > 0 && txn.isDefined) "STREAMING APPEND"
        else if (adds > 0) "APPEND"
        else if (meta && v == 1L) "CREATE"
        else if (cov) "COVERAGE"
        else "METADATA"
      (v, new java.sql.Timestamp(c.timestampMillis), op, adds, removes, rowsAdded,
        meta, cov, txn.orNull)
    }.toSeq
    rows.toDF("version", "timestamp", "operation", "files_added", "files_removed",
      "rows_added", "meta_updated", "coverage_updated", "txn")
  }

  /** One row per live data file — the Iceberg `files` / Delta DESCRIBE
    * DETAIL metadata table, manifest-only (no filesystem or data IO, so
    * it costs the same on a 100 TB table as on a test fixture). Column
    * stats surface as `stats[col] -> (min, max, null_count)` in canonical
    * string form (exact for longs/strings/bools; Double.toString for
    * doubles), ready for SQL over the table's own layout: small-file
    * histograms, clustering drift, DV debt. */
  def files(spark: SparkSession): DataFrame = {
    import spark.implicits._
    def render(v: StatVal): String = v match {
      case StatVal.L(x) => x.toString
      case StatVal.D(x) => x.toString
      case StatVal.S(x) => x
      case StatVal.B(x) => x.toString
    }
    refresh()
    // stats sidecars are keyed by physical name; surface LOGICAL names
    // (identity for never-renamed tables)
    val inv = colMap.map(_.swap)
    cachedState.liveSegments.map { s =>
      (s.segmentId, s.path, s.format, s.rowCount, s.liveRowCount,
        s.fileSize.getOrElse(-1L), s.dvPath.orNull, s.dvCardinality,
        s.coveragePath.orNull,
        s.stats.map { case (c0, cs) =>
          val c = inv.getOrElse(c0, c0)
          c -> Map(
            "min" -> cs.min.map(render).orNull,
            "max" -> cs.max.map(render).orNull,
            "null_count" -> cs.nullCount.toString)
        })
    }.toDF("segment_id", "path", "format", "row_count", "live_rows",
      "size_bytes", "dv_path", "dv_cardinality", "coverage_path", "stats")
  }

  /** Named refs — tags and branches — as one DataFrame (Iceberg `refs`
    * metadata table): tags pin base == head; a branch spans its fork
    * point to its current head. Driver-side metadata only. */
  def refs(spark: SparkSession): DataFrame = {
    import spark.implicits._
    refresh()
    val tagRows = tags.toSeq.sortBy(_._1).map { case (n, v) => (n, "tag", v, v) }
    val brRows = branches.map { n =>
      val bl = BranchLog.open(store.tableRoot, n)
      (n, "branch", bl.base, bl.currentVersion())
    }
    (tagRows ++ brRows).toDF("name", "type", "base_version", "head_version")
  }

  private[graft] def scanState(spark: SparkSession, st: TableState): DataFrame = {
    val live = st.liveSegments
    val logSchema = st.tableMeta.flatMap(_.schema).getOrElse {
      if (live.isEmpty)
        return spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], new StructType())
      spark.read.parquet(abs(live.head)).schema
    }
    if (live.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], logSchema)
    // RENAME COLUMN mapping: the relation reads the files' frozen PHYSICAL
    // names; one alias projection on top restores the logical view. Filters
    // and column pruning push through the aliases (Catalyst substitutes
    // them), so TsFileIndex still prunes on physical stats keys and the
    // parquet scan still sees pushed filters. Identity (zero-cost) for
    // never-renamed tables.
    val cmap = st.tableMeta.map(_.colMap).getOrElse(Map.empty)
    val schema = st.tableMeta.map(_.physicalize(logSchema)).getOrElse(logSchema)
    // merge-on-read deletes: the snapshot splits into two relations so
    // only the DV'd files pay the per-row filter — the clean majority
    // scans exactly as a DV-free table (no _metadata columns, no lookup
    // call, full whole-stage codegen), and Catalyst pushes query filters
    // and column pruning through the union into both branches. A snapshot
    // without DVs plans the single-relation path, zero overhead.
    val (dvSegs, cleanSegs) = live.partition(_.dvPath.isDefined)
    val phys =
      if (dvSegs.isEmpty)
        spark.baseRelationToDataFrame(relationFor(spark, live, schema))
      else {
        val dvScan = spark.baseRelationToDataFrame(relationFor(spark, dvSegs, schema))
          .where(DeletionVectors.liveRowFilter(root, dvSegs).get)
        if (cleanSegs.isEmpty) dvScan
        else spark.baseRelationToDataFrame(relationFor(spark, cleanSegs, schema))
          .unionByName(dvScan)
      }
    if (cmap.isEmpty) phys
    else phys.select(logSchema.fieldNames.toIndexedSeq
      .map(n => col(cmap.getOrElse(n, n)).as(n)): _*)
  }

  /** The manifest-backed BaseRelation for a snapshot (None when empty) —
    * also the batch half of the "graft-table" data source, so
    * `spark.read.format("graft-table").load(root)` and SQL
    * `CREATE TEMPORARY VIEW t USING graft-table OPTIONS (path '…')` scan
    * through the same pruned FileIndex as `TsTable.scan`. */
  private[graft] def relationAt(spark: SparkSession, st: TableState): Option[HadoopFsRelation] = {
    // physical schema: a bare BaseRelation has no projection hook, so the
    // DSv1 provider REFUSES renamed tables (same contract gap as DVs) —
    // pinning physical here keeps the relation self-consistent regardless
    val schema = st.tableMeta.flatMap(_.physicalSchema).getOrElse {
      if (st.liveSegments.isEmpty) return None // schema not yet adopted
      else spark.read.parquet(st.liveSegments.map(abs).head).schema
    }
    Some(relationFor(spark, st.liveSegments, schema))
  }

  private def relationFor(spark: SparkSession, segs: Seq[SegmentMeta],
                          schema: StructType): HadoopFsRelation = {
    val index = new TsFileIndex(spark, new HPath(root), segs, schema)
    HadoopFsRelation(
      location = index,
      partitionSchema = new StructType(),
      dataSchema = schema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat(),
      options = Map.empty)(spark)
  }

  /** Native range scan (reference R16, table/scan.rs:311-354): half-open
    * [startMicros, endMicros) on the time column; file pruning via stats,
    * row filtering by Spark (null timestamps drop, matching the reference's
    * null⇒false mask, scan.rs:149-157). */
  def scanRange(spark: SparkSession, startMicros: Long, endMicros: Long): DataFrame = {
    if (startMicros >= endMicros) throw InvalidRangeException(startMicros, endMicros)
    val ts = timeSpec.getOrElse(throw new IllegalStateException("not a time-series table")).timestampColumn
    val df = scan(spark)
    // literal typed to the column (TIMESTAMP vs TIMESTAMP_NTZ) so the
    // comparison stays cast-free on the column side and the predicate
    // pushes down to the parquet row groups
    val isNtz = df.schema.fields.find(_.name == ts)
      .exists(_.dataType == org.apache.spark.sql.types.TimestampNTZType)
    def l(us: Long): Column =
      if (isNtz) lit(java.time.LocalDateTime.ofInstant(
        java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L),
        java.time.ZoneOffset.UTC))
      else lit(microsToTs(us))
    df.where(col(ts) >= l(startMicros) && col(ts) < l(endMicros))
  }

  private def microsToTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Manifest path → scannable path: root-relative for the table's own
    * files, passthrough for a shallow clone's absolute source references. */
  private def abs(seg: SegmentMeta): String = graft.meta.PathNorm.resolve(root, seg.path)

  /** Parquet write options for data segments: a column bloom filter on the
    * table's identity key (last cluster column — doc_id in the token
    * layout). Space-curve clustering interleaves the key bits, so per-file
    * [min,max] stops pruning MERGE candidates; the bloom answers "can key k
    * be in this file" from footer metadata alone (KeyBloom). Adaptive
    * sizing keeps the filter proportional to each file's actual NDV.
    *
    * Round-6 additions (guide §6):
    *  - zstd: interleaved warm A/B vs snappy on the token payload measured
    *    equal-or-faster encode at equal size in every window (and ~2×
    *    faster in disk-pressured windows — fewer dirty bytes to write
    *    back); better ratio on text/doc payloads generally.
    *  - 8 MB row groups: the parquet default (128 MB) gives a compacted
    *    64 MB file ONE row group, and Spark's scan can only assign a row
    *    group to the split holding its midpoint — a compacted table
    *    scanned with 6/32 cores (measured: full-scan 0.71 s → 0.33 s at
    *    bench scale, restoring parity with the pre-compaction layout).
    *    Scale-independent: intra-file parallelism at ANY cluster size
    *    (a 512 MB production file gets 64 independently scannable groups);
    *    cost measured +1 % file bytes. */
  private[graft] def segmentWriteOptions: Map[String, String] =
    Map(
      "compression" -> "zstd",
      "parquet.block.size" -> (8L * 1024 * 1024).toString) ++
    (clusterSpec.map(_.columns.last) match {
      case Some(key) => Map(
        s"parquet.bloom.filter.enabled#$key" -> "true",
        "parquet.bloom.filter.adaptive.enabled" -> "true")
      case None => Map.empty
    })

  /** The column KeyBloom pruning can test, when blooms are being written. */
  private[graft] def bloomKeyColumn: Option[String] = clusterSpec.map(_.columns.last)

  // -------------------------------------------------------------- append

  /** Append a DataFrame as one or more new immutable segments — the 9-step
    * pipeline of the reference (table/append.rs:92-350), Spark-first:
    * the data plane is ONE Spark write job whose per-file writers also
    * build each file's coverage bitmap ([[CoverageParquet]]); stats,
    * disk schema and entity identity come from the footers, and the
    * commit is driver file IO. OCC with rebase retry on version
    * conflicts. Returns the committed version.
    *
    * `txn = Some((appId, batchId))` makes the append idempotent per
    * application: the (appId, batchId) watermark commits atomically with
    * the AddSegments (LogAction.SetTxn), and an append whose batchId is ≤
    * the table's watermark for that appId is skipped — including on the
    * OCC rebase path, so a crashed-and-replayed streaming batch can never
    * double-land even if the first attempt's commit won a race. */
  def append(df: DataFrame, maxRetries: Int = 3,
             txn: Option[(String, Long)] = None): Long = {
    // cheap pre-check: skip the data write entirely when the batch is
    // already in the table (the authoritative check re-runs inside commit)
    txn.foreach { case (app, batch) =>
      refresh()
      if (cachedState.txns.get(app).exists(_ >= batch)) return cachedState.version
    }
    // toPhysical: appended data arrives under LOGICAL names; files are
    // written under the frozen physical names (identity unless renamed).
    // The rename is by-name, so a stale writer still using a PHYSICAL
    // (pre-rename) column name would pass through it unchanged and land —
    // gate the logical view by name FIRST (types/order enforce at commit)
    if (colMap.nonEmpty) {
      val logicalNames = cachedState.tableMeta.flatMap(_.schema)
        .map(_.fieldNames.toSet).getOrElse(Set.empty)
      val off = df.columns.filterNot(logicalNames.contains)
      if (off.nonEmpty)
        throw SchemaMismatchException(
          s"append columns ${off.mkString(", ")} are not in the table's logical schema " +
            s"(renamed columns must use their CURRENT names: ${colMap.keys.mkString(", ")})")
    }
    scoped { scope =>
      val staged = stageAppend(scope, df)
      scope.commit(maxRetries, txn)(st => appendChange(scope, st, staged))
    }
  }

  /** An append's data half: write the segments once (all commit retries
    * are metadata-only), footer stats, CHECK gate, the coverage bitmaps
    * the write built, and the disk schema + entity identity its commit
    * enforces. None for empty input — a successful NO-OP whose commit
    * still advances a streaming txn's watermark, so replays of the empty
    * batch stay idempotent (this is what lets the streaming sinks hand
    * every batch straight to append without a pre-flight isEmpty job). */
  private[graft] def stageAppend(scope: CommitScope, df: DataFrame): Option[TsTable.StagedAppend] = {
    val spark = df.sparkSession
    val files = scope.stageData(df)
    if (files.isEmpty) return None
    val segs = scope.segmentsOf(spark, files)
    val paths = segs.map(s => s"$root/${s.path}")
    // canonical on-disk schema (reference adopts from the Parquet footer,
    // append.rs:130-151): Spark embeds the exact StructType JSON in the
    // footer of every file it writes, and the footers were just read for
    // stats — no schema-inference job (the fallback read covers foreign
    // files without the key, and malformed JSON falls through to it too).
    // asNullable: file sources report every field nullable, so the
    // embedded writer schema must be normalized identically or the
    // adopt-then-enforce comparison would reject a second append whose
    // builder pipeline produced non-null columns (e.g. generator kernels)
    val diskSchema = files.head.stats.sparkSchemaJson
      .flatMap(j => scala.util.Try(org.apache.spark.sql.graft.Bridge.asNullable(
        org.apache.spark.sql.types.DataType.fromJson(j).asInstanceOf[StructType])).toOption)
      .getOrElse(spark.read.parquet(paths: _*).schema)
    val identity = timeSpec.flatMap(spec => extractEntityIdentity(spark, paths, spec, files.map(_.stats)))
    Some(TsTable.StagedAppend(segs, diskSchema, identity))
  }

  /** An append's commit over `st`: schema adopt-or-enforce, entity
    * identity pin-or-enforce, and for time-series tables the coverage
    * overlap check plus the new table-coverage snapshot. */
  private[graft] def appendChange(scope: CommitScope, st: TableState,
                                  staged: Option[TsTable.StagedAppend]): Change = {
    val a = staged.getOrElse(return Change())
    var m = st.tableMeta.getOrElse(meta)
    var metaChanged = false

    // schema adopt-or-enforce: dynamic-then-frozen, exact match
    // (reference append.rs:144-163, schema_compat.rs:96-150). The disk
    // schema is PHYSICAL (staged post-toPhysical); enforce against the
    // physicalized table schema so renamed columns compare apples-to-apples
    // (identity when colMap is empty — adoption always happens pre-rename)
    m.schema match {
      case None =>
        m = m.copy(schemaJson = Some(a.diskSchema.json)); metaChanged = true
      case Some(existing) =>
        if (m.physicalize(existing) != a.diskSchema)
          throw SchemaMismatchException(
            s"schema mismatch: table has ${existing.simpleString}, append has ${a.diskSchema.simpleString}")
    }

    // entity identity pin-or-enforce (reference append.rs:166-196)
    a.identity.foreach { identity =>
      m.entityIdentity match {
        case None =>
          m = m.copy(entityIdentity = Some(identity)); metaChanged = true
        case Some(pinned) =>
          if (pinned != identity)
            throw EntityIdentityException(s"entity identity mismatch: table pinned $pinned, append has $identity")
      }
    }

    // coverage overlap check + new table snapshot (reference append.rs:200-290)
    val coverageAction = timeSpec.map { spec =>
      // precondition: every existing segment must carry a coverage sidecar,
      // else the overlap check would be unsound (reference append.rs:50-61)
      val uncovered = st.liveSegments.filter(_.coveragePath.isEmpty)
      if (uncovered.nonEmpty)
        throw new IllegalStateException(
          s"cannot append: ${uncovered.size} existing segments lack coverage sidecars")
      val tableCov = loadTableCoverage(st, heal = false)
      val appendCov = scope.coverageOf(a.segs) // staged in this scope: from memory
      val overlap = appendCov.intersect(tableCov)
      if (!overlap.isEmpty)
        throw CoverageOverlapException(a.segs.head.path, overlap.cardinality, overlap.runList.head._1)
      scope.coverageAction(st, spec, tableCov.union(appendCov))
    }

    Change(adds = a.segs,
      actions = (if (metaChanged) Seq(LogAction.UpdateTableMeta(m)) else Nil) ++ coverageAction.toSeq)
  }

  /** Append an existing Parquet file by path (reference CLI `append
    * --parquet`, table/append.rs:370-455): validates the PAR1 magic
    * (transaction_log/segments.rs:98-137), copies the file under
    * `data/` when outside the table root refusing overwrite
    * (storage/table_location.rs:51-130), then runs the standard append
    * pipeline on its rows. */
  def appendParquetFile(spark: SparkSession, path: String): Long = {
    val src = Paths.get(stripScheme(path))
    val size = Files.size(src)
    if (size < 8L) throw SchemaMismatchException(s"'$path' too small to be parquet")
    val ch = java.nio.channels.FileChannel.open(src)
    val (head, tail) = try {
      val h = java.nio.ByteBuffer.allocate(4); ch.read(h, 0L)
      val t = java.nio.ByteBuffer.allocate(4); ch.read(t, size - 4)
      (new String(h.array(), "US-ASCII"), new String(t.array(), "US-ASCII"))
    } finally ch.close()
    if (head != "PAR1" || tail != "PAR1")
      throw SchemaMismatchException(s"'$path' is not a parquet file (bad magic)")
    // explicit logical-schema rejection for foreign files (INT96, exotic
    // decimals, nullable map keys) — BEFORE the copy, so a rejected file
    // never lands in data/
    LogicalSchema.validateFooterSchema(spark.sparkContext.hadoopConfiguration, src.toString)
    val inRoot = src.toAbsolutePath.startsWith(Paths.get(stripScheme(root)).toAbsolutePath)
    val local =
      if (inRoot) src
      else {
        val dst = Paths.get(stripScheme(root), "data", src.getFileName.toString)
        Files.createDirectories(dst.getParent)
        try Files.copy(src, dst)
        catch { case _: java.nio.file.FileAlreadyExistsException =>
          throw new IllegalStateException(s"refusing to overwrite existing ${dst.getFileName}") }
        dst
      }
    // no coalesce: Spark splits the file by row groups across
    // spark.sql.files.maxPartitionBytes, so a multi-GB foreign file is
    // re-staged at cluster parallelism and append commits it as several
    // segments (append supports multi-segment commits; a one-task funnel
    // here serialized multi-GB ingests through a single core)
    try append(spark.read.parquet(local.toString))
    finally if (!inRoot) Files.deleteIfExists(local)
    // ^ the copy is only a TRANSPORT: append() stages the rows into its
    // own commit-named data files, so the copied original is referenced
    // by no commit and Expire would never reclaim it — delete it whether
    // the append landed or was rejected (in-root sources stay the
    // caller's files and are left alone)
  }

  // ------------------------------------------------------ change data feed

  /** Whether row-changing writers record a change feed (TableMeta flag). */
  def cdfEnabled: Boolean = cachedState.tableMeta.exists(_.cdfEnabled)

  /** Turn the change feed on/off — one metadata commit. The feed is
    * readable from the first commit AFTER the enabling one; mutations
    * before it have no record and [[graft.maintain.ChangeFeed]] refuses
    * ranges that cross them (Delta delta.enableChangeDataFeed analog). */
  def enableCdf(maxRetries: Int = 3): Long =
    commitMetaUpdate(maxRetries) { (_, m) =>
      if (m.cdfEnabled) None else Some(m.copy(cdfEnabled = true)) }
  def disableCdf(maxRetries: Int = 3): Long =
    commitMetaUpdate(maxRetries) { (_, m) =>
      if (!m.cdfEnabled) None else Some(m.copy(cdfEnabled = false)) }

  // ---------------------------------------------------------- row tracking

  /** Whether rows carry stable ids (TableMeta flag). */
  def rowTrackingEnabled: Boolean = cachedState.tableMeta.exists(_.rowTracking)

  /** Turn row tracking on: ONE metadata commit that flips the flag and
    * backfills every live segment with a baseRowId range (the commit hook
    * assigns them — Delta's backfill semantics: pre-enable history has no
    * ids, and existing rows are identified as-of enablement). Main-handle
    * only: a branch enabling tracking independently could mint id ranges
    * that collide with main's at publish. Re-enabling after a disable
    * keeps previously assigned ranges — ids stay stable across the
    * round-trip. Refuses when the schema already claims the reserved
    * column names. */
  def enableRowTracking(maxRetries: Int = 3): Long = {
    requireMainHandle("enable row tracking")
    commit(maxRetries) { st =>
      val m = st.tableMeta.getOrElse(throw CorruptLogException("table has no metadata"))
      if (m.rowTracking) Change()
      else {
        m.schema.foreach { s =>
          val clash = s.fieldNames.toSet
            .intersect(Set(RowTracking.RowIdCol, RowTracking.RowCommitCol))
          if (clash.nonEmpty) throw SchemaMismatchException(
            s"row tracking reserves column names ${clash.mkString(", ")}")
        }
        // verbatim re-adds (not `adds`): the commit hook stamps their id
        // ranges; they are neither fresh data nor a coverage change
        val backfill: Seq[LogAction] =
          st.liveSegments.filter(_.baseRowId.isEmpty).map(LogAction.AddSegment)
        Change(actions = backfill :+ LogAction.UpdateTableMeta(m.copy(rowTracking = true)))
      }
    }
  }

  /** Turn row tracking off (the high-water mark and assigned ranges are
    * kept, so a later re-enable resumes without id reuse). */
  def disableRowTracking(maxRetries: Int = 3): Long =
    commitMetaUpdate(maxRetries) { (_, m) =>
      if (!m.rowTracking) None else Some(m.copy(rowTracking = false)) }

  /** Scan the current snapshot with `_row_id` / `_row_commit` appended —
    * the row-tracking read surface. Ids resolve as
    * coalesce(materialized column, baseRowId + row position); the DV
    * filter applies AFTER the binding (positions are physical), and the
    * logical (rename-aware) projection applies last. */
  def scanWithRowIds(spark: SparkSession): DataFrame =
    scanStateWithRowIds(spark, cachedState)

  private[graft] def scanStateWithRowIds(spark: SparkSession, st: TableState): DataFrame = {
    val m = st.tableMeta.getOrElse(throw CorruptLogException("table has no metadata"))
    require(m.rowTracking, "row tracking is not enabled on this table")
    val logSchema = m.schema.getOrElse(
      throw new IllegalStateException("table has no schema yet"))
    val outSchema = StructType(logSchema.fields ++ Seq(
      org.apache.spark.sql.types.StructField(RowTracking.RowIdCol, org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField(RowTracking.RowCommitCol, org.apache.spark.sql.types.LongType)))
    val live = st.liveSegments
    if (live.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    val withIds = RowTracking.attach(segmentScanTracked(spark, live, m), root, live)
    val filtered = DeletionVectors.liveRowFilter(root, live)
      .map(withIds.where).getOrElse(withIds)
    val cmap = m.colMap
    filtered.select(logSchema.fieldNames.toIndexedSeq
      .map(n => col(cmap.getOrElse(n, n)).as(n))
      ++ Seq(col(RowTracking.RowIdCol), col(RowTracking.RowCommitCol)): _*)
  }

  /** Row-id range scan `[lo, hi]` — the point-lookup/incremental-fetch
    * surface of row tracking. File pruning is EXACT and metadata-only:
    * a positional (never-rewritten) file's id range is
    * [baseRowId, baseRowId + rowCount) straight from the manifest, and a
    * rewritten file carries `_row_id` min/max in its footer stats — so a
    * consumer fetching the rows behind a batch of change-feed ids reads
    * only the files that can hold them, at any table size. The residual
    * range filter applies post-attach (ids bind before the DV conjunct). */
  def scanRowIdRange(spark: SparkSession, lo: Long, hi: Long): DataFrame = {
    require(lo <= hi, s"empty row-id range [$lo, $hi]")
    val st = cachedState
    val m = st.tableMeta.getOrElse(throw CorruptLogException("table has no metadata"))
    require(m.rowTracking, "row tracking is not enabled on this table")
    val hit = st.liveSegments.filter { s =>
      val posOverlap = s.baseRowId.exists(b => b <= hi && b + s.rowCount - 1 >= lo)
      val statOverlap = s.stats.get(RowTracking.RowIdCol).exists {
        case graft.meta.ColStats(Some(StatVal.L(mn)), Some(StatVal.L(mx)), _) =>
          mn <= hi && mx >= lo
        case _ => false
      }
      // a rewritten file's positional range is meaningless (ids are
      // materialized; the base was minted but unused) — stats decide when
      // present, the manifest range otherwise
      if (s.stats.contains(RowTracking.RowIdCol)) statOverlap else posOverlap
    }
    val empty = {
      val logSchema = m.schema.getOrElse(new StructType())
      StructType(logSchema.fields ++ Seq(
        org.apache.spark.sql.types.StructField(RowTracking.RowIdCol, org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField(RowTracking.RowCommitCol, org.apache.spark.sql.types.LongType)))
    }
    if (hit.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], empty)
    val withIds = RowTracking.attach(segmentScanTracked(spark, hit, m), root, hit)
    val filtered = DeletionVectors.liveRowFilter(root, hit)
      .map(withIds.where).getOrElse(withIds)
      .where(col(RowTracking.RowIdCol) >= lo && col(RowTracking.RowIdCol) <= hi)
    val logSchema = m.schema.get
    val cmap = m.colMap
    filtered.select(logSchema.fieldNames.toIndexedSeq
      .map(n => col(cmap.getOrElse(n, n)).as(n))
      ++ Seq(col(RowTracking.RowIdCol), col(RowTracking.RowCommitCol)): _*)
  }

  /** Physical relation over `segs` whose dataSchema includes the two
    * (nullable, usually file-absent) materialized tracking columns —
    * Spark's parquet missing-column handling fills NULL for fresh files,
    * and rewritten files supply their frozen values. */
  private def segmentScanTracked(spark: SparkSession, segs: Seq[SegmentMeta],
                                 m: TableMeta): DataFrame = {
    val phys = m.physicalSchema.getOrElse(
      throw new IllegalStateException("table has no schema yet"))
    val readSchema = StructType(
      phys.fields.filterNot(f =>
        f.name == RowTracking.RowIdCol || f.name == RowTracking.RowCommitCol) ++ Seq(
        org.apache.spark.sql.types.StructField(RowTracking.RowIdCol, org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField(RowTracking.RowCommitCol, org.apache.spark.sql.types.LongType)))
    spark.baseRelationToDataFrame(relationFor(spark, segs, readSchema))
  }

  /** Maintenance read of `segs` with tracking columns attached and
    * MATERIALIZED (physical names; rows physical — callers layer DV
    * filters as with [[segmentScan]]). Row-preserving rewrites feed this
    * straight to [[CommitScope.stageSegments]], freezing each surviving
    * row's id and last-modified version into the new files. */
  private[graft] def segmentScanWithRowIds(spark: SparkSession,
                                           segs: Seq[SegmentMeta]): DataFrame = {
    val m = cachedState.tableMeta.getOrElse(throw CorruptLogException("table has no metadata"))
    RowTracking.attach(segmentScanTracked(spark, segs, m), root, segs)
  }

  /** CHECK constraint: add an ingest-quality gate (name → SQL predicate)
    * as a metadata-only commit. SQL CHECK semantics: a row passes when
    * the predicate is TRUE or NULL; only provably-FALSE rows violate.
    * Existing data is validated first (one scan; rejected if any row
    * violates), so the invariant "every committed row satisfies every
    * check" holds from the moment the commit lands — and rewrites can
    * rely on it. */
  def addCheck(spark: SparkSession, name: String, predicateSql: String,
               maxRetries: Int = 3): Long = {
    import org.apache.spark.sql.functions.{expr, lit, not}
    val cond = expr(predicateSql)
    commitMetaUpdate(maxRetries) { (st, m) =>
      require(!m.checks.exists(_._1 == name), s"check '$name' already exists")
      // validate INSIDE the OCC loop, so a write racing this commit gets
      // re-validated on the rebase (a write that lands after our commit
      // is gated by enforceChecks instead — no unvalidated window)
      if (st.liveSegments.nonEmpty) {
        val bad = scanState(spark, st).where(not(cond) === lit(true)).count()
        if (bad > 0) throw CheckViolationException(name, predicateSql, bad)
      } else if (m.schema.isDefined) {
        scanState(spark, st).where(cond).queryExecution.analyzed // fail fast on bad columns
      }
      Some(m.copy(checks = m.checks :+ (name -> predicateSql)))
    }
  }

  /** Tag a version with a stable name (metadata-only commit). Tags are
    * human-stable time-travel handles; [[graft.maintain.Expire]] refuses
    * to reclaim history a tag still points into. Default target: the
    * current version. */
  def setTag(name: String, version: Option[Long] = None, maxRetries: Int = 3): Long =
    updateTags(name, current => {
      val v = version.getOrElse(current)
      require(v >= 1 && v <= current, s"tag target v$v out of range [1, $current]")
      // the target must still be REPLAYABLE — commits/checkpoint AND data
      // files: tagging a version expiration already reclaimed (even
      // partially — a surviving checkpoint can outlive swept files) would
      // wedge every later expire and fail scanAtTag far from the cause
      val target =
        try TableState.rebuildAt(store, v)
        catch { case e: Exception =>
          throw new IllegalArgumentException(
            s"cannot tag v$v: its history was already reclaimed by snapshot " +
              s"expiration (${e.getMessage})", e)
        }
      val missing = target.liveSegments
        .flatMap(s => (Seq(s.path) ++ s.coveragePath.toSeq ++ s.dvPath.toSeq))
        .filterNot(rel => Files.exists(Paths.get(stripScheme(s"$root/$rel"))))
      require(missing.isEmpty,
        s"cannot tag v$v: ${missing.size} referenced file(s) already reclaimed by " +
          s"snapshot expiration, e.g. ${missing.take(3).mkString(", ")}")
      Some(v)
    }, maxRetries)

  /** Remove a tag (metadata-only commit). */
  def dropTag(name: String, maxRetries: Int = 3): Long =
    updateTags(name, _ => None, maxRetries, mustExist = true)

  def tags: Map[String, Long] = cachedState.tableMeta.map(_.tags).getOrElse(Map.empty)

  /** Time-travel scan by tag name. */
  def scanAtTag(spark: SparkSession, name: String): DataFrame = {
    refresh()
    val v = tags.getOrElse(name,
      throw new IllegalArgumentException(s"no such tag: '$name' (have: ${tags.keys.toSeq.sorted.mkString(", ")})"))
    scanAt(spark, v)
  }

  /** Time travel by wall clock (`AS OF TIMESTAMP` — Delta/Iceberg analog):
    * the snapshot a reader at `tsMillis` would have seen, i.e. the LAST
    * commit whose recorded `timestamp` is ≤ `tsMillis`. Resolution scans
    * only the commit timestamps the log still holds (KB-sized JSONs,
    * driver-side, the same cost class as `history` — snapshot expiration
    * keeps the retained window bounded at any table scale) and tolerates
    * non-monotone stamps from cross-process writer clock skew by taking
    * the max qualifying version, not the first. Refused with a clear
    * error when `tsMillis` predates the earliest retained commit (its
    * state was reclaimed — same contract as expired `scanAt`). */
  def versionAsOf(tsMillis: Long): Long = {
    refresh()
    val cur = store.currentVersion()
    require(cur >= 1, "table has no commits yet")
    var best = -1L
    var earliest = Long.MaxValue
    var earliestV = -1L
    var v = cur
    while (v >= 1 && Files.exists(store.commitPath(v))) {
      val ts = store.readCommit(v).timestampMillis
      if (ts < earliest) { earliest = ts; earliestV = v }
      if (ts <= tsMillis && v > best) best = v
      v -= 1
    }
    if (best >= 0) best
    else throw new IllegalArgumentException(
      s"no snapshot at or before timestamp $tsMillis " +
        s"(${java.time.Instant.ofEpochMilli(tsMillis)}): earliest retained commit is " +
        s"v$earliestV at ${java.time.Instant.ofEpochMilli(earliest)} — older history was " +
        "reclaimed by snapshot expiration")
  }

  /** Time-travel scan as of a wall-clock instant (epoch millis). */
  def scanAsOf(spark: SparkSession, tsMillis: Long): DataFrame =
    scanAt(spark, versionAsOf(tsMillis))

  /** SHALLOW CLONE (Delta CLONE / Iceberg snapshot-ref analog): a new,
    * fully independent table at `destRoot` whose first commit references
    * this table's live data files IN PLACE via absolute manifest paths —
    * zero data bytes move, so cloning a 100 TB table costs one metadata
    * commit plus KB-sized sidecar copies (DV bitmaps, coverage). The clone
    * is a complete table: scans prune through the copied stats, every
    * writer verb works, and maintenance rewrites (compaction, CoW
    * DELETE/UPDATE/MERGE) progressively re-materialize touched files under
    * the clone's own root — copy-on-write divergence, the source never
    * sees clone writes and vice versa. The clone's Expire deletes only
    * files it owns ([[graft.meta.PathNorm.ownedBy]]): external references
    * age out of its manifest without touching the source's bytes.
    *
    * Caveat (same as Delta shallow clones, documented public behavior):
    * the source's own Expire does not know about clones — expiring source
    * history that removed files a clone still references breaks that
    * clone's reads. Tag the source version (`setTag`) to hold it, or
    * compact the clone (`Compaction.run`) to make it self-contained.
    *
    * Tags are not copied (they name SOURCE log versions); txn watermarks
    * ARE, so a streaming writer repointed at the clone keeps exactly-once.
    */
  def cloneTo(destRoot: String, at: Option[Long] = None): TsTable = {
    requireMainHandle("cloneTo")
    refresh()
    val v = at.getOrElse(version)
    require(v >= 1 && v <= version, s"clone source version v$v out of range [1, $version]")
    require(graft.meta.PathNorm.canonical(destRoot) != graft.meta.PathNorm.canonical(root),
      "clone target must differ from the source root")
    val st =
      try TableState.rebuildAt(store, v)
      catch { case e: Exception =>
        throw new IllegalArgumentException(
          s"cannot clone at v$v: its history was already reclaimed by snapshot " +
            s"expiration (${e.getMessage})", e)
      }
    val destStore = LogStore(destRoot)
    if (destStore.currentVersion() != 0L)
      throw ConflictException(0L, destStore.currentVersion())
    destStore.initDirs()
    // per-segment sidecars (DV bitmaps, coverage runs) are KBs — copy them
    // so the clone's MOR reads and coverage queries never reach back into
    // the source's mutable sidecar namespace
    def copySidecar(rel: String): Unit = {
      val src = Paths.get(stripScheme(s"$root/$rel"))
      val dst = Paths.get(stripScheme(s"$destRoot/$rel"))
      Files.createDirectories(dst.getParent)
      if (Files.exists(src))
        Files.copy(src, dst, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val segs = st.liveSegments.map { seg =>
      seg.dvPath.foreach(copySidecar)
      seg.coveragePath.foreach(copySidecar)
      // already-absolute paths (clone of a clone) pass through unchanged
      seg.copy(path = graft.meta.PathNorm.resolve(root, seg.path))
    }
    st.tableCoverage.foreach(c => copySidecar(c.coveragePath))
    val actions: Seq[LogAction] =
      st.tableMeta.map(m => LogAction.UpdateTableMeta(m.copy(tags = Map.empty))).toSeq ++
        segs.map(LogAction.AddSegment) ++
        st.tableCoverage.map(c => LogAction.UpdateTableCoverage(c.bucketSpec, c.coveragePath)).toSeq ++
        st.txns.toSeq.sortBy(_._1).map { case (a, b) => LogAction.SetTxn(a, b) }
    destStore.commitWithExpectedVersion(0L, actions)
    new TsTable(destRoot, destStore)
  }

  // ------------------------------------------------------------ branches

  /** Create a branch forked at `at` (default: the current version) and
    * return a writable handle on it — the write-audit-publish (WAP)
    * entry point. Every writer verb on the returned handle (append,
    * MERGE, DELETE/UPDATE, compaction, streaming ingest) commits to the
    * branch log under `_branches/<name>/`, invisible to main readers;
    * data files share the table's `data/` root (UUID names never
    * collide) and [[graft.maintain.Expire]] retains them while the
    * branch lives. Audit = any read/CHECK against the branch handle;
    * publish = [[publishBranch]]; abandon = [[dropBranch]]. */
  def createBranch(name: String, at: Option[Long] = None): TsTable = {
    requireMainHandle("createBranch")
    refresh()
    val v = at.getOrElse(version)
    require(v >= 1 && v <= version, s"branch fork point v$v out of range [1, $version]")
    // same replayability guard as tags: forking at a version expiration
    // already reclaimed would wedge every later expire
    try TableState.rebuildAt(store, v)
    catch { case e: Exception =>
      throw new IllegalArgumentException(
        s"cannot branch at v$v: its history was already reclaimed by snapshot " +
          s"expiration (${e.getMessage})", e)
    }
    BranchLog.create(store.tableRoot, name, v)
    branch(name)
  }

  /** Writable handle on an existing branch. */
  def branch(name: String): TsTable = {
    requireMainHandle("branch")
    new TsTable(root, BranchLog.open(store.tableRoot, name))
  }

  def branches: Seq[String] = BranchLog.list(store.tableRoot)

  /** The branch this handle writes to, if it is a branch handle. */
  def branchName: Option[String] = store match {
    case b: BranchLog => Some(b.branch); case _ => None
  }

  /** Delete a branch and its commit files. Data files the branch added
    * become unreferenced and are reclaimed by the next expire sweep
    * (age-guarded, like any crashed-writer debris). */
  def dropBranch(name: String): Boolean = {
    requireMainHandle("dropBranch")
    BranchLog.drop(store.tableRoot, name)
  }

  /** Publish a branch onto main as ONE atomic squash commit — the
    * fast-forward half of WAP. The net effect between the branch's fork
    * state and its head (segment removes/upserts/adds, meta, coverage
    * pointer, txn watermarks) lands in a single OCC commit, so main
    * readers flip from pre-branch to post-branch state atomically and a
    * publish racing another writer either wins wholly or not at all.
    * Fast-forward only: if main advanced past the fork point the publish
    * fails (re-branch from the new head and replay) — a cross-writer
    * rebase would silently re-order snapshot history. Changed segments
    * (e.g. a DV attached on the branch) are emitted as Remove+Add like
    * every data-change commit, so a streaming tail of main skips them
    * rather than re-delivering rows. */
  def publishBranch(name: String, maxRetries: Int = 5, dropAfter: Boolean = true): Long = {
    requireMainHandle("publishBranch")
    val bl = BranchLog.open(store.tableRoot, name)
    val head = bl.currentVersion()
    val headState = TableState.rebuildAt(bl, head)
    val baseState = TableState.rebuildAt(store, bl.base)
    // the net effect rides verbatim: fast-forward (below) is the guard,
    // and the branch already validated, covered and gated what it wrote
    val committed = commit(maxRetries) { st =>
      if (st.version != bl.base)
        throw new IllegalStateException(
          s"non-fast-forward publish: branch '$name' forked at v${bl.base} but main " +
            s"is at v${st.version}; re-branch from the new head and replay")
      val b = Seq.newBuilder[LogAction]
      baseState.segments.keysIterator.filterNot(headState.segments.contains)
        .toSeq.sorted.foreach(id => b += LogAction.RemoveSegment(id))
      headState.liveSegments.foreach { s =>
        baseState.segments.get(s.segmentId) match {
          case Some(old) if old == s => () // untouched on the branch
          case Some(_) => b += LogAction.RemoveSegment(s.segmentId); b += LogAction.AddSegment(s)
          case None => b += LogAction.AddSegment(s)
        }
      }
      headState.tableMeta.filterNot(baseState.tableMeta.contains)
        .foreach(m => b += LogAction.UpdateTableMeta(m))
      headState.tableCoverage.filterNot(baseState.tableCoverage.contains)
        .foreach(c => b += LogAction.UpdateTableCoverage(c.bucketSpec, c.coveragePath))
      headState.txns.toSeq.sortBy(_._1).foreach { case (app, batch) =>
        if (baseState.txns.get(app).forall(_ < batch)) b += LogAction.SetTxn(app, batch)
      }
      Change(actions = b.result())
    }
    if (dropAfter) dropBranch(name)
    committed
  }

  private def requireMainHandle(op: String): Unit = store match {
    case b: BranchLog => throw new IllegalStateException(
      s"$op must run on the main table handle, not branch '${b.branch}' (nested branches are not supported)")
    case _ => ()
  }

  private def updateTags(name: String, f: Long => Option[Long], maxRetries: Int,
                         mustExist: Boolean = false): Long =
    commitMetaUpdate(maxRetries) { (st, m) =>
      if (mustExist) require(m.tags.contains(name), s"no such tag: '$name'")
      val newTags = f(st.version) match {
        case Some(v) => m.tags + (name -> v)
        case None => m.tags - name
      }
      if (newTags == m.tags) None else Some(m.copy(tags = newTags))
    }

  /** Shared OCC loop for metadata-only commits (schema evolution, checks,
    * tags): refresh, validate+transform the CURRENT meta via `f` inside
    * the loop (so a rebase re-validates against what it actually commits
    * over; throw to abort, None for a no-op), commit one UpdateTableMeta,
    * rebase-retry on conflicts. */
  private def commitMetaUpdate(maxRetries: Int = 3)
                              (f: (TableState, TableMeta) => Option[TableMeta]): Long =
    commit(maxRetries) { st =>
      val m = st.tableMeta.getOrElse(throw new IllegalStateException(
        "no table metadata yet — create the table first"))
      Change(actions = f(st, m).map(LogAction.UpdateTableMeta).toSeq)
    }

  /** Drop a CHECK constraint (metadata-only). */
  def dropCheck(name: String, maxRetries: Int = 3): Long =
    commitMetaUpdate(maxRetries) { (_, m) =>
      require(m.checks.exists(_._1 == name), s"no such check: '$name'")
      Some(m.copy(checks = m.checks.filterNot(_._1 == name)))
    }

  /** Enforce CHECK constraints `checks` over freshly staged files.
    * Stats fast path, sound by the Tri algebra's one reliable direction:
    * eval(NOT check) == AlwaysFalse over a file's footer stats means NO
    * row makes the predicate FALSE (TRUE or NULL both pass, per SQL
    * CHECK), so the file skips the row-level scan — on appends of clean
    * data with tight stats this costs driver arithmetic only. Files the
    * stats can't clear get ONE filtered count over just those files. */
  private[table] def enforceChecks(spark: SparkSession, checks: Seq[(String, String)],
                                   files: Seq[(String, Map[String, graft.meta.ColStats], Long)]): Unit = {
    if (checks.isEmpty || files.isEmpty) return
    import org.apache.spark.sql.functions.{expr, lit, not}
    checks.foreach { case (name, sql) =>
      val cond = expr(sql)
      val resolved: Option[org.apache.spark.sql.catalyst.expressions.Expression] =
        try scan(spark).where(cond).queryExecution.analyzed.collectFirst {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
        } catch { case _: Exception => None } // schema not adopted yet → row-check all
      // staged files (and their footer stats) carry PHYSICAL names; the
      // check predicate is LOGICAL — re-key stats and alias the row scan
      // (both identity for never-renamed tables)
      val inv = colMap.map(_.swap)
      def logStats(stats: Map[String, graft.meta.ColStats]) =
        if (inv.isEmpty) stats else stats.map { case (k, v) => inv.getOrElse(k, k) -> v }
      val suspects = files.filter { case (_, stats, rc) =>
        resolved match {
          case Some(c) =>
            graft.scan.StatsPruning.eval(
              org.apache.spark.sql.catalyst.expressions.Not(c), logStats(stats), rc) !=
              graft.scan.StatsPruning.AlwaysFalse
          case None => true
        }
      }
      if (suspects.nonEmpty) {
        val bad = toLogical(spark.read.parquet(suspects.map(_._1): _*))
          .where(not(cond) === lit(true)).count()
        if (bad > 0) throw CheckViolationException(name, sql, bad)
      }
    }
  }

  /** Manifest-backed PHYSICAL scan over an explicit segment subset — the
    * read every maintenance job (compaction bin, MERGE/DELETE/UPDATE
    * candidates) must use instead of a bare `spark.read.parquet(paths)`:
    * the manifest already knows each file's path and size, so the scan
    * plans with ZERO filesystem listing (a bare parquet read of a 161-file
    * bin was paying two ~1 s distributed listing jobs per rewrite — pure
    * scheduler overhead at any scale, and a real object-store LIST storm
    * at 100 TB). Schema is pinned to the MANIFEST, never footer-inferred:
    * after an ADD COLUMN the live set mixes old- and new-footer files, and
    * a footer-inferred read can adopt an OLD file's schema — silently
    * DROPPING the evolved column from a rewrite; pinning also NULL-fills
    * it on old files and skips the footer-sample job. Rows are physical
    * (no DV filter) — callers layer
    * [[DeletionVectors.liveRowFilter]] exactly as before. */
  private[graft] def segmentScan(spark: SparkSession, segs: Seq[SegmentMeta]): DataFrame = {
    require(segs.nonEmpty, "segmentScan over an empty segment set")
    // PHYSICAL names throughout: maintenance reads feed maintenance
    // writes, and files are physical end-to-end — a rewrite never has to
    // know a rename happened. Callers that apply USER expressions
    // (predicates, SET clauses, merge keys — logical names) sandwich with
    // toLogical/toPhysical.
    val schema = cachedState.tableMeta.flatMap(_.physicalSchema)
      .getOrElse(spark.read.parquet(abs(segs.head)).schema)
    spark.baseRelationToDataFrame(relationFor(spark, segs, schema))
  }

  // ------------------------------------------------- column mapping view

  /** logical → physical column mapping (empty = never renamed). */
  private[graft] def colMap: Map[String, String] =
    cachedState.tableMeta.map(_.colMap).getOrElse(Map.empty)

  /** Rename a user-facing (logical) DataFrame to physical names for a
    * write, or a physical read back to logical for user expressions.
    * Identity (the same DataFrame object) when no rename ever happened. */
  private[graft] def toPhysical(df: DataFrame): DataFrame = renameCols(df, colMap)
  private[graft] def toLogical(df: DataFrame): DataFrame =
    renameCols(df, colMap.map(_.swap))
  private def renameCols(df: DataFrame, m: Map[String, String]): DataFrame =
    if (m.isEmpty) df
    else m.foldLeft(df) { case (d, (from, to)) =>
      if (d.columns.contains(from)) d.withColumnRenamed(from, to) else d }

  /** A segment's footer stats re-keyed to LOGICAL names, for evaluating
    * user predicates (stats sidecars are keyed physical, like the files). */
  private[graft] def logicalStats(seg: SegmentMeta): Map[String, graft.meta.ColStats] = {
    val inv = colMap.map(_.swap)
    if (inv.isEmpty) seg.stats
    else seg.stats.map { case (k, v) => inv.getOrElse(k, k) -> v }
  }

  /** Schema evolution: ADD COLUMN as a metadata-only commit (one
    * UpdateTableMeta action — no data file is touched, so evolving a
    * 100 TB table costs one log write). The new column is forced
    * nullable: files written before the evolution have no values for it
    * and every scan fills NULL there via Spark's parquet missing-column
    * handling (the relation's dataSchema is the MANIFEST schema, not the
    * file footers'). Appends after the commit must carry the full evolved
    * schema — the adopt-or-enforce check keeps exact-match semantics, so
    * an old-schema writer fails loudly instead of silently dropping the
    * column. OCC rebase-retry like every other metadata commit. */
  def addColumn(name: String, dataType: org.apache.spark.sql.types.DataType,
                maxRetries: Int = 3): Long =
    commitMetaUpdate(maxRetries) { (_, m) =>
      val sch = m.schema.getOrElse(throw new IllegalStateException(
        "no schema adopted yet — append once before evolving the schema"))
      require(!sch.fieldNames.contains(name), s"column '$name' already exists")
      // a renamed column's frozen physical name still occupies the files —
      // a new logical column with that name would collide on every write
      require(!m.colMap.valuesIterator.contains(name),
        s"'$name' is the physical name of a renamed column; pick another name")
      val evolved = StructType(sch.fields :+
        org.apache.spark.sql.types.StructField(name, dataType, nullable = true))
      Some(m.copy(schemaJson = Some(evolved.json)))
    }

  /** Schema evolution: RENAME COLUMN as a metadata-only commit, via a
    * column mapping (Delta columnMapping / Iceberg rename-by-field-id
    * analog). Physical names are FROZEN at column creation: the files —
    * past AND future — keep the original name, and every scan restores
    * the logical view with one alias projection (filters and pruning push
    * through it), so renaming a column on a 100 TB table costs one log
    * write and zero data IO forever. Maintenance rewrites stay physical
    * end-to-end and never need to know. Refused for columns the table's
    * layout identity depends on (time index, entity, cluster columns) and
    * for columns a CHECK still references (drop the check first) — the
    * same conservative guards as DROP COLUMN. Pre-rename snapshots
    * time-travel under the old name (each snapshot scans via its own
    * meta). The DSv1 `format("graft-table")` batch relation has no
    * projection hook and refuses renamed tables loudly, like DV'd ones. */
  def renameColumn(oldName: String, newName: String, maxRetries: Int = 3): Long =
    commitMetaUpdate(maxRetries) { (_, m) =>
      val sch = m.schema.getOrElse(throw new IllegalStateException(
        "no schema adopted yet — append once before evolving the schema"))
      require(sch.fieldNames.contains(oldName), s"no such column: '$oldName'")
      require(newName.nonEmpty && newName != oldName, s"bad target name: '$newName'")
      require(!sch.fieldNames.contains(newName), s"column '$newName' already exists")
      require(!(m.colMap - oldName).valuesIterator.contains(newName),
        s"'$newName' is the physical name of another renamed column")
      m.kind match {
        case TableKind.TimeSeries(s) =>
          require(oldName != s.timestampColumn,
            s"cannot rename the time-index column '$oldName'")
          require(!s.entityColumns.contains(oldName),
            s"cannot rename entity column '$oldName'")
        case TableKind.Clustered(s) =>
          require(!s.columns.contains(m.physicalName(oldName)),
            s"cannot rename cluster column '$oldName'")
      }
      val word = java.util.regex.Pattern.compile(
        "\\b" + java.util.regex.Pattern.quote(oldName) + "\\b",
        java.util.regex.Pattern.CASE_INSENSITIVE)
      m.checks.find { case (_, sql) => word.matcher(sql).find() }.foreach { case (cn, sql) =>
        throw new IllegalStateException(
          s"cannot rename '$oldName': CHECK '$cn' ($sql) references it — drop the check first")
      }
      val evolved = StructType(sch.fields.map(f =>
        if (f.name == oldName) f.copy(name = newName) else f))
      val physical = m.physicalName(oldName) // frozen across chained renames
      val cmap = (m.colMap - oldName) ++
        (if (physical == newName) Map.empty[String, String] // renamed back
         else Map(newName -> physical))
      Some(m.copy(schemaJson = Some(evolved.json), colMap = cmap))
    }

  /** Schema evolution: DROP COLUMN as a metadata-only commit. Files keep
    * the column physically (no rewrite — dropping a column from a 100 TB
    * table costs one log write) but every scan and maintenance read pins
    * the MANIFEST schema, so the column vanishes everywhere at once;
    * a later compaction rewrites files without it as a side effect.
    * Appends after the commit must carry the narrowed schema. Refused
    * for columns the table's identity depends on (time index, entity,
    * cluster columns) and for columns a CHECK constraint still
    * references (drop the check first). */
  def dropColumn(name: String, maxRetries: Int = 3): Long =
    commitMetaUpdate(maxRetries) { (_, m) =>
      val sch = m.schema.getOrElse(throw new IllegalStateException(
        "no schema adopted yet — append once before evolving the schema"))
      require(sch.fieldNames.contains(name), s"no such column: '$name'")
      m.kind match {
        case TableKind.TimeSeries(s) =>
          require(name != s.timestampColumn, s"cannot drop the time-index column '$name'")
          require(!s.entityColumns.contains(name), s"cannot drop entity column '$name'")
        case TableKind.Clustered(s) =>
          // spec columns are stored under physical names (frozen); map the
          // logical drop target through the rename mapping before comparing
          require(!s.columns.contains(m.physicalName(name)),
            s"cannot drop cluster column '$name'")
      }
      // conservative word-boundary test: a check MIGHT reference the
      // column → refuse (false positives only cost an explicit drop-check)
      val word = java.util.regex.Pattern.compile(
        "\\b" + java.util.regex.Pattern.quote(name) + "\\b",
        java.util.regex.Pattern.CASE_INSENSITIVE)
      m.checks.find { case (_, sql) => word.matcher(sql).find() }.foreach { case (cn, sql) =>
        throw new IllegalStateException(
          s"cannot drop '$name': CHECK '$cn' ($sql) references it — drop the check first")
      }
      val evolved = StructType(sch.fields.filterNot(_.name == name))
      require(evolved.fields.nonEmpty, "cannot drop the last column")
      Some(m.copy(schemaJson = Some(evolved.json), colMap = m.colMap - name))
    }

  /** Schema evolution: ALTER COLUMN TYPE as a metadata-only commit —
    * WIDENING conversions only (the Delta type-widening / Iceberg
    * type-promotion matrix): int→long, int/float→double, int/long/decimal
    * →wider decimal. Existing files keep their narrow physical type and
    * no byte is rewritten at any table scale: Spark's vectorized parquet
    * reader natively up-converts when the manifest-pinned read schema is
    * wider than the footer type (probed on this Spark: INT32 reads as
    * LONG/DOUBLE/DECIMAL(20,0) with exact values), so every scan,
    * maintenance read, and the streaming source see the widened type
    * uniformly across file eras. Appends must arrive with the NEW type
    * (exact-match enforcement, same as any schema drift). Pruning: old
    * files' stats sidecars keep their narrow-typed min/max — predicates
    * that compile against the widened type simply stop pruning those
    * files (sound, never wrong) until the next compaction rewrites them
    * with widened stats. Lossy conversions (long→double, narrowing) are
    * refused. The time-index column is refused (layout identity); cluster
    * columns are fine — the curve key range-normalizes numerics in DOUBLE
    * space whatever the declared width. */
  def alterColumnType(name: String, newType: org.apache.spark.sql.types.DataType,
                      maxRetries: Int = 3): Long =
    commitMetaUpdate(maxRetries) { (_, m) =>
      import org.apache.spark.sql.types._
      val sch = m.schema.getOrElse(throw new IllegalStateException(
        "no schema adopted yet — append once before evolving the schema"))
      val field = sch.fields.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"no such column: '$name'"))
      def widens(from: DataType, to: DataType): Boolean = (from, to) match {
        case (ByteType, ShortType | IntegerType | LongType) => true
        case (ShortType, IntegerType | LongType)            => true
        case (IntegerType, LongType)                        => true
        case (ByteType | ShortType | IntegerType | FloatType, DoubleType) => true
        case (ByteType | ShortType | IntegerType, d: DecimalType) =>
          d.precision - d.scale >= 10
        case (LongType, d: DecimalType) => d.precision - d.scale >= 20
        case (f: DecimalType, t: DecimalType) =>
          t.scale >= f.scale && t.precision - t.scale >= f.precision - f.scale
        // element widening inside arrays (token ids int→long is THE
        // training-data case); parquet's repeated pages up-convert the
        // same way scalar pages do (probed exact on this Spark)
        case (ArrayType(fe, fn), ArrayType(te, tn)) => tn == fn && widens(fe, te)
        case _ => false
      }
      require(widens(field.dataType, newType),
        s"cannot change '$name' from ${field.dataType.simpleString} to " +
          s"${newType.simpleString}: only widening conversions are metadata-safe " +
          "(int→long, int/float→double, →wider decimal)")
      m.kind match {
        case TableKind.TimeSeries(s) =>
          require(name != s.timestampColumn,
            s"cannot retype the time-index column '$name'")
        case _ => ()
      }
      val evolved = StructType(sch.fields.map(f =>
        if (f.name == name) f.copy(dataType = newType) else f))
      Some(m.copy(schemaJson = Some(evolved.json)))
    }

  /** Clustering evolution: ALTER CLUSTER BY as a metadata-only commit
    * (Iceberg sort-order-evolution analog). Existing files keep their old
    * layout and old-key footer blooms — scans stay correct because stats
    * pruning reads per-file min/max of whatever column is filtered and
    * MERGE bloom refinement answers "maybe" for files without a bloom on
    * the new key (KeyBloom missing-bloom ⇒ true, sound). The NEXT
    * compaction re-clusters under the new spec: curve fitting, salting,
    * and write-time blooms all read the live meta, so one log write
    * re-routes every future maintenance job — re-clustering a 100 TB
    * table is then incremental (predicate-scoped `compact --where` can
    * migrate hot slices first). Refused for time-series tables, whose
    * layout identity IS the time index. */
  def alterClusterBy(columns: Seq[String], curve: String, maxRetries: Int = 3): Long =
    commitMetaUpdate(maxRetries) { (_, m) =>
      m.kind match {
        case TableKind.TimeSeries(_) =>
          throw new IllegalStateException(
            "time-series tables cluster by their time index; ALTER CLUSTER BY applies to clustered tables")
        case TableKind.Clustered(old) =>
          require(columns.nonEmpty, "cluster spec needs at least one column")
          require(columns.distinct.size == columns.size,
            s"duplicate cluster columns: ${columns.mkString(",")}")
          val sch = m.schema.getOrElse(throw new IllegalStateException(
            "no schema adopted yet — append once before evolving the cluster spec"))
          columns.foreach(c => require(sch.fieldNames.contains(c),
            s"no such column: '$c'"))
          // spec columns are stored PHYSICAL (curve fitting and the write
          // path read stats/files, which are physical); callers pass
          // logical names — identical unless the column was renamed
          val next = ClusterSpec(columns.map(m.physicalName), curve) // validates the curve name
          if (next == old) None else Some(m.copy(kind = TableKind.Clustered(next)))
      }
    }

  /** Entity identity via footer-stats fast path (min==max per column ⇒
    * constant), falling back to a distinct().limit(2) scan — the same
    * two-tier scheme as the reference (formats/parquet/entity_identity.rs). */
  private def extractEntityIdentity(
      spark: SparkSession, paths: Seq[String], spec: TimeIndexSpec,
      fileStats: Seq[FooterStats.FileStats]): Option[Map[String, String]] = {
    if (spec.entityColumns.isEmpty) return None
    val identity = spec.entityColumns.map { c =>
      val perFile = fileStats.map(_.stats.get(c))
      val fast = perFile.forall {
        case Some(ColStats(Some(StatVal.S(mn)), Some(StatVal.S(mx)), nulls)) => mn == mx && nulls == 0
        case _ => false
      }
      val headVal = perFile.headOption.flatten.flatMap(_.min)
      if (fast && perFile.flatMap(_.flatMap(_.min)).distinct.size == 1) {
        c -> headVal.get.asInstanceOf[StatVal.S].v
      } else {
        val d = spark.read.parquet(paths: _*).select(col(c)).distinct().limit(2).collect()
        if (d.length != 1) throw EntityIdentityException(
          s"entity column '$c' must have exactly one value across the appended segment, found ${d.length}")
        if (d(0).isNullAt(0)) throw EntityIdentityException(s"entity column '$c' is null")
        c -> d(0).get(0).toString
      }
    }.toMap
    Some(identity)
  }

  // ------------------------------------------------------------ coverage

  /** Load the table coverage snapshot with the reference's three-tier
    * scheme (table/coverage.rs:29-180): snapshot pointer → recover by
    * unioning per-segment sidecars → optional heal rewrite. */
  def loadTableCoverage(st: TableState = cachedState, heal: Boolean = false): Bitmap = {
    val spec = timeSpec.getOrElse(return Bitmap.empty)
    st.tableCoverage match {
      case Some(ptr) =>
        if (ptr.bucketSpec != spec.bucket.spec)
          throw CorruptLogException(
            s"coverage pointer bucket '${ptr.bucketSpec}' != table bucket '${spec.bucket.spec}'")
        val p = Paths.get(stripScheme(s"$root/${ptr.coveragePath}"))
        if (Files.exists(p)) Bitmap.deserialize(Files.readAllBytes(p))
        else recoverCoverage(st, heal)
      case None =>
        if (st.liveSegments.isEmpty) Bitmap.empty else recoverCoverage(st, heal)
    }
  }

  private def recoverCoverage(st: TableState, heal: Boolean): Bitmap = {
    val cov = st.liveSegments.flatMap(_.coveragePath).foldLeft(Bitmap.empty) { (acc, rel) =>
      acc.union(Bitmap.deserialize(Files.readAllBytes(Paths.get(stripScheme(s"$root/$rel")))))
    }
    if (heal) {
      val covRel = s"_coverage/table/${st.version}-tblcov-healed.cov"
      writeBytes(s"$root/$covRel", cov.serialize()) // best-effort, no commit
    }
    cov
  }

  /** Metadata-only coverage analytics (reference table/coverage.rs:279-360):
    * half-open [startMicros, endMicros), answered from bitmaps without
    * touching data files. */
  def coverageRatioForRange(startMicros: Long, endMicros: Long): Double = {
    if (startMicros >= endMicros) throw InvalidRangeException(startMicros, endMicros)
    val spec = timeSpec.getOrElse(throw new IllegalStateException("not a time-series table"))
    loadTableCoverage().coverageRatio(
      BucketMath.expectedBucketsMicros(startMicros, endMicros, spec.bucket))
  }

  def maxGapLenForRange(startMicros: Long, endMicros: Long): Long = {
    if (startMicros >= endMicros) throw InvalidRangeException(startMicros, endMicros)
    val spec = timeSpec.getOrElse(throw new IllegalStateException("not a time-series table"))
    loadTableCoverage().maxGapLen(
      BucketMath.expectedBucketsMicros(startMicros, endMicros, spec.bucket))
  }

  def lastFullyCoveredWindow(endMicros: Long, lenBuckets: Long): Option[(Int, Int)] = {
    val spec = timeSpec.getOrElse(throw new IllegalStateException("not a time-series table"))
    val endBucket = BucketMath.bucketIdFromMicros(endMicros, spec.bucket)
    loadTableCoverage().lastWindowAtOrBefore(endBucket, lenBuckets)
  }

  // --------------------------------------------------------------- utils

  private[graft] def writeBytes(path: String, bytes: Array[Byte]): Unit = {
    val p = Paths.get(stripScheme(path))
    Files.createDirectories(p.getParent)
    Files.write(p, bytes)
  }

  private def stripScheme(p: String): String =
    if (p.startsWith("file:")) new java.net.URI(p).getPath else p

}

object TsTable {
  /** An append's staged segments plus the on-disk schema and entity
    * identity its commit adopts or enforces. */
  private[graft] final case class StagedAppend(segs: Seq[SegmentMeta], diskSchema: StructType,
                                               identity: Option[Map[String, String]])

  /** Bootstrap: verify version==0, commit v1 = UpdateTableMeta
    * (reference table.rs:156-202). */
  def create(root: String, meta: TableMeta): TsTable = {
    val store = LogStore(root)
    if (store.currentVersion() != 0L)
      throw ConflictException(0L, store.currentVersion())
    store.initDirs()
    store.commitWithExpectedVersion(0L, Seq(LogAction.UpdateTableMeta(meta)))
    new TsTable(root, store)
  }

  /** Open an existing table (reference table.rs:115-147). */
  def open(root: String): TsTable = {
    val store = LogStore(root)
    if (store.currentVersion() == 0L)
      throw CorruptLogException(s"no table at $root")
    val t = new TsTable(root, store)
    t.meta // force: reject tables without metadata
    t
  }
}
