package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row
import graft.table.TsTable

/** Structured Streaming ingestion into a graft table.
  *
  * The reference is batch-only (SURVEY.md §2.5); this is the Spark-native
  * extension: a `foreachBatch` sink that turns each micro-batch into one
  * transactional append — stats, coverage, overlap check and OCC commit
  * included — so a stream lands as ordinary immutable segments that
  * compaction later bin-packs and clusters.
  *
  * Exactly-once at the table level is transactional, not journal-based:
  * each batch appends with `txn = (appId, batchId)` where the appId is
  * derived from the CHECKPOINT LOCATION — the identity Spark itself keys
  * batch replay on. The (appId, batchId) watermark lands in the SAME log
  * commit as the batch's segments (LogAction.SetTxn), so
  *  - a replayed batch after recovery is skipped (watermark check inside
  *    the append's OCC loop — no crash window between data and marker);
  *  - a second query with a different checkpoint (whose batch ids restart
  *    at 0) gets its own watermark and is never silently dropped.
  */
object StreamingIngest {

  /** App id for the table txn watermark: the canonicalized checkpoint
    * location — stable across restarts of the same query, distinct across
    * different queries/checkpoints. Only bare local paths are resolved
    * against the filesystem; URIs with a scheme (s3a://…, hdfs://…,
    * file:/…) are used as-is so the id never depends on the driver's
    * working directory. */
  private[graft] def appId(checkpointDir: String): String = {
    // "file:" URIs resolve to the same checkpoint as the bare local path,
    // so they must yield the same app id — otherwise restarting a query
    // with the other spelling would miss the txn watermark and re-append
    // replayed batches. Tables whose watermarks predate this
    // canonicalization carry the raw "stream:file:/…" key; sink() migrates
    // it forward (migrateLegacyWatermark) before the query starts.
    val c = graft.meta.PathNorm.canonical(checkpointDir)
    "stream:" + (if (c.contains(":/")) c.stripSuffix("/") else c)
  }

  /** Watermarks written before appId canonicalization used the raw
    * "stream:file:/…" spelling for file:-scheme checkpoints. If the table
    * holds a watermark ONLY under that legacy key, carry it forward with a
    * SetTxn-only commit — otherwise the first replayed batch after an
    * upgrade would re-append (duplicate rows). Idempotent and cheap: one
    * metadata commit, only when a legacy key exists and the new one does
    * not. */
  private[graft] def migrateLegacyWatermark(table: TsTable, checkpointDir: String,
                                            app: String): Unit = {
    // every spelling the OLD appId could have produced for this checkpoint:
    // the raw string as passed, and the file:-URI forms of the canonical
    // path (the restart may use the bare path while history used file:/…)
    val canonical = app.stripPrefix("stream:")
    val candidates = Seq(
      "stream:" + checkpointDir.stripSuffix("/"),
      "stream:file:" + canonical,
      "stream:file://" + canonical).distinct.filter(_ != app)
    table.refresh()
    val txns = table.state.txns
    if (!txns.contains(app)) candidates.find(txns.contains).foreach { legacy =>
      val batch = txns(legacy)
      System.err.println(s"[graft-streaming] migrating legacy txn watermark " +
        s"'$legacy' (batch $batch) to '$app'")
      table.commit(txn = Some((app, batch)))(_ => graft.table.Change())
    }
  }

  /** Attach a graft-table sink to a streaming DataFrame. Caller starts the
    * query (so tests can use Trigger.AvailableNow with MemoryStream). */
  def sink(stream: DataFrame, table: TsTable,
           checkpointDir: String): DataStreamWriter[Row] = {
    val app = appId(checkpointDir)
    migrateLegacyWatermark(table, checkpointDir, app)
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // append() no-ops on empty batches (watermark still advances) —
        // no pre-flight isEmpty job, every batch plan executes once
        table.append(batch, txn = Some((app, batchId)))
        ()
      }
  }

  /** Convenience: run a bounded ingestion (all currently-available data)
    * and wait for it to finish. */
  def ingestAvailable(stream: DataFrame, table: TsTable, checkpointDir: String): StreamingQuery = {
    val q = sink(stream, table, checkpointDir).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q
  }
}
