package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.data.TokenGen
import graft.maintain.Compaction
import graft.meta._
import graft.streaming.StreamingIngest
import graft.table.TsTable

/** Structured Streaming ingestion: micro-batches land as transactional
  * appends, idempotent under batch replay, compactable afterwards. */
case class Tok(doc_id: String, tokens: Array[Int], n_tok: Int, source: String)

class StreamingSpec extends SparkFunSuite {

  private def tokenMeta = TableMeta("tokens",
    TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), "zorder")), None, None)

  test("stream -> foreachBatch append -> scan; then compaction over streamed segments") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("stream-tbl")
    val t = TsTable.create(root, tokenMeta)

    val rows = TokenGen.generate(spark, 300).as[Tok].collect().toSeq
    val mem = MemoryStream[Tok]
    mem.addData(rows.take(100))
    mem.addData(rows.slice(100, 300))

    StreamingIngest.ingestAvailable(mem.toDF(), t, tmpDir("stream-ckpt"))
    t.refresh()
    assert(t.scan(spark).count() == 300)

    // streamed segments are ordinary segments: clustering preserves rows
    t.append(TokenGen.generate(spark, 300, idStart = 10000, numFiles = 6))
    Compaction.run(spark, t, targetFileSize = 64L * 1024 * 1024)
    assert(t.scan(spark).count() == 600)
    val got = t.scan(spark).where(col("doc_id") === rows.head.doc_id)
      .select("tokens").as[Array[Int]].collect()
    assert(got.length == 1 && got(0).sameElements(rows.head.tokens))
  }

  test("txn append: same (app, batch) replay skipped; other apps/batches land") {
    val root = tmpDir("stream-txn")
    val t = TsTable.create(root, tokenMeta)
    val app = StreamingIngest.appId(tmpDir("stream-txn-ckpt"))

    t.append(TokenGen.generate(spark, 50), txn = Some((app, 0L)))
    assert(t.scan(spark).count() == 50)

    // crash-replay of batch 0: skipped even with different data
    val vBefore = t.version
    val v = t.append(TokenGen.generate(spark, 70, idStart = 900), txn = Some((app, 0L)))
    assert(v == vBefore && t.scan(spark).count() == 50, "replayed batch must not duplicate")

    // the next batch of the same query lands
    t.append(TokenGen.generate(spark, 30, idStart = 1000), txn = Some((app, 1L)))
    assert(t.scan(spark).count() == 80)

    // a DIFFERENT query (fresh checkpoint => batch ids restart at 0) is a
    // separate application: its batch 0 must NOT be silently skipped
    val other = StreamingIngest.appId(tmpDir("stream-txn-ckpt2"))
    t.append(TokenGen.generate(spark, 20, idStart = 2000), txn = Some((other, 0L)))
    assert(t.scan(spark).count() == 100, "fresh-checkpoint query lost its batch")

    // the watermark survives log replay and checkpoint rewrite
    val t2 = TsTable.open(root)
    assert(t2.state.txns(app) == 1L && t2.state.txns(other) == 0L)
    graft.maintain.Expire.expire(t2, t2.version) // writes a state checkpoint
    val t3 = TsTable.open(root)
    assert(t3.state.txns(app) == 1L, "txn watermark lost by checkpoint rewrite")
    t3.append(TokenGen.generate(spark, 10, idStart = 3000), txn = Some((app, 1L)))
    assert(t3.scan(spark).count() == 100, "replay after checkpoint must still skip")
  }

  test("empty batch: append no-ops but the txn watermark still advances") {
    import spark.implicits._
    val root = tmpDir("stream-empty")
    val t = TsTable.create(root, tokenMeta)
    t.append(TokenGen.generate(spark, 20))
    val app = StreamingIngest.appId(tmpDir("stream-empty-ckpt"))
    val before = t.version

    // an all-filtered (empty) batch: no segments, no zero-row files, but
    // the watermark records the batch so its replay is recognized
    val empty = TokenGen.generate(spark, 10).where(col("n_tok") < 0)
    t.append(empty, txn = Some((app, 0L)))
    assert(t.scan(spark).count() == 20)
    assert(t.state.liveSegments.forall(_.rowCount > 0), "zero-row segment committed")
    assert(t.state.txns(app) == 0L, "empty batch did not advance the watermark")
    assert(t.version == before + 1)

    // replay of the empty batch: nothing moves
    val v = t.append(TokenGen.generate(spark, 10), txn = Some((app, 0L)))
    assert(v == t.version && t.scan(spark).count() == 20, "replayed batch landed")

    // without a txn, empty input is a pure no-op (no commit at all)
    val v2 = t.append(empty)
    assert(v2 == t.version && t.scan(spark).count() == 20)
  }

  test("foreachBatch replay through the sink is idempotent per checkpoint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("stream-idem")
    val t = TsTable.create(root, tokenMeta)
    val ckpt = tmpDir("stream-idem-ckpt")

    val rows = TokenGen.generate(spark, 50).as[Tok].collect().toSeq
    val mem = MemoryStream[Tok]
    mem.addData(rows)
    StreamingIngest.ingestAvailable(mem.toDF(), t, ckpt)
    t.refresh()
    assert(t.scan(spark).count() == 50)

    // same checkpoint, restarted query, no new data: nothing lands twice
    StreamingIngest.ingestAvailable(mem.toDF(), t, ckpt)
    t.refresh()
    assert(t.scan(spark).count() == 50)
  }

  test("crash between table commit and Spark checkpoint: restart does not duplicate") {
    // THE exactly-once crash window: the foreachBatch append committed
    // (segments + SetTxn watermark in one log commit), then the driver
    // died BEFORE Spark wrote the batch to its checkpoint. On restart
    // Spark replays batch 0 with the same data; the append's watermark
    // check inside the OCC loop must skip it. Simulated by committing
    // batch 0 directly against the table (exactly what the sink's
    // foreachBatch does) while leaving the checkpoint directory EMPTY —
    // the on-disk state a crash in that window leaves behind.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("stream-crash")
    val t = TsTable.create(root, tokenMeta)
    val ckpt = tmpDir("stream-crash-ckpt")
    val app = StreamingIngest.appId(ckpt)

    val rows = TokenGen.generate(spark, 80).as[Tok].collect().toSeq

    // first attempt: table commit landed, checkpoint write did not
    t.append(rows.toDF(), txn = Some((app, 0L)))
    assert(t.scan(spark).count() == 80)
    val vAfterCrash = t.version
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(ckpt, "commits")),
      "fixture broken: checkpoint must look crash-fresh")

    // restart: Spark believes batch 0 never ran and replays it
    val mem = MemoryStream[Tok]
    mem.addData(rows)
    StreamingIngest.ingestAvailable(mem.toDF(), t, ckpt)
    t.refresh()
    assert(t.scan(spark).count() == 80, "replayed batch 0 duplicated rows")
    assert(t.version == vAfterCrash, "replayed batch 0 produced a new commit")

    // the stream is not wedged: the next batch lands normally
    mem.addData(TokenGen.generate(spark, 20, idStart = 5000).as[Tok].collect().toSeq)
    StreamingIngest.ingestAvailable(mem.toDF(), t, ckpt)
    t.refresh()
    assert(t.scan(spark).count() == 100)
    assert(t.state.txns(app) == 1L)
  }

  test("watermarked window aggregation: closed windows emit once, late data drops") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Double)]
    val stream = mem.toDF().toDF("ts", "value")
    val agg = graft.streaming.StreamAnalytics.windowedCounts(
      stream, "ts", "5 minutes", "1 minute")
    val q = agg.writeStream.format("memory").queryName("win_agg")
      .outputMode("append").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      // batch 1: two windows' worth of events
      mem.addData(Seq(
        (ts("2024-03-01 10:00:10"), 1.0), (ts("2024-03-01 10:02:00"), 2.0),
        (ts("2024-03-01 10:06:00"), 3.0)))
      q.processAllAvailable()
      // batch 2: watermark pusher (10:20) + a LATE event for the first
      // window, far behind the watermark -> must be dropped
      mem.addData(Seq(
        (ts("2024-03-01 10:20:00"), 4.0), (ts("2024-03-01 10:01:00"), 99.0)))
      q.processAllAvailable()
      // one more empty-ish batch so the advanced watermark closes windows
      mem.addData(Seq((ts("2024-03-01 10:21:00"), 5.0)))
      q.processAllAvailable()
      val rows = spark.table("win_agg")
        .select(col("window_start").cast("string"), col("n"))
        .as[(String, Long)].collect().toMap
      // [10:00,10:05) closed with 2 events (late 99.0 dropped), [10:05,10:10) with 1
      assert(rows.get("2024-03-01 10:00:00").contains(2L), s"got $rows")
      assert(rows.get("2024-03-01 10:05:00").contains(1L), s"got $rows")
      // the open tail window ([10:20,10:25)) has not closed -> not emitted
      assert(!rows.contains("2024-03-01 10:20:00"), s"open window emitted early: $rows")
    } finally q.stop()
  }

  test("composition: watermarked window aggregates land in a graft table exactly once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("stream-winagg-tbl")
    // bucket == window size: every closed 5-minute window is one coverage
    // bucket, so append-once semantics are also coverage-checked
    val t = TsTable.create(root, TableMeta("win_counts",
      TableKind.TimeSeries(TimeIndexSpec("ts", Nil, TimeBucket.parse("5m"), None)), None, None))
    val ckpt = tmpDir("stream-winagg-ckpt")
    val mem = MemoryStream[(java.sql.Timestamp, Double)]
    val agg = graft.streaming.StreamAnalytics.windowedCounts(
      mem.toDF().toDF("ts", "value"), "ts", "5 minutes", "1 minute")
      .select(col("window_start").as("ts"), col("n"))
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val q = StreamingIngest.sink(agg, t, ckpt).start()
    try {
      mem.addData(Seq((ts("2024-03-01 10:00:10"), 1.0), (ts("2024-03-01 10:02:00"), 2.0),
        (ts("2024-03-01 10:06:00"), 3.0)))
      q.processAllAvailable()
      mem.addData(Seq((ts("2024-03-01 10:20:00"), 4.0)))
      q.processAllAvailable()
      mem.addData(Seq((ts("2024-03-01 10:21:00"), 5.0)))
      q.processAllAvailable()
    } finally q.stop()
    t.refresh()
    val rows = t.scan(spark).select(col("ts").cast("string"), col("n"))
      .as[(String, Long)].collect().toMap
    assert(rows == Map("2024-03-01 10:00:00" -> 2L, "2024-03-01 10:05:00" -> 1L),
      s"closed windows wrong: $rows")
    // restart on the same checkpoint with no new data: nothing lands twice
    val mem2 = MemoryStream[(java.sql.Timestamp, Double)]
    val agg2 = graft.streaming.StreamAnalytics.windowedCounts(
      mem2.toDF().toDF("ts", "value"), "ts", "5 minutes", "1 minute")
      .select(col("window_start").as("ts"), col("n"))
    StreamingIngest.ingestAvailable(agg2, t, ckpt)
    t.refresh()
    assert(t.scan(spark).count() == 2, "replay duplicated windowed aggregates")
  }

  test("custom-state streaming dedup: first key occurrence across batches, min id in batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val out = graft.streaming.StreamAnalytics.dedupFirstSeen(
      mem.toDF().toDF("fp", "doc_id"), "fp", "doc_id")
    val q = out.toDF("fp", "doc_id").writeStream.format("memory")
      .queryName("dedup_stream").outputMode("append").start()
    try {
      mem.addData(Seq(("fpA", "doc3"), ("fpA", "doc1"), ("fpB", "doc2")))
      q.processAllAvailable()
      // second batch repeats fpA/fpB (state must swallow) + a new key
      mem.addData(Seq(("fpA", "doc9"), ("fpB", "doc8"), ("fpC", "doc7")))
      q.processAllAvailable()
      val rows = spark.table("dedup_stream").as[(String, String)].collect().toMap
      assert(rows == Map("fpA" -> "doc1", "fpB" -> "doc2", "fpC" -> "doc7"),
        s"streaming dedup wrong: $rows")
    } finally q.stop()
  }

  test("composition: per-batch incremental dedup against the growing persisted index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog while the cat sleeps on the warm windowsill every afternoon"
    val alt = "spark catalyst rewrites logical plans with rule batches until a fixed point is reached each run"
    val corpusP = tmpDir("inc-corpus") + "/p"
    val idxP = tmpDir("inc-idx") + "/p"
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    empty.write.parquet(corpusP)
    graft.ops.Dedup.minhashIndex(empty, "text", "doc_id").write.parquet(idxP)

    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val batch = b.toDF().localCheckpoint(true)
        val corpus = spark.read.parquet(corpusP)
        val index = spark.read.parquet(idxP)
        val dups = graft.ops.Dedup.dedupAgainstIndex(batch, "text", "doc_id",
          index, corpus, "text", "doc_id", threshold = 0.5)
        val batchIds = batch.select(col("doc_id").as("id_match"))
        // corpus dups: drop the arriving doc; within-batch dups: keep the
        // smaller id (greedy min-keep), drop the larger
        val dropIds = dups.join(batchIds, Seq("id_match"), "left_anti")
          .select(col("id_new").as("doc_id"))
          .union(dups.join(batchIds, Seq("id_match"), "left_semi")
            .select(col("id_match").as("doc_id")))
          .distinct()
        // survivors must be materialized BEFORE the writes: their plan
        // reads the same corpus/index dirs the writes append to
        val survivors = batch.join(dropIds, Seq("doc_id"), "left_anti")
          .localCheckpoint(true)
        survivors.write.mode("append").parquet(corpusP)
        graft.ops.Dedup.minhashIndex(survivors, "text", "doc_id")
          .write.mode("append").parquet(idxP)
        ()
      }.start()
    try {
      mem.addData(Seq((1L, base), (2L, alt)))
      q.processAllAvailable()
      // batch 2: 3 = exact dup of corpus doc 1; 4 = near-dup of 1 (and of
      // 3); 5 = genuinely new
      mem.addData(Seq((3L, base), (4L, base.replace("warm", "cold")),
        (5L, "fresh content about parquet bloom filters and row group statistics")))
      q.processAllAvailable()
      val ids = spark.read.parquet(corpusP).select("doc_id").as[Long].collect().toSet
      assert(ids == Set(1L, 2L, 5L), s"corpus after streaming dedup: $ids")
      // the index grew with the survivors only
      val idxIds = spark.read.parquet(idxP).select("id").as[Long].collect().toSet
      assert(idxIds == Set(1L, 2L, 5L), s"index ids: $idxIds")
    } finally q.stop()
  }

  test("legacy 'stream:file:/…' watermark migrates forward before the query starts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("stream-legacy")
    val t = TsTable.create(root, tokenMeta)
    val ckpt = tmpDir("stream-legacy-ckpt")
    val ckptUri = "file:" + ckpt // pre-canonicalization spelling

    // simulate a pre-upgrade table: batches 0..1 recorded under the RAW
    // file:-URI key (what the old appId produced for URI checkpoints)
    val legacyKey = "stream:" + ckptUri
    t.commit(txn = Some((legacyKey, 1L)))(_ => graft.table.Change())
    val newKey = StreamingIngest.appId(ckptUri)
    assert(newKey != legacyKey, "fixture must exercise the spelling change")

    // ...and a checkpoint that believes batch 0..1 are done: feed the same
    // batches again through the sink — with migration the replay must skip
    val rows = TokenGen.generate(spark, 30).as[Tok].collect().toSeq
    val mem = MemoryStream[Tok]
    mem.addData(rows)
    // first post-upgrade run: batch ids restart at 0 here (fresh ckpt dir),
    // and 0..1 sit under the legacy key only — without migration they land
    StreamingIngest.ingestAvailable(mem.toDF(), t, ckptUri)
    t.refresh()
    assert(t.state.txns.get(newKey).exists(_ >= 1L),
      s"legacy watermark not migrated: ${t.state.txns}")
    assert(t.scan(spark).count() == 0,
      "replayed batches under the legacy watermark were re-appended")

    // the restart may also use the BARE path while history holds the
    // file:-URI key (round-3 review finding): migration must still fire
    val root2 = tmpDir("stream-legacy2")
    val t2 = TsTable.create(root2, tokenMeta)
    val ckpt2 = tmpDir("stream-legacy2-ckpt")
    t2.commit(txn = Some(("stream:file:" + ckpt2, 1L)))(_ => graft.table.Change())
    val mem2 = MemoryStream[Tok]
    mem2.addData(rows)
    StreamingIngest.ingestAvailable(mem2.toDF(), t2, ckpt2) // bare-path spelling
    t2.refresh()
    assert(t2.state.txns.get(StreamingIngest.appId(ckpt2)).exists(_ >= 1L),
      s"bare-path restart did not migrate the file:-URI watermark: ${t2.state.txns}")
    assert(t2.scan(spark).count() == 0, "bare-path restart re-appended replayed batches")
  }
}
