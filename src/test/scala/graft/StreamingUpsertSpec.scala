package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.data.TokenGen
import graft.meta._
import graft.maintain.MergeInto
import graft.streaming.{StreamingIngest, StreamingUpsert}
import graft.table.{Change, TsTable}

/** Streaming CDC upsert: micro-batches land as transactional merges,
  * exactly-once under batch replay (same watermark discipline as
  * StreamingIngest, carried by the MERGE commit itself). */
class StreamingUpsertSpec extends SparkFunSuite {

  private def tokenMeta = TableMeta("tokens",
    TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), "zorder")), None, None)

  private def id(i: Long): String = f"doc-$i%012d"

  private def dataFiles(root: String): Set[String] = {
    val dir = java.nio.file.Paths.get(root, "data")
    if (!java.nio.file.Files.exists(dir)) Set.empty
    else {
      val s = java.nio.file.Files.walk(dir)
      try {
        val it = s.iterator()
        val b = Set.newBuilder[String]
        while (it.hasNext) { val p = it.next(); if (java.nio.file.Files.isRegularFile(p)) b += p.toString }
        b.result()
      } finally s.close()
    }
  }

  test("streamed revision batches converge: updates revised, inserts land, rest byte-identical") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("upsert-tbl")
    val t = TsTable.create(root, tokenMeta)
    t.append(TokenGen.generate(spark, 400, numFiles = 4))

    val revA = TokenGen.generateForIds(spark, (0L until 50L).map(id), salt = "v2")
      .unionByName(TokenGen.generateForIds(spark, (10000L until 10020L).map(id), salt = "v2"))
    val revB = TokenGen.generateForIds(spark, (50L until 80L).map(id), salt = "v2")

    val mem = MemoryStream[Tok]
    mem.addData(revA.as[Tok].collect().toSeq)
    mem.addData(revB.as[Tok].collect().toSeq)
    StreamingUpsert.applyAvailable(mem.toDF(), t, tmpDir("upsert-ckpt"))
    t.refresh()

    assert(t.scan(spark).count() == 420)
    assert(t.scan(spark).select("doc_id").distinct().count() == 420)
    // revised + inserted rows carry the v2 arrays
    val expected = TokenGen.generateForIds(
      spark, ((0L until 80L) ++ (10000L until 10020L)).map(id), salt = "v2")
      .withColumnRenamed("tokens", "exp").select("doc_id", "exp")
    val mismatch = t.scan(spark).join(expected, "doc_id")
      .where(not(col("tokens") === col("exp"))).count()
    assert(mismatch == 0, s"$mismatch revised rows lack the v2 token arrays")
    // an untouched row is byte-identical to the original generator output
    val (_, origTokens) = TokenGen.expectedRow(spark, id(200))
    val got = t.scan(spark).where(col("doc_id") === id(200))
      .select("tokens").as[Array[Int]].collect()
    assert(got.length == 1 && got(0).sameElements(origTokens))
  }

  test("crash between merge commit and Spark checkpoint: replayed batch is skipped") {
    // THE exactly-once crash window, upsert edition: the foreachBatch
    // merge committed (DV upserts + adds + SetTxn watermark in one log
    // commit), the driver died before Spark wrote its checkpoint. On
    // restart Spark replays batch 0 with the same data; the watermark
    // check inside the commit's OCC loop must skip it.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("upsert-crash")
    val t = TsTable.create(root, tokenMeta)
    t.append(TokenGen.generate(spark, 200, numFiles = 2))
    val ckpt = tmpDir("upsert-crash-ckpt")
    val app = StreamingIngest.appId(ckpt)

    val rev = TokenGen.generateForIds(spark, (0L until 30L).map(id), salt = "v2")
      .unionByName(TokenGen.generateForIds(spark, Seq(id(20000L)), salt = "v2"))
    val revRows = rev.as[Tok].collect().toSeq

    // first attempt: table commit landed, checkpoint write did not
    MergeInto.mergeMor(spark, t, rev, txn = Some((app, 0L)))
    assert(t.scan(spark).count() == 201)
    val vAfterCrash = t.version
    val filesAfterCrash = dataFiles(root)

    // restart: Spark believes batch 0 never ran and replays it
    val mem = MemoryStream[Tok]
    mem.addData(revRows)
    StreamingUpsert.applyAvailable(mem.toDF(), t, ckpt)
    t.refresh()
    assert(t.scan(spark).count() == 201, "replayed batch 0 double-applied")
    assert(t.scan(spark).select("doc_id").distinct().count() == 201)
    assert(t.version == vAfterCrash, "replayed batch 0 produced a new commit")
    assert(dataFiles(root) == filesAfterCrash, "replayed batch leaked segment/sidecar files")

    // the stream is not wedged: the next batch lands normally
    mem.addData(TokenGen.generateForIds(spark, Seq(id(20001L)), salt = "v2").as[Tok].collect().toSeq)
    StreamingUpsert.applyAvailable(mem.toDF(), t, ckpt)
    t.refresh()
    assert(t.scan(spark).count() == 202)
    assert(t.state.txns(app) == 1L)
  }

  test("sink retries transient maintenance aborts, propagates everything else") {
    var calls = 0
    val got = StreamingUpsert.retryingAborts(5) {
      calls += 1
      if (calls < 3) throw new IllegalStateException(
        "swap aborted: segments already rewritten by a concurrent job: seg-x")
      42
    }
    assert(got == 42 && calls == 3)
    // exhaustion rethrows the LAST abort
    val e = intercept[IllegalStateException](StreamingUpsert.retryingAborts(2) {
      throw new IllegalStateException("DV attach aborted: segments re-DV'd by a concurrent DELETE: s")
    })
    assert(e.getMessage.contains("aborted"))
    // non-abort failures are never swallowed or retried
    var once = 0
    intercept[RuntimeException](StreamingUpsert.retryingAborts(5) {
      once += 1; throw new RuntimeException("boom")
    })
    assert(once == 1)
  }

  test("in-loop replay unwinds outside the lock: swap deletes its staging, DV attach defers to caller") {
    import spark.implicits._
    val root = tmpDir("upsert-replay")
    val t = TsTable.create(root, tokenMeta)
    t.append(TokenGen.generate(spark, 100, numFiles = 2))
    t.commit(txn = Some(("stream:x", 5L)))(_ => Change())
    val v = t.version
    val before = dataFiles(root)

    // copy-on-write swap: staged files must be GONE once its scope closes
    val seg = t.state.liveSegments.head
    val (v1, landed1) = t.scoped { s =>
      val added = s.stageSegments(t.scan(spark).where(col("doc_id") < id(50)))
      assert(dataFiles(root) != before, "fixture must stage files")
      (s.commit(txn = Some(("stream:x", 5L)))(_ =>
        Change(removes = Seq(seg), adds = added)), s.landed)
    }
    assert(v1 == v && !landed1)
    assert(dataFiles(root) == before, "aborted swap leaked staged segments")

    // DV attach: the replay reaches the caller's scope, which owns (and
    // deletes) the sidecar the attach staged
    val dvRel = "_dv/dv-replayed.dv"
    val (v2, landed2) = t.scoped { s =>
      s.writeSidecar(dvRel, Array[Byte](1))
      (s.commit(txn = Some(("stream:x", 3L)))(_ =>
        Change(upserts = Seq(seg -> seg.copy(dvPath = Some(dvRel))))), s.landed)
    }
    assert(v2 == v && !landed2)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, dvRel)),
      "replayed DV attach leaked its sidecar")
    assert(t.version == v, "replayed commits must not advance the log")
  }
}
