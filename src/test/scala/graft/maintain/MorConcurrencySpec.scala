package graft.maintain

import org.apache.spark.sql.functions._
import graft.SparkFunSuite
import graft.data.TokenGen
import graft.meta._
import graft.log.LogAction
import graft.table.{Change, CommitScope, CheckViolationException, TsTable}

/** OCC abort paths of the merge-on-read commit: a DV attach prepared
  * against one snapshot must REFUSE to land over a concurrently rewritten
  * or re-DV'd base (its bitmaps were unioned against that base's DVs —
  * applying them elsewhere would silently drop the other writer's
  * deletes), and the abort must leave no sidecar debris. */
class MorConcurrencySpec extends SparkFunSuite {

  private def tokenMeta = TableMeta("tokens",
    TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), "zorder")), None, None)

  private def dvFiles(root: String): Seq[String] = {
    val d = java.nio.file.Paths.get(s"$root/_dv")
    if (!java.nio.file.Files.isDirectory(d)) return Nil
    val s = java.nio.file.Files.list(d)
    try { import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString).toSeq }
    finally s.close()
  }

  test("DV attach aborts when a concurrent compaction rewrote the candidates; no debris") {
    val root = tmpDir("mor-occ")
    val t = TsTable.create(root, tokenMeta)
    t.append(TokenGen.generate(spark, 400, numFiles = 4))
    val candidates = t.state.liveSegments

    val e = intercept[IllegalStateException] {
      t.scoped { scope =>
        // prepare the MOR plan against the current snapshot (sidecars written)
        val base = DeleteWhere.morBase(spark, t, candidates)(raw =>
          raw.select(
            col("_metadata.file_path").as("__f"),
            col("_metadata.row_index").as("__i"),
            (col("n_tok") < 900).as("__m"),
            DeleteWhere.timeMicrosExpr(t).as("__t")))
        val plan = DeleteWhere.morCompute(spark, t, scope, candidates, base).get
        assert(dvFiles(root).nonEmpty, "plan sidecars staged")

        // concurrent writer swaps the candidate files away
        Compaction.run(spark, t, targetFileSize = 8L * 1024 * 1024)

        scope.commit()(_ => plan.change)
      }
    }
    assert(e.getMessage.contains("already rewritten"))
    assert(dvFiles(root).isEmpty, "aborted attach must leave no sidecars")
    // table unharmed: full row count, no DVs
    assert(t.scan(spark).count() == 400)
    assert(t.state.liveSegments.forall(_.dvPath.isEmpty))
  }

  test("copy-on-write swap aborts when a concurrent MOR delete re-DV'd its inputs") {
    // the mirror race of the DV-attach guard: a rewrite that read its
    // inputs under the OLD deletion-vector state must not commit over a
    // concurrently attached DV — it would resurrect the masked rows
    val root = tmpDir("mor-swap")
    val t = graft.table.TsTable.create(root, tokenMeta)
    t.append(TokenGen.generate(spark, 400, numFiles = 2))
    val inputs = t.state.liveSegments
    // the rewrite's read, planned under the current (DV-free) snapshot
    val rewriteDf = spark.read.parquet(inputs.map(s => s"$root/${s.path}"): _*)

    // concurrent MOR delete lands first
    val del = DeleteWhere.deleteMor(spark, t, col("source") === "src00")
    assert(del.rowsDeleted > 0)
    val liveAfterDelete = t.scan(spark).count()

    val e = intercept[IllegalStateException] {
      t.scoped { scope =>
        val added = scope.stageSegments(rewriteDf)
        scope.commit()(_ => Change(removes = inputs, adds = added))
      }
    }
    assert(e.getMessage.contains("re-DV'd"))
    // nothing resurrected, no orphan output committed
    t.refresh()
    assert(t.scan(spark).count() == liveAfterDelete)
    assert(t.scan(spark).where(col("source") === "src00").count() == 0)
  }

  test("adds-only restore of DV'd segments: diff takes the join path, stream skips it") {
    val root = tmpDir("mor-restore-adds")
    val t = graft.table.TsTable.create(root, tokenMeta)
    t.append(TokenGen.generate(spark, 300, numFiles = 1))
    // v: DV attach; then fully remove the survivors (metadata-only)
    DeleteWhere.deleteMor(spark, t, col("n_tok") < 1000)
    val vDv = t.version
    val liveAtDv = t.scan(spark).count()
    assert(liveAtDv > 0 && liveAtDv < 300)
    DeleteWhere.delete(spark, t, org.apache.spark.sql.functions.lit(true))
    val vEmpty = t.version
    assert(t.scan(spark).count() == 0)
    // restore to the DV'd snapshot: the diff vs empty is ADDS-ONLY, and
    // the re-added segment carries its deletion vector
    Restore.restore(t, vDv)
    val vRestored = t.version
    val restoredCommit = t.store.readCommit(vRestored)
    assert(!restoredCommit.actions.exists(_.isInstanceOf[graft.log.LogAction.RemoveSegment]))
    assert(restoredCommit.actions.exists {
      case graft.log.LogAction.AddSegment(s) => s.dvPath.isDefined; case _ => false
    })

    // diff over that range must NOT take the raw-file fast path: inserts
    // are exactly the LIVE rows of the restored snapshot
    val d = SnapshotDiff.diff(spark, t, vEmpty, vRestored, "doc_id")
    assert(d.count() == liveAtDv)
    assert(d.queryExecution.executedPlan.toString.contains("Join"),
      "DV-carrying adds-only commit must use the general diff path")

    // a stream tailing from the restore must SKIP it (change commit), not
    // replay the raw file (which would emit the DV-masked rows)
    val out = tmpDir("mor-restore-out"); val ckpt = tmpDir("mor-restore-ckpt")
    val q = t.readStream(spark, Map(
        "skipChangeCommits" -> "true", "startingVersion" -> vRestored.toString))
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val emitted = try spark.read.parquet(out).count() catch { case _: Exception => 0L }
    assert(emitted == 0L, "DV-carrying adds-only commit must be skipped by the stream")
  }

  test("DV attach aborts when candidates were re-DV'd by a concurrent DELETE") {
    val root = tmpDir("mor-occ2")
    val t = TsTable.create(root, tokenMeta)
    t.append(TokenGen.generate(spark, 400, numFiles = 2))
    val candidates = t.state.liveSegments

    val mk = (scope: CommitScope) => DeleteWhere.morCompute(spark, t, scope, candidates,
      DeleteWhere.morBase(spark, t, candidates)(raw =>
        raw.select(
          col("_metadata.file_path").as("__f"),
          col("_metadata.row_index").as("__i"),
          (col("source") === "src00").as("__m"),
          DeleteWhere.timeMicrosExpr(t).as("__t")))).get

    val e = intercept[IllegalStateException] {
      t.scoped { scope =>
        val plan = mk(scope)

        // concurrent MOR delete re-DVs the same files (same ids survive)
        DeleteWhere.deleteMor(spark, t, col("source") === "src01")
        assert(t.state.liveSegments.exists(_.dvPath.isDefined))

        scope.commit()(_ => plan.change)
      }
    }
    assert(e.getMessage.contains("re-DV'd"))
    // the concurrent delete's own masks are intact: a re-run of the failed
    // delete sees the refreshed base and both deletes compose
    DeleteWhere.deleteMor(spark, t, col("source") === "src00")
    assert(t.scan(spark)
      .where(col("source") === "src00" || col("source") === "src01").count() == 0)
  }
  test("metadata-only DELETE removal aborts when a concurrent MOR delete re-DV'd the file") {
    // DELETE WHERE drops a file whose every live row matched with a pure
    // Remove; read under the OLD deletion vector, that removal must not
    // land over a concurrent MOR delete's DV, or the change feed records
    // the DV'd rows as deleted twice and the report overcounts
    val root = tmpDir("mor-remove")
    val t = TsTable.create(root, tokenMeta)
    t.append(TokenGen.generate(spark, 400, numFiles = 2))
    // plan the removals: `DELETE WHERE true` fully matches every file
    val hit = t.state.liveSegments
    // concurrent MOR delete re-DVs the same files (same ids survive)
    val del = DeleteWhere.deleteMor(spark, t, col("source") === "src01")
    assert(del.rowsDeleted > 0 && t.state.liveSegments.exists(_.dvPath.isDefined))
    val e = intercept[IllegalStateException](t.commit()(_ => Change(removes = hit)))
    assert(e.getMessage.contains("re-DV'd"))
    // nothing removed; the concurrent delete's masks are intact
    assert(t.scan(spark).count() == 400 - del.rowsDeleted)
  }

  /** Files under the staged-artifact directories that no commit of the
    * log references (plus any `.staging-*` tree, which never is). */
  private def unreferenced(t: TsTable): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val referenced = (1L to t.version).flatMap(v => t.store.readCommit(v).actions).flatMap {
      case LogAction.AddSegment(s) => Seq(s.path) ++ s.coveragePath ++ s.dvPath
      case LogAction.AddCdcFile(p, _) => Seq(p)
      case _ => Nil
    }.toSet
    val rootPath = java.nio.file.Paths.get(t.root)
    val staged = Seq("data", "_coverage/segments", "_dv", "_cdc").flatMap { d =>
      val dir = rootPath.resolve(d)
      if (!java.nio.file.Files.isDirectory(dir)) Nil
      else {
        val w = java.nio.file.Files.walk(dir)
        try w.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(p => rootPath.relativize(p).toString).toList
        finally w.close()
      }
    }
    val l = java.nio.file.Files.list(rootPath)
    val stagingDirs =
      try l.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith(".staging-")).toList
      finally l.close()
    staged.filterNot(referenced) ++ stagingDirs
  }

  test("abort-cleanup matrix: every abort leaves no unreferenced file and the rows unchanged") {
    import spark.implicits._
    val pricesMeta = TableMeta("prices",
      TableKind.TimeSeries(TimeIndexSpec("ts", Seq("symbol"), TimeBucket.parse("1m"), None)),
      None, None)
    def prices(lo: Int, hi: Int) = (lo until hi).map(i => (i.toLong, "ACME", i.toDouble))
      .toDF("epoch_s", "symbol", "price")
      .select(col("epoch_s").cast("timestamp").as("ts"), col("symbol"), col("price"))
    def rows(t: TsTable): Seq[String] = t.scan(spark).collect().map(_.toString).toSeq.sorted
    val txn = ("stream:matrix", 1L)

    // abort kinds: what lands between the verb's staging and its commit,
    // and what the failed commit must report
    val aborts: Seq[(String, TsTable => Unit, Option[String])] = Seq(
      ("concurrent rewrite", t => Compaction.run(spark, t, targetFileSize = 8L * 1024 * 1024),
        Some("already rewritten")),
      ("concurrent re-DV", t => DeleteWhere.deleteMor(spark, t, col("price") % 7 === 0),
        Some("re-DV'd")),
      ("streaming txn replay", t => t.commit(txn = Some(txn))(_ => Change()), None),
      ("CHECK added", t => t.addCheck(spark, "price_nonneg", "price >= 0"),
        Some("price_nonneg")))
    // verb families: stage through the scope, run the abort, then commit.
    // Every staged row carries price -1, which the added CHECK rejects.
    val verbs: Seq[(String, Boolean, (TsTable, CommitScope, () => Unit, Option[(String, Long)]) => Long)] = Seq(
      ("append", false, (t, scope, abort, tx) => {
        val staged = t.stageAppend(scope, prices(1200, 1260).withColumn("price", lit(-1.0)))
        abort()
        scope.commit(txn = tx)(st => t.appendChange(scope, st, staged))
      }),
      ("copy-on-write swap", true, (t, scope, abort, tx) => {
        val read = t.state.liveSegments
        val added = scope.stageSegments(t.segmentScan(spark, read)
          .withColumn("price", when(col("price") < 50, lit(-1.0)).otherwise(col("price"))))
        abort()
        scope.commit(txn = tx)(_ => Change(removes = read, adds = added))
      }),
      ("MOR attach with adds and CDC", true, (t, scope, abort, tx) => {
        val read = t.state.liveSegments
        val matched = col("price") < 50
        val plan = DeleteWhere.morCompute(spark, t, scope, read,
          DeleteWhere.morBase(spark, t, read)(raw => raw.select(
            col("_metadata.file_path").as("__f"), col("_metadata.row_index").as("__i"),
            matched.as("__m"), DeleteWhere.timeMicrosExpr(t).as("__t")))).get
        val images = t.segmentScan(spark, read).where(matched).withColumn("price", lit(-1.0))
        val adds = scope.stageSegments(images)
        val cdc = scope.stageCdc(images.withColumn("_change_type", lit("update_post")))
        abort()
        scope.commit(txn = tx)(_ => plan.change.copy(adds = adds, actions = cdc))
      }))

    for ((verb, reads, run) <- verbs; (kind, abort, message) <- aborts
         if reads || !kind.startsWith("concurrent")) {
      val label = s"$verb / $kind"
      val t = TsTable.create(tmpDir("abort-matrix"), pricesMeta)
      t.append(prices(0, 480).repartition(2))
      t.enableCdf()
      var expected: Seq[String] = Nil
      val tx = if (kind.contains("replay")) Some(txn) else None
      val outcome = scala.util.Try(t.scoped { scope =>
        val v = run(t, scope, () => { abort(t); expected = rows(t) }, tx)
        (v, scope.landed)
      })
      message match {
        case Some(m) =>
          val e = outcome.failed.getOrElse(fail(s"$label: commit landed"))
          assert(e.getMessage.contains(m), s"$label: ${e.getMessage}")
          if (kind == "CHECK added") assert(e.isInstanceOf[CheckViolationException], label)
        case None =>
          assert(outcome.isSuccess && !outcome.get._2, s"$label: replay must land nothing")
      }
      assert(unreferenced(t).isEmpty, s"$label left ${unreferenced(t)}")
      assert(rows(t) == expected, s"$label changed the table")
    }
  }
}
