package graft

import org.apache.spark.sql.functions._
import graft.data.TokenGen
import graft.maintain._
import graft.meta._
import graft.table.TsTable

/** North-rule maintenance operators: bin-packing compaction with Z-order /
  * Hilbert clustering, snapshot expiration + manifest rewrite, MERGE INTO —
  * each gated on token-array byte equality and snapshot isolation. */
class MaintenanceSpec extends SparkFunSuite {

  private def tokenMeta(curve: String) = TableMeta("tokens",
    TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), curve)), None, None)

  private def tokenChecksum(df: org.apache.spark.sql.DataFrame): Array[org.apache.spark.sql.Row] =
    df.select(col("doc_id"), col("n_tok"), col("source"), hash(col("tokens")).as("th"))
      .orderBy("doc_id").collect()

  test("generic --cluster-by columns: zorder compaction + MERGE on a non-token table") {
    // the curve key must fit the TABLE's cluster spec, not the token
    // shape: bigint key, no n_tok column anywhere (regression: this
    // failed with UNRESOLVED_COLUMN n_tok before per-spec fitting)
    val root = tmpDir("compact-generic")
    val t = TsTable.create(root, TableMeta("docs",
      TableKind.Clustered(ClusterSpec(Seq("source", "n_chars", "doc_id"), "zorder")), None, None))
    val docs = spark.range(0, 2000).select(
      col("id").as("doc_id"),
      concat(lit("text-"), col("id")).as("text"),
      (col("id") % 97 + 10).cast("long").as("n_chars"),
      concat(lit("s"), pmod(col("id"), lit(5))).as("source"))
    t.append(docs.repartition(8))
    val before = t.scan(spark).orderBy("doc_id").collect()

    val rep = Compaction.run(spark, t, targetFileSize = 512L * 1024 * 1024)
    assert(rep.binsExecuted >= 1)
    val after = t.scan(spark).orderBy("doc_id").collect()
    assert(before.length == after.length)
    before.zip(after).foreach { case (b, a) => assert(b == a) }
    // per-file stats on the spec'd columns survive for pruning
    val seg = t.state.liveSegments.head
    assert(seg.stats.contains("source") && seg.stats.contains("n_chars"))

    // MERGE over the generic shape: 100 updates + 10 inserts
    val upd = docs.where(col("doc_id") < 100)
      .unionByName(docs.where(col("doc_id") < 10)
        .withColumn("doc_id", col("doc_id") + 100000L))
      .withColumn("text", lit("updated"))
    MergeInto.merge(spark, t, upd, key = "doc_id")
    assert(t.scan(spark).count() == 2010)
    assert(t.scan(spark).where(col("text") === "updated").count() == 110)

    // 2-column spec: the curve pads its third dimension with a constant
    val root2 = tmpDir("compact-generic2")
    val t2 = TsTable.create(root2, TableMeta("docs2",
      TableKind.Clustered(ClusterSpec(Seq("source", "doc_id"), "hilbert")), None, None))
    t2.append(docs.repartition(6))
    val rep2 = Compaction.run(spark, t2, targetFileSize = 512L * 1024 * 1024)
    assert(rep2.binsExecuted >= 1)
    assert(t2.scan(spark).count() == 2000)
  }

  test("compaction: fewer files, byte-identical rows, snapshot isolation held") {
    val root = tmpDir("compact")
    val t = TsTable.create(root, tokenMeta("zorder"))
    t.append(TokenGen.generate(spark, 2000, numFiles = 20)) // pathological small files
    val before = tokenChecksum(t.scan(spark))
    val vBefore = t.version
    val report = Compaction.run(spark, t, targetFileSize = 512L * 1024 * 1024)
    assert(report.binsExecuted >= 1)
    assert(t.state.liveSegments.size < 20)
    // per-row equality incl. token arrays (hash proxy + full compare)
    val after = tokenChecksum(t.scan(spark))
    assert(after.length == before.length)
    before.zip(after).foreach { case (b, a) => assert(b == a) }
    val fullBefore = t.scanAt(spark, vBefore).orderBy("doc_id").collect()
    val fullAfter = t.scan(spark).orderBy("doc_id").collect()
    fullBefore.zip(fullAfter).foreach { case (b, a) =>
      assert(b.getSeq[Int](1) == a.getSeq[Int](1), s"token array changed for ${b.getString(0)}")
    }
    // snapshot isolation: pinned pre-compaction version still reads old files
    assert(t.scanAt(spark, vBefore).count() == 2000)
    // clustering actually ordered files: per-file source sets should shrink
    val seg = t.state.liveSegments.head
    assert(seg.stats.contains("source"))
  }

  test("concurrent bin execution: many bins through a 4-thread pool, OCC commits all land") {
    val root = tmpDir("compact-parallel")
    val t = TsTable.create(root, tokenMeta("zorder"))
    // groupFactor=1 with a 2.5×-mean-file cap packs pairs (pair sums
    // ~2×mean always fit; triples ~3×mean never do) → ~12 two-file bins
    // from 24 files, all racing commits through the 4-thread pool. The
    // 2.5× slack absorbs per-file size variance so no bin degenerates to
    // a filtered singleton and the multi-bin assertion cannot flake.
    t.append(TokenGen.generate(spark, 2400, numFiles = 24))
    val before = tokenChecksum(t.scan(spark))
    val vBefore = t.version
    val inBytes = t.state.liveSegments.flatMap(_.fileSize).sum
    val perFile = inBytes / 24
    val report = Compaction.run(spark, t, targetFileSize = perFile * 5 / 2,
      groupFactor = 1, jobId = "job-par", binParallelism = 4)
    assert(report.binsPlanned >= 4, s"wanted a real multi-bin pass, got ${report.binsPlanned}")
    assert(report.binsExecuted == report.binsPlanned)
    // one OCC commit per bin, every one landed despite version races
    assert(t.version == vBefore + report.binsExecuted)
    val after = tokenChecksum(t.scan(spark))
    assert(after.length == before.length)
    before.zip(after).foreach { case (b, a) => assert(b == a) }
    // lineage contract: each journal record carries THE version its own
    // swap committed at — under concurrent bins table.version keeps
    // advancing, so the record must hold the commit whose RemoveSegment
    // set is exactly that bin's inputs (not whatever version was current
    // when the thread got around to journaling)
    val records = new LineageJournal(root, "job-par").readAll()
    assert(records.size == report.binsExecuted)
    records.foreach { r =>
      val v = r.committedVersion.getOrElse(fail(s"bin ${r.binId} has no version"))
      val removed = t.store.readCommit(v).actions
        .collect { case graft.log.LogAction.RemoveSegment(id) => id }.toSet
      assert(removed == r.inputSegments.toSet,
        s"bin ${r.binId} journaled v$v but that commit removed $removed, not ${r.inputSegments.toSet}")
    }
    // the journal has every bin; a resume retry skips the whole pass
    val r2 = Compaction.run(spark, t, targetFileSize = perFile * 5 / 2,
      groupFactor = 1, jobId = "job-par", binParallelism = 4)
    assert(r2.binsExecuted == 0)
  }

  test("compaction is resumable: second run with same jobId skips completed bins") {
    val root = tmpDir("compact-resume")
    val t = TsTable.create(root, tokenMeta("zorder"))
    t.append(TokenGen.generate(spark, 1000, numFiles = 10))
    val r1 = Compaction.run(spark, t, targetFileSize = 512L * 1024 * 1024, jobId = "job-x")
    assert(r1.binsExecuted >= 1)
    val vAfter = t.version
    val r2 = Compaction.run(spark, t, targetFileSize = 512L * 1024 * 1024, jobId = "job-x")
    assert(r2.binsExecuted == 0) // all bins journaled as complete
    assert(t.version == vAfter)  // no new commits
    val journal = new LineageJournal(root, "job-x")
    val recs = journal.readAll()
    assert(recs.nonEmpty && recs.forall(_.metrics.exists(_.rowsIn > 0)))
  }

  test("hilbert clustering: same rows, valid curve") {
    val root = tmpDir("compact-hil")
    val t = TsTable.create(root, tokenMeta("hilbert"))
    t.append(TokenGen.generate(spark, 1000, numFiles = 8))
    val before = tokenChecksum(t.scan(spark))
    Compaction.run(spark, t, targetFileSize = 512L * 1024 * 1024)
    val after = tokenChecksum(t.scan(spark))
    before.zip(after).foreach { case (b, a) => assert(b == a) }
  }

  test("expire: orphan files deleted, checkpoint bounds replay, retained versions intact") {
    val root = tmpDir("expire")
    val t = TsTable.create(root, tokenMeta("zorder"))
    t.append(TokenGen.generate(spark, 500, numFiles = 5))
    Compaction.run(spark, t, targetFileSize = 512L * 1024 * 1024)
    val vCompacted = t.version
    val dataDir = java.nio.file.Paths.get(root, "data")
    val filesBefore = java.nio.file.Files.list(dataDir).count()
    val report = Expire.expire(t, vCompacted)
    assert(report.dataFilesDeleted == 5) // the 5 pre-compaction inputs
    val filesAfter = java.nio.file.Files.list(dataDir).count()
    assert(filesBefore - filesAfter == 5)
    assert(report.commitsDropped >= 1)
    // table still opens and scans correctly from the checkpoint
    val t2 = TsTable.open(root)
    assert(t2.version == vCompacted)
    assert(t2.scan(spark).count() == 500)
    // expired version is no longer reachable, retained one is
    intercept[Exception](t2.scanAt(spark, vCompacted - 1).count())
  }

  test("expire reclaims across cycles: compact->expire->append->compact->expire") {
    val root = tmpDir("expire-cycles")
    val t = TsTable.create(root, tokenMeta("zorder"))
    t.append(TokenGen.generate(spark, 400, numFiles = 4))
    Compaction.run(spark, t, targetFileSize = 512L * 1024 * 1024)
    val r1 = Expire.expire(t, t.version) // writes the first checkpoint
    assert(r1.dataFilesDeleted == 4)

    // no-leak invariant: after an expire at CURRENT, data/ holds exactly
    // the live segments — anything extra leaked past the orphan scan
    def assertNoLeak(tag: String): Unit = {
      val live = TsTable.open(root).state.liveSegments.size
      val onDisk = java.nio.file.Files.list(java.nio.file.Paths.get(root, "data")).count()
      assert(onDisk == live, s"$tag: $onDisk files on disk vs $live live segments (leak)")
    }
    assertNoLeak("cycle 1")

    // a second maintenance cycle AFTER a checkpoint exists: this compaction
    // removes both post-checkpoint appends AND the checkpoint-live output
    // of the first compaction — the latter is exactly what the round-1
    // orphan scan missed (seen-map not seeded from the checkpoint state),
    // leaking one file per compact→expire cycle forever
    t.append(TokenGen.generate(spark, 400, idStart = 10000, numFiles = 4))
    Compaction.run(spark, t, targetFileSize = 512L * 1024 * 1024)
    Expire.expire(t, t.version)
    assert(t.scan(spark).count() == 800)
    assertNoLeak("cycle 2")

    // third cycle: everything being compacted now predates a checkpoint
    Compaction.run(spark, TsTable.open(root), targetFileSize = 512L * 1024 * 1024)
    val t3 = TsTable.open(root)
    Expire.expire(t3, t3.version)
    assert(TsTable.open(root).scan(spark).count() == 800)
    assertNoLeak("cycle 3")
  }

  test("merge into: updates applied, inserts added, untouched rows byte-identical, files pruned") {
    val root = tmpDir("merge")
    val t = TsTable.create(root, tokenMeta("zorder"))
    // two disjoint doc_id ranges so stats can prune
    t.append(TokenGen.generate(spark, 500, idStart = 0, numFiles = 2))
    t.append(TokenGen.generate(spark, 500, idStart = 1000000, numFiles = 2))
    val before = t.scan(spark).orderBy("doc_id").collect()

    // updates: 50 revised docs in the LOW range (salted regeneration) + 10 new docs
    val updIds = (0 until 50).map(i => f"doc-${i * 10}%012d")
    val newIds = (0 until 10).map(i => f"doc-${5000000 + i}%012d")
    val updates = TokenGen.generateForIds(spark, updIds ++ newIds, salt = "v2")
    val report = MergeInto.merge(spark, t, updates)

    assert(report.updated == 50 && report.inserted == 10)
    // only the low-range files are candidates (stats pruning on doc_id)
    assert(report.candidates == 2, s"expected 2 candidate files, got ${report.candidates}")

    val after = t.scan(spark).orderBy("doc_id").collect().map(r => r.getString(0) -> r).toMap
    assert(after.size == 1010)
    // updated rows carry the salted arrays
    val expectUpd = TokenGen.generateForIds(spark, updIds, salt = "v2").collect()
      .map(r => r.getString(0) -> r).toMap
    updIds.foreach { id =>
      assert(after(id).getSeq[Int](1) == expectUpd(id).getSeq[Int](1), s"update not applied: $id")
    }
    // untouched rows byte-identical
    val beforeMap = before.map(r => r.getString(0) -> r).toMap
    beforeMap.keys.filterNot(updIds.toSet).foreach { id =>
      assert(after(id).getSeq[Int](1) == beforeMap(id).getSeq[Int](1), s"bystander perturbed: $id")
    }
    // inserts present
    newIds.foreach(id => assert(after.contains(id)))
  }

  test("merge into a compacted zorder table: bloom pruning beats interleaved ranges") {
    val root = tmpDir("merge-zorder")
    val t = TsTable.create(root, tokenMeta("zorder"))
    t.append(TokenGen.generate(spark, 4000, numFiles = 16))
    // small target size so the zordered table lands as several files, each
    // spanning nearly the whole doc_id range (curve interleaving)
    Compaction.run(spark, t, targetFileSize = 96L * 1024)
    val liveBefore = t.state.liveSegments.size
    assert(liveBefore >= 4, s"need a multi-file clustered table, got $liveBefore")

    // 3 point updates: each key lives in exactly one file, so bloom pruning
    // must rewrite a strict subset even though every [min,max] matches
    val updIds = Seq(7, 1234, 3999).map(i => f"doc-$i%012d")
    val before = t.scan(spark).orderBy("doc_id").collect()
    val report = MergeInto.merge(spark, t, TokenGen.generateForIds(spark, updIds, salt = "v3"))
    assert(report.updated == 3 && report.inserted == 0)
    assert(report.candidates < liveBefore,
      s"bloom pruning ineffective: ${report.candidates} of $liveBefore files rewritten")

    // correctness unchanged: updates applied, bystanders byte-identical
    val after = t.scan(spark).orderBy("doc_id").collect().map(r => r.getString(0) -> r).toMap
    assert(after.size == 4000)
    val expectUpd = TokenGen.generateForIds(spark, updIds, salt = "v3").collect()
      .map(r => r.getString(0) -> r).toMap
    updIds.foreach(id => assert(after(id).getSeq[Int](1) == expectUpd(id).getSeq[Int](1)))
    before.map(r => r.getString(0) -> r).filterNot(kv => updIds.contains(kv._1)).foreach {
      case (id, b) => assert(after(id).getSeq[Int](1) == b.getSeq[Int](1), s"bystander perturbed: $id")
    }
  }

  test("delete where: candidates stats-pruned, rows gone, untouched files byte-identical") {
    import graft.maintain.DeleteWhere
    val root = tmpDir("del-tbl")
    val t = TsTable.create(root, TableMeta("tokens",
      TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), "zorder")), None, None))
    // three appends with DISJOINT id ranges -> disjoint doc_id stats
    t.append(TokenGen.generate(spark, 100).coalesce(1))
    t.append(TokenGen.generate(spark, 100, idStart = 1000).coalesce(1))
    t.append(TokenGen.generate(spark, 100, idStart = 2000).coalesce(1))
    val before = t.state.liveSegments.map(s => s.segmentId -> s.path).toMap

    val rep = DeleteWhere.delete(spark, t,
      col("doc_id") >= "doc-000000001000" && col("doc_id") < "doc-000000001050")
    assert(rep.candidates == 1, s"stats pruning failed: ${rep.candidates} candidates of 3 files")
    assert(rep.rowsDeleted == 50 && rep.survivors == 250)
    assert(t.scan(spark).count() == 250)
    assert(t.scan(spark).where(col("doc_id") >= "doc-000000001000" &&
      col("doc_id") < "doc-000000001050").count() == 0)
    // the two untouched segments kept their ids (bytes never rewritten)
    val after = t.state.liveSegments.map(_.segmentId).toSet
    assert(before.keySet.intersect(after).size == 2)

    // delete-all on a file degenerates to a metadata-only remove commit
    val rep2 = DeleteWhere.delete(spark, t, col("doc_id") >= "doc-000000002000")
    assert(rep2.filesOut == 0 && rep2.rowsDeleted == 100)
    assert(t.scan(spark).count() == 150)

    // no-op delete (stats overlap but zero rows match): no rewrite, no
    // commit — the version must not move
    val vBefore = t.version
    val rep3 = DeleteWhere.delete(spark, t, col("doc_id") === "doc-000000000999")
    assert(rep3.rowsDeleted == 0 && t.version == vBefore,
      s"no-op delete rewrote/committed (v $vBefore -> ${t.version})")
  }

  test("predicate-scoped compaction touches only the stats-selected slice") {
    val root = tmpDir("compact-where")
    val t = TsTable.create(root, TableMeta("tokens",
      TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), "zorder")), None, None))
    // two id slices, several small files each -> disjoint doc_id stats
    t.append(TokenGen.generate(spark, 600, idStart = 0, numFiles = 4))
    t.append(TokenGen.generate(spark, 600, idStart = 1000000, numFiles = 4))
    val highBefore = t.state.liveSegments
      .filter(_.stats.get("doc_id").exists(_.min.exists {
        case graft.meta.StatVal.S(s) => s >= "doc-000001000000"
        case _ => false
      }))
      .map(_.segmentId).toSet
    assert(highBefore.size == 4)

    val rep = Compaction.run(spark, t, targetFileSize = 64L * 1024 * 1024,
      where = Some(col("doc_id") < "doc-000001000000"))
    assert(rep.filesIn == 4, s"scope leak: $rep") // only the low slice rewritten
    val after = t.state.liveSegments.map(_.segmentId).toSet
    assert(highBefore.subsetOf(after), "out-of-scope files were rewritten")
    assert(t.scan(spark).count() == 1200, "rows changed under scoped compaction")
    // unscoped follow-up compacts the rest (4 high files + the still-small
    // output file of the scoped pass get bin-packed together)
    val rep2 = Compaction.run(spark, t, targetFileSize = 64L * 1024 * 1024)
    assert(rep2.filesIn == 5 && t.scan(spark).count() == 1200)
  }

  test("maintenance split sizing is session-scoped — never bleeds into the shared session") {
    val key = "spark.sql.files.maxPartitionBytes"
    val before = spark.conf.get(key)
    Compaction.withSizedReadSplits(spark, 10L * 1024 * 1024 * 1024) { scoped =>
      assert(scoped ne spark)
      assert(scoped.conf.get(key) != before, "scoped session did not get the tuned split")
      // a concurrent query planning on the SHARED session mid-maintenance
      // must see its own (untouched) split size — round-2 finding
      assert(spark.conf.get(key) == before, "maintenance conf bled into the shared session")
      // the caller's runtime conf is carried into the scoped session
      assert(scoped.conf.get("spark.sql.shuffle.partitions") ==
        spark.conf.get("spark.sql.shuffle.partitions"))
    }
    assert(spark.conf.get(key) == before)
  }

  test("delete where: fully-matched files drop metadata-only while partials rewrite") {
    import spark.implicits._
    import graft.maintain.DeleteWhere
    val root = tmpDir("del-degenerate")
    val t = TsTable.create(root, TableMeta("vals",
      TableKind.Clustered(ClusterSpec(Seq("id"), "zorder")), None, None))
    // file A = {10..19} (fully inside the delete range), file B = {15..24}
    // (grazed: only 15..19 match), file C = {100..109} (stats-pruned)
    t.append((10L to 19L).toDF("id").coalesce(1))
    t.append((15L to 24L).toDF("id").coalesce(1))
    t.append((100L to 109L).toDF("id").coalesce(1))
    // ^ overlapping ranges OK: no coverage semantics on clustered tables
    val rep = DeleteWhere.delete(spark, t, col("id") < 20L)
    assert(rep.candidates == 2 && rep.rowsDeleted == 15, s"unexpected: $rep")
    assert(rep.filesDroppedMetaOnly == 1,
      s"fully-matched file should drop without a rewrite: $rep")
    assert(rep.filesOut == 1, s"only the grazed file should be rewritten: $rep")
    assert(t.scan(spark).select("id").as[Long].collect().sorted.toSeq ==
      ((20L to 24L) ++ (100L to 109L)).toSeq)
    // one atomic commit covered both the drop and the swap
    // (version advanced exactly once for the whole DELETE)
    val repAll = DeleteWhere.delete(spark, t, col("id") >= 20L && col("id") < 25L)
    assert(repAll.filesOut == 0 && repAll.filesDroppedMetaOnly == 1 &&
      repAll.rowsDeleted == 5, s"all-matched delete should be pure-Remove: $repAll")
  }

  test("delete where rejects nondeterministic predicates") {
    import spark.implicits._
    import graft.maintain.DeleteWhere
    val root = tmpDir("del-nondet")
    val t = TsTable.create(root, TableMeta("vals",
      TableKind.Clustered(ClusterSpec(Seq("id"), "zorder")), None, None))
    t.append((1L to 10L).toDF("id").coalesce(1))
    // two independent jobs evaluate the predicate; rand() could drop a
    // row set no single evaluation selected
    val e = intercept[IllegalArgumentException](
      DeleteWhere.delete(spark, t, rand() < 0.5))
    assert(e.getMessage.contains("deterministic"))
    assert(t.scan(spark).count() == 10, "rejected delete must not touch rows")
  }

  test("delete where works with a trailing-slash table root (path canonicalization)") {
    import spark.implicits._
    import graft.maintain.DeleteWhere
    val root = tmpDir("del-slash")
    TsTable.create(root, TableMeta("vals",
      TableKind.Clustered(ClusterSpec(Seq("id"), "zorder")), None, None))
    val t = TsTable.open(root + "/") // user-supplied trailing slash
    t.append((1L to 10L).toDF("id").coalesce(1))
    val rep = DeleteWhere.delete(spark, t, col("id") <= 3L)
    assert(rep.rowsDeleted == 3, s"trailing-slash root broke per-file attribution: $rep")
    assert(t.scan(spark).count() == 7)
  }

  test("delete where: candidates without actual matches are never rewritten") {
    import spark.implicits._
    import graft.maintain.DeleteWhere
    val root = tmpDir("del-perfile")
    val t = TsTable.create(root, TableMeta("vals",
      TableKind.Clustered(ClusterSpec(Seq("id"), "zorder")), None, None))
    // file A stats [0, 99] but holds only {0, 99}; file B holds {40, 60}
    t.append(Seq(0L, 99L).toDF("id").coalesce(1))
    t.append(Seq(40L, 60L).toDF("id").coalesce(1))
    val before = t.state.liveSegments.map(_.segmentId).toSet

    // id = 40: BOTH files are stats candidates (A's [min,max] covers 40),
    // but only B contains the row — A's bytes must survive untouched
    val rep = DeleteWhere.delete(spark, t, col("id") === 40L)
    assert(rep.candidates == 2 && rep.rowsDeleted == 1 && rep.filesOut == 1,
      s"per-file refinement failed: $rep")
    val after = t.state.liveSegments.map(_.segmentId).toSet
    assert(before.intersect(after).size == 1, "zero-match candidate was rewritten")
    assert(t.scan(spark).select("id").as[Long].collect().sorted.toSeq == Seq(0L, 60L, 99L))
  }

  test("delete where: NULL predicate rows are kept (SQL DELETE semantics)") {
    import spark.implicits._
    import graft.maintain.DeleteWhere
    val root = tmpDir("del-null")
    val t = TsTable.create(root, TableMeta("vals",
      TableKind.Clustered(ClusterSpec(Seq("id"), "zorder")), None, None))
    t.append(Seq((1L, Some(10)), (2L, None), (3L, Some(3))).toDF("id", "v").coalesce(1))
    DeleteWhere.delete(spark, t, col("v") > 5) // true for id=1; NULL for id=2
    val left = t.scan(spark).select("id").as[Long].collect().sorted
    assert(left.toSeq == Seq(2L, 3L), s"NULL-predicate row dropped: ${left.toSeq}")
  }

  test("delete where on a time-series table repairs coverage: vacated range re-appendable") {
    import spark.implicits._
    import graft.maintain.DeleteWhere
    val root = tmpDir("del-ts")
    val t = TsTable.create(root, TableMeta("prices",
      TableKind.TimeSeries(TimeIndexSpec("ts", Nil, TimeBucket.parse("1m"), None)), None, None))
    def hourDf(h: Int) =
      (0 until 60).map(m => (s"2024-03-01 %02d:%02d:00".format(h, m), h * 100.0 + m))
        .toDF("tss", "price")
        .select(to_timestamp(col("tss")).as("ts"), col("price"))
    t.append(hourDf(10).coalesce(1))
    t.append(hourDf(12).coalesce(1))

    DeleteWhere.delete(spark, t, col("ts") >= to_timestamp(lit("2024-03-01 12:00:00")))
    assert(t.scan(spark).count() == 60)
    // the key invariant: re-appending the vacated hour must NOT be
    // rejected as coverage overlap
    t.append(hourDf(12).coalesce(1))
    assert(t.scan(spark).count() == 120)
  }

  test("bloom candidate filter keeps files whose footer read fails (conservative)") {
    import graft.table.KeyBloom
    val conf = spark.sparkContext.hadoopConfiguration
    val missing = "/tmp/definitely-not-a-file-" + java.util.UUID.randomUUID() + ".parquet"
    val kept = KeyBloom.filterMayContain(conf,
      Seq((missing, "tag")), "doc_id", Array[Any]("doc-000000000001"))
    assert(kept == Seq("tag"), "unreadable footer must keep the candidate, not abort the merge")
  }

  test("exact candidate refinement at 10^6 update keys: keys stay distributed, subset exact") {
    import spark.implicits._
    val root = tmpDir("merge-exact-1m")
    val t = TsTable.create(root, tokenMeta("zorder"))
    t.append(TokenGen.generate(spark, 4000, numFiles = 16))
    Compaction.run(spark, t, targetFileSize = 96L * 1024)
    val live = t.state.liveSegments
    assert(live.size >= 4, s"need a multi-file clustered table, got ${live.size}")

    // 3 present keys + 999 997 absent ones — one million distinct update
    // keys, far beyond any bloom's testimony and the old 200 k collect cap.
    // The refinement path never collects these to the driver: the keys ride
    // a left-semi join against the candidates' key column and only the hit
    // FILE ids (bounded by the candidate count) come back.
    val present = Seq(7, 1234, 3999).map(i => f"doc-$i%012d")
    val keysDf = spark.range(1000000 - present.size)
      .select(format_string("doc-%012d", col("id") + 10000000L).as("doc_id"))
      .unionByName(present.toDF("doc_id"))
    assert(keysDf.count() == 1000000L)

    val files = live.map(s => (s"$root/${s.path}", s.segmentId))
    val got = MergeInto.refineCandidatesExact(spark, keysDf, "doc_id", files)

    // ground truth per file: which files actually hold one of the 3 keys
    val expected = files.filter { case (path, _) =>
      spark.read.parquet(path).where(col("doc_id").isin(present: _*)).limit(1).count() > 0
    }.map(_._2).toSet
    assert(got == expected, s"exact refinement diverged: got $got expected $expected")
    assert(got.size < live.size,
      s"refinement pruned nothing: ${got.size} of ${live.size} files — zorder fixture degenerate?")
  }

  test("merge above the bloom threshold: exact refinement prunes, result correct") {
    import spark.implicits._
    val root = tmpDir("merge-exact-e2e")
    val t = TsTable.create(root, tokenMeta("zorder"))
    // evens only, so the 2 000 odd keys below are absent-but-in-range:
    // range stats cannot exclude them and a 1 % -FPP bloom at K=2003 marks
    // every file — only the exact pass can separate true candidates
    val evens = (0 until 8000 by 2).map(i => f"doc-$i%012d")
    t.append(TokenGen.generateForIds(spark, evens).repartition(16))
    Compaction.run(spark, t, targetFileSize = 96L * 1024)
    val live = t.state.liveSegments
    assert(live.size >= 4, s"need a multi-file clustered table, got ${live.size}")

    val updIds = Seq(14, 2468, 7998).map(i => f"doc-$i%012d")
    val newIds = (1 until 4000 by 2).map(i => f"doc-$i%012d") // 2 000 odds
    assert(updIds.size + newIds.size > MergeInto.BloomKeyCap)
    val expectedCands = live.count { s =>
      spark.read.parquet(s"$root/${s.path}")
        .where(col("doc_id").isin(updIds: _*)).limit(1).count() > 0
    }

    val before = tokenChecksum(t.scan(spark))
    val report = MergeInto.merge(spark, t,
      TokenGen.generateForIds(spark, updIds ++ newIds, salt = "v2"))
    assert(report.updated == 3 && report.inserted == 2000, s"wrong report: $report")
    assert(report.candidates == expectedCands,
      s"exact refinement expected $expectedCands candidates, rewrote ${report.candidates}")
    assert(report.candidates < live.size,
      s"no pruning at K>cap: ${report.candidates} of ${live.size}")

    val after = t.scan(spark).collect().map(r => r.getString(0) -> r).toMap
    assert(after.size == 6000)
    val expectUpd = TokenGen.generateForIds(spark, updIds ++ newIds, salt = "v2").collect()
      .map(r => r.getString(0) -> r).toMap
    (updIds ++ newIds).foreach { id =>
      assert(after(id).getSeq[Int](1) == expectUpd(id).getSeq[Int](1), s"merge row wrong: $id")
    }
    val afterSums = tokenChecksum(t.scan(spark)).map(r => r.getString(0) -> r.getInt(3)).toMap
    before.filterNot(r => updIds.contains(r.getString(0))).foreach { r =>
      assert(afterSums(r.getString(0)) == r.getInt(3), s"bystander perturbed: ${r.getString(0)}")
    }
  }

  test("merge into: no matching files -> pure insert, zero candidates") {
    val root = tmpDir("merge-ins")
    val t = TsTable.create(root, tokenMeta("zorder"))
    t.append(TokenGen.generate(spark, 100, idStart = 0, numFiles = 1))
    val updates = TokenGen.generateForIds(spark, Seq("zzz-new-doc-1", "zzz-new-doc-2"))
    val report = MergeInto.merge(spark, t, updates)
    assert(report.candidates == 0 && report.inserted == 2)
    assert(t.scan(spark).count() == 102)
  }

  test("bounds-based range routing: labels invert hash partitioning; search is exact") {
    import spark.implicits._
    // every label must land in exactly the shuffle partition whose range
    // index it encodes -- verified through a REAL hash repartition, the
    // same exchange the clustering router (RangeBuckets.cluster) uses
    val n = 37
    val labels = RangeBuckets.labelsFor(n)
    assert(labels.distinct.length == n)
    val parts = labels.toSeq.toDF("lbl").repartition(n, col("lbl"))
      .select(org.apache.spark.sql.functions.spark_partition_id().as("p"), col("lbl"))
      .as[(Int, Int)].collect()
    assert(parts.map(_._1).distinct.length == n, "labels did not spread over all partitions")
    parts.foreach { case (p2, l) => assert(labels(p2) == l,
      s"label $l landed in partition $p2, expected partition ${labels.indexOf(l)}") }

    // binary search against a naive count, duplicate boundary keys included
    val bk = Array(10L, 10L, 20L)
    val bs = Array(1L, 5L, 0L)
    val lb = Array(3, 1, 4, 2)
    def naive(k: Long, s: Long): Int =
      lb(bk.indices.count(i => bk(i) < k || (bk(i) == k && bs(i) < s)))
    for (k <- Seq(0L, 10L, 15L, 20L, 25L); s <- Seq(0L, 1L, 3L, 5L, 9L))
      assert(RangeBuckets.bucketLabel(k, s, bk, bs, lb) == naive(k, s), s"($k,$s)")

    // equi-depth boundaries from a sample
    val sample = (1 to 100).map(i => (i.toLong, 0L)).toArray
    val (qk, _) = RangeBuckets.boundsFromSample(sample, 4)
    assert(qk.toSeq == Seq(26L, 51L, 76L)) // values at sorted indices 25/50/75
  }

  test("numericCoord: wide spans don't overflow; sub-integer doubles don't collapse") {
    import spark.implicits._
    // epoch-micros-over-a-year span (~3.2e13 > 2^42): long-space scaling
    // overflowed (v-lo)*MaxCoord and ANSI mode failed the whole rewrite
    val yearMicros = 365L * 24 * 3600 * 1000000L
    val tsCoords = Seq(0L, yearMicros / 2, yearMicros).toDF("v")
      .select(ClusterKey.numericCoord(col("v"), 0.0, yearMicros.toDouble).as("c"))
      .as[Long].collect().toSeq
    assert(tsCoords == tsCoords.sorted && tsCoords.distinct.size == 3, s"got $tsCoords")
    assert(tsCoords.head == 0L && tsCoords.last == SpaceCurve.MaxCoord)

    // a double quality-score dimension in [0,1]: the old long-truncating
    // input cast mapped every value below 1.0 to coordinate 0
    val sc = Seq(0.1, 0.5, 0.9).toDF("v")
      .select(ClusterKey.numericCoord(col("v"), 0.0, 1.0).as("c")).as[Long].collect().toSeq
    assert(sc == sc.sorted && sc.distinct.size == 3, s"scores collapsed: $sc")

    // the full Long domain stays in range (snowflake-style ids)
    val wc = Seq(Long.MinValue, 0L, Long.MaxValue).toDF("v")
      .select(ClusterKey.numericCoord(col("v"),
        Long.MinValue.toDouble, Long.MaxValue.toDouble).as("c")).as[Long].collect().toSeq
    assert(wc == wc.sorted && wc.distinct.size == 3 &&
      wc.forall(c => c >= 0L && c <= SpaceCurve.MaxCoord), s"got $wc")
  }

  test("cluster on an epoch-micros column: compaction succeeds across a >2^42 span") {
    val root = tmpDir("compact-widespan")
    val t = TsTable.create(root, TableMeta("evts",
      TableKind.Clustered(ClusterSpec(Seq("source", "ts_us", "doc_id"), "zorder")), None, None))
    val yearMicros = 365L * 24 * 3600 * 1000000L
    val df = spark.range(0, 2000).select(
      concat(lit("d"), col("id")).as("doc_id"),
      (col("id") * (yearMicros / 2000)).as("ts_us"),
      concat(lit("s"), pmod(col("id"), lit(4))).as("source"))
    t.append(df.repartition(8))
    val rep = Compaction.run(spark, t, targetFileSize = 512L * 1024 * 1024)
    assert(rep.binsExecuted >= 1)
    assert(t.scan(spark).count() == 2000)
    // the fitted ts_us dimension still separates early from late rows:
    // with >1 output file, per-file min/max on ts_us must prune at least
    // one file for a half-range predicate — unless everything fit one file
    val live = t.state.liveSegments
    if (live.size > 1) {
      val halves = live.count { s =>
        s.stats.get("ts_us").flatMap(_.min).exists {
          case StatVal.L(v) => v > yearMicros / 2; case _ => false
        }
      }
      assert(halves >= 1, "ts_us clustering produced no late-half file")
    }
  }

  test("merge on a NUMERIC key: stats-range pruning selects only matching files") {
    val root = tmpDir("merge-numkey")
    val t = TsTable.create(root, TableMeta("docs",
      TableKind.Clustered(ClusterSpec(Seq("source", "n_chars", "doc_id"), "zorder")), None, None))
    def docs(lo: Long, hi: Long) = spark.range(lo, hi).select(
      col("id").as("doc_id"), concat(lit("text-"), col("id")).as("text"),
      (col("id") % 97 + 10).cast("long").as("n_chars"),
      concat(lit("s"), pmod(col("id"), lit(5))).as("source"))
    // three disjoint-range segments (separate appends, one file each)
    t.append(docs(0, 1000).coalesce(1))
    t.append(docs(1000, 2000).coalesce(1))
    t.append(docs(2000, 3000).coalesce(1))
    val live = t.state.liveSegments.size
    assert(live >= 3)

    // LONG-key ranges carry StatVal.L stats: matching only the string arm
    // classified every segment stat-less and rewrote the whole table
    val upd = docs(0, 50).withColumn("text", lit("updated"))
    val rep = MergeInto.merge(spark, t, upd, key = "doc_id")
    assert(rep.candidates < live,
      s"numeric-key pruning ineffective: ${rep.candidates} of $live candidates")
    assert(t.scan(spark).where(col("text") === "updated").count() == 50)
    assert(t.scan(spark).count() == 3000)

    // an EMPTY batch must touch nothing — checked before candidate
    // selection, so even stat-less segments are never rewritten by a
    // streamed heartbeat batch
    t.refresh()
    val pathsBefore = t.state.liveSegments.map(_.path).toSet
    val vBefore = t.version
    val rep0 = MergeInto.merge(spark, t, upd.where(lit(false)), key = "doc_id")
    assert(rep0.filesOut == 0 && rep0.candidates == 0, s"empty batch did work: $rep0")
    t.refresh()
    assert(t.version == vBefore && t.state.liveSegments.map(_.path).toSet == pathsBefore)
  }

  test("first write into an EMPTY custom-spec clustered table with a LONG key") {
    // empty-table fit has no stats; the fallback must be type-agnostic for
    // custom specs — a name-keyed StrCoord guess on a LONG doc_id crashed
    // the first batch's codegen with a UTF8String/Long mismatch
    val root = tmpDir("merge-empty-longkey")
    val t = TsTable.create(root, TableMeta("docs",
      TableKind.Clustered(ClusterSpec(Seq("source", "n_chars", "doc_id"), "zorder")), None, None))
    val docs = spark.range(0, 100).select(
      col("id").as("doc_id"), concat(lit("t"), col("id")).as("text"),
      (col("id") % 7 + 1).as("n_chars"), lit("s0").as("source"))
    val rep = MergeInto.merge(spark, t, docs, key = "doc_id")
    assert(rep.inserted == 100 && t.scan(spark).count() == 100)
  }
}
