package graft

import org.apache.spark.sql.functions._
import graft.data.TokenGen
import graft.maintain.{Compaction, MergeInto}
import graft.meta._
import graft.table.TsTable

/** Skew handling (north rule: sampled range bounds + salting for skewed
  * sources). The Zipf generator makes src00 ≈ 30% of all rows; the
  * clustering router's (curve key, salt) range buckets must still produce
  * balanced output files for every curve — zorder, hilbert and lexico,
  * under the same bounds — including the degenerate case where EVERY row
  * has the same source (all curve keys share the source coordinate), and
  * a MERGE whose inserts lie past every key the table holds. */
class SkewSpec extends SparkFunSuite {

  private def tokenMeta(curve: String) = TableMeta("tokens",
    TableKind.Clustered(ClusterSpec(Seq("source", "n_tok", "doc_id"), curve)), None, None)

  private def sizeBalance(t: TsTable): (Long, Long) = {
    val sizes = t.state.liveSegments.flatMap(_.fileSize).sorted
    (sizes.max, sizes(sizes.size / 2))
  }

  for (curve <- Seq("zorder", "hilbert", "lexico")) {
    // zorder keeps the suite's original case names
    val tag = if (curve == "zorder") "" else s" [$curve]"

    test(s"zipf-skewed sources: compacted file sizes stay balanced$tag") {
      val root = tmpDir(s"skew-zipf-$curve")
      val t = TsTable.create(root, tokenMeta(curve))
      t.append(TokenGen.generate(spark, 20000, numFiles = 40))
      Compaction.run(spark, t, targetFileSize = 4L * 1024 * 1024)
      assert(t.state.liveSegments.size >= 4, "fixture should produce several output files")
      val (mx, med) = sizeBalance(t)
      assert(mx <= med * 3, s"output skewed: max=$mx median=$med")
      assert(t.scan(spark).count() == 20000)
    }

    test(s"degenerate skew: single source for every row still balances (salt tie-break)$tag") {
      val root = tmpDir(s"skew-one-$curve")
      val t = TsTable.create(root, tokenMeta(curve))
      // constant source AND constant n_tok: curve key varies only in doc_id
      // bits; with identical (source, n_tok) the salt is what spreads ties
      val df = TokenGen.generate(spark, 8000, lenSpread = 1)
        .withColumn("source", lit("src00"))
      t.append(df.repartition(16))
      Compaction.run(spark, t, targetFileSize = 2L * 1024 * 1024)
      val (mx, med) = sizeBalance(t)
      assert(t.state.liveSegments.size >= 2)
      assert(mx <= med * 3, s"degenerate-skew output unbalanced: max=$mx median=$med")
      assert(t.scan(spark).count() == 8000)
      // rows intact under the degenerate layout
      val want = TokenGen.generate(spark, 8000, lenSpread = 1).orderBy("doc_id")
        .select(hash(col("tokens"))).collect()
      val got = t.scan(spark).orderBy("doc_id").select(hash(col("tokens"))).collect()
      want.zip(got).foreach { case (w, g) => assert(w == g) }
    }
  }

  test("insert-heavy CoW MERGE: keys past the table max spread over the output files") {
    val root = tmpDir("skew-merge-insert")
    val t = TsTable.create(root, TableMeta("tokens",
      TableKind.Clustered(ClusterSpec(Seq("doc_id"), "zorder")), None, None))
    // four appends of disjoint id blocks: the matching key's file is the
    // only candidate, and its keys sit in the bottom quarter of the fit
    (0 until 4).foreach(b =>
      t.append(TokenGen.generate(spark, 1000, idStart = b * 1000L, lenSpread = 16).coalesce(1)))
    val before = t.state.liveSegments.map(_.segmentId).toSet
    val updates = TokenGen.generateForIds(spark, Seq("doc-000000000010"), 16, salt = "v2")
      .unionByName(TokenGen.generate(spark, 3000, idStart = 4000, lenSpread = 16))
    val rep = MergeInto.merge(spark, t, updates)
    assert(rep.candidates == 1 && rep.updated == 1 && rep.inserted == 3000, s"$rep")
    val segs = t.state.liveSegments.filterNot(s => before(s.segmentId))
    val written = segs.map(_.rowCount).sorted
    assert(written.size >= 2, s"fixture should write several files: $written")
    val med = written(written.size / 2)
    assert(written.max <= 2 * med, s"inserts piled into one bucket: rows per file $written")
    // the new keys are routed by key, not by salt: each lies in at most two
    // written files' doc_id ranges (two only where a bucket boundary splits
    // a run of ids sharing one 21-bit coordinate); keys clamped to the
    // table max would tie and scatter over the buckets in hash order
    val ranges = segs.map(s => s.stats("doc_id") match {
      case ColStats(Some(StatVal.S(mn)), Some(StatVal.S(mx)), _) => (mn, mx)
      case other => fail(s"no doc_id stats: $other")
    })
    val hits = (4000 until 7000 by 7).map(i => f"doc-$i%012d")
      .map(k => ranges.count { case (mn, mx) => mn <= k && k <= mx })
    assert(hits.max <= 2, s"new keys scattered over the written files: ${ranges.sorted}")
    assert(t.scan(spark).count() == 7000)
  }
}
