package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.coverage.Bitmap
import graft.maintain.{Compaction, MergeInto, UpdateWhere}
import graft.meta._
import graft.table.TsTable

/** Every live segment's coverage sidecar equals the bitmap computed
  * independently from that one file with the SQL bucket rule (null times
  * skipped, pre-epoch clamped to bucket 0, integer division), across the
  * write shapes that split or reorder a segment's rows and across the
  * copy-on-write rewrites of a time-series table. The table-coverage
  * snapshot equals the union of the segments'. */
class CoverageWriterSpec extends SparkFunSuite {
  import spark.implicits._

  private def table(prefix: String, bucket: String = "1m"): TsTable =
    TsTable.create(tmpDir(prefix), TableMeta("p",
      TableKind.TimeSeries(TimeIndexSpec("ts", Nil, TimeBucket.parse(bucket), None)), None, None))

  /** (ts, id, price) rows at the given epoch seconds, ids from `idBase`;
    * None = null ts. */
  private def rows(secs: Seq[Option[Long]], idBase: Long = 0L): DataFrame =
    secs.zipWithIndex.map { case (s, i) => (s, idBase + i, i.toDouble) }
      .toDF("epoch_s", "id", "price")
      .select(col("epoch_s").cast("timestamp").as("ts"), col("id"), col("price"))

  private def expectedOf(t: TsTable, seg: SegmentMeta): Bitmap = {
    val len = t.timeSpec.get.bucket.lengthSeconds
    Bitmap(spark.read.parquet(s"${t.root}/${seg.path}")
      .where(col("ts").isNotNull)
      .select(expr(s"greatest(unix_micros(CAST(ts AS TIMESTAMP)), 0L) div ${1000000L * len}L"))
      .distinct().collect().map(_.getLong(0).toInt).toSeq)
  }

  private def sidecarOf(t: TsTable, seg: SegmentMeta): Bitmap =
    seg.coveragePath.map(p => Bitmap.deserialize(Files.readAllBytes(Paths.get(t.root, p))))
      .getOrElse(Bitmap.empty)

  /** Asserts sidecar == expected for every live segment; returns the
    * live segment count. */
  private def assertParity(t: TsTable, label: String): Int = {
    t.refresh()
    val live = t.state.liveSegments
    assert(live.nonEmpty, label)
    val expected = live.map { s =>
      val e = expectedOf(t, s)
      assert(sidecarOf(t, s) == e, s"$label: ${s.path}")
      e
    }
    assert(t.loadTableCoverage(heal = false) == expected.foldLeft(Bitmap.empty)(_ union _),
      s"$label: table coverage")
    live.size
  }

  test("unsorted timestamps within one file") {
    val t = table("cov-unsorted")
    val secs = Seq(7200L, 30L, 3605L, 65L, 59L, 125L, 7199L, 3600L, 1L, 600L)
    t.append(rows(secs.map(Some(_))).coalesce(1))
    assert(assertParity(t, "unsorted") == 1)
  }

  test("one append split into several files") {
    val t = table("cov-split")
    t.append(rows((0L until 30000L by 61L).map(Some(_))).repartition(3))
    assert(assertParity(t, "repartition(3)") == 3)
  }

  test("one task rolled into several files") {
    val t = table("cov-rolled")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "7")
    try t.append(rows((0L until 3000L by 61L).map(Some(_))).coalesce(1))
    finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    assert(assertParity(t, "maxRecordsPerFile") > 1)
  }

  test("null timestamps and pre-epoch rows") {
    val t = table("cov-nulls")
    // nulls beside buckets >= 1 only: a null counted as epoch would show
    t.append(rows(Seq(None, Some(61L), None, Some(240L))).coalesce(1))
    t.append(rows(Seq(Some(-86400L), Some(-1L), Some(0L), None, Some(-3600L))).coalesce(1))
    assert(assertParity(t, "nulls/pre-epoch") == 2)
    assert(t.loadTableCoverage(heal = false) == Bitmap(Seq(0, 1, 4)))
  }

  test("TIMESTAMP_NTZ and DATE time columns") {
    val ntz = table("cov-ntz")
    ntz.append(rows(Seq(7200L, 30L, -5L, 3605L).map(Some(_))).coalesce(1)
      .withColumn("ts", col("ts").cast("timestamp_ntz")))
    assertParity(ntz, "TIMESTAMP_NTZ")
    val date = table("cov-date", bucket = "1d")
    date.append(Seq("2024-01-03", "2024-01-01", "1969-12-30", "2024-01-02", "2024-03-01").toDF("d")
      .select(col("d").cast("date").as("ts"), lit(1L).as("id"), lit(1.0).as("price")).coalesce(1))
    assertParity(date, "DATE")
  }

  test("copy-on-write rewrites: compaction, UPDATE and MERGE") {
    val t = table("cov-rewrite")
    for (h <- 0 until 4)
      t.append(rows((h * 3600L until h * 3600L + 3000L by 97L).map(Some(_)), idBase = h * 1000L)
        .repartition(2))
    assertParity(t, "appends")
    Compaction.run(spark, t, targetFileSize = 64L * 1024 * 1024)
    assert(assertParity(t, "compaction") < 8)
    UpdateWhere.update(spark, t, col("price") < 5, Map("price" -> (col("price") + 1000)))
    assertParity(t, "update")
    // id 1001 matches an hour-1 row (moved to bucket 0); 5000/5001 insert
    val upd = rows(Seq(Some(15L), Some(20000L), Some(30000L)), idBase = 5000L)
      .withColumn("id", when(col("id") === 5000L, lit(1001L)).otherwise(col("id")))
    MergeInto.merge(spark, t, upd, key = "id")
    assertParity(t, "merge")
  }
}
