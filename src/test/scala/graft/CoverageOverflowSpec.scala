package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.meta._
import graft.table.{BucketDomainOverflowException, TsTable}

/** A time past the u32 bucket domain fails the write with the typed
  * error — not Spark's wrapped write failure — and leaves neither a
  * commit nor a file behind. */
class CoverageOverflowSpec extends SparkFunSuite {
  import spark.implicits._

  /** Root-relative paths of every file under data/, _coverage/ and any
    * .staging-* tree. */
  private def written(root: String): Seq[String] = {
    val r = Paths.get(root)
    val s = Files.walk(r)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(r.relativize(_).toString)
      .filter(p => p.startsWith("data/") || p.startsWith("_coverage/") || p.startsWith(".staging-"))
      .toSeq.sorted
    finally s.close()
  }

  test("a bucket past the u32 domain throws the typed error and leaves nothing behind") {
    val root = tmpDir("cov-overflow")
    val t = TsTable.create(root, TableMeta("p",
      TableKind.TimeSeries(TimeIndexSpec("ts", Nil, TimeBucket.parse("1s"), None)), None, None))
    def rows(ts: String*) = ts.toDF("s").select(col("s").cast("timestamp").as("ts"), lit(1.0).as("price"))

    // year 2200 at 1 s buckets: ~7.26e9 > Int.MaxValue, on a fresh table
    val v0 = t.version
    val e = intercept[BucketDomainOverflowException](t.append(rows("2024-01-01 00:00:00", "2200-01-01 00:00:00")))
    assert(e.value > Int.MaxValue.toLong, e.getMessage)
    assert(TsTable.open(root).version == v0)
    assert(written(root).isEmpty, written(root))

    // and on a table that already holds data: its files are untouched
    t.append(rows("2024-01-01 00:00:00"))
    val v1 = t.version
    val before = written(root)
    intercept[BucketDomainOverflowException](t.append(rows("2200-01-01 00:00:00", "2024-01-02 00:00:00").repartition(2)))
    assert(TsTable.open(root).version == v1)
    assert(written(root) == before)
    assert(t.scan(spark).count() == 1L)
  }
}
