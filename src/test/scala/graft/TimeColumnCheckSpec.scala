package graft

import java.nio.file.{FileSystems, Paths, StandardWatchEventKinds, WatchService}
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.meta._
import graft.table.{SchemaMismatchException, TsTable}

/** A time-series write whose time column is missing or not a time type
  * fails before any job runs: the typed error names the column (and its
  * type), and no staging tree or data file is ever created. */
class TimeColumnCheckSpec extends SparkFunSuite {
  import spark.implicits._

  private def table(prefix: String): (String, TsTable) = {
    val root = tmpDir(prefix)
    (root, TsTable.create(root, TableMeta("p",
      TableKind.TimeSeries(TimeIndexSpec("ts", Nil, TimeBucket.parse("1m"), None)), None, None)))
  }

  /** Runs `f` with the table root watched and returns the names of every
    * entry created directly under it meanwhile. */
  private def createdDuring(root: String)(f: => Unit): Seq[String] = {
    val watcher: WatchService = FileSystems.getDefault.newWatchService()
    try {
      Paths.get(root).register(watcher, StandardWatchEventKinds.ENTRY_CREATE)
      f
      val names = Seq.newBuilder[String]
      var key = watcher.poll(500, TimeUnit.MILLISECONDS)
      while (key != null) {
        names ++= key.pollEvents().asScala.map(_.context().toString)
        key.reset()
        key = watcher.poll(100, TimeUnit.MILLISECONDS)
      }
      names.result()
    } finally watcher.close()
  }

  private def assertNothingStaged(root: String, created: Seq[String]): Unit = {
    assert(!created.exists(_.startsWith(".staging-")), created)
    val inData = Option(Paths.get(root, "data").toFile.list()).map(_.toSeq).getOrElse(Nil)
    assert(inData.isEmpty, inData)
  }

  test("a missing time column fails before anything is written") {
    val (root, t) = table("ts-missing")
    val bad = Seq((1L, 2.0)).toDF("not_ts", "price")
    val created = createdDuring(root) {
      val e = intercept[SchemaMismatchException](t.append(bad))
      assert(e.getMessage == "time column 'ts' missing from appended data")
    }
    assertNothingStaged(root, created)
  }

  test("a time column of a non-time type fails before anything is written, naming its type") {
    val (root, t) = table("ts-string")
    val bad = Seq(("2024-01-01 00:00:00", 2.0)).toDF("ts", "price")
    val created = createdDuring(root) {
      val e = intercept[SchemaMismatchException](t.append(bad))
      assert(e.getMessage.contains("'ts'") && e.getMessage.contains("STRING"), e.getMessage)
    }
    assertNothingStaged(root, created)
    // the same table still takes a well-typed append
    t.append(bad.select(col("ts").cast("timestamp").as("ts"), col("price")))
    assert(t.scan(spark).count() == 1L)
  }
}
