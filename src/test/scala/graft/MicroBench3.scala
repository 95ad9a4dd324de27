package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.data.TokenGen

/** Isolate the compacted-table full-scan cost: codec × row-group size on a
  * fixed 6-file curve-sorted layout, warm, interleaved, with task counts. */
object MicroBench3 {
  def main(args: Array[String]): Unit = {
    val rows = sys.env.getOrElse("MB_ROWS", "150000").toLong
    val cpus = sys.env.getOrElse("MB_CPUS", "32").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)

    val stage = Files.createTempDirectory("graft-mb3").toString
    TokenGen.generate(spark, rows, numFiles = 200).write.mode("overwrite").parquet(stage)
    val r = spark.read.parquet(stage)
    val fit = graft.maintain.ClusterKey.Fit.default
    val sorted = graft.maintain.RangeBuckets.cluster(r, Seq(r), rows, "zorder", 6, fit)

    val layouts = Seq(
      ("snappy-rg128", Map("compression" -> "snappy")),
      ("snappy-rg8", Map("compression" -> "snappy",
        "parquet.block.size" -> (8 * 1024 * 1024).toString)),
      ("zstd-rg128", Map("compression" -> "zstd")),
      ("zstd-rg8", Map("compression" -> "zstd",
        "parquet.block.size" -> (8 * 1024 * 1024).toString)))
    val dirs = layouts.map { case (name, opts) =>
      val d = Files.createTempDirectory(s"graft-mb3-$name").toString
      sorted.write.mode("overwrite").options(opts).parquet(d)
      name -> d
    }

    // task-count listener
    val lastTasks = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        if (e.stageInfo.numTasks > 1) lastTasks.set(e.stageInfo.numTasks)
    })

    def scan(d: String): Unit =
      spark.read.parquet(d).select(sum(expr("tok_sum(tokens)"))).head()

    // warm every layout
    dirs.foreach { case (_, d) => scan(d) }
    System.err.println("[mb3] warm")
    val mins = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Int)]
    for (round <- 0 until 3) {
      val rot = dirs.drop(round % dirs.size) ++ dirs.take(round % dirs.size)
      rot.foreach { case (name, d) =>
        val t0 = System.nanoTime(); scan(d)
        val s = (System.nanoTime() - t0) / 1e9
        val cur = mins.getOrElse(name, (Double.MaxValue, 0))
        if (s < cur._1) mins(name) = (s, lastTasks.get())
      }
    }
    mins.foreach { case (k, (s, t)) => println(f"scan $k%-14s min $s%6.2f s tasks=$t") }

    // same via the table scan path (TsFileIndex): append each layout's
    // files into a throwaway table and t.scan
    dirs.foreach { case (name, d) =>
      val root = Files.createTempDirectory(s"graft-mb3-t-$name").toString
      val t = graft.table.TsTable.create(root, graft.meta.TableMeta("tokens",
        graft.meta.TableKind.Clustered(
          graft.meta.ClusterSpec(Seq("source", "n_tok", "doc_id"), "zorder")), None, None))
      t.append(spark.read.parquet(d).coalesce(6)) // note: rewrites via segmentWriteOptions!
      val t0 = System.nanoTime()
      t.scan(spark).select(sum(expr("tok_sum(tokens)"))).head()
      println(f"t.scan after append($name) ${(System.nanoTime() - t0) / 1e9}%6.2f s tasks=${lastTasks.get()}")
      SparkEntry.deleteTree(java.nio.file.Paths.get(root))
    }

    spark.stop()
    (Seq(stage) ++ dirs.map(_._2)).foreach(d =>
      try SparkEntry.deleteTree(java.nio.file.Paths.get(d)) catch { case _: Exception => () })
  }
}
