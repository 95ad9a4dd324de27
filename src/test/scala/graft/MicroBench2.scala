package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.data.TokenGen

/** Interleaved warm A/B on the write path (codec / bloom / row-group size)
  * and the file-count read asymmetry — variant order ROTATES each round
  * (a fixed order let writeback pressure from the previous variant
  * systematically penalize whichever ran first), minima reported. */
object MicroBench2 {
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

    val mins = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val sizes = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def du(dir: String): Long = {
      import scala.jdk.CollectionConverters._
      val st = Files.walk(java.nio.file.Paths.get(dir))
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }

    val stage = Files.createTempDirectory("graft-mb2").toString
    TokenGen.generate(spark, rows, numFiles = 200).write.mode("overwrite").parquet(stage)
    val r = spark.read.parquet(stage)
    val o = Files.createTempDirectory("graft-mb2-o").toString
    val fit = graft.maintain.ClusterKey.Fit.default
    val c128 = Files.createTempDirectory("graft-mb2-c").toString
    val c8 = Files.createTempDirectory("graft-mb2-c8").toString
    graft.maintain.RangeBuckets.cluster(r, Seq(r), rows, "zorder", 6, fit)
      .write.mode("overwrite").parquet(c128)
    graft.maintain.RangeBuckets.cluster(r, Seq(r), rows, "zorder", 6, fit)
      .write.mode("overwrite").option("parquet.block.size", (8 * 1024 * 1024).toString)
      .option("compression", "zstd").parquet(c8)

    val variants: Seq[(String, () => Unit)] = Seq(
      ("write32 snappy", () => r.repartition(32).write.mode("overwrite").parquet(o)),
      ("write32 zstd", () => r.repartition(32).write.mode("overwrite")
        .option("compression", "zstd").parquet(o)),
      ("write32 zstd+bloom+rg8", () => r.repartition(32).write.mode("overwrite")
        .option("compression", "zstd")
        .option("parquet.block.size", (8 * 1024 * 1024).toString)
        .option("parquet.bloom.filter.enabled#doc_id", "true")
        .option("parquet.bloom.filter.adaptive.enabled", "true").parquet(o)),
      ("write200 snappy+bloom", () => r.repartition(200).write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#doc_id", "true")
        .option("parquet.bloom.filter.adaptive.enabled", "true").parquet(o)),
      ("write200 zstd+bloom+rg8", () => r.repartition(200).write.mode("overwrite")
        .option("compression", "zstd")
        .option("parquet.block.size", (8 * 1024 * 1024).toString)
        .option("parquet.bloom.filter.enabled#doc_id", "true")
        .option("parquet.bloom.filter.adaptive.enabled", "true").parquet(o)),
      ("fullscan staged200", () => { r.select(sum(expr("tok_sum(tokens)"))).head(); () }),
      ("fullscan compacted6 rg128", () => {
        spark.read.parquet(c128).select(sum(expr("tok_sum(tokens)"))).head(); () }),
      ("fullscan compacted6 rg8zstd", () => {
        spark.read.parquet(c8).select(sum(expr("tok_sum(tokens)"))).head(); () }))

    // warmup: run everything once
    variants.foreach { case (n, f) => f(); sizes(n) = du(o) / 1e6 }
    sizes("c128") = du(c128) / 1e6; sizes("c8") = du(c8) / 1e6
    System.err.println("[mb2] warm")

    val rounds = 3
    for (round <- 0 until rounds) {
      val rot = variants.drop(round % variants.size) ++ variants.take(round % variants.size)
      rot.foreach { case (label, f) =>
        val t0 = System.nanoTime()
        f()
        val s = (System.nanoTime() - t0) / 1e9
        mins(label) = math.min(mins.getOrElse(label, Double.MaxValue), s)
      }
      System.err.println(s"[mb2] round $round done")
    }
    variants.foreach { case (k, _) =>
      println(f"$k%-28s min ${mins(k)}%6.2f s  (${sizes.getOrElse(k, 0.0)}%.0f MB)")
    }
    println(f"compacted sizes: rg128 ${sizes("c128")}%.0f MB, rg8zstd ${sizes("c8")}%.0f MB")
    spark.stop()
    Seq(stage, o, c128, c8).foreach(d =>
      try SparkEntry.deleteTree(java.nio.file.Paths.get(d)) catch { case _: Exception => () })
  }
}
