package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.data.TokenGen

/** zstd dictionary-vs-plain for the token column: encode time, file size,
  * scan time — rotated interleaved minima. */
object MicroBench5 {
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

    def du(dir: String): Long = {
      import scala.jdk.CollectionConverters._
      val st = Files.walk(java.nio.file.Paths.get(dir))
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }

    val stage = Files.createTempDirectory("graft-mb5").toString
    TokenGen.generate(spark, rows, numFiles = 200).write.mode("overwrite").parquet(stage)
    val r = spark.read.parquet(stage)
    val o = Files.createTempDirectory("graft-mb5-o").toString
    val dDict = Files.createTempDirectory("graft-mb5-d").toString
    val dPlain = Files.createTempDirectory("graft-mb5-p").toString
    val rg8 = (8 * 1024 * 1024).toString

    // scan targets written once (6-file compacted shape)
    val fit = graft.maintain.ClusterKey.Fit.default
    val sorted = graft.maintain.RangeBuckets.cluster(r, Seq(r), rows, "zorder", 6, fit)
    sorted.write.mode("overwrite").option("compression", "zstd")
      .option("parquet.block.size", rg8).parquet(dDict)
    sorted.write.mode("overwrite").option("compression", "zstd")
      .option("parquet.block.size", rg8)
      .option("parquet.enable.dictionary#tokens.list.element", "false").parquet(dPlain)
    println(f"size dict ${du(dDict) / 1e6}%.1f MB, plain-tokens ${du(dPlain) / 1e6}%.1f MB")

    val variants: Seq[(String, () => Unit)] = Seq(
      ("write6 zstd dict", () => sorted.write.mode("overwrite")
        .option("compression", "zstd").option("parquet.block.size", rg8).parquet(o)),
      ("write6 zstd plain-tokens", () => sorted.write.mode("overwrite")
        .option("compression", "zstd").option("parquet.block.size", rg8)
        .option("parquet.enable.dictionary#tokens.list.element", "false").parquet(o)),
      ("write32 zstd dict", () => r.repartition(32).write.mode("overwrite")
        .option("compression", "zstd").option("parquet.block.size", rg8).parquet(o)),
      ("write32 zstd plain-tokens", () => r.repartition(32).write.mode("overwrite")
        .option("compression", "zstd").option("parquet.block.size", rg8)
        .option("parquet.enable.dictionary#tokens.list.element", "false").parquet(o)),
      ("scan dict", () => { spark.read.parquet(dDict)
        .select(sum(expr("tok_sum(tokens)"))).head(); () }),
      ("scan plain-tokens", () => { spark.read.parquet(dPlain)
        .select(sum(expr("tok_sum(tokens)"))).head(); () }))

    variants.foreach { case (_, f) => f() } // warm
    System.err.println("[mb5] warm")
    val mins = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    for (round <- 0 until 3) {
      val rot = variants.drop(round % variants.size) ++ variants.take(round % variants.size)
      rot.foreach { case (label, f) =>
        val t0 = System.nanoTime(); f()
        mins(label) = math.min(mins.getOrElse(label, Double.MaxValue),
          (System.nanoTime() - t0) / 1e9)
      }
      System.err.println(s"[mb5] round $round")
    }
    variants.foreach { case (k, _) => println(f"$k%-26s min ${mins(k)}%6.2f s") }
    spark.stop()
    Seq(stage, o, dDict, dPlain).foreach(d =>
      try SparkEntry.deleteTree(java.nio.file.Paths.get(d)) catch { case _: Exception => () })
  }
}
