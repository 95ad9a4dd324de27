package graft.table

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{DataType, DateType, StructType, TimestampNTZType, TimestampType}
import graft.coverage.CoverageAccumulator
import graft.meta.TimeIndexSpec

/** The Parquet format every staged write goes through
  * ([[CommitScope.stage]]). Given the time-column options
  * ([[CoverageParquet.options]]), each file's writer also folds its rows'
  * buckets into a coverage bitmap and, on close, writes it beside the file
  * as `<file>.cov` — inside the task's attempt directory, so the task
  * commit promotes the sidecar together with its file, and a task Spark
  * rolls into several files gets one exact bitmap per file. This is the
  * reference's write-time coverage (coverage.rs:263-353) with no read-back
  * job. Without those options it is Parquet unchanged. */
class CoverageParquet extends ParquetFileFormat {
  override def prepareWrite(spark: SparkSession, job: Job, options: Map[String, String],
                            dataSchema: StructType): OutputWriterFactory = {
    val parquet = super.prepareWrite(spark, job, options, dataSchema)
    options.get(CoverageParquet.TimeColumn) match {
      case None => parquet
      case Some(c) =>
        CoverageParquet.Factory(parquet, dataSchema.fieldIndex(c), dataSchema(c).dataType,
          options(CoverageParquet.BucketSeconds).toLong)
    }
  }
}

object CoverageParquet {
  private val TimeColumn = "graft.coverage.time_column"
  private val BucketSeconds = "graft.coverage.bucket_seconds"
  /** Suffix of the per-file coverage sidecar. */
  private[table] val Suffix = ".cov"
  private val MicrosPerDay = 86400L * 1000000L

  /** Writer options that turn on per-file coverage for `spec`. Checks the
    * time column before any job runs: it must exist in `schema` and be a
    * TIMESTAMP, TIMESTAMP_NTZ or DATE. */
  private[table] def options(schema: StructType, spec: TimeIndexSpec): Map[String, String] = {
    val c = spec.timestampColumn
    schema.find(_.name == c) match {
      case None =>
        throw SchemaMismatchException(s"time column '$c' missing from appended data")
      case Some(f) if !isTime(f.dataType) =>
        throw SchemaMismatchException(
          s"time column '$c' has type ${f.dataType.sql}; expected TIMESTAMP, TIMESTAMP_NTZ or DATE")
      case _ =>
        Map(TimeColumn -> c, BucketSeconds -> spec.bucket.lengthSeconds.toString)
    }
  }

  private[table] def enabled(options: Map[String, String]): Boolean = options.contains(TimeColumn)

  private def isTime(t: DataType): Boolean = t match {
    case TimestampType | TimestampNTZType | DateType => true
    case _ => false
  }

  private final case class Factory(parquet: OutputWriterFactory, ordinal: Int, timeType: DataType,
                                   bucketSeconds: Long) extends OutputWriterFactory {
    override def getFileExtension(ctx: TaskAttemptContext): String = parquet.getFileExtension(ctx)
    override def newInstance(path: String, dataSchema: StructType,
                             ctx: TaskAttemptContext): OutputWriter =
      new Writer(parquet.newInstance(path, dataSchema, ctx), this, ctx)
  }

  /** Epoch micros of the time value: TIMESTAMP is stored as UTC micros;
    * TIMESTAMP_NTZ as its wall-clock micros, read as UTC (as
    * [[TsTable.scanRange]] reads it); DATE as days, at UTC midnight. */
  private final class Writer(parquet: OutputWriter, f: Factory, ctx: TaskAttemptContext)
      extends OutputWriter {
    private val acc = new CoverageAccumulator(f.bucketSeconds)
    private val isDate = f.timeType == DateType

    override def write(row: InternalRow): Unit = {
      if (!row.isNullAt(f.ordinal))
        acc.add(if (isDate) row.getInt(f.ordinal) * MicrosPerDay else row.getLong(f.ordinal))
      parquet.write(row)
    }

    override def close(): Unit = {
      parquet.close()
      val p = new Path(path() + Suffix)
      val out = p.getFileSystem(ctx.getConfiguration).create(p, false)
      try out.write(acc.result().serialize())
      finally out.close()
    }

    override def path(): String = parquet.path()
  }
}
