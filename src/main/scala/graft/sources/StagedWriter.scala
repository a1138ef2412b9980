package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.{CompressionCodecName, ParquetMetadata}
import org.apache.parquet.io.{LocalOutputFile, OutputFile}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Attribute, Cast, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils, ParquetWriteSupport}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StringType, StructType}

/** One parquet file a [[StagedWriter]] task wrote: its path relative to
  * the write's dir, its size and modification time, its Hive partition
  * values (`__HIVE_DEFAULT_PARTITION__` for a null or empty value) and
  * its [[FooterStats]] map. */
final case class StagedFile(path: String, size: Long, modificationTime: Long,
    partitionValues: Map[String, String], stats: Map[String, String])

/** The one parquet writer for files the engine stages itself: Delta data
  * and change-data files before their commit, and the streaming
  * pipelines' per-batch state dirs.
  *
  * [[write]] is one Spark job, run as a SQL execution of the frame's own
  * plan (so the session's SQL confs reach the tasks as they do for
  * Spark's writer); [[writeRows]] runs the same task code on the driver
  * over rows it already holds.
  * Each non-empty task writes its rows with parquet-mr over Spark's own
  * `ParquetWriteSupport` straight to a local file: no Hadoop
  * `FileSystem`, no output committer, no `_temporary` dirs, `.crc` or
  * `_SUCCESS` files. The tasks get only the few parquet keys Spark's
  * `prepareWrite` sets, with timestamps pinned to INT64
  * `TIMESTAMP_MICROS` (the standard encoding, and the only one with
  * ordered footer stats) without touching the session conf. Each file's
  * stats come from the footer its own writer just closed.
  *
  * A file is written under a hidden name and renamed when complete, so
  * a failed task attempt leaves only hidden files, which readers skip.
  * An empty task writes no file; an empty frame leaves `dir` empty.
  *
  * With `partitionBy`, rows are sorted within each input partition by
  * the partition columns (as Spark's planned write sorts them) and one
  * file is open at a time, rolled when the value changes. Files go to
  * Hive-style `col=value/` dirs named as Spark's writer names them:
  * values cast to string in the session time zone, and partition
  * columns left out of the data files. */
object StagedWriter {

  def write(df: DataFrame, dir: Path,
      partitionBy: Seq[String] = Nil): Seq[StagedFile] = {
    val sqlConf = df.sparkSession.sessionState.conf
    val input =
      if (partitionBy.isEmpty) df
      else df.sortWithinPartitions(partitionBy.map(col): _*)
    val qe = input.queryExecution
    val output = qe.analyzed.output
    val partAttrs = partitionBy.map(c =>
      output.find(a => sqlConf.resolver(a.name, c)).getOrElse(
        throw new IllegalArgumentException(
          s"partition column $c is not among ${output.map(_.name).mkString(", ")}")))
    val task = taskSpec(sqlConf, dir, output, partAttrs)
    Files.createDirectories(dir)
    SQLExecution.withNewExecutionId(qe, Some(s"graft: staged write to $dir")) {
      qe.toRdd.mapPartitionsWithIndex { (pid, rows) =>
        if (rows.hasNext) writeTask(task, pid, rows).iterator else Iterator.empty
      }.collect().toSeq
    }
  }

  /** Write `rows` of `schema`, already on the driver, as one file under
    * `dir` from the calling thread: the same file [[write]]'s task 0
    * would write, with no Spark job. For batch-sized rows only; no
    * rows leave `dir` empty. */
  def writeRows(spark: SparkSession, schema: StructType,
      rows: Iterator[InternalRow], dir: Path): Seq[StagedFile] = {
    val task = taskSpec(spark.sessionState.conf, dir,
      DataTypeUtils.toAttributes(schema), Nil)
    Files.createDirectories(dir)
    if (rows.hasNext) writeTask(task, 0, rows) else Nil
  }

  private def taskSpec(sqlConf: SQLConf, dir: Path, output: Seq[Attribute],
      partAttrs: Seq[Attribute]): TaskSpec = {
    val dataAttrs = output.filterNot(a => partAttrs.exists(_.exprId == a.exprId))
    val dataSchema = GraftSqlBridge.asNullable(DataTypeUtils.fromAttributes(dataAttrs))
    TaskSpec(dir.toAbsolutePath.toString,
      UUID.randomUUID().toString.take(8), writeProps(sqlConf, dataSchema),
      output, dataAttrs, partAttrs,
      partAttrs.map(a => Cast(a, StringType, Some(sqlConf.sessionLocalTimeZone))),
      FooterStats.statTypes(dataSchema))
  }

  /** What every task of one write needs: the write's root and tag, the
    * parquet write keys, and the bound input, data and partition
    * columns. */
  private final case class TaskSpec(root: String, tag: String,
      props: Map[String, String], output: Seq[Attribute],
      dataAttrs: Seq[Attribute], partAttrs: Seq[Attribute],
      partStrings: Seq[Cast], statTypes: Map[String, DataType])

  /** The Hadoop keys Spark's parquet `prepareWrite` sets for
    * `dataSchema` under `sqlConf` (schema, legacy format, field ids,
    * compression, …), with the timestamp encoding pinned to
    * TIMESTAMP_MICROS. */
  private def writeProps(sqlConf: SQLConf,
      dataSchema: StructType): Map[String, String] = {
    val job = org.apache.hadoop.mapreduce.Job.getInstance(new Configuration(false))
    ParquetUtils.prepareWrite(sqlConf, job, dataSchema,
      new ParquetOptions(Map.empty[String, String], sqlConf))
    val conf = job.getConfiguration
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      SQLConf.ParquetOutputTimestampType.TIMESTAMP_MICROS.toString)
    conf.iterator.asScala.map(e => e.getKey -> e.getValue)
      .filterNot(_._1.startsWith("mapreduce.")).toMap
  }

  private final class RowWriterBuilder(file: OutputFile)
      extends ParquetWriter.Builder[InternalRow, RowWriterBuilder](file) {
    override def self(): RowWriterBuilder = this
    override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport()
  }

  /** Write one input partition's rows (on an executor, or on the
    * driver for [[writeRows]]); returns the files it wrote. */
  private def writeTask(task: TaskSpec, pid: Int,
      rows: Iterator[InternalRow]): Seq[StagedFile] = {
    val conf = new Configuration(false)
    task.props.foreach { case (k, v) => conf.set(k, v) }
    val codec = CompressionCodecName.fromConf(conf.get("parquet.compression"))
    val attempt = Option(TaskContext.get()).fold(0)(_.attemptNumber())
    val partitioned = task.partAttrs.nonEmpty
    val toData: InternalRow => InternalRow =
      if (partitioned) UnsafeProjection.create(task.dataAttrs, task.output)
      else identity
    val keyOf = if (partitioned) UnsafeProjection.create(task.partAttrs, task.output) else null
    val valuesOf = if (partitioned) UnsafeProjection.create(task.partStrings, task.output) else null
    val written = Seq.newBuilder[StagedFile]
    var files = 0
    var key: UnsafeRow = null
    var open: OpenFile = null
    try {
      while (rows.hasNext) {
        val row = rows.next()
        if (open == null || (partitioned && keyOf(row) != key)) {
          if (open != null) written += open.close()
          val values =
            if (!partitioned) Nil
            else {
              key = keyOf(row).copy()
              val strs = valuesOf(row)
              task.partAttrs.indices.map { i =>
                val v = if (strs.isNullAt(i)) null else strs.getUTF8String(i).toString
                if (v == null || v.isEmpty) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
                else v
              }
            }
          val names = task.partAttrs.map(_.name)
          val dirs = names.zip(values).map { case (c, v) =>
            ExternalCatalogUtils.getPartitionPathString(c, v) }
          val name = f"part-$pid%05d-$attempt-${task.tag}-c$files%03d.parquet"
          files += 1
          open = new OpenFile((dirs :+ name).mkString("/"), names.zip(values).toMap,
            task, conf, codec)
        }
        open.writer.write(toData(row))
      }
      if (open != null) written += open.close()
      written.result()
    } catch {
      case t: Throwable =>
        if (open != null)
          try open.writer.close() catch { case scala.util.control.NonFatal(_) => () }
        throw t
    }
  }

  /** One file being written: a hidden in-progress name until [[close]]
    * renames it into place. */
  private final class OpenFile(rel: String, partitionValues: Map[String, String],
      task: TaskSpec, conf: Configuration, codec: CompressionCodecName) {
    private val dest = Paths.get(task.root, rel)
    private val tmp = dest.resolveSibling(s".${dest.getFileName}.inprogress")
    Files.createDirectories(dest.getParent)
    val writer: ParquetWriter[InternalRow] = new RowWriterBuilder(
      new LocalOutputFile(tmp)).withConf(conf).withCompressionCodec(codec).build()

    def close(): StagedFile = {
      writer.close()
      Files.move(tmp, dest, StandardCopyOption.ATOMIC_MOVE)
      StagedFile(rel, Files.size(dest), Files.getLastModifiedTime(dest).toMillis,
        partitionValues, FooterStats.of(asWritten(writer.getFooter), task.statTypes))
    }
  }

  /** `footer` as a reader of the file sees it: the writer keeps every
    * statistic in memory, but the serialized footer drops min/max
    * pairs past parquet's size cap (long strings). One round trip
    * through the footer codec makes [[FooterStats.of]] here equal
    * [[FooterStats.read]] of the file. */
  private def asWritten(footer: ParquetMetadata): ParquetMetadata = {
    val codec = new ParquetMetadataConverter()
    codec.fromParquetMetadata(
      codec.toParquetMetadata(ParquetFileWriter.CURRENT_VERSION, footer))
  }
}
