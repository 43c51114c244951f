package org.apache.spark.sql

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation,
  LogicalRelation, OutputWriter, OutputWriterFactory, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Parquet data files that tasks write themselves and reads planned from a
  * known file list: no Hadoop output committer on the write side, no
  * directory listing on the read side. `SerializableConfiguration`,
  * `StructType.asNullable` and `Dataset.ofRows` are package-private to
  * Spark, hence this shim in Spark's package. */
object ParquetFiles {

  /** Per-component parquet writer settings for one write call. The Hadoop
    * configurations ride in one broadcast: a configuration in the task
    * closure costs every task its deserialization. Release with
    * [[destroy]] once the call's jobs end. */
  final class Writers private[ParquetFiles] (
      confs: Broadcast[Map[String, SerializableConfiguration]],
      formats: Map[String, (StructType, OutputWriterFactory)],
      /** codec extension + `.parquet`, e.g. `.snappy.parquet` */
      val extension: String) extends Serializable {

    /** Task side: a writer of `component`'s rows to the file at `path`. */
    def open(component: String, path: String): OutputWriter = {
      val (schema, factory) = formats(component)
      val task = TaskContext.get()
      val attempt = new TaskAttemptID("", task.stageId(), TaskType.MAP,
        task.partitionId(), task.attemptNumber())
      // the context copies the shared configuration into its own JobConf
      factory.newInstance(path, schema,
        new TaskAttemptContextImpl(confs.value(component).value, attempt))
    }

    /** Task side: closes `w`, a writer of `component`, and returns the
      * length of the file it wrote. */
    def close(component: String, w: OutputWriter): Long = {
      w.close()
      val p = new Path(w.path())
      p.getFileSystem(confs.value(component).value).getFileStatus(p).getLen
    }

    def destroy(): Unit = confs.destroy()
  }

  /** Writer settings for `schemas` (component → schema) from the
    * session's parquet options, as `DataFrameWriter.parquet` would use. */
  def writers(spark: SparkSession, schemas: Map[String, StructType]): Writers = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val prepared = schemas.map { case (c, schema) =>
      val job = Job.getInstance(session.sessionState.newHadoopConf())
      val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
      c -> (job.getConfiguration, schema, factory)
    }
    val extension = prepared.headOption.fold(".parquet") { case (_, (conf, _, f)) =>
      f.getFileExtension(new TaskAttemptContextImpl(conf, new TaskAttemptID()))
    }
    new Writers(
      session.sparkContext.broadcast(prepared.map { case (c, (conf, _, _)) =>
        c -> new SerializableConfiguration(new Configuration(conf)) }),
      prepared.map { case (c, (_, s, f)) => c -> (s, f) }, extension)
  }

  /** The listed files, planned as they are, with no listing job. */
  private final case class ListedFiles(files: Seq[(Path, Long)]) extends FileIndex {
    private def statuses = files.map { case (p, len) =>
      new FileStatus(len, false, 0, 0L, 0L, p) }
    override def rootPaths: Seq[Path] = files.map(_._1)
    override def listFiles(partitionFilters: Seq[catalyst.expressions.Expression],
                           dataFilters: Seq[catalyst.expressions.Expression])
        : Seq[PartitionDirectory] =
      Seq(PartitionDirectory(InternalRow.empty, statuses.toArray))
    override def inputFiles: Array[String] = files.map(_._1.toString).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = files.map(_._2).sum
    override def partitionSchema: StructType = new StructType()
  }

  /** A parquet scan of exactly `files` (qualified path, byte length) under
    * `schema`, made nullable as `DataFrameReader` makes a file schema. */
  def scan(spark: SparkSession, schema: StructType, files: Seq[(Path, Long)]): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val relation = HadoopFsRelation(ListedFiles(files), new StructType(),
      schema.asNullable, None, new ParquetFileFormat, Map.empty)(session)
    classic.Dataset.ofRows(session, LogicalRelation(relation))
  }
}
