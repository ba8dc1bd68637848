package org.apache.spark.sql.execution.datasources.graftbridge

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptContext,
  TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.internal.io.SparkHadoopWriterUtils
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast,
  Expression, UnsafeProjection}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{DataSourceUtils,
  OutputWriter, OutputWriterFactory, PartitioningUtils}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.graftbridge.StaticPlanBridge
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.sql.util.SchemaUtils
import org.apache.spark.util.SerializableConfiguration

/** The table layer's one parquet-writing seam: Spark's own parquet
  * `OutputWriterFactory`, prepared by `ParquetFileFormat.prepareWrite`
  * over `Job.getInstance(sessionState.newHadoopConf())` exactly as
  * `FileFormatWriter` prepares it (codec, timestamp type, rebase and
  * field-id settings resolve as in a `df.write.parquet`, so the files
  * are byte-identical), driven without an output committer.
  *
  * A sharded-table dir is fresh and token-named, and only the manifest
  * commit that follows a successful write makes it visible, so the
  * committer's job-level protocol (`setupJob`, `_temporary` attempt
  * dirs, task-commit merges, `_SUCCESS`) guards nothing here; the
  * commit's footer walk is the duplicate/torn-output guard. What the
  * committer path cost per write on a Hadoop without native IO: the
  * whole Hadoop conf decoded in every task (one GZIP stream per
  * property), and a forked `chmod` per directory and file it made.
  * Here the conf ships as ONE broadcast per write (in local mode the
  * tasks read the driver's object, nothing is decoded), and each file
  * is written under a hidden `.`-prefixed name inside its leaf and
  * renamed on close. Lives under Spark's `datasources` package because
  * the writer factory, `DataSourceUtils` and `PartitioningUtils` are
  * `private[sql]`/`private[datasources]`. */
object ParquetWriteBridge {

  private def classic(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** The writer factory and job conf for files of `dataSchema`, after
    * the schema checks a file-source write runs. */
  private def prepare(spark: SparkSession, dataSchema: StructType,
                      options: Map[String, String])
      : (OutputWriterFactory, Configuration) = {
    val format = new ParquetFileFormat
    DataSourceUtils.verifySchema(format, dataSchema)
    DataSourceUtils.checkFieldNames(format, dataSchema)
    val job = Job.getInstance(classic(spark).sessionState.newHadoopConf())
    (format.prepareWrite(classic(spark), job, options, dataSchema),
      job.getConfiguration)
  }

  /** The attempt context a task's writers open files with; sets the
    * `mapreduce.*` ids on `conf` as `FileFormatWriter` does. */
  private def attemptContext(conf: Configuration, jobId: JobID,
                             partition: Int, attempt: Int)
      : TaskAttemptContext = {
    val id = new TaskAttemptID(
      new TaskID(jobId, TaskType.MAP, partition), attempt)
    conf.set("mapreduce.job.id", jobId.toString)
    conf.set("mapreduce.task.id", id.getTaskID.toString)
    conf.set("mapreduce.task.attempt.id", id.toString)
    conf.setBoolean("mapreduce.task.ismap", true)
    conf.setInt("mapreduce.task.partition", 0)
    new TaskAttemptContextImpl(conf, id)
  }

  /** Write `df`'s rows as parquet under `dir` in ONE Spark job (the
    * plan runs without adaptive stages, [[StaticPlanBridge.execute]]),
    * returning each task's row count. With `leafCols`, rows land in
    * Hive-style leaf dirs named by Spark's dynamic-partition rule
    * (`ExternalCatalogUtils.getPartitionPathString` over each value cast
    * to string in the session time zone: a null or empty value lands
    * in the default partition) and the leaf columns are not stored in
    * the files; a task opens a new file at each change of leaf value, so
    * rows must arrive grouped by leaf within a partition. Without
    * `leafCols`, every non-empty task writes one file into `dir`, and
    * task 0 writes one even when empty, so an empty result still
    * carries its schema (Spark's empty-job rule). Files are named
    * `part-<task>-<uuid>.c000<ext>`. A failed task deletes the file it
    * was writing; the files it closed before stay, unreferenced. */
  def write(df: DataFrame, dir: String, leafCols: Seq[String])
      : Array[Long] = {
    val spark = classic(df.sparkSession)
    val conf = spark.sessionState.conf
    val schema = df.schema
    SchemaUtils.checkColumnNameDuplication(schema.fieldNames.toSeq,
      conf.caseSensitiveAnalysis)
    PartitioningUtils.validatePartitionColumn(schema, leafCols,
      conf.caseSensitiveAnalysis)
    val leafIdx = leafCols.map(schema.fieldIndex)
    val dataIdx = schema.indices.filterNot(leafIdx.contains)
    val dataSchema = StructType(dataIdx.map(schema(_)))
    val (factory, hconf) = prepare(spark, dataSchema, Map.empty)
    def ref(i: Int) =
      BoundReference(i, schema(i).dataType, schema(i).nullable)
    val dataExprs: Seq[Expression] = dataIdx.map(ref)
    val leafExprs: Seq[Expression] = leafIdx.map(i =>
      Cast(ref(i), StringType, Some(conf.sessionLocalTimeZone)))
    val plan = StaticPlanBridge.execute(df)
    val rdd = if (plan.partitions.nonEmpty) plan
      else spark.sparkContext.parallelize(Seq.empty[InternalRow], 1)
    val jobTracker = SparkHadoopWriterUtils
      .createJobTrackerID(new java.util.Date)
    val uuid = java.util.UUID.randomUUID().toString
    val confBc = spark.sparkContext.broadcast(
      new SerializableConfiguration(hconf))
    try SQLExecution.withSQLConfPropagated(spark) {
      spark.sparkContext.runJob(rdd,
        (ctx: TaskContext, rows: Iterator[InternalRow]) =>
          writeTask(ctx, rows, confBc.value.value, factory, dir,
            dataSchema, dataExprs, leafCols, leafExprs, jobTracker, uuid))
    } finally confBc.destroy()
  }

  private def writeTask(ctx: TaskContext, rows: Iterator[InternalRow],
                        shared: Configuration,
                        factory: OutputWriterFactory, dir: String,
                        dataSchema: StructType,
                        dataExprs: Seq[Expression], leafCols: Seq[String],
                        leafExprs: Seq[Expression], jobTracker: String,
                        uuid: String): Long = {
    // the broadcast value is shared by every task of this executor:
    // copy before the per-task keys go in
    val tctx = attemptContext(new Configuration(shared),
      new JobID(jobTracker, ctx.stageId()), ctx.partitionId(),
      ctx.attemptNumber())
    val root = new Path(dir)
    val fs = root.getFileSystem(tctx.getConfiguration)
    val name = f"part-${ctx.partitionId()}%05d-$uuid.c000" +
      factory.getFileExtension(tctx)
    val dataRow = UnsafeProjection.create(dataExprs)
    val leafRow = UnsafeProjection.create(leafExprs)
    var writer: OutputWriter = null
    var file: Path = null
    def hidden(f: Path) =
      new Path(f.getParent, s".${f.getName}.${ctx.attemptNumber()}")
    def open(leaf: Path): Unit = {
      file = new Path(leaf, name)
      writer = factory.newInstance(hidden(file).toString, dataSchema, tctx)
    }
    def close(): Unit = if (writer != null) {
      writer.close()
      writer = null
      require(fs.rename(hidden(file), file),
        s"parquet write: rename to $file failed")
    }
    var leaf: InternalRow = null
    var n = 0L
    try {
      if (leafCols.isEmpty && (ctx.partitionId() == 0 || rows.hasNext))
        open(root)
      rows.foreach { r =>
        if (leafCols.nonEmpty) {
          val l = leafRow(r)
          if (leaf == null || l != leaf) {
            close()
            leaf = l.copy()
            open(new Path(root, leafCols.indices.map(i =>
              ExternalCatalogUtils.getPartitionPathString(leafCols(i),
                if (leaf.isNullAt(i)) null
                else leaf.getUTF8String(i).toString)).mkString("/")))
          }
        }
        writer.write(dataRow(r))
        n += 1
      }
      close()
    } catch {
      case t: Throwable =>
        if (writer != null)
          try writer.close() catch { case e: Throwable => t.addSuppressed(e) }
        if (file != null)
          try fs.delete(hidden(file), false)
          catch { case e: Throwable => t.addSuppressed(e) }
        throw t
    }
    n
  }

  /** Write `rows` as one parquet file inside `dir` on the driver, no
    * Spark job: for metadata-scale frames the driver already holds
    * (a table's manifest). Snappy-compressed whatever the session
    * codec. */
  def writeSingleFile(spark: SparkSession, dir: String,
                      schema: StructType, rows: Seq[Row]): Unit = {
    val (factory, hconf) =
      prepare(spark, schema, Map("compression" -> "snappy"))
    val tctx = attemptContext(hconf, SparkHadoopWriterUtils.createJobID(
      new java.util.Date, 0), 0, 0)
    val w = factory.newInstance(new Path(dir,
      s"part-00000-${java.util.UUID.randomUUID()}" +
        factory.getFileExtension(tctx)).toString, schema, tctx)
    val conv = CatalystTypeConverters.createToCatalystConverter(schema)
    try rows.foreach(r => w.write(conv(r).asInstanceOf[InternalRow]))
    finally w.close()
  }
}
