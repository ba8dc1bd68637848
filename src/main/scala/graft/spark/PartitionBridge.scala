package org.apache.spark.sql.execution.datasources.graftbridge

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.PartitioningUtils
import org.apache.spark.sql.types.StructType

/** Spark's partition discovery over partition-directory names the
  * driver already holds — a sharded table's manifest leaves
  * (`day=3/shard=1`, Hive-escaped as on disk) — with no file listing.
  * Values are typed and their types merged across leaves exactly as a
  * `spark.read.parquet` over those directories would (a column with
  * `a` in one leaf and `1` in another is STRING). Lives under Spark's
  * `datasources` package — the one bridge that does not sit in
  * `org.apache.spark.sql.graftbridge` — because
  * `PartitioningUtils.parsePartitions` is `private[datasources]`. */
object PartitionBridge {

  /** The discovered partition schema of `leaves` (paths relative to a
    * common base, every leaf with the same column names), columns in
    * path order; the session's type-inference, case, validation and
    * time-zone settings apply. */
  def partitionSchema(spark: SparkSession, leaves: Seq[String])
      : StructType = {
    val conf = spark.sessionState.conf
    val base = new Path("file:/")
    PartitioningUtils.parsePartitions(
      leaves.map(new Path(base, _)),
      typeInference = conf.partitionColumnTypeInferenceEnabled,
      basePaths = Set(base),
      userSpecifiedSchema = None,
      caseSensitive = conf.caseSensitiveAnalysis,
      validatePartitionColumns = conf.validatePartitionColumns,
      timeZoneId = conf.sessionLocalTimeZone,
      ignoreInvalidPartitionPaths = conf.ignoreInvalidPartitionPaths)
      .partitionColumns
  }

  /** `s` with every field (nested ones too) nullable — the schema a
    * file scan reports for the columns it reads. */
  def asNullable(s: StructType): StructType = s.asNullable
}
