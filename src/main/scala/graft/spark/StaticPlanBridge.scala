package org.apache.spark.sql.execution.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution,
  SparkPlan, SQLExecutionRDD}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** Runs a frame's plan WITHOUT adaptive query stages. Under AQE every
  * exchange (and every cache build) is a query stage launched as a
  * Spark job of its own before the job that consumes it; for a
  * driver-internal pass of fixed shape — the sharded-table commit's
  * range sort, its duplicate-key guard — those stage jobs are pure
  * scheduling overhead. This prepares the frame's physical plan with
  * Spark's own preparation rules minus `InsertAdaptiveSparkPlan`
  * (`EnsureRequirements`, codegen collapse and exchange reuse all
  * apply), so a shuffle and the stages after it run as ONE job.
  * `spark.sql.adaptive.enabled` is never touched: concurrent writers
  * share the session. Lives under Spark's `execution` package because
  * the preparation rules are `private[execution]` (and
  * `internalCreateDataFrame`, `private[sql]`). */
object StaticPlanBridge {

  private def staticPlan(df: DataFrame): SparkPlan = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    QueryExecution.prepareForExecution(
      QueryExecution.preparations(ds.sparkSession, None,
        subquery = false),
      ds.queryExecution.sparkPlan.clone())
  }

  /** `df`'s rows as an internal-row RDD. Building it runs what the
    * plan's preparation runs on the driver — a range exchange's
    * boundary sample is a job; the RDD itself launches nothing until an
    * action. The session's SQL conf rides to the tasks as it does for
    * `Dataset.rdd`. */
  def execute(df: DataFrame): RDD[InternalRow] = {
    val plan = staticPlan(df)
    new SQLExecutionRDD(plan.execute(), plan.conf)
  }

  /** `df`'s rows, copied and persisted at `level` at the RDD level
    * (never through the session's cache manager), as a frame with
    * `df`'s own output attributes, so a column bound to `df` still
    * resolves against it; plus the persisted RDD, which the caller
    * unpersists. The first action over the frame fills the cache. */
  def persisted(df: DataFrame, level: StorageLevel)
      : (DataFrame, RDD[InternalRow]) = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    // operators hand out one reused row buffer: copy before caching
    val cached = execute(df).mapPartitions(_.map(_.copy())).persist(level)
    (org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession,
      LogicalRDD(ds.logicalPlan.output, cached)(ds.sparkSession)), cached)
  }

  /** `df`'s rows collected to the driver: one job for a plan whose
    * exchanges all feed its last stage (an aggregate, say). */
  def collect(df: DataFrame): Array[InternalRow] =
    staticPlan(df).executeCollect()

  /** A batch frame over an internal-row RDD whose rows match
    * `schema` — no job, no copy. */
  def frame(spark: SparkSession, rdd: RDD[InternalRow],
            schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = false)
}
