package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.Sources

/** The Spark-job budget of a sharded-table commit. A commit's cost on
  * small batches is its job count (each job is scheduling and driver
  * time, whatever the data), so the counts are pinned: a change that
  * adds a job to the commit path fails here instead of in a bench
  * round. */
class CommitBudgetSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import TestSpark.jobsDuring

  test("a commit runs a fixed job budget: 2-row append, 2-row merge " +
       "and compaction of a 5,000-row, 4-shard table") {
    val path = java.nio.file.Files
      .createTempDirectory("graft_jobbudget").toString
    def batch(lo: Long, n: Long) = spark.range(n)
      .select((col("id") + lo).as("doc_id"), (col("id") % 7).as("g"),
        concat(lit("d"), col("id") + lo).as("t"))
    Sources.writeShardedTable(batch(0, 5000), col("doc_id"),
      col("doc_id"), path, 4, Seq("doc_id"))
    val append = jobsDuring {
      Sources.appendShardedTable(batch(10000, 2), col("doc_id"),
        col("doc_id"), path, 4, Seq("doc_id"))
    }
    val merge = jobsDuring {
      Sources.mergeShardedTable(batch(10, 2), "doc_id", col("doc_id"),
        path, 4, Seq("doc_id"))
    }
    // folds the append's and the merge's dirs, applying the merge's
    // tombstone to them
    val compact = jobsDuring {
      Sources.compactShardedTable(spark, path, col("doc_id"),
        col("doc_id"), 4, Seq("doc_id"), smallDirRows = 10L)
    }
    assert((append, merge, compact) == ((3, 4, 5)),
      s"jobs per commit (append, merge, compact) = " +
        s"${(append, merge, compact)}")
    assert(Sources.shardedVersions(spark, path) == Seq(1L, 2L, 3L, 4L))
    val ids = Sources.readShardedTable(spark, path).select("doc_id")
      .collect().map(_.getLong(0))
    assert(ids.length == 5002 && ids.toSet.size == 5002)
    Sources.dropShardedTable(spark, path)
  }
  test("a 100-row delete-where of a 5,000-row, 4-shard table runs a " +
       "fixed job budget") {
    val path = java.nio.file.Files
      .createTempDirectory("graft_deletebudget").toString
    Sources.writeShardedTable(spark.range(5000).select(
        col("id").as("doc_id"), concat(lit("d"), col("id")).as("t")),
      col("doc_id"), col("doc_id"), path, 4, Seq("doc_id"))
    // the pruned key read plans no job of its own here, and the
    // tombstone write is ONE job whose tasks return the key count: no
    // separate shuffle-stage job, no read-back count
    val delete = jobsDuring {
      Sources.deleteWhereShardedTable(spark, path, "doc_id",
        col("doc_id") < 100)
    }
    assert(delete == 1, s"jobs per delete-where = $delete")
    assert(Sources.shardedVersions(spark, path) == Seq(1L, 2L))
    val ids = Sources.readShardedTable(spark, path).select("doc_id")
      .collect().map(_.getLong(0))
    assert(ids.length == 4900 && ids.toSet == (100L until 5000L).toSet)
    Sources.dropShardedTable(spark, path)
  }
}
