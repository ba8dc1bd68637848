package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Packing
import graft.sources.Sources

/** The shard slices of [[Packing.contiguousShards]] and the table
  * writer that lays them out: shard k is exactly positions
  * [k·block, (k+1)·block) of the (ord, id) order, with block =
  * ceil(n / numShards), whether a block straddles sorted-partition
  * boundaries, all rows land in one sorted partition, or some shards
  * are empty. The session sorts into 4 shuffle partitions. */
class ContiguousShardsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** The driver-side layout: shard k's (ord, id) keys in position
    * order, from a plain sort of `keys`. */
  private def expected(keys: Seq[(Long, Long)], numShards: Int)
      : Seq[Seq[(Long, Long)]] = {
    val sorted = keys.sorted
    val block = math.max(1, (sorted.size + numShards - 1) / numShards)
    (0 until numShards).map(k => sorted.slice(k * block, (k + 1) * block))
  }

  /** `df` (columns ord, id) through the primitive, ordered by (ord, id)
    * or, with `byId` off, by ord alone: every row's position and shard,
    * and the partition that holds it. */
  private def checkSlices(df: DataFrame, numShards: Int,
                          byId: Boolean = true): Unit = {
    val order = if (byId) struct(col("ord"), col("id")) else col("ord")
    val keys = df.select("ord", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val (shards, release, n) =
      Packing.contiguousShards(df, order, numShards)
    try {
      assert(n == keys.size)
      assert(shards.rdd.getNumPartitions == numShards)
      val got = shards.select(col("ord"), col("id"), col("__pos"),
          col("shard"), spark_partition_id().as("p"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getInt(4)))
      assert(got.forall(r => r._4 == r._5), "a row outside its shard")
      assert(got.map(_._3).sorted.toSeq == (0L until n))
      val want = expected(keys, numShards)
      val block = math.max(1L, (n + numShards - 1) / numShards)
      (0 until numShards).foreach { k =>
        val mine = got.filter(_._4 == k).sortBy(_._3)
        assert(mine.map(_._3).toSeq ==
          (k * block until math.min((k + 1) * block, n)),
          s"shard $k positions")
        // the keys at those positions are the driver sort's; rows with
        // equal keys may trade places
        if (byId) assert(mine.map(r => (r._1, r._2)).toSeq == want(k),
          s"shard $k keys")
        else assert(mine.map(_._1).toSeq == want(k).map(_._1),
          s"shard $k keys")
      }
      assert(got.map(r => (r._1, r._2)).sorted.toSeq == keys.sorted)
    } finally release()
  }

  /** `df` written as a sharded table: each leaf holds ONE part file,
    * and shard k's file holds the driver sort's block k, in position
    * order. */
  private def checkTable(df: DataFrame, numShards: Int): Unit = {
    val keys = df.select("ord", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val path = java.nio.file.Files
      .createTempDirectory("graft_slices").toString
    try {
      Sources.writeShardedTable(df, col("id"), col("ord"), path,
        numShards, Seq("id"))
      val data = new java.io.File(path).listFiles()
        .filter(_.getName.startsWith("data-v1")).head
      val want = expected(keys, numShards)
      (0 until numShards).foreach { k =>
        val leaf = new java.io.File(data, s"shard=$k")
        if (want(k).isEmpty) assert(!leaf.exists(), s"empty shard $k")
        else {
          val parts = leaf.listFiles().filter(_.getName.endsWith(".parquet"))
          assert(parts.length == 1, s"shard $k: ${parts.length} files")
          val rows = spark.read.parquet(parts.head.getPath)
            .select("ord", "id").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSeq
          assert(rows == want(k), s"shard $k file rows")
        }
      }
    } finally Sources.dropShardedTable(spark, path)
  }

  /** 10,007 rows whose order keys repeat (ord has 1,000 values). */
  private def wide = spark.range(10007).select(
    ((col("id") * 7919L) % 1000L).as("ord"), col("id"),
    concat(lit("row"), col("id")).as("t"))

  /** How many of `df`'s range-sorted partitions hold rows. */
  private def sortedRuns(df: DataFrame,
                         order: org.apache.spark.sql.Column): Int = {
    org.apache.spark.sql.execution.graftbridge.StaticPlanBridge
      .execute(df.repartitionByRange(order).sortWithinPartitions(order))
      .mapPartitions(it => Iterator(it.size)).collect().count(_ > 0)
  }

  test("10,007 rows into 3 and 7 shards: blocks straddle the sorted " +
       "partitions") {
    assert(sortedRuns(wide, struct(col("ord"), col("id"))) == 4)
    for (k <- Seq(3, 7)) {
      checkSlices(wide, k)
      checkTable(wide, k)
    }
  }

  test("all order keys equal: every row sorts into one partition") {
    val same = spark.range(1001).select(lit(5L).as("ord"), col("id"))
    assert(sortedRuns(same, col("ord")) == 1)
    checkSlices(same, 4, byId = false)
    checkTable(same, 4)
  }

  test("2 rows into 4 shards: the empty shards write nothing") {
    val two = spark.range(2).select((lit(9L) - col("id")).as("ord"),
      col("id"))
    checkSlices(two, 4)
    checkTable(two, 4)
  }
}
