package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.dsl.Domain._
import graft.dsl.Range._

/** The compile/run split (reference `transformer`, core.cljc:15-22):
  * building a transform's plan must be DATA-FREE — no Spark job until
  * the caller's first action. The one historical offender was the
  * root-chunk domain, whose prefix sum used to collect per-partition
  * totals at plan-build; [[graft.ops.Packing.orderedCumsum]] is now a
  * single declarative plan, and this spec pins the job-free build.
  */
class LazyPlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import TestSpark.jobsDuring

  test("root-chunk transform plan builds without launching a job " +
       "(transformer stays data-free)") {
    val in = Seq((3, "c"), (1, "a"), (2, "b"), (5, "e"), (4, "d"))
      .toDF("id", "s")
    var out: org.apache.spark.sql.DataFrame = null
    val n = jobsDuring {
      out = Transform(
        Vec(Seq(
          Entries(Seq((KField("s"): DKey) -> Leaf("s1"))),
          Entries(Seq((KField("s"): DKey) -> Leaf("s2"))),
          Entries(Seq((KField("s"): DKey) -> Leaf("s3"))))),
        RRows(Seq("s1" -> col("s1"), "s2" -> col("s2"),
                  "s3" -> col("s3"))),
        rootOrder = Seq("id"))
        .apply(in)
    }
    assert(n == 0, s"plan build launched $n job(s) — not data-free")
    // and the deferred plan still computes the right answer
    val got = out.orderBy("s1").collect()
      .map(r => (r.get(0), r.get(1), r.get(2))).toSeq
    assert(got == Seq(("a", "b", "c"), ("d", "e", null)))
  }

  test("orderedCumsum is correct across repeated actions (boundary-" +
       "independent offsets, exchange reused within each action)") {
    // keys are a PERMUTATION (37 is invertible mod the prime 4001):
    // distinct by construction, scattered across the range partitions
    val df = (1 to 4000).map(i => ((i * 37L) % 4001L, 1L))
      .toDF("k", "v")
    val cum = graft.ops.Packing.orderedCumsum(
      df, col("k"), col("v"), partitions = 8)
    // two separate actions re-sample range boundaries; offsets must be
    // the global rank both times (order is a key)
    val a = cum.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val b = cum.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(a == b)
    val want = a.keys.toSeq.sorted.zipWithIndex
      .map { case (k, i) => k -> i.toLong }.toMap
    assert(a == want)
  }

  test("persist-shared partitioning: correct offsets even with " +
       "exchange reuse disabled (the pruned-subtree hazard)") {
    // column pruning specializes the totals subtree's scan, so the two
    // range exchanges are NOT canonically equal and exchange reuse
    // cannot save us — the persist() pin must, reuse conf or not
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try {
      val df = (1 to 2000).map(i => (i.toLong, (i % 7).toLong))
        .toDF("k", "v")
      val got = graft.ops.Packing
        .orderedCumsum(df, col("k"), col("v"), 8)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      val vals = (1 to 2000).map(i => (i % 7).toLong)
      val want = (1 to 2000).map(_.toLong)
        .zip(vals.scanLeft(0L)(_ + _)).toMap
      assert(got == want)
    } finally spark.conf.set("spark.sql.exchange.reuse", "true")
  }

  /** A 3-dir sharded table (one write, two appends) — below the
    * many-dir fast-read threshold, so reads take the per-dir union. */
  private def threeDirTable(tag: String): String = {
    import graft.sources.Sources
    val path = java.nio.file.Files.createTempDirectory(tag).toString
    def batch(lo: Long) = spark.range(lo, lo + 20)
      .select(col("id").as("doc_id"), (col("id") * 3).as("v"))
    Sources.writeShardedTable(batch(0), col("doc_id"), col("doc_id"),
      path, 2, Seq("doc_id"))
    Seq(20L, 40L).foreach(lo => Sources.appendShardedTable(batch(lo),
      col("doc_id"), col("doc_id"), path, 2, Seq("doc_id")))
    path
  }

  test("a sharded-table read plan builds without launching a job " +
       "(data-dir schemas come from footers, not inference jobs)") {
    import graft.sources.Sources
    val path = threeDirTable("graft_lazy_read")
    var read: org.apache.spark.sql.DataFrame = null
    val n = jobsDuring { read = Sources.readShardedTable(spark, path) }
    assert(n == 0, s"read plan build launched $n job(s)")
    assert(read.select(sum("v")).head.getLong(0) == 3L * (0 until 60).sum)
    Sources.dropShardedTable(spark, path)
  }

  test("a DSv2 table-schema memo miss launches no job") {
    import graft.sources.{GraftSharded, Sources}
    val path = threeDirTable("graft_lazy_schema")
    var schema: org.apache.spark.sql.types.StructType = null
    val n = jobsDuring {
      schema = GraftSharded.tableSchema(spark, path, None)
    }
    assert(n == 0, s"schema memo miss launched $n job(s)")
    assert(schema == Sources.readShardedTable(spark, path).schema)
    Sources.dropShardedTable(spark, path)
  }
}
