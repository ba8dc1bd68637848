package graft.tools

import graft.Checkpoints.CheckpointOps
import graft.sources.{ConditionalPutClaimStore, EmulatedObjectStore,
  Sources}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only probe of the sharded table at volume and under concurrent
  * writers. Three modes:
  *  - `table [rows=N]`: a write / merge / update / delete-where /
  *    compact / read chain over N rows (default 6M). The claims under
  *    test: commit cost tracks the BATCH (merge of 2% ≪ write of
  *    100%), tombstone ops never rewrite data, and the chain
  *    parallelizes (compare SPARK_GRAFT_CPUS=8 with 32);
  *  - `race`: 1, 2, 4 and 8 writers, 5 appends each, into one table
  *    over the default [[Sources.AtomicCreateClaimStore]];
  *  - `race-objstore`: the same writer matrix over the conditional-put
  *    [[ConditionalPutClaimStore]] with injected faults — ~1 in 5 puts
  *    loses its request (no effect), ~1 in 5 commits but loses its
  *    response (the ambiguous case the token protocol exists for).
  *
  * In both race modes every batch must land exactly once: contiguous
  * versions, `rows` equal to `want`, a clean audit. Usage:
  *   SPARK_GRAFT_CPUS=4 scripts/run_main.sh graft.tools.ScaleProbe \
  *     table rows=200000 */
object ScaleProbe {

  /** Per-op stage-metric accounting: two plans with equal wall time can
    * differ 10x in shuffle volume, the thing that ranks them on a
    * cluster. So every op row also reports its job count, shuffle
    * write/read bytes and spill (memory+disk), accumulated from
    * SparkListener events between op start and end (listener events
    * are async: we sleep briefly after the action so the final stages
    * land — a dev probe tolerance, not a production pattern). */
  private def timed(spark: SparkSession, label: String)
                   (f: => Long): Unit = {
    val sw = new java.util.concurrent.atomic.AtomicLong
    val sr = new java.util.concurrent.atomic.AtomicLong
    val sp = new java.util.concurrent.atomic.AtomicLong
    val nj = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        nj.incrementAndGet(); ()
      }
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted)
          : Unit = {
        val m = e.stageInfo.taskMetrics
        if (m != null) {
          sw.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          sr.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          sp.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          ()
        }
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val t0 = System.nanoTime()
      val r = f
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(400) // let the last stage-completed events land
      def mb(b: Long) = b / 1024 / 1024
      println(f"[scale] $label%-32s $sec%8.1f s   rows=$r   " +
        f"jobs=${nj.get}%3d shufW=${mb(sw.get)}%6d MB " +
        f"shufR=${mb(sr.get)}%6d MB spill=${mb(sp.get)}%6d MB")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def tablePath(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  private def dropTable(spark: SparkSession, path: String): Unit = {
    Sources.dropShardedTable(spark, path)
    new java.io.File(path).getParentFile.delete(); ()
  }

  private def tableChain(spark: SparkSession, cpus: String,
                         n: Long): Unit = {
    val path = tablePath("graft_scale_tbl_")
    val docs = spark.range(n).select(col("id").as("doc_id"),
        concat(lit("s"), pmod(col("id"), lit(17))).as("source"),
        (pmod(hash(col("id")), lit(20000L)) + lit(20000L))
          .as("n_chars"))
      .repartition(64).cut()
    println(s"[scale] table chain over $n rows, cpus=$cpus")
    timed(spark, s"write 100%") {
      Sources.writeShardedTable(docs, col("doc_id"), col("doc_id"),
        path, numShards = 64, statsCols = Seq("doc_id")); n
    }
    timed(spark, "merge 2%") {
      Sources.mergeShardedTable(
        docs.filter(col("doc_id") % 50 === 3)
          .withColumn("n_chars", col("n_chars") + 100000L),
        "doc_id", col("doc_id"), path, numShards = 8,
        statsCols = Seq("doc_id"))
    }
    timed(spark, "update 1%") {
      Sources.updateShardedTable(spark, path, "doc_id",
        col("n_chars").between(20000, 20400),
        Seq("n_chars" -> (col("n_chars") + 500000L)), col("doc_id"),
        numShards = 8, statsCols = Seq("doc_id"))
    }
    timed(spark, "delete-where 2%") {
      Sources.deleteWhereShardedTable(spark, path, "doc_id",
        col("doc_id") % 53 === 7)
    }
    timed(spark, "compact small dirs") {
      Sources.compactShardedTable(spark, path, col("doc_id"),
        col("doc_id"), numShards = 8, statsCols = Seq("doc_id"),
        smallDirRows = n / 4)
    }
    timed(spark, "read + agg") {
      Sources.readShardedTable(spark, path)
        .agg(count(lit(1)), sum(col("n_chars"))).head().getLong(0)
    }
    timed(spark, "pruned read 1%") {
      Sources.readShardedTable(spark, path,
          preds = Seq(("doc_id", 0L, n / 100)))
        .filter(col("doc_id") <= n / 100)
        .agg(count(lit(1))).head().getLong(0)
    }
    dropTable(spark, path)
  }

  /** N writers x 5 appends each into one table, over `store`. Data
    * writes overlap and only the claim + publish serializes, so the
    * wall should grow sublinearly in writers. */
  private def raceMatrix(spark: SparkSession, mode: String,
                         store: Sources.ClaimStore,
                         faults: () => Long): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    def batch(w: Int, i: Int) = spark.range(1000)
      .select((col("id") + 100000L * w + 1000L * i).as("doc_id"),
        concat(lit("d"), col("id")).as("t"))
    Sources.setClaimStore(store)
    try for (writers <- Seq(1, 2, 4, 8)) {
      val path = tablePath(s"graft_${mode.replace('-', '_')}_")
      Sources.writeShardedTable(batch(99, 0), col("doc_id"),
        col("doc_id"), path, 2, Seq("doc_id"))
      val gate = new java.util.concurrent.CountDownLatch(1)
      val fs = (0 until writers).map { w =>
        Future {
          gate.await()
          (0 until 5).foreach { i =>
            Sources.appendShardedTable(batch(w, i), col("doc_id"),
              col("doc_id"), path, 2, Seq("doc_id"))
          }
        }
      }
      val t0 = System.nanoTime()
      gate.countDown()
      fs.foreach(f => Await.result(f, scala.concurrent.duration
        .Duration(600, "s")))
      val sec = (System.nanoTime() - t0) / 1e9
      val vs = Sources.shardedVersions(spark, path)
      val rows = Sources.readShardedTable(spark, path).count()
      val audit = Sources.auditShardedTable(spark, path).count()
      println(f"[scale] $mode writers=$writers " +
        f"commits=${writers * 5} wall=$sec%6.1f s " +
        f"(${sec / (writers * 5)}%.2f s/commit) " +
        f"versions=${vs.size} contiguous=${vs == (1L to vs.size)} " +
        f"rows=$rows (want ${1000 * (writers * 5 + 1)}) " +
        f"audit=$audit faults=${faults()}")
      dropTable(spark, path)
    } finally Sources.setClaimStore(Sources.AtomicCreateClaimStore)
  }

  def main(args: Array[String]): Unit = {
    // env-driven core count (default 32) so the same probe yields the
    // 8c/32c core ratio of the scale story
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try args.headOption match {
      case Some("table") =>
        tableChain(spark, cpus, args.find(_.startsWith("rows="))
          .map(_.stripPrefix("rows=").toLong).getOrElse(6000000L))
      case Some("race") =>
        raceMatrix(spark, "race", Sources.AtomicCreateClaimStore, () => 0L)
      case Some("race-objstore") =>
        val puts = new java.util.concurrent.atomic.AtomicLong
        val faults = new java.util.concurrent.atomic.AtomicLong
        val store = new EmulatedObjectStore(key =>
          if (!key.contains("graft_race_objstore_"))
            EmulatedObjectStore.NoFault
          else (puts.getAndIncrement() % 5) match {
            case 1 => faults.incrementAndGet()
              EmulatedObjectStore.TransientBeforeEffect
            case 3 => faults.incrementAndGet()
              EmulatedObjectStore.TransientAfterEffect
            case _ => EmulatedObjectStore.NoFault
          })
        raceMatrix(spark, "race-objstore",
          new ConditionalPutClaimStore(store), () => faults.get())
      case _ =>
        System.err.println(
          "usage: ScaleProbe table [rows=N] | race | race-objstore")
    } finally spark.stop()
  }
}
