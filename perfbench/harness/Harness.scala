package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** JVM side of the benchmark. It runs one workload over the inputs that
  * gen.py made, through the program's public entry points, and writes
  * what it saw as JSON for run.py:
  *
  *   Harness <spec.json>
  *
  * The spec names the workload, the inputs, the numbers of untimed
  * warm-up and of timed passes, and whether to trace. Untraced runs time each op and nothing else;
  * traced runs add a [[Tracer]] (listener, phases, rule and codegen
  * counters) and record spans. Correctness is judged by check.py. */
object Harness {
  private val json = new ObjectMapper()

  def epochMs(nanos: Long): Double = t0Epoch + (nanos - t0Nanos) / 1e6
  private val t0Nanos = System.nanoTime()
  private val t0Epoch = System.currentTimeMillis().toDouble

  def main(args: Array[String]): Unit = {
    val spec = json.readTree(new File(args(0)))
    val out = json.createObjectNode()
    out.put("jvm_start_epoch_ms",
      ManagementFactory.getRuntimeMXBean.getStartTime)
    val spark = session(spec)
    try {
      val w = new Workload(spark, spec, out)
      spec.get("workload").asText match {
        case "query_tail" => w.queryTail()
        case "catalog_sql" => w.catalogSql()
        case other => sys.error(s"unknown workload $other")
      }
      System.gc(); System.gc()
      out.put("heap_mb", ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed / 1048576.0)
    } finally spark.stop()
    json.writeValue(new File(spec.get("out").asText), out)
  }

  /** A fixed session: the same config whatever the host has. */
  private def session(spec: JsonNode): SparkSession = {
    val cores = spec.get("cores").asInt
    val work = spec.get("work_dir").asText
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Runs and records ops. Each op is timed alone; `phase` marks the
  * build/execute split inside it for the span tree. */
final class Runner(spark: SparkSession, tracer: Option[Tracer],
                   gcPerOp: Boolean, json: ObjectMapper) {
  val ops: ArrayNode = json.createArrayNode()
  private var phases: ArrayNode = null

  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally if (phases != null) {
      val p = phases.addObject()
      p.put("name", name)
      p.put("start_ms", Harness.epochMs(t0))
      p.put("end_ms", Harness.epochMs(System.nanoTime()))
    }
  }

  /** Runs `body` as op `index` of `pass`; an exception is recorded as
    * the op's error, never rethrown. Returns the op's record. */
  def op(kind: String, name: String, pass: Int, index: Int)
        (body: => ObjectNode): ObjectNode = {
    val id = s"p$pass-$index"
    if (gcPerOp) System.gc()
    val rec = ops.addObject()
    rec.put("id", id); rec.put("kind", kind); rec.put("name", name)
    rec.put("pass", pass); rec.put("index", index)
    phases = rec.putArray("phases")
    spark.sparkContext.setLocalProperty(Tracer.OpKey, id)
    val gc0 = gcMillisNow()
    val t0 = System.nanoTime()
    try rec.set[JsonNode]("result", body)
    catch { case NonFatal(e) =>
      rec.put("error", e.toString.take(2000))
    }
    val t1 = System.nanoTime()
    rec.put("gc_ms", gcMillisNow() - gc0)
    spark.sparkContext.setLocalProperty(Tracer.OpKey, null)
    phases = null
    rec.put("start_ms", Harness.epochMs(t0))
    rec.put("end_ms", Harness.epochMs(t1))
    rec.put("lat_s", (t1 - t0) / 1e9)
    System.err.println(f"[perfbench] $id $name ${(t1 - t0) / 1e9}%.3f s" +
      (if (rec.has("error")) " FAILED" else ""))
    tracer.foreach(_.afterOp(rec))
    rec
  }

  private def gcMillisNow(): Long = ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
}

final class Workload(spark: SparkSession, spec: JsonNode, out: ObjectNode) {
  private val json = new ObjectMapper()
  private val passes = spec.get("passes").asInt
  private val warmupPasses = spec.get("warmup_passes").asInt
  private val work = spec.get("work_dir").asText
  private val data = spec.get("data_dir").asText
  private val traced = spec.get("trace").asBoolean

  private def obj(kv: (String, Any)*): ObjectNode = {
    val o = json.createObjectNode()
    kv.foreach {
      case (k, null) => o.putNull(k)
      case (k, v: Long) => o.put(k, v)
      case (k, v: Int) => o.put(k, v)
      case (k, v) => o.put(k, v.toString)
    }
    o
  }

  private def strings(n: JsonNode): Seq[String] =
    n.elements().asScala.map(_.asText).toSeq

  /** Runs `pass` untimed `warmup_passes` times (passes -1, -2, ...) and
    * marks the end of set-up, so that class loading, JIT and Spark's
    * codegen cache are done when timing starts. An op that throws here
    * throws again, and is counted, in the timed passes. */
  private def warmUpThenReady(pass: (Runner, Int) => Unit): Unit = {
    val runner = new Runner(spark, None, gcPerOp = false, json)
    (1 to warmupPasses).foreach(p => pass(runner, -p))
    out.put("ready_epoch_ms", System.currentTimeMillis())
  }

  /** Starts tracing (traced runs only) and returns the op runner for
    * the timed passes. */
  private def timedRunner(gcPerOp: Boolean): (Runner, Option[Tracer]) = {
    val tracer = if (traced) Some(new Tracer(spark, json)) else None
    (new Runner(spark, tracer, gcPerOp, json), tracer)
  }

  private def finish(runner: Runner, tracer: Option[Tracer]): Unit = {
    out.set[JsonNode]("ops", runner.ops)
    tracer.foreach(t => out.set[JsonNode]("trace", t.finish()))
  }

  // ---- query_tail -------------------------------------------------------

  def queryTail(): Unit = {
    val all = graft.SparkEntry.queries
    val names = strings(spec.get("queries"))
    val oracle = graft.SparkEntry.oracleSql
    val sqls = out.putObject("oracle")
    names.foreach(n => oracle.get(n).foreach(sqls.put(n, _)))
    // each op builds the query and writes its result as parquet, which
    // check.py compares with the oracle after the run
    val results = spec.get("results_dir").asText
    def pass(runner: Runner, p: Int): Unit =
      for ((n, i) <- names.zipWithIndex)
        runner.op("query", n, p, i) {
          val df = runner.phase("build") { all(n)(spark, data) }
          runner.phase("execute") {
            df.write.mode("overwrite").parquet(s"$results/$n")
          }
          null
        }
    warmUpThenReady(pass)
    val (runner, tracer) = timedRunner(gcPerOp = true)
    (1 to passes).foreach(p => pass(runner, p))
    finish(runner, tracer)
  }

  // ---- catalog_sql ------------------------------------------------------

  private def catalogPass(ops: JsonNode, table: String, runner: Runner,
                          pass: Int): Unit = {
    val full = s"pbcat.corpus.$table"
    ops.elements().asScala.zipWithIndex.foreach { case (o, i) =>
      def l(k: String) = o.get(k).asLong
      val kind = o.get("kind").asText
      val (label, sql) = kind match {
        case "create" => ("create",
          s"""CREATE TABLE $full (doc_id BIGINT, n_chars BIGINT,
             |  n_mod BIGINT, source STRING) USING `graft-sharded`
             |TBLPROPERTIES ('idCol'='doc_id', 'numShards'='4',
             |  'statsCols'='doc_id')""".stripMargin)
        case "insert_select" => ("insert",
          s"""INSERT INTO $full SELECT doc_id, n_chars, doc_id % 97, source
             |FROM pb_docs WHERE doc_id % ${l("mod")} = ${l("rem")}"""
            .stripMargin)
        case "insert_values" => ("insert",
          s"INSERT INTO $full VALUES " + o.get("rows").elements().asScala
            .map { r =>
              val id = r.get(0).asLong
              s"($id, ${r.get(1).asLong}, ${id % 97}, '${r.get(2).asText}')"
            }.mkString(", "))
        case "select" => ("select",
          s"""SELECT count(*), sum(n_chars) FROM $full
             |WHERE doc_id BETWEEN ${l("lo")} AND ${l("hi")}
             |  AND n_chars >= ${l("min_chars")}""".stripMargin)
        case "call" => ("call", o.get("proc").asText match {
          case "compact" => s"CALL pbcat.system.compact(table => " +
            s"'corpus.$table', small_dir_rows => 1000000)"
          case "rewrite_zorder" => s"CALL pbcat.system.rewrite_zorder(" +
            s"table => 'corpus.$table', z_cols => 'n_chars,n_mod')"
          case "expire_snapshots" => s"CALL pbcat.system.expire_snapshots(" +
            s"table => 'corpus.$table', keep => 1)"
          case "vacuum" => s"CALL pbcat.system.vacuum(table => " +
            s"'corpus.$table', grace_ms => 0)"
        })
      }
      runner.op(label, kind, pass, i) {
        val df = runner.phase("build") { spark.sql(sql) }
        if (label == "select") runner.phase("execute") {
          val r = df.head()
          obj("count" -> r.getLong(0),
            "sum" -> (if (r.isNullAt(1)) null else r.getLong(1)))
        } else {
          runner.phase("execute") { df.collect() }
          null
        }
      }
    }
  }

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length

  /** Table contents folded to `buckets` rows of order-free aggregates —
    * compared by check.py against its own fold of the op sequence.
    * `strCols` are string columns of the form <prefix><integer>, summed
    * as the integer after `prefix` characters. */
  private def contents(df: DataFrame, buckets: Int,
                       strCols: Seq[(String, Int)]): ArrayNode = {
    val arr = json.createArrayNode()
    val aggs = Seq(count(lit(1)), sum(col("doc_id")), sum(col("n_chars")),
      sum(col("n_mod"))) ++ strCols.map { case (c, k) =>
        sum(substring(col(c), k + 1, Int.MaxValue).cast("bigint")) }
    df.groupBy(pmod(col("doc_id"), lit(buckets.toLong)).as("b"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy("b").collect().foreach { r =>
        val a = arr.addArray()
        (0 until r.length).foreach(i => a.add(r.getLong(i)))
      }
    arr
  }

  def catalogSql(): Unit = {
    val wh = s"$work/catalog"
    spark.conf.set("spark.sql.catalog.pbcat", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.pbcat.warehouse", wh)
    spark.read.parquet(s"$data/documents.parquet")
      .createOrReplaceTempView("pb_docs")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS pbcat.corpus")
    // each pass, warm-up ones too, runs the statements on a table of its
    // own; a timed pass records the table's final contents and size
    val finals = out.putArray("final")
    def pass(runner: Runner, p: Int): Unit = {
      val table = if (p > 0) s"docs_p$p" else s"docs_w${-p}"
      try {
        catalogPass(spec.get(if (p > 0) "ops" else "warmup_ops"), table,
          runner, p)
        if (p > 0) {
          val f = finals.addObject()
          f.put("pass", p)
          f.set[JsonNode]("buckets",
            contents(spark.table(s"pbcat.corpus.$table"), 16,
              Seq("source" -> 3)))
          f.put("stored_bytes", dirBytes(new File(s"$wh/corpus/$table")))
        }
      } finally spark.sql(s"DROP TABLE IF EXISTS pbcat.corpus.$table")
    }
    warmUpThenReady(pass)
    val (runner, tracer) = timedRunner(gcPerOp = false)
    (1 to passes).foreach(p => pass(runner, p))
    finish(runner, tracer)
  }
}
