package perfbench

import scala.collection.mutable
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.Success
import org.apache.spark.perfbench.SparkBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

object Tracer {
  /** Local property that tags every Spark job with the op that ran it. */
  val OpKey = "perfbench.op"
  private val RuleLine =
    """^(\S+)\s+(\d+)\s*/\s*(\d+)\s+(\d+)\s*/\s*(\d+)\s*$""".r
}

/** Traced-run collector, observing Spark only through public hooks:
  * a SparkListener (jobs, task time, shuffle, spill, input rows, output
  * bytes — per op through [[Tracer.OpKey]]), a QueryExecutionListener
  * (analysis / optimization / planning phase intervals), the
  * RuleExecutor rule counters and the codegen compile counters. It keeps
  * everything in memory; `finish` hands it to run.py as JSON. */
final class Tracer(spark: SparkSession, json: ObjectMapper) {
  import Tracer._
  private val sc = spark.sparkContext

  private final class Acc {
    var tasks, failed, runMs, cpuNs, shufW, shufR, spill, recIn,
      bytesOut = 0L
  }
  private val accs = mutable.HashMap[String, Acc]()
  private val stageOp = mutable.HashMap[Int, String]()
  private val jobOpen = mutable.HashMap[Int, (String, Long)]()
  private val jobs = json.createArrayNode()
  private val qePhases = json.createArrayNode()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey)))
        .getOrElse("")
      jobOpen(e.jobId) = (op, e.time)
      e.stageIds.foreach(stageOp(_) = op)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobOpen.remove(e.jobId).foreach { case (op, start) =>
        val j = jobs.addObject()
        j.put("job", e.jobId); j.put("op", op)
        j.put("start_ms", start); j.put("end_ms", e.time)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val a = accs.getOrElseUpdate(stageOp.getOrElse(e.stageId, ""), new Acc)
      a.tasks += 1
      if (e.reason != Success) a.failed += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.shufW += m.shuffleWriteMetrics.bytesWritten
        a.shufR += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.recIn += m.inputMetrics.recordsRead
        a.bytesOut += m.outputMetrics.bytesWritten
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      phases(qe)
    override def onFailure(f: String, qe: QueryExecution,
                           e: Exception): Unit = phases(qe)
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) =>
      val o = qePhases.addObject()
      o.put("name", name)
      o.put("start_ms", p.startTimeMs); o.put("end_ms", p.endTimeMs)
    }
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)
  RuleExecutor.resetMetrics()
  private val compileNs0 = CodeGenerator.compileTime
  private val compiles0 = SparkBridge.codegenCompiles()

  /** Called after each op, outside its timed window. */
  def afterOp(rec: ObjectNode): Unit = {
    SparkBridge.drainListeners(sc)
    rec.put("persisted_after", sc.getPersistentRDDs.size)
  }

  def finish(): ObjectNode = {
    SparkBridge.drainListeners(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    val o = json.createObjectNode()
    synchronized {
      o.set[JsonNode]("jobs", jobs)
      o.set[JsonNode]("qe_phases", qePhases)
      val a = o.putObject("ops")
      accs.foreach { case (op, x) =>
        val r = a.putObject(op)
        r.put("tasks", x.tasks); r.put("failed_tasks", x.failed)
        r.put("task_ms", x.runMs); r.put("task_cpu_ns", x.cpuNs)
        r.put("shuffle_write_bytes", x.shufW)
        r.put("shuffle_read_bytes", x.shufR)
        r.put("spill_bytes", x.spill); r.put("records_in", x.recIn)
        r.put("bytes_out", x.bytesOut)
      }
    }
    val m = RuleExecutor.getCurrentMetrics()
    o.put("rule_ns", m.time)
    o.put("rule_runs", m.numRuns)
    o.put("rule_effective_runs", m.numEffectiveRuns)
    val rules = o.putObject("rules_ns")
    RuleExecutor.dumpTimeSpent().split("\n").foreach {
      case RuleLine(name, _, total, _, _) => rules.put(name, total.toLong)
      case _ => ()
    }
    o.put("codegen_compile_ns", CodeGenerator.compileTime - compileNs0)
    o.put("codegen_classes", SparkBridge.codegenCompiles() - compiles0)
    o
  }
}
