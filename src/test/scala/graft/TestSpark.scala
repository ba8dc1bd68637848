package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (per spark_guide:
  * one SparkSession per suite, lazy). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      // the production installation path: native SQL functions arrive
      // via the extensions hook, not a per-session Register.all call —
      // RegisterSpec exercising SQL text through THIS session is the
      // end-to-end proof the hook wires them in
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
              s"/tmp/graft-warehouse-${System.nanoTime()}")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // "No Partition Defined for Window operation!" is logged once per
    // planned window, thousands of times per run; only that logger is
    // quieted, every other warning stays visible
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
}
