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

  /** Count jobs started while `build` runs, using a marker job to
    * flush the (async) listener bus: listener events are ordered, so
    * once the marker's start event is visible, any job launched by
    * `build` would have been seen already. */
  def jobsDuring(build: => Unit): Int = {
    val marker = "graft-test-job-marker"
    val other = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var sawMarker = false
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .map(_.getProperty("spark.job.description", "")).getOrElse("")
        if (desc == marker) sawMarker = true
        else { other.incrementAndGet(); () }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      build
      // flush the async listener bus: events are ordered, so once the
      // tagged marker job is visible, anything `build` launched is too
      spark.sparkContext.setJobDescription(marker)
      try spark.range(1).count()
      finally spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!sawMarker && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(sawMarker, "marker job never observed")
      other.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
