package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM/codegen/scan-init warmup on the smallest SF so the first timed
    // query measures the query, not JIT + parquet footer caches.
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // optional dev-loop filter (comma-separated names); driver sets no
    // filter and benches the full suite
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // optional repeat count (default 1): with SPARK_GRAFT_ROUNDS=2 the
    // (filtered) set runs twice and the LAST pass's timings are
    // reported — the steady-state measurement the regression gate's
    // isolated re-measure fork needs: a fresh JVM's first 2-3 queries
    // absorb codegen/JIT warm-up the entry() warm-up above only
    // partially covers (r8: q226-q228 measured 3-5x their own
    // steady-state purely from running FIRST in the fork)
    val rounds = math.max(
      sys.env.get("SPARK_GRAFT_ROUNDS").map(_.toInt).getOrElse(1), 1)
    // stable name order: Map iteration order varies with hashing, which
    // makes per-query timings incomparable across rounds (and lets an
    // allocation-heavy query's GC debris pollute a DIFFERENT set of
    // successors each run — the r3 bench artifact)
    val results = (1 to rounds).map { _ =>
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (name, _) => only.forall(_.contains(name)) }
        .map { case (name, fn) =>
          // isolate measurements: without a collection here, an
          // allocation-heavy predecessor's garbage lands in THIS
          // query's pauses (measured 2-4x inflation on mid-suite
          // queries vs isolated runs; sorted order only made the
          // pollution deterministic, not absent)
          System.gc()
          val t0 = System.nanoTime()
          // noop sink: forces FULL evaluation of every output column
          // (count() lets Catalyst prune the final projection away)
          try fn(spark, sfDir).write.mode("overwrite")
            .format("noop").save()
          catch { case e: Throwable =>
            // a failed query must not masquerade as a fast one
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          }
          name -> (System.nanoTime() - t0) / 1e9
        }
    }.last
    val total = results.map(_._2).sum
    // the driver keeps only a ~2000-char stdout TAIL: a ~240-query map
    // (~8 KB) printed as one line loses most timings (the r4 artifact —
    // 171 of 236 vanished). So: (1) persist the COMPLETE per-query map
    // as a repo file the round-end commit picks up, (2) print the full
    // map early (visible in full logs), (3) make the LAST line a
    // compact parseable summary that always fits the tail.
    // locale-independent formatting (f"" honors the default locale,
    // which can emit comma decimal separators — invalid JSON)
    def fmt(v: Double, dp: Int): String = {
      val p = math.pow(10, dp)
      (math.round(v * p) / p).toString
    }
    val qs = results.map { case (k, v) =>
      s"\"" + k + "\":" + fmt(v, 3) }.mkString("{", ",", "}")
    def fullLine(metric: String): String =
      s"""{"metric":"$metric","unit":"sec","sf":"$sfDir","queries":$qs,"value":$total}"""
    val fullJson = fullLine("total")
    // only an UNFILTERED run may overwrite the committed full artifact —
    // a dev-loop SPARK_GRAFT_ONLY run would silently shrink it to the
    // filtered subset (and RegisterSpec's parity pin would then fail)
    if (only.isEmpty)
      try java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_FULL.json"),
        fullJson.getBytes("UTF-8"))
      catch { case e: Throwable =>
        System.err.println(s"[bench] BENCH_FULL.json write failed: $e") }
    else System.err.println(
      "[bench] filtered run: BENCH_FULL.json left untouched")
    // stdout keeps "metric":"total" for the final line alone, so a
    // consumer that selects by metric name counts the total once
    println(fullLine("total_map"))
    val top = results.sortBy(-_._2).take(20)
      .map { case (k, v) => s"\"" + k + "\":" + fmt(v, 2) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total_full","unit":"sec","sf":"$sfDir","n_queries":${results.size},"queries_file":"BENCH_FULL.json","top20":$top,"value":$total}""")
    // FINAL line (the only one guaranteed inside the driver's ~2000-char
    // stdout tail): a `queries` map of the SLOWEST queries, as many as fit
    // a ~1800-char line budget (r13 verdict item 1: the driver's per-query
    // comparator parses the last line's `queries` and got nothing from
    // `top20`, leaving PERF per_query/scaling empty every round). The
    // complete map still goes to BENCH_FULL.json and the early full line
    // above — this line is additions-only, 1-decimal, slowest-first so
    // truncation drops only sub-second noise-floor entries.
    val slowEntries = results.sortBy(-_._2)
      .map { case (k, v) => s"\"" + k + "\":" + fmt(v, 1) }
    val budget = 1800 -
      s"""{"metric":"total","unit":"sec","sf":"$sfDir","n_queries":${results.size},"queries":{},"value":$total}""".length
    val sb = new StringBuilder
    var used = 0
    slowEntries.foreach { e =>
      val cost = e.length + (if (used == 0) 0 else 1)
      if (used + cost <= budget) { if (used != 0) sb.append(','); sb.append(e); used += cost }
    }
    println(s"""{"metric":"total","unit":"sec","sf":"$sfDir","n_queries":${results.size},"queries":{${sb.toString}},"value":$total}""")
    spark.stop()
  }
}
