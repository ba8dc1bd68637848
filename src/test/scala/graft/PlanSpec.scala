package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions — the "would this survive a 100x scale-up"
  * gate. Correct results through a bad plan (full scans, shuffled dims,
  * no partial aggregation) pass value checks but die at scale; these
  * tests pin the plan shapes the engine is designed around.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import TestSpark.sf0001

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf0001)
      .queryExecution.executedPlan.toString


  /** Single-partition funnels are allowed ONLY for (a) scalar
    * aggregates (keys=[] — O(partitions) partial rows through one
    * task) and (b) orderedCumsum's per-partition-totals window (child
    * aggregates on the reserved __pid key — a partitions-sized frame
    * by construction, the price of the lazy collect-free prefix sum).
    * Anything else is the corpus-through-one-task trap these pins
    * exist to catch. Expects a LOWERCASED plan string. */
  private def assertBoundedSinglePartitions(q: String, p: String): Unit =
    p.split("exchange singlepartition").drop(1).foreach { after =>
      // 500-char window: the child aggregate is the next tree line,
      // but deep plans carry hundreds of chars of `: ` indentation
      assert(after.take(500).contains("hashaggregate(keys=[]") ||
             after.take(500).contains("hashaggregate(keys=[__pid"),
        s"$q: unbounded single-partition stage: ${after.take(600)}")
    }

  test("q02 filter reaches the parquet scan (predicate pushdown)") {
    val p = plan("q02_project_filter")
    assert(p.contains("PushedFilters"), p.take(500))
    assert(p.contains("GreaterThan(l_quantity,30") ||
           p.contains("GreaterThan(l_quantity, 30"), p.take(2000))
  }

  test("q02 scan reads only the projected + filtered columns (pruning)") {
    val p = plan("q02_project_filter")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("l_orderkey") && read.contains("l_quantity"))
    assert(!read.contains("l_extendedprice") && !read.contains("l_comment"),
      read)
  }

  test("q40 dimension join broadcasts (no shuffle of the fact side)") {
    val p = plan("q40_join_enrich")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q282/q283 scalar-subquery thresholds broadcast the 1-row side") {
    for (q <- Seq("q282_tpch_q11", "q283_tpch_q15")) {
      val p = plan(q)
      assert(p.contains("BroadcastNestedLoopJoin") ||
             p.contains("BroadcastExchange"), s"$q: ${p.take(2000)}")
      // the threshold never forces the fact side through an extra
      // exchange beyond its own aggregation
      assert("HashAggregate".r.findAllIn(p).size >= 2, q)
    }
  }

  test("q295 equi-depth boundaries broadcast — no driver collect") {
    val p = plan("q295_equidepth_hist")
    assert(p.contains("BroadcastNestedLoopJoin") ||
           p.contains("BroadcastExchange"), p.take(2000))
    // quantile pass (ObjectHashAggregate for percentile) + the bucket
    // count both aggregate partially
    assert(("HashAggregate".r.findAllIn(p).size +
            "ObjectHashAggregate".r.findAllIn(p).size) >= 2,
      p.take(2000))
  }

  test("q296 join forecast runs on key frames, never fact rows") {
    val p = plan("q296_join_forecast")
    // both sides aggregate to per-key counts BEFORE meeting; the top-N
    // is a TakeOrdered, not a global sort
    assert("HashAggregate".r.findAllIn(p).size >= 4, p.take(2000))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("q292 LPA argmax is an aggregation, not a per-node window") {
    val p = plan("q292_lpa_communities")
    assert(!p.contains("Window"), p.take(2000))
    assert(p.contains("max_by") || p.contains("HashAggregate"),
      p.take(2000))
  }

  test("q01 aggregates partially before the shuffle (map-side combine)") {
    val p = plan("q01_flagship_agg")
    // partial + final pairs appear as two HashAggregate levels
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("SparkEntry.entry (the flagship q01) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q24 corpus side is not shuffled (broadcast of the query side)") {
    val p = plan("q24_ann_topk")
    assert(p.contains("BroadcastNestedLoopJoin") ||
           p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q34 text stats scan only id + text") {
    val p = plan("q34_token_count")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("doc_id") && read.contains("text"))
    assert(!read.contains("lang") || read.contains("ReadSchema: struct<doc_id"),
      read)
  }

  test("bucketed tables join without a shuffle (co-located join)") {
    val s = spark
    val orders = s.read.parquet(s"$sf0001/orders.parquet")
    val customer = s.read.parquet(s"$sf0001/customer.parquet")
    graft.sources.Sources.writeBucketed(
      orders.withColumnRenamed("o_custkey", "k"), "b_orders", Seq("k"), 4)
    graft.sources.Sources.writeBucketed(
      customer.withColumnRenamed("c_custkey", "k"), "b_cust", Seq("k"), 4)
    val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = s.table("b_orders").join(s.table("b_cust"), "k")
        .queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
      assert(!p.contains("Exchange"), p) // bucketing satisfied distribution
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q49 candidate generation is a bucketed join, not a cartesian") {
    // the whole point of the LSH path vs q28's exact baseline: candidates
    // meet through equi-joins on (table, bucket) keys — a nested-loop
    // plan would mean the bucketing silently degenerated to all-pairs
    val df = SparkEntry.queries("q49_embedding_pairs_lsh")(spark, sf0001)
    df.collect() // finalize under AQE
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!p.contains("BroadcastNestedLoopJoin") &&
           !p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
           p.contains("BroadcastHashJoin"), p.take(2000))
    // and the corpus is read once for bucketing, not once per table
    // (verify-side id->vector lookups add their own scans; the pre-fix
    // union form produced tables+2 = 26)
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans <= 4, s"expected <= 4 scans, got $scans")
  }

  test("ANN top-k aggregates partially before the shuffle") {
    // the TopKByScore path: ObjectHashAggregate partial_topkbyscore on
    // the map side means only k rows per (task, query) cross the
    // exchange — a window plan would show Sort + Window AFTER an
    // exchange of every scored row instead
    val p = plan("q24_ann_topk")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      p.take(2000))
    val firstAgg = p.linesIterator
      .find(l => l.contains("partial_topkbyscore")).getOrElse("")
    assert(firstAgg.nonEmpty, p.take(3000))
    assert(!p.contains("Window"), p.take(2000))
  }

  test("q78 bloom probe filters the corpus in-scan before any join") {
    val df = SparkEntry.queries("q78_decontaminate_bloom")(spark, sf0001)
    df.collect() // finalize under AQE
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // the gram stream is screened by the bloom Filter BELOW the
    // broadcast join (probe arithmetic is plain column ops -> Filter),
    // and the exact eval-gram join broadcasts
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    val filterIdx = p.indexOf("shiftrightunsigned")
    val joinIdx = p.indexOf("BroadcastHashJoin")
    assert(filterIdx > joinIdx && joinIdx >= 0,
      s"bloom filter should sit under the join (filter@$filterIdx, " +
      s"join@$joinIdx)")
  }

  test("q82 prefix sum range-partitions — no single-partition window") {
    // the classic cumulative-sum trap is `sum() over (order by ...)`
    // with no partitionBy: Spark plans it as Exchange SinglePartition
    // and the whole corpus serializes through one task. orderedCumsum
    // must show a rangepartitioning exchange and only pid-partitioned
    // windows.
    val p = plan("q82_pack_sequences").toLowerCase
    assert(p.contains("rangepartitioning"), p.take(2000))
    assertBoundedSinglePartitions("q82", p)
  }

  test("q96 token budget range-partitions — no one-task-per-group window") {
    // the trap: `sum() over (partition by source order by hash)` puts
    // each source on ONE task (20 straggler tasks at 100 TB).
    // tokenBudget's grouped prefix sum must show a rangepartitioning
    // exchange, windows keyed by (pid, group), and never a
    // single-partition stage.
    val p = plan("q96_token_budget").toLowerCase
    assert(p.contains("rangepartitioning"), p.take(2000))
    assert(!p.contains("singlepartition"), p.take(3000))
  }

  test("q50 root chunking range-partitions — no global window") {
    // root Vec(n) under a declared order previously planned an
    // unpartitioned row_number/lead window (Exchange SinglePartition:
    // the whole table through one task); the prefix-sum + chunk-key
    // lowering must never show a single-partition stage
    val p = plan("q50_chunk_root").toLowerCase
    assert(p.contains("rangepartitioning"), p.take(2000))
    assertBoundedSinglePartitions("q50", p)
  }

  test("q105 BPE pair stats: TakeOrdered top-N over a partial agg") {
    // top-50 must plan as TakeOrderedAndProject (no global sort of the
    // pair table) and the pair counts must partial-aggregate map-side
    val p = plan("q105_bpe_pairs")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(p.contains("partial_sum") || p.contains("partial sum") ||
           p.toLowerCase.contains("partial"), p.take(3000))
  }

  test("q107 prototypicality range-partitions — no per-cluster window") {
    // per-cluster rank runs on the distributed prefix sum; cluster
    // sizes come back through a broadcast join, never a window over
    // the cluster key (billion-row clusters = straggler tasks)
    val p = plan("q107_prototypes").toLowerCase
    assert(p.contains("rangepartitioning"), p.take(2000))
    assertBoundedSinglePartitions("q107", p)
    assert(p.contains("broadcast"), p.take(3000))
  }

  test("q108 DSIR model joins broadcast; corpus is never shuffled for scoring") {
    // the B-sized bucket model and vocab-sized token model must reach
    // the corpus through broadcast joins — the corpus-side explode
    // feeds a BroadcastHashJoin, not an Exchange hashpartitioning on
    // tok
    val p = plan("q108_dsir_weights")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q95 keep-best survivor is one aggregation, no per-cluster window") {
    // the representative choice must be max(struct(score, -id)) — an
    // agg with map-side partials — not row_number over the cluster key
    val p = plan("q95_cluster_best").toLowerCase
    assert(!p.contains("window"), p.take(3000))
  }

  test("q88 semdedup pairs meet through a cluster-key equi-join") {
    // SemDeDup's reason to exist: the pair space is partitioned by the
    // k-means routing, so candidates meet through an equi-join on the
    // cluster id — a nested-loop plan would mean the routing silently
    // degenerated to q28's all-pairs baseline
    val df = SparkEntry.queries("q88_semdedup_pairs")(spark, sf0001)
    df.collect() // finalize under AQE
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!p.contains("BroadcastNestedLoopJoin") &&
           !p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
           p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q89/q90 manifests range-partition — no single-partition stage") {
    // both ride orderedCumsum; a bare `row_number() over (order by ...)`
    // or `partitionBy(bucket)` with few buckets would serialize the
    // corpus through one (or few) tasks
    for (q <- Seq("q89_length_batches", "q90_shuffle_shards")) {
      val p = plan(q).toLowerCase
      assert(p.contains("rangepartitioning"), s"$q: ${p.take(2000)}")
      assertBoundedSinglePartitions(q, p)
    }
  }

  test("whole-stage codegen covers the dedup hashing pipeline") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
    val df = graft.ops.Dedup.minhashLshPairs(
      d, org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.col("text"), tau = 0.6)
    df.collect() // AQE: codegen spans only appear in the final executed
                 // plan, and only for THIS df's queryExecution (count()
                 // would execute a different wrapped plan)
    val p = df.queryExecution.executedPlan.toString
    // codegen'd stages print as "*(n) Operator" in the compact tree
    assert(p.contains("WholeStageCodegen") || p.contains("*("), p.take(2000))
    // the scan+shingle+signature projection must be inside a codegen span
    val sigLine = p.linesIterator.find(_.contains("minhash_sig")).getOrElse("")
    assert(sigLine.contains("*("), sigLine)
  }

  test("q125 containment pairs meet through the fp equi-join, no nested loop") {
    // winnowing's reason to exist at scale: candidates meet on the
    // 31-bit fingerprint key — a nested-loop plan would mean the
    // inverted index degenerated to all-pairs
    val df = SparkEntry.queries("q125_containment_pairs")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!p.contains("BroadcastNestedLoopJoin") &&
           !p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
           p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q126 bm25 broadcasts the query terms; stage scans are filtered") {
    val df = SparkEntry.queries("q126_bm25")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the query-term join must be the broadcast side — shuffling the
    // corpus tf index to meet 8 query terms is exactly backwards
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q128 funnel pushes each stage's event-type filter to the scan") {
    val p = plan("q128_funnel")
    // per-stage scans read only matching events; an unfiltered scan
    // feeding a post-filter would read every event k times
    assert(p.contains("PushedFilters") &&
           (p.contains("EqualTo(event_type,signup)") ||
            p.contains("EqualTo(event_type, signup)")), p.take(3000))
  }

  test("q220 star flatten broadcasts every dimension join") {
    // the fact table must stream through three BroadcastHashJoins; a
    // SortMergeJoin would shuffle the fact once per dimension
    val p = plan("q220_star_flatten").toLowerCase
    assert(p.contains("broadcasthashjoin"), p.take(2000))
    assert(!p.contains("sortmergejoin"), p.take(3000))
  }

  test("q194 strata overlap meets through the shingle equi-join") {
    val p = plan("q194_source_overlap").toLowerCase
    // candidate pairs must form on the shingle key; a nested-loop
    // cross of strata shingle sets would be corpus^2
    assert(!p.contains("broadcastnestedloopjoin") &&
           !p.contains("cartesianproduct"), p.take(3000))
  }

  test("q207/q208 rank passes range-partition, scalar funnels only") {
    Seq("q207_rfm_segments", "q208_pareto").foreach { q =>
      val p = plan(q).toLowerCase
      assert(p.contains("rangepartitioning"), s"$q: ${p.take(2000)}")
      assertBoundedSinglePartitions(q, p)
    }
  }

  test("q242/q247 set-similarity candidates meet through equi-joins") {
    // both joins exist to AVOID all-pairs: prefix tokens (q242) and
    // deletion signatures (q247) are equi-join keys; a nested-loop
    // plan would mean the blocking silently degenerated
    Seq("q242_prefix_filter_pairs", "q247_deletion_neighbors").foreach {
      q =>
        val df = SparkEntry.queries(q)(spark, sf0001)
        df.collect() // finalize under AQE
        val p = df.queryExecution.executedPlan.toString
          .split("== Initial Plan ==")(0)
        assert(!p.contains("BroadcastNestedLoopJoin") &&
               !p.contains("CartesianProduct"), s"$q: ${p.take(2000)}")
        assert(p.contains("SortMergeJoin") ||
               p.contains("ShuffledHashJoin") ||
               p.contains("BroadcastHashJoin"), s"$q: ${p.take(2000)}")
    }
  }

  test("q244 triangle close is a broadcast join under the edge-size gate") {
    // the closing join's wedge side outnumbers the edge side ~30:1; at
    // test scale the edge list is under the gate, so the wedge stream
    // must NOT shuffle — a SortMergeJoin here means the broadcast gate
    // silently stopped firing and 100x data pays a wedge-sized shuffle
    val df = SparkEntry.queries("q244_triangles")(spark, sf0001)
    df.collect() // finalize under AQE
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q264 packed-IVF probe plan has no aggregation (stateless claim)") {
    // the in-row ranking is what lets the SAME kernel run append-mode
    // under Structured Streaming; an aggregate sneaking into the probe
    // path would break that contract before StreamingSpec noticed.
    // (ivfPack's index build may aggregate — checked frame is the probe:
    // packed index precomputed here, exactly like the streaming setup.)
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val (cents, packed) = graft.ops.Similarity.ivfPack(
      e, col("vec_id"), col("embedding"), nLists = 8)
    val probe = graft.ops.Similarity.ivfTopKPacked(
      e.filter(col("vec_id") < 10), cents, packed.localCheckpoint(),
      col("vec_id"), col("embedding"), k = 5)
    val p = probe.queryExecution.executedPlan.toString
    assert(!p.contains("HashAggregate") && !p.contains("SortAggregate")
           && !p.contains("ObjectHashAggregate"), p.take(2000))
  }

  test("q174/q186 rank passes range-partition — no single-partition window") {
    // both global-rank consumers must ride orderedCumsum's
    // range-partitioned prefix sum; a `row_number() over (order by)`
    // regression would reappear as an Exchange SinglePartition feeding
    // a Window. The scalar total-count aggregate legitimately funnels
    // O(partitions) partial counts through one task — allow exactly
    // that shape (the exchange's child is a keyless hashaggregate).
    Seq("q174_lift_table", "q186_quantile_norm").foreach { q =>
      val p = plan(q).toLowerCase
      assert(p.contains("rangepartitioning"), s"$q: ${p.take(2000)}")
      assertBoundedSinglePartitions(q, p)
    }
  }

  test("q350 multi-column forward fill plans ONE shuffle and ONE sort") {
    // the docstring's claim: every filled column shares the same window
    // spec, so Catalyst folds them into a single Window over a single
    // exchange + sort — filling 3 columns must not triple the shuffles
    import org.apache.spark.sql.functions._
    // plan shape only — the raw long ts orders the window just as well
    val e = spark.read.parquet(s"$sf0001/events.parquet")
      .select(col("user_id"), col("event_id"), col("ts"),
        col("value").as("v1"), col("value").as("v2"), col("value").as("v3"))
    val p = ops.Events.forwardFill(e, col("user_id"), col("ts"),
        col("event_id"), Seq("v1", "v2", "v3"))
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      p.take(2000))
    assert("\\[Sort ".r.findAllIn(p).size <= 1 &&
           "Window ".r.findAllIn(p).size == 1, p.take(2000))
  }

  test("q354 gopher screen is shuffle-free (pure expression chain)") {
    val p = plan("q354_gopher_rules").toLowerCase
    // orderBy adds the output range exchange; nothing else may shuffle
    assert(!p.contains("hashpartitioning"), p.take(2000))
    assert(!p.contains("hashaggregate"), p.take(2000))
  }

  test("q349/q352 per-key folds are one partial-free hash shuffle each") {
    for (q <- Seq("q349_ewma", "q352_token_bucket")) {
      val p = plan(q)
      // collect_list cannot combine map-side meaningfully, but the
      // plan must still be a single hashpartitioning on the key —
      // no second data shuffle beyond the output sort
      assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
        s"$q: ${p.take(2000)}")
    }
  }

  test("q356 acf computes all lags under ONE window pass") {
    // the docstring's claim: maxLag lag columns share one window spec,
    // so one Window node / one sort — lags must not multiply shuffles
    val p = plan("q356_acf")
    assert("Window ".r.findAllIn(p).size == 1, p.take(2000))
  }

  test("q360 outlier per-dim moments broadcast back to the coordinates") {
    // the dims-sized stats frame must come back as a broadcast join —
    // re-shuffling the full coordinate frame on dim id would be a
    // corpus-sized exchange for a 64-row lookup
    val p = plan("q360_embedding_outliers")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    // TakeOrdered for the top-k, not a global sort
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("q358 ivm plan cost is state+delta: no join back to base rows") {
    // union-of-partials + one final agg; the base orders relation
    // appears only in building state/changes, never re-joined
    val p = plan("q358_ivm_apply")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      p.take(2000))
  }

  test("q365 tpch-q6 predicates all reach the parquet scan") {
    val p = plan("q365_tpch_q6")
    val pushed = p.linesIterator.find(_.contains("PushedFilters"))
      .getOrElse("")
    assert(pushed.contains("l_shipdate") && pushed.contains("l_discount")
      && pushed.contains("l_quantity"), pushed)
    // no join, no wide shuffle: the only exchange is the one-row final
    assert(!p.contains("Join"), p.take(1500))
  }

  test("q366 tpch-q9 broadcasts every dimension; fact shuffles once") {
    val p = plan("q366_tpch_q9")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p.take(2500))
    // orders join may be sort-merge (both fact-sized) but part,
    // supplier and nation must never shuffle the fact side
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 3,
      p.take(2500))
  }

  test("q359 variant parses the payload ONCE for all extracted paths") {
    // the docstring's claim vs get_json_object: one parseJson node
    // feeds every try_variant_get — per-field re-parses would show as
    // one parseJson per path
    val p = plan("q359_variant_extract")
    assert("parseJson".r.findAllIn(p).size == 1, p.take(2000))
    assert("try_variant_get".r.findAllIn(p).size == 2, p.take(2000))
    // and the aggregation combines map-side before the shuffle
    assert(p.contains("partial_count"), p.take(2000))
  }

  test("PairJoins gate: large sides keep the merge veto (never a " +
       "static broadcast of a corpus-sized pair side)") {
    import org.apache.spark.sql.functions._
    // a corpus past the fixed budget: every doc winnows to one
    // fingerprint, so the fingerprint side counts 600,000 narrow rows
    // (38 MB at the 64 B/row bound, over the 32 MB budget)
    val n = 600000L
    assert(!graft.ops.PairJoins.fits(n, graft.ops.PairJoins.NarrowRowBytes))
    val d = spark.range(n).select(col("id").as("doc_id"),
      concat(lit("a b c "), col("id")).as("text"))
    val p = graft.ops.Dedup.winnowContainmentPairs(
        d, col("doc_id"), col("text"), 3, 4, 3, 20)
      .queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), p.take(2000))
    assert(!p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("PairJoins gate: runtime-proven small sides broadcast again") {
    import org.apache.spark.sql.functions._
    // default budget: the sf0.001 corpus is provably tiny, so the
    // gate must NOT hint and the planner should broadcast a side
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
    val p = graft.ops.Dedup.winnowContainmentPairs(
        d, col("doc_id"), col("text"), 3, 4, 3, 20)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    val p2 = graft.ops.Dedup.prefixFilterPairs(
        d, col("doc_id"), col("text"), 4, 5)
      .queryExecution.executedPlan.toString
    assert(p2.contains("BroadcastHashJoin"), p2.take(2000))
  }
}
