package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType, LongType}
import graft.dsl.Domain._
import graft.dsl.Range._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Every query goes through the graft engine (Transform DSL or graft.ops)
  * and has a DuckDB-equivalent oracle in [[oracleSql]] where expressible.
  * Query ↔ operator coverage is noted per entry against SURVEY.md §2.
  */
object SparkEntry {

  // session -> (dir, table) -> analyzed base relation. Every t() call
  // paid a fresh file listing + footer schema inference (~20-80 ms of
  // driver constants), times ~600 declared queries on the same handful
  // of immutable input tables — the single largest shared constant in
  // the sub-2s long tail (r14). This is PLAN/METADATA reuse (the same
  // thing Spark's session catalog does for a named table), not result
  // caching: every action still computes from the parquet files.
  // Keyed by the session OBJECT (reference equality: an identity hash
  // can be reused once its session is collected, which would serve a
  // dead session's plan to a new one) and kept for the TMemoSessions
  // most recently used sessions only: every memoized DataFrame holds
  // its session, so a map that never evicts — weak keys included, the
  // values keep them reachable — would pin every session it ever saw.
  private val TMemoSessions = 4
  private val tMemo = new java.util.LinkedHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]](
      16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[SparkSession,
        java.util.concurrent.ConcurrentHashMap[(String, String),
          DataFrame]]): Boolean = size > TMemoSessions
  }
  private[graft] def t(s: SparkSession, dir: String, name: String)
      : DataFrame = {
    val memo = tMemo.synchronized(tMemo.computeIfAbsent(s,
      _ => new java.util.concurrent.ConcurrentHashMap()))
    memo.computeIfAbsent((dir, name), _ => tBuild(s, dir, name))
  }
  private def tBuild(s: SparkSession, dir: String, name: String)
      : DataFrame = {
    val df = s.read.parquet(s"$dir/$name.parquet")
    // events.ts has shifted encodings across driver versions — TIMESTAMP
    // (NANOS) surfaced as long nanos under nanosAsLong, then TIMESTAMP_NTZ
    // micros. Normalize BOTH to TimestampType (session TZ is UTC, so the
    // NTZ cast preserves every wall-clock-derived value): leaving NTZ in
    // place silently breaks analysis for TIMESTAMP-only expressions like
    // unix_micros, which cost q37/q54 their r4 correctness rows.
    if (name == "events")
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          // integer division: `/` is double division whose rounding can
          // land one microsecond above DuckDB's nanos truncation
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          df.withColumn("ts", col("ts").cast("timestamp"))
        case _ => df
      }
    else df
  }

  /** Shared by q479–q482 (classifier evaluation): the NB seed
    * classifier's integer score per document — mean token log-odds in
    * micro-units with a +10⁸ offset so the numerator stays positive
    * and the truncating `div` is a floor on both engines — plus the
    * gold `source` column (positive = src0, the seed set itself). */
  private def nbEvalScores(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    graft.ops.TextAnalysis.nbQualityScore(d, col("doc_id"), col("text"),
        d.filter(col("source") === "src0"), col("text"),
        d.filter(col("source") =!= "src0"), col("text"))
      .join(d.select(col("doc_id"), col("source"), col("n_chars")),
        "doc_id")
      .withColumn("score",
        expr("(lo_micro_sum + 100000000 * n_tokens) div n_tokens"))
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's README flagship (student-data 3-level nested agg,
    * `README.md:22-64`) re-cast on lineitem. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_flagship_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2, plus the
    * generated differential-conformance suite (q60+ — see
    * [[graft.tools.FuzzConformance]]: one seeded AST emits both the DSL
    * query and its DuckDB SQL, mechanizing the q01–q13 pattern). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.tools.FuzzConformance.specs
      .map(sp => sp.name -> sp.query).toMap ++
    graft.tools.FuzzEvalCrawl.specs
      .map(sp => sp.name -> sp.query).toMap ++
    graft.tools.FuzzTable.specs
      .map(sp => sp.name -> sp.query).toMap ++ Map(

    // O1/O5/O11/O18/O19-O20: row domain → two-level grouping → struct of
    // built-in reducers (count-distinct / avg / sum).
    "q01_flagship_agg" -> ((s, dir) => {
      Transform.run(t(s, dir, "lineitem"),
        rows("l_returnflag", "l_linestatus", "l_orderkey",
             "l_quantity", "l_extendedprice"),
        RMap(col("l_returnflag"),
          RMap(col("l_linestatus"),
            RStruct(Seq(
              "n_orders"  -> RAgg(countDistinct(col("l_orderkey"))),
              "avg_qty"   -> RAgg(round(avg(col("l_quantity")), 4)),
              "sum_price" -> RAgg(round(sum(col("l_extendedprice")), 2)))))))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // O11/O15/O16: projection + earliest-placed where conjuncts; bare
    // top-level vector range = plain select, no aggregation.
    "q02_project_filter" -> ((s, dir) => {
      Transform.run(t(s, dir, "lineitem"),
        rows("l_orderkey", "l_partkey", "l_quantity", "l_returnflag"),
        RRows(Seq(
          "l_orderkey" -> col("l_orderkey"),
          "l_partkey"  -> col("l_partkey"),
          "l_quantity" -> col("l_quantity"))),
        where = Seq(col("l_quantity") > 30, col("l_returnflag") === "R"))
        .orderBy("l_orderkey", "l_partkey", "l_quantity")
    }),

    // O16: list materialization under one grouping level (sorted for
    // cross-partition determinism; reference order = traversal order).
    // The list is serialized to a CSV string for the driver compare —
    // array-typed result columns crash its pandas sort (r1 lesson).
    "q03_group_list" -> ((s, dir) => {
      Transform.run(t(s, dir, "lineitem"),
        rows("l_orderkey", "l_partkey"),
        RMap(col("l_orderkey"), RList(col("l_partkey"), sorted = true)))
        .withColumn("value",
          array_join(transform(col("value"), _.cast("string")), ","))
        .orderBy("l_orderkey")
    }),

    // O17: set materialization (collect_set, sorted; serialized as CSV
    // string for the driver compare).
    "q04_group_set" -> ((s, dir) => {
      Transform.run(t(s, dir, "lineitem"),
        rows("l_returnflag", "l_linestatus"),
        RMap(col("l_returnflag"), RSet(col("l_linestatus"))))
        .withColumn("value", array_join(col("value"), ","))
        .orderBy("l_returnflag")
    }),

    // O6/O26: map-entry iteration + inversion idiom {k v} -> {v k}.
    "q05_map_invert" -> ((s, dir) => {
      val asMap = t(s, dir, "nation")
        .select(map(col("n_name"), col("n_nationkey")).as("value"))
      Transform.run(asMap,
        mapAll("nm", Leaf("nk")),
        RMap(col("nk").as("n_nationkey"), RScalar(col("nm"))))
        .orderBy("n_nationkey")
    }),

    // O14: self θ-join, Spark-first (crossJoin + filter; Catalyst
    // extracts the nationkey equality into a real equi-join).
    "q06_self_cross" -> ((s, dir) => {
      graft.ops.Relational.selfPairs(t(s, dir, "supplier"))
        .filter(col("a_s_nationkey") === col("b_s_nationkey") &&
                col("a_s_suppkey") < col("b_s_suppkey"))
        .select(
          col("a_s_suppkey").as("k1"),
          col("b_s_suppkey").as("k2"),
          round(col("a_s_acctbal") + col("b_s_acctbal"), 2).as("pair_sum"))
        .orderBy("k1", "k2")
    }),

    // O8: n-at-a-time vector chunking; partial tail chunk binds null
    // (reference `test/core.clj:101`).
    "q07_chunk_pairs" -> ((s, dir) => {
      val arrays = t(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(sort_array(collect_list(col("l_linenumber"))).as("lns"))
      Transform.run(arrays,
        Vec(Entries(Seq(
          (KField("l_orderkey"): DKey) -> Leaf("l_orderkey"),
          (KField("lns"): DKey)        -> Vec(Seq(Leaf("a"), Leaf("b")))))),
        RRows(Seq(
          "l_orderkey" -> col("l_orderkey"),
          "a" -> col("a"),
          "b" -> col("b"))))
        .orderBy(col("l_orderkey").asc, col("a").asc, col("b").asc_nulls_first)
    }),

    // O8 at the TABLE ROOT: n-at-a-time chunking of the table's own rows
    // under a declared total order (reference chunks any vector incl. the
    // top-level one, `compile.cljc:81-98`; tables are unordered so the
    // order is declared via rootOrder). Odd tail binds nulls.
    "q50_chunk_root" -> ((s, dir) => {
      val rowPat = (k: String, p: String) => Entries(Seq(
        (KField("o_orderkey"): DKey) -> Leaf(k),
        (KField("o_totalprice"): DKey) -> Leaf(p)))
      Transform.run(t(s, dir, "orders"),
        Vec(Seq(rowPat("k1", "p1"), rowPat("k2", "p2"))),
        RRows(Seq("k1" -> col("k1"), "p1" -> col("p1"),
                  "k2" -> col("k2"), "p2" -> col("p2"))),
        rootOrder = Seq("o_orderkey"))
        .orderBy("k1")
    }),

    // O10: literal-key lookup on a dynamic MapType column (computed key
    // via KExpr ≅ faconne `(:literal expr)`), parsed from JSON props.
    "q08_json_literal_key" -> ((s, dir) => {
      // parse as map<string,string> then cast the looked-up value:
      // map<string,long> would null the ENTIRE map when ANY property has
      // a non-long value, diverging from the oracle's per-key
      // json_extract_string (string values coerce per key, like DuckDB)
      val ev = t(s, dir, "events")
        .withColumn("pm",
          from_json(col("props"), MapType(StringType, StringType)))
      Transform.run(ev,
        Vec(Entries(Seq(
          (KField("event_type"): DKey) -> Leaf("event_type"),
          (KField("pm"): DKey) -> Entries(Seq(
            (KExpr(lit("k")): DKey) -> Leaf("kval")))))),
        RMap(col("event_type"),
          RStruct(Seq(
            "n"     -> RAgg(count(lit(1))),
            "sum_k" -> RAgg(sum(col("kval").cast("long")))))))
        .orderBy("event_type")
    }),

    // O18 with a *computed* grouping key (reference `README.md:139-142`).
    "q09_conditional_key" -> ((s, dir) => {
      Transform.run(t(s, dir, "lineitem"),
        rows("l_orderkey", "l_quantity"),
        RMap(
          when(pmod(col("l_quantity").cast("long"), lit(2)) === 0, "even")
            .otherwise("odd").as("parity"),
          RStruct(Seq(
            "n"   -> RAgg(count(col("l_orderkey"))),
            "qty" -> RAgg(round(sum(col("l_quantity")), 2))))))
        .orderBy("parity")
    }),

    // O7/O27: array-of-struct explode then regroup (un/re-grouping idiom)
    // — round-trips a nested input through the domain side.
    "q10_explode_regroup" -> ((s, dir) => {
      val nested = t(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(collect_list(struct(col("o_orderstatus"), col("o_totalprice")))
          .as("os"))
      Transform.run(nested,
        Vec(Entries(Seq(
          (KField("os"): DKey) -> Vec(Entries(Seq(
            (KField("o_orderstatus"): DKey) -> Leaf("o_orderstatus"),
            (KField("o_totalprice"): DKey)  -> Leaf("o_totalprice"))))))),
        RMap(col("o_orderstatus"),
          RStruct(Seq(
            "n"   -> RAgg(count(col("o_totalprice"))),
            "rev" -> RAgg(round(sum(col("o_totalprice")), 2))))))
        .orderBy("o_orderstatus")
    }),

    // O18 multi-granularity: a simple aggregate and a nested map at the
    // same level (reference `README.md:41-43`). The plan is adaptive
    // (RangeLowering.preferOneScan): join path at this scale, one-scan
    // GROUPING SETS on big inputs.
    "q12_multigrain_map" -> ((s, dir) => multigrainQuery(s, dir)),

    // The SAME query with the one-scan GROUPING SETS lowering forced —
    // keeps the large-input plan shape oracle-checked even though the
    // adaptive default picks the join path at test scale (the choice is
    // baked into the plan at build time, so resetting the conf after
    // construction is safe).
    "q55_multigrain_onescan" -> ((s, dir) => {
      val key = graft.plan.RangeLowering.oneScanMinBytesKey
      s.conf.set(key, "0")
      try multigrainQuery(s, dir) finally s.conf.unset(key)
    }),

    // O17 at top level: distinct projection (RRowsDistinct).
    "q13_distinct" -> ((s, dir) => {
      Transform.run(t(s, dir, "lineitem"),
        rows("l_returnflag", "l_linestatus"),
        RRowsDistinct(Seq(
          "l_returnflag" -> col("l_returnflag"),
          "l_linestatus" -> col("l_linestatus"))))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // ---- LLM-pipeline extension tier (SURVEY.md §7.3 step 9) ----------

    // Exact dedup: deterministic keep-first by 8-token prefix key.
    "q20_dedup_exact" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.ops.Dedup.exactKeepFirst(d,
          concat_ws(" ", slice(split(col("text"), " "), 1, 8)), col("doc_id"))
        .orderBy("kept")
    }),

    // Exact n-gram Jaccard near-dup pairs via inverted shingle index
    // (no all-pairs compare; shuffles only on shingle keys).
    "q21_jaccard_pairs" -> ((s, dir) => {
      graft.ops.Dedup.jaccardPairs(t(s, dir, "documents"),
          col("doc_id"), col("text"), tau = 0.6)
        .orderBy("id1", "id2")
    }),

    // Eval-hygiene: near-dup pairs straddling a 50/50 hash split
    // (train docs with held-out near-twins). LSH pair discovery +
    // deterministic split replayed by the oracle.
    "q87_split_leakage" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val split = graft.ops.Sampling.hashSplit(
        d.select("doc_id"), col("doc_id"),
        Seq("train" -> 0.5, "heldout" -> 0.5))
      graft.ops.Dedup.crossSplitPairs(
          graft.ops.Dedup.minhashLshPairs(d, col("doc_id"), col("text"),
            tau = 0.6),
          split, col("doc_id"), col("split"))
        .orderBy("id1", "id2")
    }),

    // SemDeDup-style cluster-routed embedding near-dup: k-means route
    // (same fixed-point trainer as q51, k=8/iters=2), exact pairs
    // within clusters only — the oracle replays train→route→pair.
    "q88_semdedup_pairs" -> ((s, dir) => {
      graft.ops.Similarity.semDedupPairs(t(s, dir, "embeddings"),
          col("vec_id"), col("embedding"), tau = 0.4, k = 8, iters = 2)
        .orderBy("id1", "id2")
    }),

    // Length-bucketed batch manifest: width-32 token buckets, 16-doc
    // batches, rank via the range-partitioned prefix sum (no few-bucket
    // window skew).
    "q89_length_batches" -> ((s, dir) => {
      graft.ops.Packing.lengthBucketBatches(t(s, dir, "documents"),
          col("doc_id"), col("text"), bucketWidth = 32, batchSize = 16)
        .orderBy("bucket", "batch", "slot")
    }),

    // Deterministic global shuffle → 8 balanced shards (hash order +
    // round-robin deal), replayed exactly by the oracle.
    "q90_shuffle_shards" -> ((s, dir) => {
      graft.ops.Packing.shuffleShards(t(s, dir, "documents"),
          col("doc_id"), numShards = 8)
        .orderBy("doc_id")
    }),

    // Quality-quantile curation: keep the top 25% of each source by
    // quality score — rank-based (floor(0.25 * n) rows per source),
    // ranked via the range-partitioned prefix sum.
    "q91_top_fraction" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val scored = graft.ops.TextAnalysis.quality(
          d, col("doc_id"), col("text"))
        .select(col("doc_id"), col("quality_x1e4"))
        .join(d.select("doc_id", "source"), "doc_id")
        .select("doc_id", "source", "quality_x1e4")
      graft.ops.Relational.topFractionPerGroup(scored,
          col("source"), col("quality_x1e4"), col("doc_id"),
          fraction = 0.25)
        .orderBy("doc_id")
    }),

    // Window-granular exact-substring dedup: 20-token spans, keep-first
    // corpus-wide, emit the cut manifest for repeated occurrences.
    "q93_duplicate_spans" -> ((s, dir) => {
      graft.ops.Dedup.duplicateSpans(t(s, dir, "documents"),
          col("doc_id"), col("text"), window = 20)
        .orderBy("doc_id", "chunk_id")
    }),

    // Rewrite side of q93: splice repeated spans out, reassemble docs.
    "q94_dedup_spans" -> ((s, dir) => {
      graft.ops.Dedup.dedupSpans(t(s, dir, "documents"),
          col("doc_id"), col("text"), window = 20)
        .orderBy("doc_id")
    }),

    // Cluster-policy near-dup removal keeping the BEST member per
    // duplicate component (longest doc, ties -> min id) — the policy
    // real pipelines use instead of q57's keep-lowest-id.
    "q95_cluster_best" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val pairs = graft.ops.Dedup.minhashLshPairs(d, col("doc_id"),
          col("text"), tau = 0.6)
      graft.ops.Dedup.keepBestPerCluster(d, pairs, col("doc_id"),
          col("n_chars"))
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    }),

    // BPE tokenizer-training statistics: corpus-weighted adjacent
    // character-pair counts (iteration 0 of the merge loop — the argmax
    // of this table is the first learned merge). The corpus is first
    // compressed to a word-frequency table, so the pair pass runs over
    // VOCAB rows; the full iterative trainer (graft.ops.Bpe.train) and
    // encoder are differential-tested in BpeSpec against a driver-side
    // reference implementation.
    "q105_bpe_pairs" -> ((s, dir) => {
      graft.ops.Bpe.pairStats(t(s, dir, "documents"), col("text"), 50)
        .orderBy(col("pair_count").desc, col("pair"))
    }),

    // Bigram LM scoring (one order up from q77): add-one-smoothed
    // corpus-bigram model, per-doc mean conditional surprise. Bigrams
    // form inside each row from the token array — never a corpus-wide
    // lag window.
    "q106_bigram_nll" -> ((s, dir) => {
      graft.ops.TextAnalysis.bigramNll(
          t(s, dir, "documents"), col("doc_id"), col("text"))
        .orderBy("doc_id")
    }),

    // Top collocations by PMI over the bigram model (count floor 5,
    // position-marginal PMI, micro-unit fixed point).
    "q169_pmi_collocations" -> ((s, dir) => {
      graft.ops.TextAnalysis.pmiCollocations(
          t(s, dir, "documents"), col("doc_id"), col("text"),
          minCount = 5L, k = 50)
        .orderBy(desc("pmi_fp"), col("bg"))
    }),

    // Planner food: equi-join size between the even- and odd-source
    // token streams, estimated from two Count-Min grids (AMS inner
    // product) beside the exact answer.
    "q232_join_size_est" -> ((s, dir) => {
      import graft.functions.TextFunctions.tokens
      val d = t(s, dir, "documents")
      def occ(f: org.apache.spark.sql.DataFrame) =
        f.select(col("lang"), explode(tokens(col("text"))).as("tok"))
          .filter(col("tok") =!= "")
      val a = occ(d.filter(expr("CAST(substr(source, 4) AS INT) % 2 = 0")))
      val b = occ(d.filter(expr("CAST(substr(source, 4) AS INT) % 2 = 1")))
      val est = graft.ops.Sketches.joinSizeEstimate(
        graft.ops.Sketches.countMin(a, col("lang"), col("tok"),
          depth = 3, width = 64),
        graft.ops.Sketches.countMin(b, col("lang"), col("tok"),
          depth = 3, width = 64))
      val ca = a.groupBy(col("lang").as("grp"), col("tok"))
        .agg(count(lit(1)).as("ca"))
      val cb = b.groupBy(col("lang").as("grp"), col("tok"))
        .agg(count(lit(1)).as("cb"))
      val exact = ca.join(cb, Seq("grp", "tok"))
        .groupBy("grp").agg(sum(col("ca") * col("cb")).as("exact"))
      est.join(exact, col("group") === col("grp"))
        .select(col("group").as("lang"), col("est"), col("exact"))
        .orderBy("lang")
    }),

    // Robust center: rank-exact 5%-trimmed mean of order cents per
    // priority (outliers dropped, not clamped).
    "q233_trimmed_mean" -> ((s, dir) => {
      graft.ops.Checks.trimmedMean(t(s, dir, "orders"),
          col("o_orderpriority"), col("o_orderkey"),
          floor(col("o_totalprice") * 100 + lit(0.5)).cast("long"),
          loPermille = 50, hiPermille = 950)
        .select(col("group").as("o_orderpriority"), col("n_kept"),
                col("sum_kept"), col("mean_fp"))
        .orderBy("o_orderpriority")
    }),

    // Set-similarity join III: PPJoin prefix filtering — candidates
    // come from each doc's ~5% rarest tokens only, then exact-verify.
    // Provably equal to the full inverted index at a fraction of its
    // join cost, with stop-token skew structurally excluded (the
    // scale-path answer to jaccardPairs' lossy maxShingleFreq cap).
    "q242_prefix_filter_pairs" -> ((s, dir) => {
      graft.ops.Dedup.prefixFilterPairs(t(s, dir, "documents"),
          col("doc_id"), col("text"), tauNum = 19, tauDen = 20)
        .orderBy("id1", "id2")
    }),

    // Entity resolution III: the golden record. Fuzzy name pairs →
    // transitive closure → survivorship (members, variants, canonical
    // name, exact-cents consolidated price) — the full ER merge whose
    // pieces q145/q56/q148 check one at a time.
    "q243_golden_record" -> ((s, dir) => {
      val part = t(s, dir, "part")
      val ent = graft.ops.Relational.resolveEntities(part,
          col("p_partkey"), col("p_name"), maxDist = 2)
      part.join(ent, col("p_partkey") === col("rid"))
        .groupBy("entity")
        .agg(count(lit(1)).as("n_members"),
             countDistinct(col("p_name")).as("n_variants"),
             min(col("p_name")).as("canonical_name"),
             sum(floor(col("p_retailprice") * 100 + lit(0.5))
                   .cast("long")).as("price_cents"),
             max(col("p_size")).as("max_size"))
        .orderBy("entity")
    }),

    // Graph III: per-part triangle counts of the order-co-occurrence
    // graph — local density (community cores / link farms), the
    // counting sibling of q161's global PageRank, via degree-ordered
    // wedge enumeration (never hub-quadratic).
    "q244_triangles" -> ((s, dir) => {
      val e = graft.ops.Graph.coOccurrencePairs(
        t(s, dir, "lineitem"), col("l_orderkey"), col("l_partkey"))
      graft.ops.Graph.triangleCounts(e, col("u"), col("v"),
          inputCanonical = true)
        .select(col("id").as("part_id"), col("n_tri"))
        .orderBy(desc("n_tri"), col("part_id")).limit(50)
    }),

    // Interval algebra: which users' sessions overlap in wall-clock
    // time — concurrency analysis (load attribution, co-presence)
    // via the bucketed interval-overlap join, never a theta nested
    // loop. Session ids packed as user*100000+seq for a total order.
    "q245_session_overlap" -> ((s, dir) => {
      val iv = graft.ops.Events.sessionize(t(s, dir, "events"),
          col("user_id"), col("ts"), gapSeconds = 1800)
        .groupBy(col("user_id"), col("session_id"))
        .agg(min(unix_timestamp(col("ts"))).as("s"),
             max(unix_timestamp(col("ts"))).as("e"))
        .withColumn("sid",
          col("user_id") * 100000L + col("session_id"))
      graft.ops.Relational.intervalOverlapJoin(
          iv, col("sid"), col("s"), col("e"),
          iv, col("sid"), col("s"), col("e"),
          bucketSize = 3600L, strictPairs = true)
        .select(col("id1"), col("id2"), col("overlap").as("overlap_secs"))
        .orderBy("id1", "id2")
    }),

    // Real multimodal codec: deterministic PCM synthesis → RIFF/WAVE
    // PCM-16 ENCODE → general chunk-walking DECODE (the partition-batch
    // seam with a real kernel, not the stub) → exact integer stats the
    // oracle replays arithmetically. Any header/layout/endianness bug
    // in either direction breaks the hash match.
    "q246_wav_decode" -> ((s, dir) => {
      val wavs = graft.ops.Multimodal.synthWavPcm16(
        t(s, dir, "documents").select(col("doc_id")), "doc_id")
      graft.ops.Multimodal.decodeWavStatsDf(wavs, "asset_id", "media")
        .select(col("asset_id").as("doc_id"), col("sample_rate"),
                col("channels"), col("bits"), col("n_samples"),
                col("sum_abs"), col("peak"))
        .orderBy("doc_id")
    }),

    // Set-similarity join IV: deletion-neighborhood blocking — the
    // high-τ regime where prefix filtering degenerates (near-identical
    // docs, symdiff ≤ 1). Signatures ∝ tokens, candidates ∝ true
    // pairs, exact verify; FastSS-style blocking lifted to token sets.
    "q247_deletion_neighbors" -> ((s, dir) => {
      graft.ops.Dedup.deletionNeighborPairs(t(s, dir, "documents"),
          col("doc_id"), col("text"))
        .orderBy("id1", "id2")
    }),

    // Real multimodal codec II (image): deterministic pixel synthesis →
    // 24-bpp BMP encode (bottom-up rows, 4-byte padding) → header-driven
    // decode → exact channel sums + the top-left-pixel probe that
    // catches row-order bugs a global sum hides.
    "q248_bmp_decode" -> ((s, dir) => {
      val bmps = graft.ops.Multimodal.synthBmp24(
        t(s, dir, "documents").select(col("doc_id")), "doc_id")
      graft.ops.Multimodal.decodeBmpStatsDf(bmps, "asset_id", "media")
        .select(col("asset_id").as("doc_id"), col("width"), col("height"),
                col("sum_r"), col("sum_g"), col("sum_b"), col("first_px"))
        .orderBy("doc_id")
    }),

    // Real multimodal codec III (image, compressed): the SAME pixel
    // synthesis as q248 encoded as real PNGs — DEFLATE + scanline
    // filters, with the filter type CYCLING over all five
    // (None/Sub/Up/Average/Paeth) by doc id — then chunk-walked,
    // CRC-verified, inflated, reconstructed. The oracle replays the
    // pixel arithmetic; a single wrong reconstruction path breaks the
    // hash.
    "q415_png_decode" -> ((s, dir) => {
      val pngs = graft.ops.Multimodal.synthPng(
        t(s, dir, "documents").select(col("doc_id")), "doc_id")
      graft.ops.Multimodal.decodePngStatsDf(pngs, "asset_id", "media")
        .select(col("asset_id").as("doc_id"), col("width"), col("height"),
                col("sum_r"), col("sum_g"), col("sum_b"), col("first_px"))
        .orderBy("doc_id")
    }),

    // Real multimodal codec IV (image, LOSSY): baseline sequential
    // JPEG — FDCT, quantization, zigzag, DC prediction, canonical
    // Huffman with byte stuffing — grayscale, JDK-only. Oracle trick
    // for a lossy codec: aligned-8x8-constant MOSAICS have DC-only
    // spectra, and with a flat quant table the full real pipeline is
    // BIT-EXACT on them, so the decoded stats replay arithmetically.
    "q416_jpeg_decode" -> ((s, dir) => {
      val jpgs = graft.ops.Jpeg.synthJpeg(
        t(s, dir, "documents").select(col("doc_id")), "doc_id")
      graft.ops.Jpeg.decodeJpegStatsDf(jpgs, "asset_id", "media")
        .select(col("asset_id").as("doc_id"), col("width"), col("height"),
                col("sum_y"), col("first_px"))
        .orderBy("doc_id")
    }),

    // Real multimodal codec IV-b (color JPEG + restart markers): the
    // full baseline color pipeline — fixed-point RGB→YCbCr, three
    // interleaved 4:4:4 components, RSTn resync with DC-predictor
    // reset on every other image, fixed-point inverse — exact on
    // mosaics, replayed cell-by-cell by the oracle.
    "q417_jpeg_color" -> ((s, dir) => {
      val jpgs = graft.ops.Jpeg.synthJpegColor(
        t(s, dir, "documents").select(col("doc_id")), "doc_id")
      graft.ops.Jpeg.decodeJpegColorStatsDf(jpgs, "asset_id", "media")
        .select(col("asset_id").as("doc_id"), col("width"), col("height"),
                col("sum_r"), col("sum_g"), col("sum_b"), col("first_px"))
        .orderBy("doc_id")
    }),

    // Real multimodal codec IV-c (4:2:0 JPEG — the camera/phone
    // layout): full-res Y + 2x2-subsampled chroma, four Y blocks per
    // MCU, nearest-neighbor upsampling on decode, restart markers on
    // every other image. 16x16-aligned mosaic cells keep BOTH the Y
    // and the subsampled-chroma blocks constant, so the whole lossy
    // 4:2:0 pipeline is exact and the oracle replays it per cell.
    "q418_jpeg_420" -> ((s, dir) => {
      val jpgs = graft.ops.Jpeg.synthJpeg420(
        t(s, dir, "documents").select(col("doc_id")), "doc_id")
      graft.ops.Jpeg.decodeJpegColorStatsDf(jpgs, "asset_id", "media")
        .select(col("asset_id").as("doc_id"), col("width"), col("height"),
                col("sum_r"), col("sum_g"), col("sum_b"), col("first_px"))
        .orderBy("doc_id")
    }),

    // Product-quantization ANN (Jégou et al. 2011): per-subspace
    // integer-L2 codebooks (one Lloyd iteration), m-code corpus
    // encode, ADC lookup-table shortlist, exact-cosine rescore —
    // the 32-64x memory-compression scale path. Every stage is
    // integer fixed point, so the oracle replays train -> encode ->
    // table -> shortlist -> rescore bit-for-bit.
    "q419_ann_pq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.ops.Similarity.pqTopK(
          e, e.filter(col("vec_id") < 10),
          col("vec_id"), col("embedding"),
          col("vec_id"), col("embedding"), k = 5,
          m = 8, ksub = 8, iters = 1, shortlistFactor = 4)
        .orderBy("qid", "rank")
    }),

    // Theta-sketch set operations (Dasgupta et al.): KMV bottom-64
    // sketches of the pre-/post-1995 customer cohorts per order
    // priority, then union / intersection / difference distinct
    // estimates computed from the sketches alone — the set algebra
    // HLL cannot do. Deterministic (portable polynomial hash, no
    // RNG), so the oracle rebuilds the identical sketches and the
    // estimates hash-match exactly.
    "q420_theta_sketch" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val a = graft.ops.Sketches.kmvSketch(
        o.filter(col("o_orderdate") < lit("1998-01-01")),
        Seq(col("o_orderpriority")), col("o_custkey"), k = 64)
      val b = graft.ops.Sketches.kmvSketch(
        o.filter(col("o_orderdate") >= lit("1998-01-01")),
        Seq(col("o_orderpriority")), col("o_custkey"), k = 64)
      graft.ops.Sketches.kmvSetOps(a, b, Seq("o_orderpriority"), k = 64)
        .orderBy("o_orderpriority")
    }),

    // Link prediction over the strong-co-purchase graph (parts
    // sharing an order at quantity >= 25): resource-allocation index
    // (Zhou et al. 2009) + common-neighbor count for non-adjacent
    // pairs, integer micro-unit RA, hub apexes capped at degree 64
    // (the wedge-volume guard), top-40 under a total order.
    "q421_link_prediction" -> ((s, dir) => {
      val pairs = graft.ops.Graph.coOccurrencePairs(
        t(s, dir, "lineitem").filter(col("l_quantity") >= 25),
        col("l_orderkey"), col("l_partkey"))
      graft.ops.Graph.linkPrediction(pairs, col("u"), col("v"),
        topK = 40, maxDegree = 64, inputCanonical = true)
    }),

    // Real multimodal codec V (GIF89a): palette-indexed LZW with
    // variable-width codes, block-walked extensions, every third
    // image interlaced. Lossless, so the oracle replays the palette
    // arithmetic directly — no spectral argument needed.
    "q422_gif_decode" -> ((s, dir) => {
      val gifs = graft.ops.Gif.synthGif(
        t(s, dir, "documents").select(col("doc_id")), "doc_id")
      graft.ops.Gif.decodeGifStatsDf(gifs, "asset_id", "media")
        .select(col("asset_id").as("doc_id"), col("width"), col("height"),
                col("sum_r"), col("sum_g"), col("sum_b"), col("first_px"))
        .orderBy("doc_id")
    }),

    // IVF-PQ with residual encoding (the FAISS architecture): coarse
    // k-means routing + PQ codebooks trained on residuals v - c(v),
    // ADC cosine from integer lookup tables (query dot-tables +
    // centroid cross-tables), exact-cosine rescore. Both the routing
    // fraction (nProbe/nLists) and the per-comparison cost (m
    // lookups) compose — the full production ANN stack, bit-exact.
    "q423_ann_ivfpq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.ops.Similarity.ivfPqTopK(
          e, e.filter(col("vec_id") < 10),
          col("vec_id"), col("embedding"),
          col("vec_id"), col("embedding"), k = 5,
          nLists = 8, nProbe = 2, m = 8, ksub = 8, iters = 1,
          shortlistFactor = 4)
        .orderBy("qid", "rank")
    }),

    // KMV rollup: sketch customers at (priority, year), answer the
    // per-priority distinct question by MERGING sketches — lossless
    // for KMV (a union's bottom-k is inside the union of bottom-ks),
    // so the oracle builds the coarse sketch DIRECTLY and must agree
    // hash-for-hash. The corpus is touched once, at the finest grain.
    "q424_kmv_rollup" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val fine = graft.ops.Sketches.kmvSketch(o,
        Seq(col("o_orderpriority"), year(col("o_orderdate")).as("yr")),
        col("o_custkey"), k = 64)
      graft.ops.Sketches.kmvRollup(fine,
          Seq(col("o_orderpriority")), k = 64)
        .select(col("o_orderpriority"), col("est"),
          size(col("kmv")).cast("int").as("n_hashes"),
          element_at(col("kmv"), size(col("kmv"))).as("max_hash"))
        .orderBy("o_orderpriority")
    }),

    // Packed IVF-PQ probe (q264's pattern with PQ payloads): the
    // index is one row per list, ADC ranking and exact rescore run
    // INSIDE the row — no aggregation, so the same kernel streams
    // stateless (StreamingSpec). Must rank bit-identically to q423's
    // join+agg form at nProbe = 1.
    "q425_ann_ivfpq_packed" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val (cents, books, packed) = graft.ops.Similarity.ivfPqPack(
        e, col("vec_id"), col("embedding"), nLists = 8)
      graft.ops.Similarity.ivfPqTopKPacked(
          e.filter(col("vec_id") < 10), cents, books, packed,
          col("vec_id"), col("embedding"), k = 5)
        .orderBy("qid", "rank")
    }),

    // Point-in-time SCD2 lookup (the feature-store primitive): each
    // purchase is decorated with the browsing-mode VERSION valid at
    // its time — as-of on eff_from (one shuffle, no interval
    // explode), eff_to gate after. Zero-length versions (same-ts
    // changes) are dropped so eff_from is unique per user and both
    // engines' as-of picks are unambiguous.
    "q426_scd2_pit" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val dim = graft.ops.Events.scd2Intervals(
          ev.filter(col("event_type").isin("click", "view")),
          col("user_id"), col("ts"), col("event_type"), col("event_id"))
        .filter(col("eff_to").isNull || col("eff_to") > col("eff_from"))
        .select(col("key").as("user_id"), col("attr"),
                col("eff_from"), col("eff_to"))
      val facts = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"))
      graft.ops.Relational.pointInTimeJoin(facts, dim,
          key = "user_id", factTime = "ts",
          effFrom = "eff_from", effTo = "eff_to",
          payload = Map("attr" -> "mode_at_purchase"))
        .select(col("user_id"), col("event_id"), col("mode_at_purchase"))
        .orderBy("user_id", "event_id")
    }),

    // Multi-touch linear attribution: every click/view within 6h of
    // the user's next purchase shares that purchase's credit equally
    // (integer micro-credits, floor split) — q172's last-touch
    // complement, per-channel report.
    "q427_linear_attribution" -> ((s, dir) => {
      graft.ops.Events.linearAttribution(t(s, dir, "events"),
          col("user_id"), col("ts"), col("event_type"), col("event_id"),
          touchTypes = Seq("click", "view"), convType = "purchase",
          withinSeconds = 6 * 3600L)
        .orderBy("touch_type")
    }),

    // Sampled closeness centrality: BFS hop distances from the 8
    // smallest part ids over the strong-co-purchase graph (3-hop
    // horizon), reduced to each node's integer sufficient statistics
    // (seeds reached, hop-distance sum) — the Eppstein-Wang sampled
    // estimator's exact core. Frontier BFS: no pair revisited, cost
    // O(edges x seeds), never path enumeration.
    "q428_closeness" -> ((s, dir) => {
      val pairs = graft.ops.Graph.coOccurrencePairs(
        t(s, dir, "lineitem").filter(col("l_quantity") >= 25),
        col("l_orderkey"), col("l_partkey"))
      val seeds = pairs.select(col("u").as("id"))
        .union(pairs.select(col("v").as("id")))
        .distinct().orderBy("id").limit(8)
      graft.ops.Graph.sampledCloseness(pairs, col("u"), col("v"),
          seeds, maxHops = 3)
        .orderBy("id")
    }),

    // Position-based (U-shaped) attribution: first and last touch 40%
    // each, middles share 20% — q427's skeleton with path-shape
    // weighting (single-touch 100%, two-touch 50/50, integer floors).
    "q449_position_attribution" -> ((s, dir) => {
      graft.ops.Events.positionAttribution(t(s, dir, "events"),
          col("user_id"), col("ts"), col("event_type"), col("event_id"),
          touchTypes = Seq("click", "view"), convType = "purchase",
          withinSeconds = 6 * 3600L)
        .orderBy("touch_type")
    }),

    // Content-defined chunking (Gear rolling hash): cut points fall
    // where content says, so edits re-cut only the chunks they touch;
    // the oracle replays the 31-byte-window hash per position and the
    // portable chunk hash.
    "q451_cdc_chunks" -> ((s, dir) => {
      graft.ops.Dedup.cdcChunks(t(s, dir, "documents"),
          col("doc_id"), col("text"), maskBits = 6)
        .select(col("id").as("doc_id"), col("chunk_idx"),
          col("chunk_from"), col("chunk_to"), col("chunk_hash"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // CDC-chunk keep-first dedup: shift-robust boilerplate removal —
    // q93's span dedup without the fixed grid's re-alignment blindspot.
    "q452_cdc_dedup" -> ((s, dir) => {
      graft.ops.Dedup.cdcDedupSegments(t(s, dir, "documents"),
          col("doc_id"), col("text"), maskBits = 6)
        .select(col("id").as("doc_id"), col("text_deduped"),
          col("n_kept"), col("n_dropped"))
        .orderBy("doc_id")
    }),

    // Real multimodal codec V (MP4/ISO BMFF CONTAINER): spec-shaped
    // box tree per row (ftyp/moov/mvhd/trak/stbl sample tables/mdat),
    // demuxed back by the real bounds-checked box walker — duration/
    // resolution/sample geometry without any frame decode, the
    // metadata gate a video curation pass runs on every asset. The
    // oracle replays the synth formulas in closed form.
    // Exact duplicated-substring spans (Lee et al., sliding-window,
    // suffix-array-free): every maximal char run >= 25 repeated
    // corpus-wide, first occurrence exempt — the rolling GramHashes
    // pass + keep-first + island merge, replayed exactly by the oracle.
    "q476_dup_substrings" -> ((s, dir) => {
      graft.ops.Dedup.duplicateSubstringSpans(t(s, dir, "documents"),
          col("doc_id"), col("text"), gramLen = 25)
        .select(col("id").as("doc_id"), col("span_from"), col("span_to"))
        .orderBy("doc_id", "span_from")
    }),

    // q476's rewrite: splice every duplicated run out (first
    // occurrence survives) and reassemble the complement in order.
    "q477_substring_dedup" -> ((s, dir) => {
      graft.ops.Dedup.dedupSubstrings(t(s, dir, "documents"),
          col("doc_id"), col("text"), gramLen = 25)
        .select(col("id").as("doc_id"), col("text_deduped"),
          col("n_removed"))
        .orderBy("doc_id")
    }),

    // Real multimodal codec VI (FLAC, RFC 9639): lossless audio with
    // Rice-coded fixed-predictor subframes, CRC-8/16 and an MD5 of the
    // raw PCM verified on every decode — the at-rest audio format a
    // training-data pipeline actually stores. Oracle replays the PCM
    // synth formulas; the Spark side round-trips them through the real
    // encoder + decoder (a codec defect breaks the hash).
    "q475_flac_decode" -> ((s, dir) => {
      val flacs = graft.ops.Flac.synthFlac(
        t(s, dir, "documents").select(col("doc_id")), "doc_id")
      graft.ops.Flac.decodeFlacStatsDf(flacs, "asset_id", "media")
        .select(col("asset_id").as("doc_id"), col("sample_rate"),
          col("channels"), col("bits"), col("n_samples"),
          col("n_frames"), col("sum_abs"), col("peak"))
        .orderBy("doc_id")
    }),

    "q474_mp4_demux" -> ((s, dir) => {
      val vids = graft.ops.Mp4.synthMp4(
        t(s, dir, "documents").select(col("doc_id")), "doc_id")
      graft.ops.Mp4.demuxMp4StatsDf(vids, "asset_id", "media")
        .select(col("asset_id").as("doc_id"), col("brand"),
          col("timescale"), col("duration_ms"), col("n_tracks"),
          col("handler"), col("width"), col("height"),
          col("n_samples"), col("sum_sample_bytes"))
        .orderBy("doc_id")
    }),

    // Real multimodal codec VI-b (r8): INTRA-FRAME VIDEO DECODE —
    // motion-JPEG samples inside the real MP4 container, split by the
    // stsz/stsc/stco chunk machinery and decoded frame-by-frame with
    // the baseline JPEG decoder. DC-mosaic frames keep the lossy
    // pipeline exact; every id % 7 == 3 asset carries one truncated
    // frame that must degrade to ONE null row (ok = 0) while its
    // siblings decode — the corrupted-frame partial-decode property.
    // Classifier evaluation VII (r8): Spearman rank correlation —
    // do two scorers ORDER the corpus the same way (the question AUC
    // against a binary gold cannot answer). Average-rank ties via the
    // doubled-rank prefix sum; exact integer moments; the final IEEE
    // double ops replay bit-for-bit on identical exact inputs.
    "q526_spearman" -> ((s, dir) => {
      graft.ops.Eval.spearmanMicro(t(s, dir, "supplier"),
        floor(col("s_acctbal") * 100 + lit(0.5)),
        col("s_nationkey"))
    }),

    // Per-group rank stability (r9): q526's rho per source slice —
    // grouped prefix-sum ranks, so 20k groups cost the same shuffle
    // as the 5 here. The oracle replays the doubled ranks with a
    // PARTITION BY g window.
    "q528_spearman_group" -> ((s, dir) => {
      graft.ops.Eval.spearmanByGroup(t(s, dir, "supplier"),
        col("s_nationkey") % 5,
        floor(col("s_acctbal") * 100 + lit(0.5)),
        length(col("s_name")))
        .orderBy("g")
    }),

    // Kendall tau-b per group (r9): the heavy-tie-regime rank
    // statistic — concordance counted on the distinct (g, x, y) CELL
    // table (O(cells²) per group, never O(rows²)), tie-corrected
    // margins. Coarse quantization here IS the operating regime.
    "q529_kendall_group" -> ((s, dir) => {
      graft.ops.Eval.kendallTauBByGroup(t(s, dir, "supplier"),
        col("s_nationkey") % 5,
        floor(col("s_acctbal") / 1000),
        col("s_suppkey") % 7)
        .orderBy("g")
    }),

    // Ingest dispatcher (r8): a MIXED media corpus — every real codec
    // the engine writes, one per doc_id residue — routed by magic-byte
    // sniffing (extensions and Content-Type lie; the bytes do not).
    // The oracle is the residue map: sniff must identify every real
    // container it will later be asked to decode, from 16 bytes.
    "q525_sniff_route" -> ((s, dir) => {
      val ids = t(s, dir, "documents").select(col("doc_id"))
      def part(r: Int) = ids.filter(pmod(col("doc_id"), lit(8)) === r)
      val mixed = graft.ops.Multimodal.synthBmp24(part(0), "doc_id")
        .unionByName(graft.ops.Multimodal.synthPng(part(1), "doc_id"))
        .unionByName(graft.ops.Jpeg.synthJpeg(part(2), "doc_id"))
        .unionByName(graft.ops.Gif.synthGif(part(3), "doc_id"))
        .unionByName(graft.ops.Multimodal.synthWavPcm16(part(4), "doc_id"))
        .unionByName(graft.ops.Flac.synthFlac(part(5), "doc_id"))
        .unionByName(graft.ops.Mp4.synthMp4(part(6), "doc_id"))
        .unionByName(graft.ops.Multimodal.synthVideo(part(7), "doc_id"))
      graft.ops.Multimodal.sniffTypeDf(mixed, "asset_id", "media")
        .select(col("asset_id").as("doc_id"), col("mime"))
        .orderBy("doc_id")
    }),

    // Real multimodal codec VI-c (r8): per-frame PERCEPTUAL hashes
    // from genuinely decoded video pixels — demux the motion-JPEG
    // track, decode each frame's grayscale plane, 8x8 strict-mean
    // aHash (the q406 phash surface on real content; corrupt frames
    // skipped, not poisoning the asset). The oracle replays NN
    // downsample -> mean -> bit pack in closed form per (id, frame).
    "q524_mjpeg_phash" -> ((s, dir) => {
      val vids = graft.ops.Mp4.synthMjpegMp4(
        t(s, dir, "documents").select(col("doc_id")), "doc_id")
      graft.ops.Mp4.mjpegFrameHashesDf(vids, "asset_id", "media")
        .select(col("asset_id").as("doc_id"), col("frame_idx"),
          col("n_frames"), col("hash_hi"), col("hash_lo"))
        .orderBy("doc_id", "frame_idx")
    }),

    // Manifest-file table format (r8): write documents as a range-
    // sharded SNAPSHOT (immutable data-v<N> dirs + a per-shard min/max
    // stats manifest), then answer a bounded doc_id range by reading
    // the manifest and opening ONLY the intersecting shard dirs —
    // the Iceberg/Delta-style metadata-pruned scan, zero new deps.
    // The oracle is the plain predicate over the source table: the
    // whole write→manifest→prune→readback loop must be lossless.
    // (SourcesSpec pins that the pruned plan's input files exclude
    // the non-intersecting shards.)
    "q523_sharded_table" -> ((s, dir) => {
      // fresh table root per run: snapshots are immutable by design,
      // so a fixed path would accumulate a data-v<N> copy of the
      // corpus per bench/verify execution (and race a concurrent
      // session on the version counter). The readback is CUT (eager
      // local checkpoint) so the tree can be dropped before the
      // caller's action — repeated runs leave /tmp flat.
      import graft.Checkpoints.CheckpointOps
      val path = java.nio.file.Files
        .createTempDirectory("graft_sharded_").toString
      graft.sources.Sources.writeShardedTable(
        t(s, dir, "documents"), col("doc_id"), col("doc_id"),
        path, numShards = 8, statsCols = Seq("doc_id"))
      val res = graft.sources.Sources.readShardedTable(s, path,
          preds = Seq(("doc_id", 100L, 399L)))
        .filter(col("doc_id").between(100, 399))
        .select(col("doc_id"), col("source"),
          length(col("text")).cast("long").as("n_chars"))
        .cut()
      graft.sources.Sources.dropShardedTable(s, path)
      res.orderBy("doc_id")
    }),

    // Incremental table (r9): batch 1 = even doc_ids, APPEND batch 2
    // = odd doc_ids (zero parent files rewritten — SourcesSpec pins
    // it), then answer a bounded range from the LATEST snapshot with
    // multi-column manifest pruning (n_chars bound excludes shards
    // the doc_id bound alone would open). The oracle is the plain
    // predicate over the source: append + prune must be lossless.
    "q527_sharded_append" -> ((s, dir) => {
      import graft.Checkpoints.CheckpointOps
      val path = java.nio.file.Files
        .createTempDirectory("graft_sharded_").toString
      val docs = t(s, dir, "documents")
      graft.sources.Sources.writeShardedTable(
        docs.filter(col("doc_id") % 2 === 0), col("doc_id"),
        col("doc_id"), path, numShards = 8,
        statsCols = Seq("doc_id", "n_chars"))
      graft.sources.Sources.appendShardedTable(
        docs.filter(col("doc_id") % 2 === 1), col("doc_id"),
        col("doc_id"), path, numShards = 8,
        statsCols = Seq("doc_id", "n_chars"))
      val res = graft.sources.Sources.readShardedTable(s, path,
          preds = Seq(("doc_id", 100L, 399L), ("n_chars", 0L, 2000L)))
        .filter(col("doc_id").between(100, 399) &&
          col("n_chars").between(0, 2000))
        .select(col("doc_id"), col("source"), col("n_chars"))
        .cut()
      graft.sources.Sources.dropShardedTable(s, path)
      res.orderBy("doc_id")
    }),

    "q502_mjpeg_frames" -> ((s, dir) => {
      val vids = graft.ops.Mp4.synthMjpegMp4(
        t(s, dir, "documents").select(col("doc_id")), "doc_id")
      graft.ops.Mp4.decodeMjpegFramesDf(vids, "asset_id", "media")
        .select(col("asset_id").as("doc_id"), col("frame_idx"),
          col("n_frames"), col("ok").cast("int").as("ok"),
          col("width"), col("height"), col("sum_y"), col("first_px"))
        .orderBy("doc_id", "frame_idx")
    }),

    // Compaction (r9): big write + three small appends (the
    // streaming drip), then fold ONLY the small runs into one range
    // dir — the big dir's files stay untouched (SourcesSpec pins
    // that) and the read is again O(1) files per bounded range. The
    // oracle is the plain predicate: compaction must be invisible.
    "q531_sharded_compact" -> ((s, dir) => {
      import graft.Checkpoints.CheckpointOps
      val path = java.nio.file.Files
        .createTempDirectory("graft_sharded_").toString
      val docs = t(s, dir, "documents")
      graft.sources.Sources.writeShardedTable(
        docs.filter(col("doc_id") % 10 < 7), col("doc_id"),
        col("doc_id"), path, numShards = 8, statsCols = Seq("doc_id"))
      (7 to 9).foreach { r =>
        graft.sources.Sources.appendShardedTable(
          docs.filter(col("doc_id") % 10 === r), col("doc_id"),
          col("doc_id"), path, numShards = 2,
          statsCols = Seq("doc_id"))
      }
      graft.sources.Sources.compactShardedTable(s, path, col("doc_id"),
        col("doc_id"), numShards = 4, statsCols = Seq("doc_id"),
        smallDirRows = docs.count() / 5)
      val res = graft.sources.Sources.readShardedTable(s, path,
          preds = Seq(("doc_id", 100L, 399L)))
        .filter(col("doc_id").between(100, 399))
        .select(col("doc_id"), col("source"), col("n_chars"))
        .cut()
      graft.sources.Sources.dropShardedTable(s, path)
      res.orderBy("doc_id")
    }),

    // Row-level DELETE (r9): tombstone-file merge-on-read — the
    // delete writes a key file + manifest commit and touches ZERO
    // data files (SourcesSpec pins that); the read applies the
    // tombstones as one key-only anti-join. The oracle is the
    // anti-predicate over the source: deletion must be exact.
    "q532_sharded_delete" -> ((s, dir) => {
      import graft.Checkpoints.CheckpointOps
      val path = java.nio.file.Files
        .createTempDirectory("graft_sharded_").toString
      val docs = t(s, dir, "documents")
      graft.sources.Sources.writeShardedTable(docs, col("doc_id"),
        col("doc_id"), path, numShards = 8, statsCols = Seq("doc_id"))
      graft.sources.Sources.deleteFromShardedTable(s, path, "doc_id",
        docs.filter(col("doc_id") % 7 === 3).select(col("doc_id")))
      val res = graft.sources.Sources.readShardedTable(s, path)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .cut()
      graft.sources.Sources.dropShardedTable(s, path)
      res.orderBy("doc_id")
    }),

    // MERGE/upsert (r9): delete %7==3, then UPSERT every %10==4 row
    // with a bumped n_chars — one atomic snapshot per operation, cost
    // O(batch), zero existing files rewritten. The sequence-number
    // semantics under test: the merge's own inserts survive its
    // tombstone (same seq), older copies die (smaller seq), and a
    // key deleted at v2 then merged at v3 is BACK — exactly the
    // CASE/anti-predicate the oracle states over the source table.
    "q533_sharded_merge" -> ((s, dir) => {
      import graft.Checkpoints.CheckpointOps
      val path = java.nio.file.Files
        .createTempDirectory("graft_sharded_").toString
      val docs = t(s, dir, "documents")
      graft.sources.Sources.writeShardedTable(docs, col("doc_id"),
        col("doc_id"), path, numShards = 8, statsCols = Seq("doc_id"))
      graft.sources.Sources.deleteFromShardedTable(s, path, "doc_id",
        docs.filter(col("doc_id") % 7 === 3).select(col("doc_id")))
      graft.sources.Sources.mergeShardedTable(
        docs.filter(col("doc_id") % 10 === 4)
          .withColumn("n_chars", col("n_chars") + 100000L),
        "doc_id", col("doc_id"), path, numShards = 4,
        statsCols = Seq("doc_id"))
      val res = graft.sources.Sources.readShardedTable(s, path)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .cut()
      graft.sources.Sources.dropShardedTable(s, path)
      res.orderBy("doc_id")
    }),

    // Incremental (CDC) read (r9): batch 1 = evens, batch 2 = odds;
    // the v1→v2 insert stream must be EXACTLY batch 2 — cost
    // O(new data), never O(table) (the manifest diff names the new
    // dirs; compaction rewrites are op-filtered out, SourcesSpec
    // pins that). The oracle is batch 2's predicate.
    "q534_sharded_changes" -> ((s, dir) => {
      import graft.Checkpoints.CheckpointOps
      val path = java.nio.file.Files
        .createTempDirectory("graft_sharded_").toString
      val docs = t(s, dir, "documents")
      graft.sources.Sources.writeShardedTable(
        docs.filter(col("doc_id") % 2 === 0), col("doc_id"),
        col("doc_id"), path, numShards = 8, statsCols = Seq("doc_id"))
      graft.sources.Sources.appendShardedTable(
        docs.filter(col("doc_id") % 2 === 1), col("doc_id"),
        col("doc_id"), path, numShards = 8, statsCols = Seq("doc_id"))
      val res = graft.sources.Sources.shardedTableInserts(s, path, 1L, 2L)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .cut()
      graft.sources.Sources.dropShardedTable(s, path)
      res.orderBy("doc_id")
    }),

    // Z-order clustered table (r9): shards follow the Morton curve of
    // rank-quantized (doc_id, n_chars), manifest stats on BOTH — a
    // 2-D box predicate prunes on both dimensions at once (SourcesSpec
    // pins that the box opens fewer shards than either bound alone,
    // and than a linear layout). The oracle is the conjunctive
    // predicate: the curve layout must be invisible to results.
    "q535_sharded_zorder" -> ((s, dir) => {
      import graft.Checkpoints.CheckpointOps
      val path = java.nio.file.Files
        .createTempDirectory("graft_sharded_").toString
      val docs = t(s, dir, "documents")
      graft.sources.Sources.writeShardedTableZOrdered(docs,
        col("doc_id"), Seq("doc_id", "n_chars"), path,
        numShards = 16, bitsPerCol = 6)
      val res = graft.sources.Sources.readShardedTable(s, path,
          preds = Seq(("doc_id", 50L, 349L), ("n_chars", 100L, 400L)))
        .filter(col("doc_id").between(50, 349) &&
          col("n_chars").between(100, 400))
        .select(col("doc_id"), col("source"), col("n_chars"))
        .cut()
      graft.sources.Sources.dropShardedTable(s, path)
      res.orderBy("doc_id")
    }),

    // Schema evolution (r9): v1 writes three columns, v2 appends with
    // a NEW fourth column (add-only, opt-in) — readers null-fill the
    // pre-evolution rows, pinned-version reads keep the old schema
    // (SourcesSpec). The oracle states the null-fill in closed form.
    "q536_sharded_evolve" -> ((s, dir) => {
      import graft.Checkpoints.CheckpointOps
      val path = java.nio.file.Files
        .createTempDirectory("graft_sharded_").toString
      val docs = t(s, dir, "documents")
      graft.sources.Sources.writeShardedTable(
        docs.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id"), col("source"), col("n_chars")),
        col("doc_id"), col("doc_id"), path, numShards = 8,
        statsCols = Seq("doc_id"))
      graft.sources.Sources.appendShardedTable(
        docs.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("source"), col("n_chars"),
            col("lang")),
        col("doc_id"), col("doc_id"), path, numShards = 8,
        statsCols = Seq("doc_id"), allowNewColumns = true)
      val res = graft.sources.Sources.readShardedTable(s, path)
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("lang"))
        .cut()
      graft.sources.Sources.dropShardedTable(s, path)
      res.orderBy("doc_id")
    }),

    // Bloom sidecar point lookup (r9): the table is RANGE-laid by
    // doc_id, so n_chars min/max stats prune nothing — the per-shard
    // bloom does instead (SourcesSpec pins fewer files opened). The
    // oracle is the plain equality predicate: bloom pruning is a
    // superset guarantee, never a wrong answer.
    "q537_sharded_bloom" -> ((s, dir) => {
      import graft.Checkpoints.CheckpointOps
      val path = java.nio.file.Files
        .createTempDirectory("graft_sharded_").toString
      val docs = t(s, dir, "documents")
      graft.sources.Sources.writeShardedTable(docs, col("doc_id"),
        col("doc_id"), path, numShards = 8, statsCols = Seq("doc_id"))
      graft.sources.Sources.buildShardedBloom(s, path, "n_chars",
        bits = 1 << 16, k = 4)
      val res = graft.sources.Sources.readShardedTablePointLookup(
          s, path, "n_chars", lit(300))
        .filter(col("n_chars") === 300)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .cut()
      graft.sources.Sources.dropShardedTable(s, path)
      res.orderBy("doc_id")
    }),

    // Streaming UPSERT sink (r9): foreachBatch-shaped merge ticks —
    // batch 0 = evens, batch 1 = every %3==0 doc with a bumped
    // n_chars, then batch 1 REPLAYED (the crash-retry): exactly-once
    // means the replay is a no-op, which the oracle catches (a
    // double-applied merge would duplicate every %3 row).
    "q538_sharded_merge_sink" -> ((s, dir) => {
      import graft.Checkpoints.CheckpointOps
      val path = java.nio.file.Files
        .createTempDirectory("graft_sharded_").toString
      val docs = t(s, dir, "documents")
      graft.sources.Sources.shardedTableMergeSinkBatch(
        docs.filter(col("doc_id") % 2 === 0), 0L, "doc_id",
        col("doc_id"), path, numShards = 8, statsCols = Seq("doc_id"))
      def tick1() = graft.sources.Sources.shardedTableMergeSinkBatch(
        docs.filter(col("doc_id") % 3 === 0)
          .withColumn("n_chars", col("n_chars") + 100000L),
        1L, "doc_id", col("doc_id"), path, numShards = 4,
        statsCols = Seq("doc_id"))
      tick1(); tick1() // second call is the foreachBatch replay
      val res = graft.sources.Sources.readShardedTable(s, path)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .cut()
      graft.sources.Sources.dropShardedTable(s, path)
      res.orderBy("doc_id")
    }),

    // Dedup-on-ingest (r9): the composition showcase — a streaming
    // sink that keeps the growing corpus table duplicate-free per
    // key AS it ingests (within-batch keep-min-id + anti-join vs the
    // table's seen keys), exactly-once under replay. Key = n_chars
    // residue (dense collisions by construction). The oracle states
    // batch precedence in closed form: a key's keeper is the min
    // EVEN doc_id if any even doc carries it (batch 0 wins), else
    // the min doc_id over all.
    "q551_dedup_ingest" -> ((s, dir) => {
      import graft.Checkpoints.CheckpointOps
      val path = java.nio.file.Files
        .createTempDirectory("graft_sharded_").toString
      val docs = t(s, dir, "documents")
        .withColumn("dkey", pmod(col("n_chars"), lit(50)))
      def tick(b: DataFrame, id: Long) =
        graft.sources.Sources.shardedTableDedupSinkBatch(b, id,
          "dkey", "doc_id", col("doc_id"), path, numShards = 4,
          statsCols = Seq("doc_id"))
      tick(docs.filter(col("doc_id") % 2 === 0), 0L)
      tick(docs.filter(col("doc_id") % 2 === 1), 1L)
      tick(docs.filter(col("doc_id") % 2 === 1), 1L) // replay: no-op
      val res = graft.sources.Sources.readShardedTable(s, path)
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("dkey"))
        .cut()
      graft.sources.Sources.dropShardedTable(s, path)
      res.orderBy("doc_id")
    }),

    // Table audit (r9): after a write + delete + merge + compaction
    // chain, the fsck must come back CLEAN — manifest row counts and
    // stats containment verified against the files, tombstones
    // readable, no orphans. The oracle is the empty frame with the
    // findings schema: any corruption anywhere in the op chain
    // surfaces as a nonzero row count here.
    "q552_sharded_audit" -> ((s, dir) => {
      import graft.Checkpoints.CheckpointOps
      val path = java.nio.file.Files
        .createTempDirectory("graft_sharded_").toString
      val docs = t(s, dir, "documents")
      graft.sources.Sources.writeShardedTable(
        docs.filter(col("doc_id") % 10 < 8), col("doc_id"),
        col("doc_id"), path, numShards = 8, statsCols = Seq("doc_id"))
      graft.sources.Sources.appendShardedTable(
        docs.filter(col("doc_id") % 10 >= 8), col("doc_id"),
        col("doc_id"), path, numShards = 2, statsCols = Seq("doc_id"))
      graft.sources.Sources.deleteFromShardedTable(s, path, "doc_id",
        docs.filter(col("doc_id") % 9 === 1).select(col("doc_id")))
      graft.sources.Sources.mergeShardedTable(
        docs.filter(col("doc_id") % 11 === 2)
          .withColumn("n_chars", col("n_chars") + 7L),
        "doc_id", col("doc_id"), path, numShards = 2,
        statsCols = Seq("doc_id"))
      graft.sources.Sources.compactShardedTable(s, path, col("doc_id"),
        col("doc_id"), numShards = 4, statsCols = Seq("doc_id"),
        smallDirRows = docs.count() / 5)
      val res = graft.sources.Sources.auditShardedTable(s, path).cut()
      graft.sources.Sources.dropShardedTable(s, path)
      res.orderBy("check", "data_dir", "shard")
    }),

    // Bloom multi-point lookup (r9): set membership against the
    // table — "which corpus rows carry any of THESE keys" — reading
    // only bloom-admitted shards (the decontamination shape at table
    // scale). The oracle is the plain IN-subquery semi-join.
    "q553_sharded_multilookup" -> ((s, dir) => {
      import graft.Checkpoints.CheckpointOps
      val path = java.nio.file.Files
        .createTempDirectory("graft_sharded_").toString
      val docs = t(s, dir, "documents")
      graft.sources.Sources.writeShardedTable(docs, col("doc_id"),
        col("doc_id"), path, numShards = 8, statsCols = Seq("doc_id"))
      graft.sources.Sources.buildShardedBloom(s, path, "n_chars",
        bits = 1 << 16, k = 4)
      val probe = docs.filter(col("doc_id") < 20).select(col("n_chars"))
      val res = graft.sources.Sources.readShardedTableKeysLookup(
          s, path, "n_chars", probe)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .cut()
      graft.sources.Sources.dropShardedTable(s, path)
      res.orderBy("doc_id")
    }),

    // Concurrent writers (r10): two RACING append threads share one
    // table — the optimistic claim-and-publish commit must land every
    // batch exactly once with contiguous versions, and the layout
    // must be invisible to results (the oracle is the plain union).
    "q564_sharded_race" -> ((s, dir) => {
      import graft.Checkpoints.CheckpointOps
      val path = java.nio.file.Files
        .createTempDirectory("graft_sharded_").toString
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      graft.sources.Sources.writeShardedTable(
        docs.filter(col("doc_id") % 2 === 1), col("doc_id"),
        col("doc_id"), path, numShards = 4, statsCols = Seq("doc_id"))
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val gate = new java.util.concurrent.CountDownLatch(1)
      val fs = Seq(0L, 2L).map { r =>
        Future {
          gate.await()
          graft.sources.Sources.appendShardedTable(
            docs.filter(col("doc_id") % 4 === r), col("doc_id"),
            col("doc_id"), path, numShards = 2,
            statsCols = Seq("doc_id"))
        }
      }
      gate.countDown()
      fs.foreach(f => Await.result(f,
        scala.concurrent.duration.Duration(300, "s")))
      val res = graft.sources.Sources.readShardedTable(s, path)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .cut()
      graft.sources.Sources.dropShardedTable(s, path)
      res.orderBy("doc_id")
    }),

    // Self-maintained streaming sink (r10): ten foreachBatch-shaped
    // ticks with the auto-compact + expiry policy, one tick REPLAYED
    // (crash-retry) — exactly-once must survive the maintenance
    // (batch ids ride compactions as ledger rows) and the folds must
    // be invisible to results.
    "q565_sharded_maintained" -> ((s, dir) => {
      import graft.Checkpoints.CheckpointOps
      val path = java.nio.file.Files
        .createTempDirectory("graft_sharded_").toString
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      def tick(i: Long) =
        graft.sources.Sources.shardedTableSinkBatchMaintained(
          docs.filter(col("doc_id") % 6 === i)
            .withColumn("n_chars", col("n_chars") + lit(1000L) * i),
          i, col("doc_id"), col("doc_id"), path, numShards = 2,
          statsCols = Seq("doc_id"), compactWhenSmallDirs = 3,
          smallDirRows = Long.MaxValue / 4, keepVersions = 3)
      (0L until 6L).foreach(tick)
      tick(4L) // the foreachBatch replay: must be a no-op
      val res = graft.sources.Sources.readShardedTable(s, path)
        .select(col("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"))
        .cut()
      graft.sources.Sources.dropShardedTable(s, path)
      res.orderBy("doc_id")
    }),

    // Streaming CDC consumer (r10): a version-cursor drain loop
    // REPLICATES the source table into a second sharded table (the
    // incremental-downstream-pipeline shape) — initial load, then
    // per-version windows applied as delete-then-upsert. The oracle
    // is the source's final event/killer state in closed form; any
    // window lost, duplicated or misordered diverges the replica.
    "q566_sharded_cdc" -> ((s, dir) => {
      import graft.Checkpoints.CheckpointOps
      val path = java.nio.file.Files
        .createTempDirectory("graft_sharded_").toString
      val replica = java.nio.file.Files
        .createTempDirectory("graft_sharded_").toString + "/t"
      val cursor = s"$path.cursor"
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      val S = graft.sources.Sources
      def applyWindow(b: S.ShardedCdcBatch): Unit = {
        val ins = b.inserts.drop("shard") // reader partition column
        val replicaExists = S.shardedVersions(s, replica).nonEmpty
        if (!replicaExists)
          S.writeShardedTable(ins, col("doc_id"), col("doc_id"),
            replica, numShards = 4, statsCols = Seq("doc_id"))
        else {
          // manifest-derived window flags (r14): the per-window
          // frame.isEmpty probes were one small Spark job each —
          // same decisions, zero jobs
          if (b.hasDeletes)
            S.deleteFromShardedTable(s, replica, "doc_id",
              b.deletedKeys)
          if (b.hasInserts)
            S.mergeShardedTable(ins, "doc_id", col("doc_id"),
              replica, numShards = 2, statsCols = Seq("doc_id"))
        }
      }
      S.writeShardedTable(docs.filter(col("doc_id") % 3 === 0),
        col("doc_id"), col("doc_id"), path, numShards = 4,
        statsCols = Seq("doc_id"))
      S.drainShardedTableChanges(s, path, cursor)(applyWindow)
      S.mergeShardedTable(
        docs.filter(col("doc_id") % 4 === 1)
          .withColumn("n_chars", col("n_chars") + 5000L),
        "doc_id", col("doc_id"), path, numShards = 2,
        statsCols = Seq("doc_id"))
      S.deleteFromShardedTable(s, path, "doc_id",
        docs.filter(col("doc_id") % 5 === 2).select(col("doc_id")))
      S.mergeShardedTable(
        docs.filter(col("doc_id") % 7 === 3)
          .withColumn("n_chars", col("n_chars") + 9000L),
        "doc_id", col("doc_id"), path, numShards = 2,
        statsCols = Seq("doc_id"))
      S.drainShardedTableChanges(s, path, cursor)(applyWindow)
      val res = S.readShardedTable(s, replica)
        .select(col("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"))
        .cut()
      S.dropShardedTable(s, path)
      S.dropShardedTable(s, replica)
      new java.io.File(cursor).delete()
      res.orderBy("doc_id")
    }),

    // CDC as a real readStream source (r11): q566's replication
    // pipeline, but the consumer is `spark.readStream.format(
    // "graft-sharded-cdc")` with engine checkpointing — the query is
    // stopped and RESTARTED mid-sequence and must resume from the
    // checkpoint (no initial re-load, no lost windows). Same closed-
    // form oracle as q566: any divergence in delivery diverges the
    // replica.
    "q582_sharded_cdc_stream" -> ((s, dir) => {
      import graft.Checkpoints.CheckpointOps
      val path = java.nio.file.Files
        .createTempDirectory("graft_sharded_").toString
      val replica = java.nio.file.Files
        .createTempDirectory("graft_sharded_").toString + "/t"
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_sharded_ckpt_").toString
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      val S = graft.sources.Sources
      def applyBatch(b: org.apache.spark.sql.DataFrame,
                     id: Long): Unit = {
        val cached = b.persist()
        try {
          // ONE pass over the cached batch resolves the version list
          // AND each (version, change type)'s presence — the old
          // per-version dels.isEmpty / ins.isEmpty probes were two
          // extra Spark jobs per version (r14)
          val counts = cached
            .groupBy(col("_commit_version"), col("_change_type"))
            .count().collect()
            .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2))
            .toMap
          val vs = counts.keys.map(_._1).toSeq.distinct.sorted
          vs.foreach { v =>
            val w = cached.filter(col("_commit_version") === v)
            val dels = w.filter(col("_change_type") === "delete")
              .select(col("doc_id"))
            val ins = w.filter(col("_change_type") === "insert")
              .select(col("doc_id"), col("source"), col("n_chars"))
            val hasDels = counts.getOrElse((v, "delete"), 0L) > 0L
            val hasIns = counts.getOrElse((v, "insert"), 0L) > 0L
            if (S.shardedVersions(s, replica).isEmpty) {
              if (hasIns)
                S.writeShardedTable(ins, col("doc_id"), col("doc_id"),
                  replica, numShards = 4, statsCols = Seq("doc_id"))
            } else {
              if (hasDels)
                S.deleteFromShardedTable(s, replica, "doc_id", dels)
              if (hasIns)
                S.mergeShardedTable(ins, "doc_id", col("doc_id"),
                  replica, numShards = 2, statsCols = Seq("doc_id"))
            }
          }
        } finally { cached.unpersist(); () }
      }
      def run(): Unit = {
        val q = s.readStream.format("graft-sharded-cdc")
          .option("path", path).load()
          .writeStream.foreachBatch(applyBatch _)
          .option("checkpointLocation", ckpt)
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      S.writeShardedTable(docs.filter(col("doc_id") % 3 === 0),
        col("doc_id"), col("doc_id"), path, numShards = 4,
        statsCols = Seq("doc_id"))
      run() // initial load, then the query is stopped (simulated kill)
      S.mergeShardedTable(
        docs.filter(col("doc_id") % 4 === 1)
          .withColumn("n_chars", col("n_chars") + 5000L),
        "doc_id", col("doc_id"), path, numShards = 2,
        statsCols = Seq("doc_id"))
      S.deleteFromShardedTable(s, path, "doc_id",
        docs.filter(col("doc_id") % 5 === 2).select(col("doc_id")))
      S.mergeShardedTable(
        docs.filter(col("doc_id") % 7 === 3)
          .withColumn("n_chars", col("n_chars") + 9000L),
        "doc_id", col("doc_id"), path, numShards = 2,
        statsCols = Seq("doc_id"))
      run() // restart: resume from the checkpoint, drain v2..v4
      val res = S.readShardedTable(s, replica)
        .select(col("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"))
        .cut()
      S.dropShardedTable(s, path)
      S.dropShardedTable(s, replica)
      res.orderBy("doc_id")
    }),

    // PARTITION COLUMNS (r11): the table lays out by source
    // (data-v<N>/source=srcK/shard=j), appends inherit the layout,
    // and a source-equality predicate prunes whole partition dirs
    // from the manifest's part_ values — the date/source layout a
    // 100 TB corpus actually uses, stacked on stats pruning.
    "q591_sharded_partitioned" -> ((s, dir) => {
      import graft.Checkpoints.CheckpointOps
      val path = java.nio.file.Files
        .createTempDirectory("graft_sharded_").toString
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      val S = graft.sources.Sources
      S.writeShardedTable(docs.filter(col("doc_id") % 2 === 0),
        col("doc_id"), col("doc_id"), path, numShards = 4,
        statsCols = Seq("doc_id"), partitionCols = Seq("source"))
      S.appendShardedTable(docs.filter(col("doc_id") % 2 === 1),
        col("doc_id"), col("doc_id"), path, numShards = 4,
        statsCols = Seq("doc_id"))
      S.deleteWhereShardedTable(s, path, "doc_id",
        col("n_chars") < 100)
      val res = S.readShardedTableWhere(s, path,
          col("source").isin("src3", "src7") ||
            col("source") === "src11")
        .unionByName(S.readShardedTableWhere(s, path,
          col("source") === "src5" && col("doc_id") <= 250))
        .select(col("doc_id"), col("source"), col("n_chars"))
        .cut()
      S.dropShardedTable(s, path)
      res.orderBy("doc_id")
    }),

    // DSv2 WRITE surface (r11): the table is created, partitioned and
    // appended entirely through df.write.format("graft-sharded") —
    // no library calls — then read back through the format with a
    // pushed partition + range filter. The snapshot writers' commit
    // protocol, schema checks and partition inheritance sit under the
    // standard writer API.
    "q592_sharded_dsv2_write" -> ((s, dir) => {
      import graft.Checkpoints.CheckpointOps
      val path = java.nio.file.Files
        .createTempDirectory("graft_sharded_").toString + "/t"
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      docs.filter(col("doc_id") % 2 === 0)
        .write.format("graft-sharded")
        .option("idCol", "doc_id").option("numShards", 4)
        .partitionBy("source")
        .mode("append").save(path)
      docs.filter(col("doc_id") % 2 === 1)
        .write.format("graft-sharded")
        .option("idCol", "doc_id").option("numShards", 4)
        .mode("append").save(path)
      val res = s.read.format("graft-sharded").load(path)
        .where(col("source").isin("src2", "src9", "src14") &&
          col("doc_id") >= 20)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .cut()
      graft.sources.Sources.dropShardedTable(s, path)
      res.orderBy("doc_id")
    }),

    // TableCatalog (r12): NAME-BASED pure-SQL lifecycle — CREATE
    // TABLE under a catalog, two INSERT INTO commits, a metadata-only
    // ALTER ... RENAME COLUMN, a current read under the new name, and
    // a VERSION AS OF read that still sees v1's rows and era. The
    // oracle is the same rows straight off the documents table.
    "q593_sharded_catalog" -> ((s, dir) => {
      import graft.Checkpoints.CheckpointOps
      val wh = java.nio.file.Files
        .createTempDirectory("graft_cat_").toString
      s.conf.set("spark.sql.catalog.graftcat",
        "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graftcat.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.corpus")
      s.sql("DROP TABLE IF EXISTS graftcat.corpus.docs")
      s.sql("""CREATE TABLE graftcat.corpus.docs
               (doc_id BIGINT, source STRING, n_chars BIGINT)
               USING `graft-sharded`
               TBLPROPERTIES ('idCol'='doc_id', 'numShards'='4',
                 'statsCols'='doc_id')""")
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .createOrReplaceTempView("q593_docs")
      s.sql("""INSERT INTO graftcat.corpus.docs
               SELECT doc_id, source, CAST(n_chars AS BIGINT)
               FROM q593_docs WHERE doc_id % 2 = 0""")
      s.sql("""INSERT INTO graftcat.corpus.docs
               SELECT doc_id, source, CAST(n_chars AS BIGINT)
               FROM q593_docs WHERE doc_id % 2 = 1""")
      s.sql("ALTER TABLE graftcat.corpus.docs " +
        "RENAME COLUMN n_chars TO chars")
      val cur = s.sql(
        """SELECT 'cur' AS era, doc_id, chars
           FROM graftcat.corpus.docs
           WHERE doc_id BETWEEN 100 AND 399""")
      val v1 = s.sql(
        """SELECT 'v1' AS era, doc_id, n_chars AS chars
           FROM graftcat.corpus.docs VERSION AS OF 1
           WHERE doc_id BETWEEN 100 AND 399""")
      val res = cur.unionByName(v1).cut()
      s.sql("DROP TABLE graftcat.corpus.docs")
      s.sql("DROP NAMESPACE graftcat.corpus")
      res.orderBy("doc_id", "era")
    }),

    // Aggregate pushdown (r12): count(*)/min/max answered from the
    // manifest's n_rows and stats bounds — zero data files opened
    // (SourcesSpec proves it by deleting one and re-asking). The
    // oracle computes the same aggregates over documents.
    "q594_sharded_agg_pushdown" -> ((s, dir) => {
      import graft.Checkpoints.CheckpointOps
      val path = java.nio.file.Files
        .createTempDirectory("graft_sharded_").toString
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars").cast("long")
          .as("n_chars"))
      graft.sources.Sources.writeShardedTable(
        docs.filter(col("doc_id") % 2 === 0), col("doc_id"),
        col("doc_id"), path, numShards = 4,
        statsCols = Seq("doc_id", "n_chars"))
      graft.sources.Sources.appendShardedTable(
        docs.filter(col("doc_id") % 2 === 1), col("doc_id"),
        col("doc_id"), path, numShards = 4,
        statsCols = Seq("doc_id", "n_chars"))
      val res = s.read.format("graft-sharded").load(path)
        .agg(count(lit(1)).as("n"),
          min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .cut()
      graft.sources.Sources.dropShardedTable(s, path)
      res
    }),

    // GROUPED aggregate pushdown (r12): GROUP BY a declared partition
    // column answered entirely from the manifest — one row per
    // partition value from per-leaf n_rows/bounds, zero data files.
    "q603_sharded_agg_groupby" -> ((s, dir) => {
      import graft.Checkpoints.CheckpointOps
      val path = java.nio.file.Files
        .createTempDirectory("graft_sharded_").toString
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"))
      graft.sources.Sources.writeShardedTable(
        docs.filter(col("doc_id") % 2 === 0), col("doc_id"),
        col("doc_id"), path, numShards = 2,
        statsCols = Seq("doc_id"), partitionCols = Seq("source"))
      graft.sources.Sources.appendShardedTable(
        docs.filter(col("doc_id") % 2 === 1), col("doc_id"),
        col("doc_id"), path, numShards = 2,
        statsCols = Seq("doc_id"))
      val res = s.read.format("graft-sharded").load(path)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"))
        .cut()
      graft.sources.Sources.dropShardedTable(s, path)
      res.orderBy("source")
    }),

    // FILTERED aggregate pushdown (r13): partition-equality
    // predicates stay manifest-answered — WHERE source = v (global)
    // and WHERE source IN (...) GROUP BY source both resolve their
    // leaf groups from the manifest, zero data files (SourcesSpec
    // proves it by deleting the data files and re-asking).
    "q604_sharded_agg_filter" -> ((s, dir) => {
      import graft.Checkpoints.CheckpointOps
      val path = java.nio.file.Files
        .createTempDirectory("graft_sharded_").toString
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"))
      graft.sources.Sources.writeShardedTable(
        docs.filter(col("doc_id") % 2 === 0), col("doc_id"),
        col("doc_id"), path, numShards = 2,
        statsCols = Seq("doc_id"), partitionCols = Seq("source"))
      graft.sources.Sources.appendShardedTable(
        docs.filter(col("doc_id") % 2 === 1), col("doc_id"),
        col("doc_id"), path, numShards = 2,
        statsCols = Seq("doc_id"))
      val tbl = s.read.format("graft-sharded").load(path)
      val global = tbl.filter(col("source") === "src3")
        .agg(lit("eq_src3").as("probe"), count(lit(1)).as("n"),
          min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"))
      val grouped = tbl.filter(col("source").isin("src1", "src5"))
        .groupBy(col("source"))
        .agg(concat(lit("in_"), col("source")).as("probe"),
          count(lit(1)).as("n"),
          min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"))
        .select("probe", "n", "min_id", "max_id")
      val res = global.unionByName(grouped).cut()
      graft.sources.Sources.dropShardedTable(s, path)
      res.orderBy("probe")
    }),

    // Catalog TABLE RENAME (r13): ALTER TABLE ... RENAME TO moves a
    // MANAGED table and rewrites the absolute data_dir paths in every
    // manifest — all snapshots (incl. time travel) survive the move.
    "q605_catalog_rename_table" -> ((s, dir) => {
      import graft.Checkpoints.CheckpointOps
      val wh = java.nio.file.Files
        .createTempDirectory("graft_cat_").toString
      s.conf.set("spark.sql.catalog.graftmv",
        "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graftmv.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftmv.corpus")
      s.sql("DROP TABLE IF EXISTS graftmv.corpus.docs")
      s.sql("""CREATE TABLE graftmv.corpus.docs
               (doc_id BIGINT, source STRING, n_chars BIGINT)
               USING `graft-sharded`
               TBLPROPERTIES ('idCol'='doc_id', 'numShards'='4',
                 'statsCols'='doc_id')""")
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .createOrReplaceTempView("q605_docs")
      s.sql("""INSERT INTO graftmv.corpus.docs
               SELECT doc_id, source, CAST(n_chars AS BIGINT)
               FROM q605_docs WHERE doc_id % 2 = 0""")
      s.sql("""INSERT INTO graftmv.corpus.docs
               SELECT doc_id, source, CAST(n_chars AS BIGINT)
               FROM q605_docs WHERE doc_id % 2 = 1""")
      s.sql("ALTER TABLE graftmv.corpus.docs RENAME TO corpus.arch")
      val cur = s.sql(
        """SELECT 'cur' AS era, doc_id, n_chars
           FROM graftmv.corpus.arch
           WHERE doc_id BETWEEN 200 AND 499""")
      val v1 = s.sql(
        """SELECT 'v1' AS era, doc_id, n_chars
           FROM graftmv.corpus.arch VERSION AS OF 1
           WHERE doc_id BETWEEN 200 AND 499""")
      val res = cur.unionByName(v1).cut()
      s.sql("DROP TABLE graftmv.corpus.arch")
      s.sql("DROP NAMESPACE graftmv.corpus")
      res.orderBy("doc_id", "era")
    }),

    // Object-store claims (r13): the same appends, but every commit
    // rides the conditional-PUT claim protocol against the emulated
    // object store with injected request-lost and response-lost
    // faults — rows must come out exactly-once regardless.
    "q606_sharded_objstore_claims" -> ((s, dir) => {
      import graft.Checkpoints.CheckpointOps
      import graft.sources.{ConditionalPutClaimStore,
        EmulatedObjectStore, Sources => GS}
      val path = java.nio.file.Files
        .createTempDirectory("graft_objstore_").toString
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"))
      val puts = new java.util.concurrent.atomic.AtomicLong
      val store = new EmulatedObjectStore(key =>
        if (!key.contains("graft_objstore_"))
          EmulatedObjectStore.NoFault
        else (puts.getAndIncrement() % 3) match {
          case 0 => EmulatedObjectStore.TransientAfterEffect
          case 1 => EmulatedObjectStore.TransientBeforeEffect
          case _ => EmulatedObjectStore.NoFault
        })
      GS.setClaimStore(new ConditionalPutClaimStore(store,
        backoffMs = 2))
      val res = try {
        GS.writeShardedTable(docs.filter(col("doc_id") % 3 === 0),
          col("doc_id"), col("doc_id"), path, 2, Seq("doc_id"))
        GS.appendShardedTable(docs.filter(col("doc_id") % 3 === 1),
          col("doc_id"), col("doc_id"), path, 2, Seq("doc_id"))
        GS.appendShardedTable(docs.filter(col("doc_id") % 3 === 2),
          col("doc_id"), col("doc_id"), path, 2, Seq("doc_id"))
        GS.readShardedTable(s, path)
          .select("doc_id", "source").cut()
      } finally GS.setClaimStore(GS.AtomicCreateClaimStore)
      GS.dropShardedTable(s, path)
      res.orderBy("doc_id")
    }),

    // SQL maintenance surface (r13): the catalog's ProcedureCatalog —
    // a pure-SQL create -> insert x4 -> CALL compact -> CALL
    // rewrite_zorder -> CALL expire_snapshots -> CALL vacuum ->
    // select lifecycle. Maintenance reorganizes storage, never rows:
    // the final read must equal the plain table.
    "q607_catalog_maintenance_sql" -> ((s, dir) => {
      import graft.Checkpoints.CheckpointOps
      val wh = java.nio.file.Files
        .createTempDirectory("graft_cat_").toString
      s.conf.set("spark.sql.catalog.graftpr",
        "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.graftpr.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftpr.corpus")
      s.sql("DROP TABLE IF EXISTS graftpr.corpus.docs")
      s.sql("""CREATE TABLE graftpr.corpus.docs
               (doc_id BIGINT, n_chars BIGINT, n_mod BIGINT)
               USING `graft-sharded`
               TBLPROPERTIES ('idCol'='doc_id', 'numShards'='4',
                 'statsCols'='doc_id')""")
      t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          (col("doc_id") % 97).as("n_mod"))
        .createOrReplaceTempView("q607_docs")
      (0 until 4).foreach { i =>
        s.sql(s"""INSERT INTO graftpr.corpus.docs
                  SELECT doc_id, CAST(n_chars AS BIGINT),
                         CAST(n_mod AS BIGINT)
                  FROM q607_docs WHERE doc_id % 4 = $i""")
      }
      s.sql("CALL graftpr.system.compact(table => 'corpus.docs', " +
        "small_dir_rows => 1000000)")
      s.sql("CALL graftpr.system.rewrite_zorder(" +
        "table => 'corpus.docs', z_cols => 'n_chars,n_mod')")
      s.sql("CALL graftpr.system.expire_snapshots(" +
        "table => 'corpus.docs', keep => 1)")
      s.sql("CALL graftpr.system.vacuum(table => 'corpus.docs', " +
        "grace_ms => 0)")
      val res = s.sql(
        """SELECT doc_id, n_chars, n_mod FROM graftpr.corpus.docs
           WHERE n_chars BETWEEN 100 AND 2000""").cut()
      s.sql("DROP TABLE graftpr.corpus.docs")
      s.sql("DROP NAMESPACE graftpr.corpus")
      res.orderBy("doc_id")
    }),

    // Row-level UPDATE by predicate (r10): the GDPR-redaction /
    // label-fix shape — one atomic delete+insert snapshot over the
    // matched rows, O(matched), zero existing files rewritten. The
    // oracle is the plain CASE WHEN.
    "q568_sharded_update" -> ((s, dir) => {
      import graft.Checkpoints.CheckpointOps
      val path = java.nio.file.Files
        .createTempDirectory("graft_sharded_").toString
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      graft.sources.Sources.writeShardedTable(docs, col("doc_id"),
        col("doc_id"), path, numShards = 8, statsCols = Seq("doc_id"))
      graft.sources.Sources.updateShardedTable(s, path, "doc_id",
        col("n_chars").between(200, 400),
        Seq("n_chars" -> (col("n_chars") + 100000L)), col("doc_id"),
        numShards = 2, statsCols = Seq("doc_id"))
      val res = graft.sources.Sources.readShardedTable(s, path)
        .select(col("doc_id"), col("source"),
          col("n_chars").cast("long").as("n_chars"))
        .cut()
      graft.sources.Sources.dropShardedTable(s, path)
      res.orderBy("doc_id")
    }),

    // VACUUM (r10): crashed-commit debris — orphan data/tombstone
    // dirs, stage leftovers, writer-blocking stale claims — reclaimed
    // past the grace period; live data untouched. Output = deleted
    // kinds + surviving row count, closed form.
    "q569_sharded_vacuum" -> ((s, dir) => {
      val path = java.nio.file.Files
        .createTempDirectory("graft_sharded_").toString
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      graft.sources.Sources.writeShardedTable(
        docs.filter(col("doc_id") % 2 === 0), col("doc_id"),
        col("doc_id"), path, numShards = 4, statsCols = Seq("doc_id"))
      // fabricated crash debris (the states a torn writer leaves)
      docs.limit(5).write.parquet(s"$path/data-v99-dead/shard=0")
      docs.limit(3).select(col("doc_id"))
        .write.parquet(s"$path/del-v98-dead")
      docs.limit(1).write.parquet(s"$path/_manifest/.stage-v9-dead")
      new java.io.File(s"$path/_manifest/.claim-v9").createNewFile()
      val deleted = graft.sources.Sources.vacuumShardedTable(s, path,
        graceMs = -60000L)
      val n = graft.sources.Sources.readShardedTable(s, path).count()
      graft.sources.Sources.dropShardedTable(s, path)
      import s.implicits._
      (deleted.map(d => (d.split('-').head, 1L)) :+ (("rows", n)))
        .toDF("kind", "n")
        .groupBy("kind").agg(sum(col("n")).as("n"))
        .orderBy("kind")
    }),

    // Predicate-driven read (r10): the same multi-dimension box as
    // q535 but pruned from the Column AST itself (predicateBounds) —
    // the user writes ONE filter expression and the manifest pruning
    // falls out, the pushdown shape without hand-written triples.
    "q570_sharded_where" -> ((s, dir) => {
      import graft.Checkpoints.CheckpointOps
      val path = java.nio.file.Files
        .createTempDirectory("graft_sharded_").toString
      val docs = t(s, dir, "documents")
      graft.sources.Sources.writeShardedTableZOrdered(docs,
        col("doc_id"), Seq("doc_id", "n_chars"), path,
        numShards = 16, bitsPerCol = 6)
      val res = graft.sources.Sources.readShardedTableWhere(s, path,
          col("doc_id").between(50, 349) &&
            col("n_chars").between(100, 400))
        .select(col("doc_id"), col("source"), col("n_chars"))
        .cut()
      graft.sources.Sources.dropShardedTable(s, path)
      res.orderBy("doc_id")
    }),

    // Time travel (r10): read the table AS OF the instant v1
    // committed — the append after it must be invisible.
    "q571_sharded_asof" -> ((s, dir) => {
      import graft.Checkpoints.CheckpointOps
      val path = java.nio.file.Files
        .createTempDirectory("graft_sharded_").toString
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      graft.sources.Sources.writeShardedTable(
        docs.filter(col("doc_id") % 2 === 0), col("doc_id"),
        col("doc_id"), path, numShards = 4, statsCols = Seq("doc_id"))
      val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      val t1 = fs.getFileStatus(
        new org.apache.hadoop.fs.Path(s"$path/_manifest/v1"))
        .getModificationTime
      Thread.sleep(20) // commits are ms-apart; keep mtimes ordered
      graft.sources.Sources.appendShardedTable(
        docs.filter(col("doc_id") % 2 === 1), col("doc_id"),
        col("doc_id"), path, numShards = 4, statsCols = Seq("doc_id"))
      val res = graft.sources.Sources.readShardedTableAsOf(s, path, t1)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .cut()
      graft.sources.Sources.dropShardedTable(s, path)
      res.orderBy("doc_id")
    }),

    // Predicate DELETE (r10): tombstone exactly the rows a filter
    // expression matches — pruned scan to find the keys, O(keys)
    // tombstone write, no data rewritten.
    "q572_sharded_delete_where" -> ((s, dir) => {
      import graft.Checkpoints.CheckpointOps
      val path = java.nio.file.Files
        .createTempDirectory("graft_sharded_").toString
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      graft.sources.Sources.writeShardedTable(docs, col("doc_id"),
        col("doc_id"), path, numShards = 8, statsCols = Seq("doc_id"))
      graft.sources.Sources.deleteWhereShardedTable(s, path, "doc_id",
        col("n_chars").between(200, 400) && col("doc_id") < 300)
      val res = graft.sources.Sources.readShardedTable(s, path)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .cut()
      graft.sources.Sources.dropShardedTable(s, path)
      res.orderBy("doc_id")
    }),

    // DataSource V2 surface (r11): q570's box, but through plain
    // Spark SQL over a `USING graft-sharded` temp view — Spark's own
    // filter pushdown drives the identical manifest/stats pruning
    // (the connector reports the pushed conjuncts in the scan), so a
    // non-graft consumer gets the pruned read for free.
    "q581_sharded_dsv2" -> ((s, dir) => {
      import graft.Checkpoints.CheckpointOps
      val path = java.nio.file.Files
        .createTempDirectory("graft_sharded_").toString
      val docs = t(s, dir, "documents")
      graft.sources.Sources.writeShardedTableZOrdered(docs,
        col("doc_id"), Seq("doc_id", "n_chars"), path,
        numShards = 16, bitsPerCol = 6)
      s.sql("CREATE OR REPLACE TEMPORARY VIEW graft_dsv2_corpus " +
        s"USING `graft-sharded` OPTIONS (path '$path')")
      val res = s.sql(
        """SELECT doc_id, source, n_chars FROM graft_dsv2_corpus
           WHERE doc_id BETWEEN 50 AND 349
             AND n_chars BETWEEN 100 AND 400""")
        .cut()
      s.sql("DROP VIEW graft_dsv2_corpus")
      graft.sources.Sources.dropShardedTable(s, path)
      res.orderBy("doc_id")
    }),

    // MP3 frame-header demux (r10): duration/bitrate/rate triage
    // stats from the published frame layer — no sample decode. The
    // corpus covers MPEG-1 and MPEG-2 rates, VBR, ID3v2 prefixes,
    // ID3v1 trailers, junk needing resync (id%7==3) and a half-torn
    // final frame (id%5==2, costing exactly that frame).
    "q567_mp3_stats" -> ((s, dir) => {
      val a = graft.ops.Mp3.synthMp3(
        t(s, dir, "documents").select(col("doc_id")), "doc_id")
      graft.ops.Mp3.mp3StatsDf(a, "asset_id", "media")
        .select(col("asset_id").as("doc_id"), col("n_frames"),
          col("sample_rate"), col("duration_ms"), col("br_min"),
          col("br_max"), col("vbr"), col("bytes_skipped"),
          col("truncated"))
        .orderBy("doc_id")
    }),

    // Fragmented MP4 (r9): the q502 decode over CMAF/DASH-style
    // moof/mdat segments — the layout real crawl video ships in.
    // BOTH isolation properties in one corpus: a corrupt FRAME costs
    // one row (id%7==3), a torn LAST FRAGMENT costs its frames and
    // nothing else (id%5==2 — the tolerant scan stops at the tear).
    "q530_fmp4_frames" -> ((s, dir) => {
      val vids = graft.ops.Mp4.synthFmp4Mjpeg(
        t(s, dir, "documents").select(col("doc_id")), "doc_id")
      graft.ops.Mp4.decodeMjpegFramesDf(vids, "asset_id", "media")
        .select(col("asset_id").as("doc_id"), col("frame_idx"),
          col("n_frames"), col("ok").cast("int").as("ok"),
          col("width"), col("height"), col("sum_y"), col("first_px"))
        .orderBy("doc_id", "frame_idx")
    }),

    // Funnel v5 through the PUBLIC Pipeline API: quality gate ->
    // CDC chunk-dedup REWRITE (shift-robust boilerplate removal) —
    // the round's rewrite stage composed end to end, exact oracle.
    "q453_funnel_cdc" -> ((s, dir) => {
      graft.ops.Pipeline(t(s, dir, "documents"), "doc_id", "text")
        .filterQuality(4500)
        .dedupCdcChunks(maskBits = 6)
        .result
        .select(col("doc_id"),
          coalesce(length(col("text")), lit(0)).cast("long")
            .as("n_chars"))
        .orderBy("doc_id")
    }),

    // Funnel v6 (Pipeline API): quality gate -> EXACT substring-dedup
    // rewrite (q477's op as a fluent stage; first-occurrence keep-first
    // computed on the post-gate corpus, which the oracle mirrors).
    "q478_funnel_substring" -> ((s, dir) => {
      graft.ops.Pipeline(t(s, dir, "documents"), "doc_id", "text")
        .filterQuality(4500)
        .dedupSubstringRuns(gramLen = 25)
        .result
        .select(col("doc_id"),
          coalesce(length(col("text")), lit(0)).cast("long")
            .as("n_chars"))
        .orderBy("doc_id")
    }),

    // Corpus-adaptive SemDeDup: k = clamp(ceil(sqrt(n)), 8, 4096),
    // Lloyd trained on the MINSTD-residue arithmetic sample (m =
    // max(1, n div 65536)), full-corpus routing — the 100 TB cost
    // lever over q88's fixed-k form; the oracle replays
    // n -> (k, m) -> sample -> train -> route -> pair exactly.
    "q450_semdedup_auto" -> ((s, dir) => {
      graft.ops.Similarity.semDedupPairsAuto(t(s, dir, "embeddings"),
          col("vec_id"), col("embedding"), tau = 0.4)
        .orderBy("id1", "id2")
    }),

    // Classifier evaluation I — exact ROC-AUC of the NB seed
    // classifier (gold = src0): Mann-Whitney with average-rank tie
    // handling over the distinct-score table, rank suffix stats via
    // the distributed prefix sum; the oracle replays the doubled rank
    // sum and the half-up micro division bit-for-bit.
    "q479_roc_auc" -> ((s, dir) => {
      graft.ops.Eval.rocAuc(nbEvalScores(s, dir), col("score"),
        col("source") === "src0")
    }),

    // Classifier evaluation II — step-interpolated PR-AUC, each
    // ΔRecall·Precision term micro-rounded before the exact sum.
    "q480_pr_auc" -> ((s, dir) => {
      graft.ops.Eval.prAuc(nbEvalScores(s, dir), col("score"),
        col("source") === "src0")
    }),

    // Classifier evaluation III — the full precision-recall curve:
    // one row per distinct threshold, suffix counts from ONE
    // multi-value prefix-sum pass over the negated score.
    "q481_pr_curve" -> ((s, dir) => {
      graft.ops.Eval.prCurve(nbEvalScores(s, dir), col("score"),
          col("source") === "src0")
        .orderBy("threshold")
    }),

    // Classifier evaluation VI — per-source AUC of a long-document
    // detector (gold = n_chars >= 300, ~half the corpus at every SF,
    // both classes present per source): one grouped-prefix-sum pass
    // answers "where does the score degrade", no per-group window.
    "q491_auc_by_source" -> ((s, dir) => {
      graft.ops.Eval.rocAucByGroup(nbEvalScores(s, dir),
          col("source"), col("score"), col("n_chars") >= 300)
        .withColumnRenamed("g", "source")
        .orderBy("source")
    }),

    // Classifier evaluation V — the chosen operating point: the PR
    // threshold maximizing F1, exact counts + micro ratios, ties to
    // the higher threshold.
    "q488_best_f1" -> ((s, dir) => {
      graft.ops.Eval.bestF1(nbEvalScores(s, dir), col("score"),
        col("source") === "src0")
    }),

    // Classifier evaluation IV — reliability (calibration) bins:
    // equal-width integer score bins, per-bin positive rate in half-up
    // micro-units, exact shifted score sums.
    "q482_calibration" -> ((s, dir) => {
      graft.ops.Eval.calibrationBins(nbEvalScores(s, dir), col("score"),
          col("source") === "src0", bins = 10)
        .orderBy("bin")
    }),

    // HTML main-text extraction: deterministic synth pages (head/
    // script traps, link-dense nav + footer, entity-encoded content
    // paragraphs, an inline-anchor paragraph) run through the real
    // codegen'd extractor — block split, entity decode, whitespace
    // collapse, jusText link-density boilerplate drop. The oracle
    // rebuilds the expected extraction in closed form from (id, text),
    // so any extractor defect breaks the hash.
    "q483_html_extract" -> ((s, dir) => {
      val pages = graft.ops.Html.synthHtml(t(s, dir, "documents"),
        col("doc_id"), col("text"))
      graft.ops.Html.extractTextDf(pages, "page_id", "html")
        .select(col("page_id").as("doc_id"),
          col("text").as("main_text"), col("n_kept"),
          col("n_dropped"), col("anchor_chars"), col("text_chars"))
        .orderBy("doc_id")
    }),

    // WARC container demux (ISO 28500, the Common Crawl layout):
    // spec-shaped .warc.gz files synthesized from corpus rows (one
    // gzip member per record, warcinfo + HTTP-response records whose
    // bodies are the q483 synth pages), then parsed back by the real
    // bounds-checked record walker. The oracle rebuilds every header
    // field and body length in closed form — including reconstructing
    // the HTML byte-for-byte in SQL — so a framing defect anywhere in
    // writer or parser breaks the hash.
    "q484_warc_demux" -> ((s, dir) => {
      val warcs = graft.ops.Warc.synthWarc(t(s, dir, "documents"),
        col("doc_id"), col("text"))
      graft.ops.Warc.readWarcRecords(warcs, "file_id", "warc")
        .select(col("file_id"), col("rec_idx"), col("warc_type"),
          col("uri"), col("content_length"), col("http_status"),
          length(col("body")).cast("long").as("body_chars"))
        .orderBy("file_id", "rec_idx")
    }),

    // The full crawl-ingest funnel: WARC demux → response filter →
    // HTTP body → HTML main-text extraction — container, transport
    // and markup all stripped in one composed pipeline; the oracle is
    // q483's closed-form extraction keyed back through the target URI.
    "q485_warc_funnel" -> ((s, dir) => {
      val warcs = graft.ops.Warc.synthWarc(t(s, dir, "documents"),
        col("doc_id"), col("text"))
      val recs = graft.ops.Warc.readWarcRecords(warcs, "file_id", "warc")
        .filter(col("warc_type") === "response")
        .select(regexp_extract(col("uri"), "/doc/(\\d+)$", 1)
          .cast("long").as("doc_id"), col("body"))
      graft.ops.Html.extractTextDf(recs, "doc_id", "body")
        .select(col("doc_id"), col("text").as("main_text"),
          col("n_kept"))
        .orderBy("doc_id")
    }),

    // Funnel v7 — the whole crawl ingest as ONE fluent chain: WARC
    // demux → response bodies → Pipeline.fromHtml (main-text
    // extraction) → quality gate. Container, transport, markup and
    // quality all composed; the oracle replays extraction AND the
    // quality formula on the reconstructed text.
    "q486_funnel_crawl" -> ((s, dir) => {
      val warcs = graft.ops.Warc.synthWarc(t(s, dir, "documents"),
        col("doc_id"), col("text"))
      val pages = graft.ops.Warc.readWarcRecords(warcs, "file_id", "warc")
        .filter(col("warc_type") === "response")
        .select(regexp_extract(col("uri"), "/doc/(\\d+)$", 1)
          .cast("long").as("doc_id"), col("body"))
      graft.ops.Pipeline.fromHtml(pages, "doc_id", "body")
        .filterQuality(5200)
        .result
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars"))
        .orderBy("doc_id")
    }),

    // Skyline: the (cheapest, largest-quantity) Pareto frontier of
    // lineitems — no row survives that something else beats on both
    // axes; the oracle is the NOT EXISTS domination definition.
    "q348_skyline" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long")
            .as("price_cents"),
          col("l_quantity").cast("long").as("qty"))
      graft.ops.Relational.skyline2D(li,
          col("price_cents"), col("qty"))
        .orderBy("price_cents", "qty", "l_orderkey", "l_linenumber")
    }),

    // EWMA per user: the zero-init recency-weighted value recurrence
    // e_i = 0.8·e_{i−1} + 0.2·x_i folded IN-ROW over each user's
    // (ts, event_id)-sorted series — a deterministic left fold the
    // oracle replays step-for-step with a recursive CTE (bit-identical
    // IEEE op order on both engines, so the rounded doubles hash-match).
    "q349_ewma" -> ((s, dir) => {
      graft.ops.Events.ewmaFinal(t(s, dir, "events"),
          col("user_id"), col("ts"), col("event_id"), col("value"),
          alphaNum = 1, alphaDen = 5)
        .select(col("key").as("user_id"), col("n_events"), col("ewma"))
        .orderBy("user_id")
    }),

    // Forward fill (LOCF): nulls planted deterministically (every
    // 'click' loses its value) are repaired from the same user's most
    // recent earlier value; leading nulls stay null. One window, one
    // shuffle — the gap-repair step before resampling or training.
    "q350_forward_fill" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"),
          when(col("event_type") === "click", lit(null))
            .otherwise(col("value")).as("v"))
      graft.ops.Events.forwardFill(e, col("user_id"), col("ts"),
          col("event_id"), Seq("v"))
        .select(col("user_id"), col("event_id"),
                round(col("v"), 2).as("v_filled"))
        .orderBy("user_id", "event_id")
    }),

    // q350's semantics on the skew-resistant path: fills partition on
    // (user, hour bucket); the carry INTO a bucket comes from per-bucket
    // last-non-null summaries. Same oracle as q350.
    "q351_forward_fill_bucketed" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"),
          when(col("event_type") === "click", lit(null))
            .otherwise(col("value")).as("v"))
      graft.ops.Events.forwardFillBucketed(e, col("user_id"), col("ts"),
          col("event_id"), "v", bucketSeconds = 3600)
        .select(col("user_id"), col("event_id"),
                round(col("v"), 2).as("v_filled"))
        .orderBy("user_id", "event_id")
    }),

    // Gopher quality rules (Rae et al. 2021): the MassiveText per-doc
    // screen — word count / mean word length / symbol ratio / bullet
    // + ellipsis lines / alpha words / stop words, every comparison
    // integer cross-multiplied, per-rule booleans for the curation
    // report. One expression chain, no shuffle.
    "q354_gopher_rules" -> ((s, dir) => {
      // stop list adapted to this corpus's vocabulary (its "function
      // words" are query-plan terms); the paper's English list would
      // zero the rule on synthetic text
      graft.ops.TextAnalysis.gopherScreen(t(s, dir, "documents"),
          col("doc_id"), col("text"), minWords = 20,
          stopWords = Seq("join", "hash"))
        .orderBy("doc_id")
    }),

    // Rolling robust z-score: each event judged against its own
    // trailing-25 frame's median/MAD — the drift-aware anomaly screen
    // (a level shift flags once, not forever). In-row exact order
    // statistics; the oracle replays the same list math per frame.
    "q353_rolling_robust_z" -> ((s, dir) => {
      graft.ops.Checks.rollingRobustZ(t(s, dir, "events"),
          col("user_id"), col("ts"), col("event_id"), col("value"),
          windowRows = 25)
        .select(col("key").as("user_id"), col("id").as("event_id"),
                round(col("v"), 2).as("v"), round(col("med"), 4).as("med"),
                round(col("mad"), 4).as("mad"), col("is_outlier"))
        .orderBy("user_id", "event_id")
    }),

    // CUSUM change-point monitor: two-sided cumulative drift against
    // each user's own integer-cents mean, alarm-and-reset at h —
    // integer clamp recurrence folded in-row, recursive-CTE replay.
    "q355_cusum" -> ((s, dir) => {
      graft.ops.Checks.cusumChangePoints(t(s, dir, "events"),
          col("user_id"), col("ts"), col("event_id"), col("value"),
          slackCents = 500L, thresholdCents = 3000L)
        .select(col("key").as("user_id"), col("n_events"),
                col("mu_cents"), col("n_up_alarms"), col("n_down_alarms"),
                col("final_s_up"), col("final_s_dn"))
        .orderBy("user_id")
    }),

    // Autocorrelation of the hourly per-type value series at lags
    // 1..3 — seasonality/memory detection; exact integer
    // cross-multiplication (q146's discipline), float only in the one
    // shared final expression.
    "q356_acf" -> ((s, dir) => {
      val hourly = t(s, dir, "events")
        .filter(col("ts").isNotNull && col("value").isNotNull)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(sum(floor(col("value") * 100 + lit(0.5)).cast("long")).as("v"))
      graft.ops.Events.autocorrelation(hourly,
          col("event_type"), col("hr"), col("v"), maxLag = 3)
        .select(col("series").as("event_type"), col("lag"),
                col("n"), col("acf"))
        .orderBy("event_type", "lag")
    }),

    // Exact weighted median (quantity-weighted price) per return flag:
    // cumulative integer weights, walked over the crossing bucket's
    // values only, rational threshold compare — no float anywhere.
    "q357_weighted_median" -> ((s, dir) => {
      graft.ops.Relational.weightedQuantile(t(s, dir, "lineitem"),
          col("l_returnflag"),
          floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long"),
          col("l_quantity").cast("long"), qNum = 1, qDen = 2)
        .select(col("g").as("l_returnflag"), col("q_value"),
                col("total_weight"))
        .orderBy("l_returnflag")
    }),

    // Incremental view maintenance: fold a signed CDC batch (1997
    // inserts + key%7 deletions of pre-1997 rows) into the
    // materialized per-customer (cnt, sum) state at delta cost; the
    // oracle recomputes from scratch and must agree exactly —
    // including groups that disappear at cnt 0.
    "q358_ivm_apply" -> ((s, dir) => {
      val cents = floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")
      val orders = t(s, dir, "orders")
      val state = orders.filter(col("o_orderdate") < lit("1997-01-01"))
        .groupBy(col("o_custkey").as("custkey"))
        .agg(count(lit(1)).as("cnt"), sum(cents).as("sum_cents"))
      val changes = orders
        .filter(col("o_orderdate") >= lit("1997-01-01") &&
                col("o_orderdate") < lit("1998-01-01"))
        .select(col("o_custkey"), lit(1L).as("sign"), cents.as("v"))
        .unionByName(orders
          .filter(col("o_orderdate") < lit("1997-01-01") &&
                  col("o_orderkey") % 7 === 0)
          .select(col("o_custkey"), lit(-1L).as("sign"), cents.as("v")))
      graft.ops.Relational.ivmApplySumCount(
          state, col("custkey"), changes, col("o_custkey"),
          col("sign"), col("v"), cntCol = "cnt", sumCol = "sum_cents")
        .select(col("k").as("custkey"), col("cnt"), col("sum_cents"))
        .orderBy("custkey")
    }),

    // Semi-structured VARIANT path: props parses ONCE (Spark 4
    // variant, not per-field get_json_object re-parse), typed field
    // extraction + a missing-path probe, aggregated per event type.
    "q359_variant_extract" -> ((s, dir) => {
      graft.ops.SemiStructured.variantExtract(t(s, dir, "events"),
          col("props"),
          Seq(("k_val", "$.k", "bigint"),
              ("absent", "$.no_such_field", "bigint")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
             count(col("k_val")).as("n_with_k"),
             sum(col("k_val")).as("sum_k"),
             min(col("k_val")).as("min_k"),
             max(col("k_val")).as("max_k"),
             count(col("absent")).as("n_absent_hits"))
        .orderBy("event_type")
    }),

    // Embedding-space outliers: diagonal standardized distance in ppm
    // — exact integer moments per dim, integer floor-divided terms,
    // integer sum; top-20 via TakeOrdered.
    "q360_embedding_outliers" -> ((s, dir) => {
      graft.ops.Similarity.embeddingOutliers(t(s, dir, "embeddings"),
          col("vec_id"), col("embedding"), topK = 20)
    }),

    // Native session_window aggregation — the streaming-capable
    // session grouping (state merges incrementally; the sessionize
    // window-id form can't stream). Boundary semantics: a gap of
    // EXACTLY 30 min starts a new session (end-exclusive).
    "q361_session_native" -> ((s, dir) => {
      graft.ops.Events.sessionAgg(t(s, dir, "events"),
          col("user_id"), col("ts"), gapSeconds = 1800L)
        .orderBy("user_id", "session_start")
    }),

    // Join-key discovery over four candidate id columns: distinct
    // value frames, one value-keyed equi-join, integer-ppm
    // containment — the FK signals (o_custkey ⊆ c_custkey,
    // l_orderkey ⊆ o_orderkey) must surface at 1000000 ppm.
    "q362_join_keys" -> ((s, dir) => {
      graft.ops.Checks.inclusionDependencies(Seq(
          ("orders.o_custkey", t(s, dir, "orders"), "o_custkey"),
          ("customer.c_custkey", t(s, dir, "customer"), "c_custkey"),
          ("lineitem.l_orderkey", t(s, dir, "lineitem"), "l_orderkey"),
          ("orders.o_orderkey", t(s, dir, "orders"), "o_orderkey")))
        .orderBy("col_a", "col_b")
    }),

    // Linear interpolation of a deterministically-masked value series
    // (event_id % 5 == 0 nulled): exact integer numerator/denominator,
    // ONE double division — leading/trailing gaps stay null.
    "q363_interpolate" -> ((s, dir) => {
      val masked = t(s, dir, "events")
        .withColumn("cents",
          when(col("event_id") % 5 === 0, lit(null))
            .otherwise(floor(col("value") * 100 + lit(0.5)).cast("long")))
      graft.ops.Events.interpolateLinear(masked,
          col("user_id"), col("ts"), col("event_id"), col("cents"))
        .select(col("user_id"), col("event_id"), col("filled"),
                col("was_interpolated"))
        .orderBy("user_id", "event_id")
    }),

    // Path mining: the 20 most-walked 3-step event-type sequences —
    // n-1 leads in one window pass, TakeOrdered with (cnt, path)
    // total order.
    "q364_frequent_paths" -> ((s, dir) => {
      graft.ops.Events.frequentPaths(t(s, dir, "events"),
          col("user_id"), col("ts"), col("event_id"), col("event_type"),
          n = 3, topK = 20)
    }),

    // TPC-H Q6 shape (forecast revenue change): the pure
    // scan-filter-aggregate — no join, no shuffle beyond the one-row
    // final agg; every predicate must reach the parquet scan.
    // TPC-H Q1 (pricing summary) — the last of the 22 shapes: one
    // fact-side partial agg behind the shipdate filter; money in
    // per-row half-up cents (the q365 discipline), averages derivable
    // from the exact sums + count.
    "q490_tpch_q1" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          sum(floor(col("l_extendedprice") * 100 + lit(0.5))
            .cast("long")).as("sum_base_cents"),
          sum(floor(col("l_extendedprice") *
            (lit(1.0) - col("l_discount")) * 100 + lit(0.5))
            .cast("long")).as("sum_disc_cents"),
          sum(floor(col("l_extendedprice") *
            (lit(1.0) - col("l_discount")) *
            (lit(1.0) + col("l_tax")) * 100 + lit(0.5))
            .cast("long")).as("sum_charge_cents"),
          sum(floor(col("l_discount") * 10000 + lit(0.5))
            .cast("long")).as("sum_disc_x1e4"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "q365_tpch_q6" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01") &&
                col("l_shipdate") < lit("1998-01-01") &&
                col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
                col("l_quantity") < 24)
        .agg(sum(floor(col("l_extendedprice") * col("l_discount") * 100 +
               lit(0.5)).cast("long")).as("revenue_cents"),
             count(lit(1)).as("n_items"))
    }),

    // TPC-H Q9 shape (product-type profit by nation and year),
    // adapted to this schema: no partsupp table, so supply cost
    // proxies at 10% of p_retailprice per unit; parts filtered by a
    // name infix, dims broadcast, one fact-side shuffle for the agg.
    "q366_tpch_q9" -> ((s, dir) => {
      val profit = floor(col("l_extendedprice") * (lit(1.0) -
          col("l_discount")) * 100 + lit(0.5)).cast("long") -
        floor(col("p_retailprice") * col("l_quantity") * 10 + lit(0.5))
          .cast("long")
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")
          .filter(col("p_name").contains("al"))), col("l_partkey") === col("p_partkey"))
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").as("nation"),
                 year(col("o_orderdate")).as("o_year"))
        .agg(sum(profit).as("profit_cents"))
        .orderBy(col("nation"), desc("o_year"))
    }),

    // TPC-H Q12 shape (late-shipment priority accounting), adapted:
    // no l_receiptdate/l_shipmode here, so "late" is ship > 60 days
    // after order, bucketed by linestatus — the CASE-sum join.
    "q367_tpch_q12" -> ((s, dir) => {
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .filter(datediff(col("l_shipdate"), col("o_orderdate")) > 60)
        .groupBy(col("l_linestatus"))
        .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
             sum(when(!high, 1L).otherwise(0L)).as("low_line_count"))
        .orderBy("l_linestatus")
    }),

    // Bloom-prefiltered semi-join: dim keys (large parts) fold into a
    // bloom that drops non-joining fact rows at the scan; the exact
    // semi-join clears false positives — results identical to the
    // plain semi-join the oracle runs.
    "q368_bloom_semijoin" -> ((s, dir) => {
      val bigParts = t(s, dir, "part").filter(col("p_size") >= 48)
      graft.ops.Relational.bloomSemiJoin(
          t(s, dir, "lineitem"), col("l_partkey"),
          bigParts, col("p_partkey"), expectedItems = 2000L)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
             sum(col("l_quantity").cast("long")).as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // Bloom-accelerated anti-join (blocklist shape): rows the bloom
    // provably clears bypass the join; only the might-contain sliver
    // rides the exact anti-join. Must equal the plain NOT IN.
    "q369_bloom_antijoin" -> ((s, dir) => {
      val bigParts = t(s, dir, "part").filter(col("p_size") >= 48)
      graft.ops.Relational.bloomAntiJoin(
          t(s, dir, "lineitem"), col("l_partkey"),
          bigParts, col("p_partkey"), expectedItems = 2000L)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
             sum(col("l_quantity").cast("long")).as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // Latency distribution of view -> first purchase (forward as-of
    // attach, then exact integer percentiles of the gap) — the
    // response-time SLO panel per attribution cohort.
    "q412_latency_pct" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val joined = graft.ops.Relational.asofJoinForward(
        ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts")),
        ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts")),
        key = "user_id", leftTime = "ts", rightTime = "ts",
        payload = Map("ts" -> "p_ts"))
      joined
        .filter(col("p_ts").isNotNull)
        .select(pmod(col("user_id"), lit(4)).as("cohort"),
          (unix_timestamp(col("p_ts")) - unix_timestamp(col("ts")))
            .as("gap_s"))
        .groupBy("cohort")
        .agg(count(lit(1)).as("n"),
             expr("cast(percentile(gap_s, 0.5) as double)").as("p50_s"),
             expr("cast(percentile(gap_s, 0.9) as double)").as("p90_s"),
             max(col("gap_s")).as("max_s"))
        .orderBy("cohort")
    }),

    // O3 for-each as a HASHABLE surface: visit every binding tuple on
    // executors, folding into Spark accumulators (the one legal
    // executor→driver side-effect channel; updates inside an action
    // are applied exactly once per successful task, so the totals are
    // deterministic), then return them as a one-row frame the oracle
    // recomputes declaratively (reference `for-each`, core.cljc:38-43).
    "q413_foreach" -> ((s, dir) => {
      import s.implicits._
      val nRows = s.sparkContext.longAccumulator("graft_foreach_rows")
      val sumLn = s.sparkContext.longAccumulator("graft_foreach_ln")
      Transform(rows("l_orderkey", "l_linenumber"),
          RRows(Seq("l_orderkey" -> col("l_orderkey"))))
        .forEach(t(s, dir, "lineitem")) { r =>
          nRows.add(1L)
          sumLn.add(r.getAs[Int]("l_linenumber").toLong)
        }
      Seq((nRows.value: Long, sumLn.value: Long))
        .toDF("n_rows", "sum_ln")
    }),

    // O9 explicit SetOf-domain iteration: the input models sets as
    // arrays (collect_set per order); the domain consumes the SET
    // pattern (reference `[:set]`, parse_domain.cljc:74-79) and the
    // range re-aggregates per key.
    "q414_set_domain" -> ((s, dir) => {
      val sets = t(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(collect_set(col("l_partkey")).as("parts"))
      Transform.run(sets,
        Vec(Entries(Seq(
          (KField("l_orderkey"): DKey) -> Leaf("l_orderkey"),
          (KField("parts"): DKey) -> SetOf(Leaf("pk"))))),
        RMap(col("l_orderkey"), RStruct(Seq(
          "n_parts" -> RAgg(count(col("pk"))),
          "max_pk"  -> RAgg(max(col("pk")))))))
        .orderBy("l_orderkey")
    }),

    // Concurrency curve over gap sessions: the ±1 sweep's global
    // running sum on the distributed prefix machinery — peak
    // simultaneous sessions per hour.
    "q411_concurrency" -> ((s, dir) => {
      val sess = graft.ops.Events.sessionize(t(s, dir, "events"),
          col("user_id"), col("ts"), gapSeconds = 1800L)
        .groupBy(col("user_id"), col("session_id"))
        .agg(min(unix_timestamp(col("ts"))).as("s"),
             max(unix_timestamp(col("ts"))).as("e"))
      graft.ops.Events.concurrencyCurve(sess, col("s"), col("e"))
        .groupBy((col("t") - pmod(col("t"), lit(3600L))).as("hour_sec"))
        .agg(max(col("concurrent")).as("peak_concurrent"),
             count(lit(1)).as("n_boundaries"))
        .orderBy("hour_sec")
    }),

    // Capped sessionization: gap 30 min OR total duration 2 h splits
    // — the duration rule depends on the running session start, a
    // sequential recurrence folded in-row; the oracle replays the
    // state machine with a recursive CTE.
    "q410_session_capped" -> ((s, dir) => {
      graft.ops.Events.sessionStatsCapped(t(s, dir, "events"),
          col("user_id"), col("ts"), col("event_id"),
          gapSeconds = 1800L, capSeconds = 7200L)
        .orderBy("user_id")
    }),

    // Exactly-k per group, deterministically: the k smallest MINSTD
    // hashes (id tiebreak) per source (10 of each 25) — the eval-set cut
    // fraction sampling can't express.
    "q409_sample_exact_k" -> ((s, dir) => {
      graft.ops.Sampling.sampleExactK(t(s, dir, "documents"),
          col("doc_id"), col("source"), k = 10)
        .select(col("doc_id"), col("source"))
        .orderBy("source", "doc_id")
    }),

    // Row quarantine: first-violated-rule tagging as one fused
    // expression; good path and dead-letter fork share the scan.
    "q408_quarantine" -> ((s, dir) => {
      graft.ops.Checks.quarantineRows(t(s, dir, "lineitem"), Seq(
          ("high_qty", col("l_quantity") > 45),
          ("low_price", col("l_extendedprice") < 1500),
          ("tax_gt_2disc", col("l_tax") > col("l_discount") * 2)))
        .groupBy(coalesce(col("violated_rule"), lit("clean")).as("rule"))
        .agg(count(lit(1)).as("n"),
             sum(floor(col("l_extendedprice") * 100 + lit(0.5))
               .cast("long")).as("sum_cents"))
        .orderBy("rule")
    }),

    // Pure-SQL entry point: the same engine drives from SQL text
    // (temp views + spark.sql) — users who live in SQL get the
    // injected native functions and the identical Catalyst plans.
    "q407_sql_surface" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("li_v")
      t(s, dir, "orders").createOrReplaceTempView("ord_v")
      s.sql("""
        SELECT o_orderpriority,
               count(*) AS n_orders,
               sum(top_cents) AS sum_top_cents
        FROM (
          SELECT o.o_orderkey, o.o_orderpriority,
                 max(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
                   AS top_cents
          FROM ord_v o JOIN li_v l ON l.l_orderkey = o.o_orderkey
          GROUP BY o.o_orderkey, o.o_orderpriority)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority""")
    }),

    // Video fingerprinting: perceptual hash per sampled frame (the
    // near-dup-video key); index-walking partial decode slices only
    // sampled frames, the oracle replays every frame's pixel math.
    "q406_video_phash" -> ((s, dir) => {
      val vids = graft.ops.Multimodal.synthVideo(
        t(s, dir, "documents").select(col("doc_id")), "doc_id")
      graft.ops.Multimodal.videoFrameHashesDf(vids, "asset_id", "media",
          stride = 1)
        .select(col("asset_id").as("doc_id"), col("n_frames"),
                col("frame_idx"), col("hash_hi"), col("hash_lo"))
        .orderBy("doc_id", "frame_idx")
    }),

    // End-to-end multimodal dedup: decode → perceptual hash → banded
    // hamming pairs → connected components → keep the min-id image
    // per duplicate cluster. The full q57 funnel, for IMAGES.
    "q405_phash_dedup" -> ((s, dir) => {
      val bmps = graft.ops.Multimodal.synthBmp24(
        t(s, dir, "documents").select(col("doc_id"))
          .filter(col("doc_id") < 2000), "doc_id")
      val hashes = graft.ops.Multimodal.aHashDf(bmps, "asset_id", "media")
      val pairs = graft.ops.Dedup.hammingPairs64(hashes, col("asset_id"),
          col("hash_hi"), col("hash_lo"), maxDist = 6)
      val comps = graft.ops.Dedup.connectedComponents(pairs,
          col("id1"), col("id2"))
      // survivors: everything except non-representative members
      hashes.select(col("asset_id").as("doc_id"))
        .join(comps.filter(col("id") =!= col("comp"))
                .select(col("id").as("doc_id")),
              Seq("doc_id"), "left_anti")
        .orderBy("doc_id")
    }),

    // Audio loudness fingerprint: 32-bit energy contour over real
    // decoded PCM-16 bytes (32 equal windows, integer mean-|sample|
    // energies, strict-mean threshold) — oracle replays the sample
    // arithmetic end to end.
    "q404_audio_ehash" -> ((s, dir) => {
      val wavs = graft.ops.Multimodal.synthWavPcm16(
        t(s, dir, "documents").select(col("doc_id")), "doc_id")
      graft.ops.Multimodal.audioEnergyHashDf(wavs, "asset_id", "media")
        .select(col("asset_id").as("doc_id"), col("ehash"))
        .orderBy("doc_id")
    }),

    // Perceptual image hashing: 64-bit aHash (8×8 nearest-neighbor
    // resize, integer luma, strict-mean threshold) over real decoded
    // BMP bytes; the oracle replays the pixel arithmetic end to end.
    "q402_phash" -> ((s, dir) => {
      val bmps = graft.ops.Multimodal.synthBmp24(
        t(s, dir, "documents").select(col("doc_id")), "doc_id")
      graft.ops.Multimodal.aHashDf(bmps, "asset_id", "media")
        .select(col("asset_id").as("doc_id"), col("hash_hi"),
                col("hash_lo"))
        .orderBy("doc_id")
    }),

    // Near-dup IMAGES by hamming distance on the aHash: byte-banded
    // candidates (pigeonhole-lossless at maxDist <= 7), exact popcount
    // verify in-join — never all-pairs.
    "q403_phash_pairs" -> ((s, dir) => {
      val bmps = graft.ops.Multimodal.synthBmp24(
        t(s, dir, "documents").select(col("doc_id"))
          .filter(col("doc_id") < 2000), "doc_id")
      val hashes = graft.ops.Multimodal.aHashDf(bmps, "asset_id", "media")
      graft.ops.Dedup.hammingPairs64(hashes, col("asset_id"),
          col("hash_hi"), col("hash_lo"), maxDist = 6)
        .orderBy("id1", "id2")
    }),

    // As-of join with a staleness bound: last click within ONE HOUR
    // of the purchase (nearest predecessor chosen first, THEN gated —
    // an older in-bound click never substitutes for a stale nearest).
    "q401_asof_within" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val joined = graft.ops.Relational.asofJoinBackwardWithin(
        ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts")),
        ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts")),
        key = "user_id", leftTime = "ts", rightTime = "ts",
        payload = Map("ts" -> "click_ts"), maxStalenessSec = 3600L)
      joined.groupBy("user_id")
        .agg(count(lit(1)).as("n_purchases"),
             count(col("click_ts")).as("n_matched"),
             coalesce(sum(unix_micros(col("ts")) -
                          unix_micros(col("click_ts"))), lit(0L))
               .as("sum_gap_us"))
        .orderBy("user_id")
    }),

    // Interval-set union per customer: 30-day service windows from
    // each order merged into maximal covered spans (touching merges,
    // gap splits) — the sweep with one window shuffle.
    "q400_interval_merge" -> ((s, dir) => {
      val sec = unix_timestamp(col("o_orderdate"))
      val iv = t(s, dir, "orders")
        .select(col("o_custkey"), sec.as("s"),
                (sec + lit(30L * 86400L)).as("e"))
      graft.ops.Events.mergeIntervals(iv, col("o_custkey"),
          col("s"), col("e"))
        .select(col("key").as("custkey"), col("span_start"),
                col("span_end"), col("covered"), col("n_intervals"))
        .orderBy("custkey", "span_start")
    }),

    // Token-bucket rate-limiter replay: which traffic WOULD a
    // 3-token bucket (1M µtok cost, 100 µtok/s refill) throttle —
    // the clamp recurrence folded in-row in pure integer arithmetic,
    // replayed bit-for-bit by the oracle's recursive CTE.
    "q352_token_bucket" -> ((s, dir) => {
      graft.ops.Events.tokenBucketAudit(t(s, dir, "events"),
          col("user_id"), col("ts"), col("event_id"),
          capacity = 3000000L, refillPerSec = 100L, cost = 1000000L)
        .select(col("key").as("user_id"), col("n_events"),
                col("n_admitted"), col("n_throttled"), col("final_tokens"))
        .orderBy("user_id")
    }),

    // Governance: salted SHA-2 pseudonymization of user ids — same
    // value → same pseudonym (joinability survives), raw id does not;
    // per-pseudonym event counts prove the mapping is stable and
    // cardinality-preserving.
    "q346_pseudonymize" -> ((s, dir) => {
      graft.ops.Relational.pseudonymizeColumns(t(s, dir, "events"),
          salt = "graft-r5", cols = Seq("user_id"))
        .groupBy(col("user_id").as("pseudo"))
        .agg(count(lit(1)).as("n_events"))
        .orderBy("pseudo")
    }),

    // Governance: order-independent table content checksum over
    // documents — the integrity attestation a copy/migration job
    // compares before swapping pointers.
    "q347_table_checksum" -> ((s, dir) => {
      graft.ops.Relational.tableChecksum(t(s, dir, "documents"))
    }),

    // Hierarchy closure: decimal-digit taxonomy over part keys
    // (parent = key div 10) — every (node, ancestor, depth ≤ 6) pair
    // by pointer doubling; the oracle walks the same closure with a
    // bounded recursive CTE.
    "q345_ancestors" -> ((s, dir) => {
      val p = t(s, dir, "part")
        .select(col("p_partkey").as("c"),
          expr("p_partkey div 10").as("par"))
        .filter(col("c") >= 10) // single-digit keys are roots
      graft.ops.Graph.ancestorClosure(p, col("c"), col("par"),
          maxDepth = 6)
        .orderBy("node", "depth")
    }),

    // Span-corruption manifest: T5/UL2 denoising masks — 3-token
    // spans covering ~15% of each doc, stratified placement at
    // portable-hash offsets so the oracle replays every position.
    "q344_span_mask" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Packing.spanMaskManifest(docs, col("doc_id"),
          size(filter(split(col("text"), " "), s => s =!= "")),
          spanLen = 3, maskNum = 3, maskDen = 20, seed = 7L)
        .orderBy("id", "span_idx")
    }),

    // Boilerplate strip: CCNet's document-frequency segment filter —
    // tokens present in > half of all documents are template noise on
    // this corpus (closed vocabulary); survivors reassemble in order.
    "q343_boilerplate" -> ((s, dir) => {
      graft.ops.Dedup.stripBoilerplate(t(s, dir, "documents"),
          col("doc_id"), col("text"), sep = " ",
          maxDocNum = 1, maxDocDen = 2)
        .orderBy("id")
    }),

    // Real multimodal codec IV (audio decimation): synth → encode →
    // keep every 3rd sample, re-encode at rate/3 → decode — the
    // downsample pass; the oracle replays the i mod 3 = 0 keep set.
    "q302_wav_resample" -> ((s, dir) => {
      val wavs = graft.ops.Multimodal.synthWavPcm16(
        t(s, dir, "documents").select(col("doc_id")), "doc_id")
      graft.ops.Multimodal.resampleWavStatsDf(wavs, "asset_id", "media",
          factor = 3)
        .select(col("asset_id").as("doc_id"), col("sample_rate"),
                col("channels"), col("bits"), col("n_samples"),
                col("sum_abs"), col("peak"))
        .orderBy("doc_id")
    }),

    // Real multimodal codec III (image resize): synth → encode →
    // nearest-neighbor resize to 6×4 → decode — the thumbnail pass;
    // the oracle replays the x·w div 6 / y·h div 4 source mapping
    // arithmetically.
    "q301_bmp_resize" -> ((s, dir) => {
      val bmps = graft.ops.Multimodal.synthBmp24(
        t(s, dir, "documents").select(col("doc_id")), "doc_id")
      graft.ops.Multimodal.resizeBmpStatsDf(bmps, "asset_id", "media",
          newW = 6, newH = 4)
        .select(col("asset_id").as("doc_id"), col("width"), col("height"),
                col("sum_r"), col("sum_g"), col("sum_b"), col("first_px"))
        .orderBy("doc_id")
    }),

    // Contrastive-training data prep: globally-mined hard negatives —
    // top-k cosine neighbors under a DIFFERENT label, label filter
    // fused into the candidate join before ranking (labels synthesized
    // as vec_id mod 5: the op cares about the anti-join mechanics).
    "q249_hard_negatives" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .withColumn("lbl", pmod(col("vec_id"), lit(5)))
      graft.ops.Similarity.hardNegatives(
          e, e.filter(col("vec_id") < 10),
          col("vec_id"), col("embedding"), col("lbl"),
          col("vec_id"), col("embedding"), col("lbl"), k = 5)
        .orderBy("qid", "rank")
    }),

    // Incremental near-identical screen: odd-id batch vs even-id
    // corpus through the deletion-signature index (the q43/q132
    // batch-vs-corpus shape for the symdiff ≤ 1 regime).
    "q250_deletion_incremental" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.ops.Dedup.deletionNeighborPairsBetween(
          d.filter(col("doc_id") % 2 === 1),
          d.filter(col("doc_id") % 2 === 0),
          col("doc_id"), col("doc_id"), col("text"), col("text"))
        .orderBy("left_id", "right_id")
    }),

    // Graph IV: bounded k-core peel of the co-occurrence graph — the
    // dense-subgraph screen (link farms survive, tendrils peel).
    // Fixed 4 rounds at k=80 so the result is a deterministic function
    // of the input at any SF; the oracle replays the same 4 peels.
    "q263_kcore" -> ((s, dir) => {
      val e = graft.ops.Graph.coOccurrencePairs(
        t(s, dir, "lineitem"), col("l_orderkey"), col("l_partkey"))
      graft.ops.Graph.kCorePeel(e, col("u"), col("v"),
          k = 80, rounds = 4)
        .select(col("id").as("part_id"), col("core_deg"))
        .orderBy("part_id")
    }),

    // Chunk-stable segmentation: content-defined boundaries (rolling
    // 4-token hash ≡ 0 mod 16) — insertion-robust chunk identities.
    "q231_content_chunks" -> ((s, dir) => {
      graft.ops.TextAnalysis.contentChunks(t(s, dir, "documents"),
          col("doc_id"), col("text"), window = 4, modulus = 16)
        .orderBy("doc_id", "chunk_idx")
    }),

    // Product health: DAU / trailing-7-day WAU stickiness with gap
    // days explicit — the distinct-over-range done right.
    "q229_active_users" -> ((s, dir) => {
      graft.ops.Events.rollingActiveUsers(t(s, dir, "events"),
          col("user_id"), col("ts"), windowDays = 7)
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
                col("dau"), col("wau"), col("stickiness_permille"))
        .orderBy("day")
    }),

    // Survival: Kaplan-Meier signup→purchase curve in log space,
    // right-censored at the corpus horizon.
    "q230_survival" -> ((s, dir) => {
      graft.ops.Events.survivalCurve(t(s, dir, "events"),
          col("user_id"), col("ts"), col("event_type"),
          startType = "signup", endType = "purchase")
        .orderBy("t_days")
    }),

    // Entity resolution II: sorted-neighborhood blocking over part
    // names (rank-bucket equi-join, never rows²), levenshtein verify.
    "q227_sorted_neighborhood" -> ((s, dir) => {
      graft.ops.Relational.sortedNeighborhoodPairs(
          t(s, dir, "part").select(col("p_partkey"), col("p_name"))
            .distinct(),
          col("p_partkey"), col("p_name"), window = 5, maxDist = 8)
        .orderBy("id1", "id2")
    }),

    // Market-basket: session association rules (support/confidence/
    // lift) over distinct event-type memberships.
    "q228_associations" -> ((s, dir) => {
      graft.ops.Events.sessionAssociations(t(s, dir, "events"),
          col("user_id"), col("ts"), col("event_type"), col("event_id"),
          gapSeconds = 1800L, minSupport = 5L)
        .orderBy("a", "b")
    }),

    // Ops table: stage-by-stage attrition through the q199 policy
    // funnel (input → blocklist → quality → novelty).
    "q226_attrition" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      def pipe(p: graft.ops.Pipeline) = p.result
      val p0 = graft.ops.Pipeline(d, "doc_id", "text")
      val p1 = p0.filterBlocklist(Seq(
        "latency" -> Seq("slow query", "merge batch")))
      val p2 = p1.filterQuality(4000L)
      val p3 = p2.filterNovelty(400L)
      graft.ops.Checks.stageAttrition(Seq(
          "input" -> pipe(p0), "blocklist" -> pipe(p1),
          "quality" -> pipe(p2), "novelty" -> pipe(p3)))
        .orderBy("stage_idx")
    }),

    // Drift: PSI between the two q159-style snapshot views over
    // quality-score bins (width 1000 x1e4-units), add-one smoothed.
    "q223_psi_drift" -> ((s, dir) => {
      val d = t(s, dir, "documents").withColumn("q",
        graft.ops.TextAnalysis.qualityScoreX1e4(col("text")))
      val old = d.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      val neu = d.filter(pmod(col("doc_id"), lit(7)) =!= 0)
      graft.ops.Checks.psiDrift(old, neu, expr("q div 1000"))
        .orderBy("bin")
    }),

    // Independence: chi-square contributions of each source against
    // the language distribution.
    "q224_chi_square" -> ((s, dir) => {
      graft.ops.Checks.chiSquareContrib(t(s, dir, "documents"),
          col("source"), col("lang"))
        .orderBy("group")
    }),

    // Balance: Gini concentration of character volume across sources.
    "q225_gini" -> ((s, dir) => {
      graft.ops.Checks.giniConcentration(t(s, dir, "documents"),
          col("source"), length(col("text")).cast("long"))
    }),

    // Star-schema flatten: fact → customer → nation → region, every
    // dim broadcast (PlanSpec pins it), revenue per region/nation.
    "q220_star_flatten" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
        .agg(count(lit(1)).as("n_orders"),
             sum(floor(col("o_totalprice") * 100 + lit(0.5))
               .cast("long")).as("cents"))
        .orderBy("region", "nation")
    }),

    // Engagement health: bounce rate (single-event sessions) per user
    // cohort of total sessions — composed from the session frame.
    "q221_bounce_rate" -> ((s, dir) => {
      val sess = graft.ops.Events.sessionPaths(t(s, dir, "events"),
        col("user_id"), col("ts"), col("event_type"), col("event_id"),
        gapSeconds = 1800L)
      sess.agg(count(lit(1)).as("n_sessions"),
          sum(when(col("n_events") === 1L, 1L).otherwise(0L))
            .as("n_bounces"))
        .withColumn("bounce_permille",
          expr("(1000 * n_bounces) div n_sessions"))
    }),

    // Ratio-to-parent: each nation's share of its region's revenue —
    // window-free (child agg joined to parent agg), integer permille.
    "q222_ratio_to_parent" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      val flat = o
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .select(col("r_name").as("region"), col("n_name").as("nation"),
          floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")
            .as("cents"))
      val byNation = flat.groupBy("region", "nation")
        .agg(sum("cents").as("cents"))
      val byRegion = byNation.groupBy("region")
        .agg(sum("cents").as("region_cents"))
      byNation.join(byRegion, "region")
        .withColumn("share_permille",
          expr("(1000 * cents) div region_cents"))
        .orderBy("region", "nation")
    }),

    // Multi-objective curation: the quality x novelty Pareto frontier
    // — docs no other doc beats on both axes.
    "q219_skyline" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val scored = graft.ops.TextAnalysis.coverageNovelty(d,
          col("doc_id"), col("text"), n = 3)
        .select(col("doc_id"), col("novel"))
        .join(d.select(col("doc_id"),
          graft.ops.TextAnalysis.qualityScoreX1e4(col("text"))
            .as("q")), "doc_id")
      graft.ops.Relational.skyline2d(scored, col("doc_id"),
          col("q"), col("novel"))
        .select(col("id").as("doc_id"), col("x").as("quality_x1e4"),
                col("y").as("novel"))
        .orderBy("doc_id")
    }),

    // Triage: ABC/Pareto classes over part revenue (A = first 80% of
    // value, B to 95%, C the tail) — exact integer cut comparisons.
    "q208_pareto" -> ((s, dir) => {
      graft.ops.Relational.paretoClasses(t(s, dir, "lineitem"),
          col("l_partkey"),
          floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long"))
        .orderBy("cls")
    }),

    // Profiling: per-column null + exact distinct census in one scan.
    "q209_column_profile" -> ((s, dir) => {
      graft.ops.Checks.columnProfile(t(s, dir, "events")
          .withColumn("ts_s",
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")),
          Seq("event_id", "user_id", "event_type", "ts_s"))
        .orderBy("column")
    }),

    // Distribution shape: equal-width histogram over order cents with
    // EXPLICIT empty bins (width 50k cents).
    "q210_histogram" -> ((s, dir) => {
      graft.ops.Checks.histogram(t(s, dir, "orders"),
          floor(col("o_totalprice") * 100 + lit(0.5)).cast("long"),
          binWidth = 5000000L)
        .orderBy("bin")
    }),

    // Fabrication screen: Benford first-digit audit over exact cents.
    "q206_benford" -> ((s, dir) => {
      graft.ops.Checks.benfordAudit(t(s, dir, "orders"),
          floor(col("o_totalprice") * 100 + lit(0.5)).cast("long"))
        .orderBy("digit")
    }),

    // Entity triage: 3x3x3 RFM segment census over customers,
    // rank-exact tiers via the prefix sum.
    "q207_rfm_segments" -> ((s, dir) => {
      graft.ops.Relational.rfmSegments(t(s, dir, "orders"),
          col("o_custkey"),
          datediff(col("o_orderdate"), to_date(lit("1970-01-01"))),
          floor(col("o_totalprice") * 100 + lit(0.5)).cast("long"),
          buckets = 3)
        .orderBy("r_bucket", "f_bucket", "m_bucket")
    }),

    // Threshold tuning: jaccard-decile pair histogram + cumulative
    // survivors per candidate tau — exact integer buckets.
    "q204_dedup_curve" -> ((s, dir) => {
      graft.ops.Dedup.dedupThresholdCurve(t(s, dir, "documents"),
          col("doc_id"), col("text"), minBucket = 0)
        .orderBy(desc("tau_bucket"))
    }),

    // Shard diversity: per-shard source-mixture entropy over the q90
    // round-robin deal (micro-nat fixed point).
    "q205_shard_entropy" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val sh = graft.ops.Packing.shuffleShards(d, col("doc_id"),
          numShards = 8)
        .join(d.select(col("doc_id"), col("source")), "doc_id")
      graft.ops.Checks.mixtureEntropy(sh, col("shard"), col("source"))
        .select(col("group").as("shard"), col("n_rows"),
                col("n_cats").as("n_sources"), col("entropy_fp"))
        .orderBy("shard")
    }),

    // Model eval in-engine: 5-fold cross-validated NB source
    // classifier — per fold, train on the complement (q97's exact
    // model), score the fold, sign-vs-label accuracy.
    "q203_nb_crossval" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val folds = 5
      // fold key (doc_id div 20) % folds: doc_id % 20 IS the source in
      // this corpus, so a bare doc_id % folds fold would put all of
      // src0 in one fold and empty its training class
      val fk = expr(s"(doc_id div 20) % $folds")
      val scored = (0 until folds).map { f =>
        val train = d.filter(fk =!= f)
        val test = d.filter(fk === f)
        graft.ops.TextAnalysis.nbQualityScore(test, col("doc_id"),
            col("text"),
            train.filter(col("source") === "src0"), col("text"),
            train.filter(col("source") =!= "src0"), col("text"))
          .select(col("doc_id"), col("lo_micro_sum"))
          .withColumn("fold", lit(f))
      }.reduce(_ unionByName _)
      val lab = d.select(col("doc_id"),
        (col("source") === "src0").as("pos"))
      scored.join(lab, "doc_id")
        .groupBy("fold")
        .agg(count(lit(1)).as("n_docs"),
             sum(when((col("lo_micro_sum") > 0L) === col("pos"), 1L)
               .otherwise(0L)).as("n_correct"))
        .withColumn("acc_permille", expr("(1000 * n_correct) div n_docs"))
        .orderBy("fold")
    }),

    // Path mining II: the 20 most frequent session paths.
    "q200_frequent_paths" -> ((s, dir) => {
      graft.ops.Events.sessionPaths(t(s, dir, "events"),
          col("user_id"), col("ts"), col("event_type"), col("event_id"),
          gapSeconds = 1800L)
        .groupBy("path").agg(count(lit(1)).as("n_sessions"))
        .orderBy(desc("n_sessions"), col("path")).limit(20)
    }),

    // Sequence-model baseline: order-1 Markov argmax accuracy per
    // source state (ties to the smallest type).
    "q201_markov_accuracy" -> ((s, dir) => {
      graft.ops.Events.markovAccuracy(t(s, dir, "events"),
          col("user_id"), col("ts"), col("event_type"), col("event_id"))
        .orderBy("from_type")
    }),

    // Time-to-convert histogram: whole-day delay buckets from first
    // signup to first subsequent purchase.
    "q202_conversion_delay" -> ((s, dir) => {
      graft.ops.Events.funnel(t(s, dir, "events"), col("user_id"),
          col("ts"), col("event_type"), Seq("signup", "purchase"))
        .filter(col("t2").isNotNull)
        .select(expr("(unix_timestamp(t2) - unix_timestamp(t1)) div 86400")
          .as("delay_days"))
        .groupBy("delay_days").agg(count(lit(1)).as("n_users"))
        .orderBy("delay_days")
    }),

    // Policy funnel v6 (Pipeline API): blocklist gate → quality gate →
    // corpus-relative novelty gate, one composed exact oracle.
    "q199_pipeline_policy" -> ((s, dir) => {
      graft.ops.Pipeline(t(s, dir, "documents"), "doc_id", "text")
        .filterBlocklist(Seq(
          "latency" -> Seq("slow query", "merge batch")))
        .filterQuality(4000L)
        .filterNovelty(400L)
        .result.select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    }),

    // Coverage curation: first-contribution shingle novelty per doc
    // (greedy max-coverage signal; ~0 = nothing new here).
    "q196_coverage_novelty" -> ((s, dir) => {
      graft.ops.TextAnalysis.coverageNovelty(t(s, dir, "documents"),
          col("doc_id"), col("text"), n = 3)
        .orderBy("doc_id")
    }),

    // Path mining: sessions serialized to ordered event-type strings,
    // (ts, event_id) total order.
    "q197_session_paths" -> ((s, dir) => {
      def fmt(c: String) =
        date_format(col(c), "yyyy-MM-dd HH:mm:ss.SSSSSS").as(c)
      graft.ops.Events.sessionPaths(t(s, dir, "events"),
          col("user_id"), col("ts"), col("event_type"), col("event_id"),
          gapSeconds = 1800L)
        .select(col("user").as("user_id"), col("session_id"),
                fmt("t0"), col("n_events"), col("path"))
        .orderBy("user_id", "session_id")
    }),

    // Privacy: k-anonymity risk of (priority, status, order day)
    // quasi-identifiers at k=5.
    "q198_k_anonymity" -> ((s, dir) => {
      graft.ops.Checks.kAnonymityAudit(t(s, dir, "orders"),
          Seq(col("o_orderpriority"), col("o_orderstatus"),
              date_format(col("o_orderdate"), "yyyy-MM-dd")), k = 5L)
    }),

    // Corpus provenance: exact shingle-set Jaccard between every
    // source pair — inverted self-join, pair fan bounded by strata².
    "q194_source_overlap" -> ((s, dir) => {
      graft.ops.Dedup.strataOverlap(t(s, dir, "documents"),
          col("source"), col("text"), n = 3)
        .orderBy("src_a", "src_b")
    }),

    // Policy filter: categorized phrase-blocklist screen, one
    // word-boundary alternation regex per category.
    "q195_blocklist" -> ((s, dir) => {
      graft.ops.TextAnalysis.blocklistScreen(t(s, dir, "documents"),
          col("doc_id"), col("text"), Seq(
            "latency" -> Seq("slow query", "merge batch"),
            "layout" -> Seq("table window", "a row")))
        .orderBy("doc_id")
    }),

    // Trend: per-priority revenue drift over the order date — the
    // exact-OLS core consuming a time axis (cents/day slope).
    "q191_revenue_trend" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_orderpriority").as("pr"),
          datediff(col("o_orderdate"), to_date(lit("1970-01-01")))
            .cast("long").as("x"),
          floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")
            .as("y"))
      graft.ops.Checks.olsFitFp(o, col("pr"), col("x"), col("y"))
        .select(col("group").as("o_orderpriority"), col("n_points"),
                col("slope"), col("intercept"))
        .orderBy("o_orderpriority")
    }),

    // Join health: events whose user never signed up, per event type —
    // one anti-style left join against the distinct parent keys.
    "q192_orphan_audit" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      graft.ops.Checks.orphanAudit(
          ev.filter(col("event_type") =!= "signup"), col("user_id"),
          col("event_type"),
          ev.filter(col("event_type") === "signup"), col("user_id"))
        .select(col("group").as("event_type"), col("n_rows"),
                col("n_orphans"), col("orphan_permille"))
        .orderBy("event_type")
    }),

    // WITH TIES: the 3 highest order-cent values per priority, every
    // tied row kept (rank <= k, no arbitrary tiebreak).
    "q193_topk_ties" -> ((s, dir) => {
      graft.ops.Relational.topKPerGroupWithTies(
          t(s, dir, "orders")
            .select(col("o_orderkey"), col("o_orderpriority"),
              floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")
                .as("cents")),
          Seq(col("o_orderpriority")), Seq(col("cents").desc), k = 3)
        .select(col("o_orderkey"), col("o_orderpriority"),
                col("cents"), col("rnk"))
        .orderBy("o_orderpriority", "rnk", "o_orderkey")
    }),

    // Burstiness: Church-Gale variance-to-mean per term — bursty
    // content terms vs Poisson background, integer sufficient stats.
    "q190_burstiness" -> ((s, dir) => {
      graft.ops.TextAnalysis.burstiness(t(s, dir, "documents"),
          col("doc_id"), col("text"), minCount = 20L, k = 40)
        .orderBy(desc("vmr_x1e4"), col("term"))
    }),

    // OLAP cube: all 2^2 grouping sets over (status, priority) in one
    // pass — the CUBE sibling of q33's ROLLUP, exact cents.
    "q188_cube" -> ((s, dir) => {
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
             sum(floor(col("o_totalprice") * 100 + lit(0.5))
               .cast("long")).as("cents"))
        .select(coalesce(col("o_orderstatus"), lit("(all)")).as("st"),
                coalesce(col("o_orderpriority"), lit("(all)")).as("pr"),
                col("n"), col("cents"))
        .orderBy("st", "pr")
    }),

    // Ops-monitoring composition: robust MAD outlier screen over the
    // zero-filled hourly series — gapFillHourly feeding
    // robustWinsorize, anomalous hours only.
    "q189_hourly_anomaly" -> ((s, dir) => {
      val series = graft.ops.Events.gapFillHourly(t(s, dir, "events"),
          col("event_type"), col("ts"))
        .withColumn("hid", expr("unix_timestamp(h) div 3600"))
      graft.ops.Checks.robustWinsorize(series, col("key"), col("hid"),
          col("n"))
        .filter(col("is_outlier"))
        .select(col("group").as("event_type"), col("id").as("hour_id"),
                col("v").as("n"), col("v_wins"))
        .orderBy("event_type", "hour_id")
    }),

    // Churn signal: halving-per-day decayed activity, exact integer
    // weights from a literal 2^k table (no pow()).
    "q187_decayed_activity" -> ((s, dir) => {
      graft.ops.Events.decayedActivity(t(s, dir, "events"),
          col("user_id"), col("ts"), horizonDays = 10)
        .select(col("user").as("user_id"), col("score"),
                col("n_recent"), col("n_total"))
        .orderBy("user_id")
    }),

    // Score calibration: per-source quality quantile-normalized onto
    // the pooled distribution — rank-exact, two prefix-sum passes.
    "q186_quantile_norm" -> ((s, dir) => {
      graft.ops.Checks.quantileNormalize(t(s, dir, "documents"),
          col("doc_id"), col("source"),
          graft.ops.TextAnalysis.qualityScoreX1e4(col("text")))
        .select(col("id").as("doc_id"), col("group").as("source"),
                col("v"), col("v_norm"))
        .orderBy("doc_id")
    }),

    // Keyness: Dunning G² of src0 vocabulary vs the rest of the
    // corpus — one token pass, vocab-row scoring, exact-integer
    // direction test.
    "q185_keyness_g2" -> ((s, dir) => {
      graft.ops.TextAnalysis.keynessG2(t(s, dir, "documents"),
          col("text"), col("source") === "src0", minCount = 5L, k = 40)
        .orderBy(desc("g2_fp"), col("term"))
    }),

    // Streaks: per-user maximal consecutive-active-day islands via the
    // distributed day-minus-row_number grouping.
    "q184_islands" -> ((s, dir) => {
      graft.ops.Events.activityIslands(t(s, dir, "events"),
          col("user_id"), col("ts"))
        .select(col("user").as("user_id"),
                date_format(col("island_start"), "yyyy-MM-dd")
                  .as("island_start"),
                date_format(col("island_end"), "yyyy-MM-dd")
                  .as("island_end"),
                col("n_days"))
        .orderBy("user_id", "island_start")
    }),

    // Embedding-free synonym mining: PPMI context vectors (±2 window),
    // cosine over the context inverted index — hub contexts self-prune
    // via the positivity cut.
    "q175_ppmi_similarity" -> ((s, dir) => {
      graft.ops.TextAnalysis.ppmiTermSimilarity(t(s, dir, "documents"),
          col("doc_id"), col("text"), window = 2, minCount = 10L, k = 30)
        .orderBy(desc("sim"), col("t1"), col("t2"))
    }),

    // Calibration: quality-score deciles vs exact-duplicate rate —
    // rank-exact global cut via the distributed prefix sum, integer
    // permille per bin.
    "q174_lift_table" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val dup = d.groupBy(md5(col("text")).as("__dg"))
        .agg(count(lit(1)).as("__dn"))
      val flagged = d.withColumn("__dg", md5(col("text")))
        .join(dup, "__dg")
        .withColumn("is_dup", col("__dn") > 1)
      graft.ops.Checks.liftTable(flagged, col("doc_id"),
          graft.ops.TextAnalysis.qualityScoreX1e4(col("text")),
          col("is_dup"), buckets = 10)
        .orderBy("bucket")
    }),

    // Sparse-to-dense hourly series: per-event-type counts over the
    // global hour spine, missing cells explicit zeros.
    "q173_gap_fill" -> ((s, dir) => {
      graft.ops.Events.gapFillHourly(t(s, dir, "events"),
          col("event_type"), col("ts"))
        .select(col("key").as("event_type"),
                date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("h"),
                col("n"))
        .orderBy("event_type", "h")
    }),

    // Last-touch attribution: every purchase credits the latest
    // view/click at-or-before it within 48h — as-of join shape, no
    // range explosion; stale touches attribute null.
    "q172_attribution" -> ((s, dir) => {
      def fmt(c: String) =
        date_format(col(c), "yyyy-MM-dd HH:mm:ss.SSSSSS").as(c)
      graft.ops.Events.lastTouchAttribution(t(s, dir, "events"),
          col("user_id"), col("ts"), col("event_type"), col("event_id"),
          touchTypes = Seq("view", "click"), convType = "purchase",
          withinSeconds = 48L * 3600)
        .select(col("conv_id"), col("user_id"), fmt("conv_ts"),
                col("touch_id"), col("touch_type"), fmt("touch_ts"))
        .orderBy("conv_id")
    }),

    // Per-source Count-Min point-frequency probes: O(depth*width)
    // mergeable grid per stratum instead of a vocab-sized count table;
    // estimates carry the one-sided guarantee (est >= exact, both
    // emitted — width 32 forces real collisions at this sf).
    "q171_count_min" -> ((s, dir) => {
      import s.implicits._
      import graft.functions.TextFunctions.tokens
      val d = t(s, dir, "documents")
      val occ = d.select(col("source"),
          explode(tokens(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
      val grid = graft.ops.Sketches.countMin(occ, col("source"),
        col("tok"), depth = 3, width = 32)
      val probes = occ.select("source").distinct()
        .crossJoin(Seq("table", "row", "spark", "hash", "merge",
                       "quantum").toDF("tok"))
      val exact = occ.groupBy(col("source").as("grp"), col("tok"))
        .agg(count(lit(1)).as("exact_cnt"))
      graft.ops.Sketches.countMinEstimate(grid, probes, col("source"),
          col("tok"), depth = 3, width = 32)
        .join(exact, col("group") === col("grp") &&
                     col("item") === col("tok"), "left")
        .select(col("group").as("source"), col("item").as("token"),
                col("cm_est"), coalesce(col("exact_cnt"), lit(0L))
                  .as("exact_cnt"))
        .orderBy("source", "token")
    }),

    // Corpus-health diagnostic: per-language Zipf's-law fit — OLS of
    // ln(freq) on ln(rank) over the vocab table, exact decimal(38,0)
    // sufficient statistics, floats only in the final closed form.
    "q170_zipf_fit" -> ((s, dir) => {
      graft.ops.TextAnalysis.zipfFit(t(s, dir, "documents"),
          col("lang"), col("text"), minFreq = 2L)
        .orderBy("stratum")
    }),

    // Round-4 funnel v3 through the PUBLIC Pipeline API: DSIR
    // importance gate (keep docs pricing above -0.14 mean log ratio vs
    // the src0 target) then MinHash-LSH near-dup removal (tau 0.6, the
    // pair universe q22 proves equal to exact jaccard). Composition of
    // q108's weights and q21/q22's pairs against one exact oracle.
    "q110_funnel_dsir" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.ops.Pipeline(d, "doc_id", "text")
        .filterDsir(d.filter(col("source") === "src0"), col("text"),
          minMeanMicro = -140000L)
        .removeNearDupsLsh(0.6)
        .result.select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    }),

    // ANN in the projected space: 64 -> 16 JL cut, then exact
    // brute-force top-5 over the 4x-smaller vectors — the composed
    // "shrink before ANN" pipeline, replayed end to end by the oracle.
    // Time-bounded funnel: each stage must complete within 24h of the
    // previous one (per-step conversion window).
    "q160_funnel_windowed" -> ((s, dir) => {
      def fmt(c: String) =
        date_format(col(c), "yyyy-MM-dd HH:mm:ss.SSSSSS").as(c)
      graft.ops.Events.funnel(t(s, dir, "events"), col("user_id"),
          col("ts"), col("event_type"),
          Seq("signup", "view", "click", "purchase"),
          withinSeconds = Some(86400L))
        .select(col("user_id"), fmt("t1"), fmt("t2"), fmt("t3"),
                fmt("t4"))
        .orderBy("user_id")
    }),

    // Link analysis: fixed-point weighted PageRank over the part
    // co-purchase graph (items linked when ordered together) — the
    // crawl-graph ranking step of a curation pipeline at corpus scale,
    // integer-exact so the oracle replays the identical loop.
    "q161_pagerank" -> ((s, dir) => {
      val e = graft.ops.Graph.coOccurrenceEdges(
        t(s, dir, "lineitem"), col("l_orderkey"), col("l_partkey"))
      graft.ops.Graph.pageRank(e, iters = 3)
        .select(col("id").as("part_id"), col("r").as("rank_fp"))
        .orderBy(desc("rank_fp"), col("part_id")).limit(20)
    }),

    // SCD2 dimension build: each user's event_type treated as a
    // changing attribute — collapse repeats, close versions with the
    // next version's start, flag the open interval.
    "q162_scd2" -> ((s, dir) => {
      def fmt(c: String) =
        date_format(col(c), "yyyy-MM-dd HH:mm:ss.SSSSSS").as(c)
      graft.ops.Events.scd2Intervals(t(s, dir, "events"),
          col("user_id"), col("ts"), col("event_type"), col("event_id"))
        .select(col("key").as("user_id"), col("attr"),
                fmt("eff_from"), fmt("eff_to"), col("is_current"))
        .orderBy("user_id", "eff_from")
    }),

    // Trailing-7-day revenue per customer: a time-RANGE window frame
    // (gaps shrink it, same-day peers share it) over exact cents.
    "q163_rolling_window" -> ((s, dir) => {
      graft.ops.Relational.rollingTimeAgg(t(s, dir, "orders"),
          col("o_custkey"), col("o_orderdate"),
          floor(col("o_totalprice") * 100 + lit(0.5)).cast("long"),
          windowSeconds = 7L * 86400)
        .select(col("o_orderkey"), col("o_custkey"),
                date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"),
                col("roll_sum"), col("roll_n"))
        .orderBy("o_orderkey")
    }),

    // Source-reputation curation: per-source dup load + mean quality
    // decide the keep set; verdicts broadcast back, corpus unshuffled.
    "q164_source_reputation" -> ((s, dir) => {
      graft.ops.TextAnalysis.filterBySourceReputation(
          t(s, dir, "documents"), col("source"), col("doc_id"),
          col("text"), maxDupPermille = 50, minMeanQualityX1e4 = 4250L)
        .select(col("doc_id"), col("source"), col("src_docs"),
                col("src_dup_permille"))
        .orderBy("doc_id")
    }),

    // Best-first token budget: the highest-quality 600 tokens per
    // source (quality-ordered head, exact running-total boundary).
    "q165_token_budget_best" -> ((s, dir) => {
      import graft.functions.TextFunctions.tokens
      val d = t(s, dir, "documents")
        .withColumn("n_tok", size(tokens(col("text"))).cast("long"))
        .withColumn("q",
          graft.ops.TextAnalysis.qualityScoreX1e4(col("text")))
      val budgets = (0 until 20).map(i => s"src$i" -> 600L).toMap
      graft.ops.Sampling.tokenBudgetBestFirst(d, col("doc_id"),
          col("source"), col("n_tok"), col("q"), budgets)
        .select(col("doc_id"), col("source"), col("n_tok"), col("q"))
        .orderBy("doc_id")
    }),

    // Quality-weighted sample: 5 docs per source, selection mass
    // proportional to the quality score (Efraimidis–Spirakis keys).
    "q166_weighted_sample" -> ((s, dir) => {
      val d = t(s, dir, "documents").withColumn("q",
        graft.ops.TextAnalysis.qualityScoreX1e4(col("text")))
      graft.ops.Sampling.weightedSample(d, col("doc_id"), col("source"),
          col("q"), k = 5)
        .select(col("doc_id"), col("source"), col("key_fp"))
        .orderBy("doc_id")
    }),

    // Robust outlier screen: per-priority median/MAD over exact
    // cents, 3.5-MAD flags, rank-based [p05,p95] winsorization.
    "q167_winsorize" -> ((s, dir) => {
      graft.ops.Checks.robustWinsorize(t(s, dir, "orders"),
          col("o_orderpriority"), col("o_orderkey"),
          floor(col("o_totalprice") * 100 + lit(0.5)).cast("long"))
        .select(col("id"), col("group").as("o_orderpriority"),
                col("v"), col("v_wins"), col("is_outlier"))
        .orderBy("id")
    }),

    // One-pass data-quality audit: every rule a conditional sum in a
    // single scan; null predicate = violation.
    "q158_data_quality" -> ((s, dir) => {
      graft.ops.Checks.ruleViolations(t(s, dir, "documents"), Seq(
          "text_null" -> col("text").isNull,
          "chars_mismatch" -> (col("n_chars") =!= length(col("text"))),
          "lang_unknown" ->
            !col("lang").isin("en", "de", "fr", "es", "zh"),
          "id_negative" -> (col("doc_id") < 0)))
        .orderBy("rule")
    }),

    // Keyed snapshot diff: added/removed/changed/unchanged between
    // two deterministic views of the corpus.
    "q159_keyed_diff" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val old = d.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      val neu = d.filter(pmod(col("doc_id"), lit(7)) =!= 0)
        .select(col("doc_id"), when(pmod(col("doc_id"), lit(5)) === 0,
          upper(col("text"))).otherwise(col("text")).as("text"))
      graft.ops.Checks.keyedDiff(old, neu, col("doc_id"), col("doc_id"),
          col("text"), col("text"))
        .orderBy("key")
    }),

    // ANN over the de-noised space: q127's trained direction removed
    // from every embedding (SIF/all-but-the-top), then exact cosine
    // top-k — the trainer feeding a checked consumer.
    "q157_ann_denoised" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val pc = graft.ops.Similarity.topPrincipalComponent(
        e, col("vec_id"), col("embedding"), iters = 2)
      val r = graft.ops.Similarity.removeTopComponent(
        e, col("vec_id"), col("embedding"), pc)
      graft.ops.Similarity.bruteForceTopK(
          r, r.filter(col("id") < 10),
          col("id"), col("v"), col("id"), col("v"), k = 5)
        .orderBy("qid", "rank")
    }),

    // Deterministic mode per group (ties -> smallest value).
    "q148_mode" -> ((s, dir) => {
      graft.ops.Relational.modePerGroup(t(s, dir, "lineitem"),
          col("l_returnflag"), col("l_quantity").cast("long"))
        .select(col("g").as("l_returnflag"), col("n"), col("mode"))
        .orderBy("l_returnflag")
    }),

    // Correlation from exact integer moment sums (decimal38 = DuckDB
    // HUGEINT): the portable form of corr() — float only in the final
    // identically-structured expression.
    "q146_exact_corr" -> ((s, dir) => {
      graft.ops.Relational.exactCorr(t(s, dir, "lineitem"),
          col("l_returnflag"), col("l_quantity").cast("long"),
          floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long"))
        .select(col("g").as("l_returnflag"), col("n"), col("corr"))
        .orderBy("l_returnflag")
    }),

    // Unpivot (melt): wide per-source metrics back to long form.
    "q147_unpivot" -> ((s, dir) => {
      t(s, dir, "documents").groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_chars")).as("sum_chars"))
        .select(col("source"), expr(
          "stack(2, 'n_docs', n_docs, 'sum_chars', sum_chars) " +
          "AS (metric, value)"))
        .orderBy("source", "metric")
    }),

    // Fuzzy name matching: distinct values, lossless length-window
    // blocking, levenshtein verified inside the equi-join.
    "q145_fuzzy_names" -> ((s, dir) => {
      graft.ops.Relational.fuzzyMatchPairs(t(s, dir, "part"),
          col("p_name"), maxDist = 2)
        .orderBy("name1", "name2")
    }),

    // Bucketed interval join: price bands meet orders through a
    // bucket equi-join (never Spark's default nested-loop BETWEEN
    // plan), exact BETWEEN verified inside the join.
    "q143_range_join" -> ((s, dir) => {
      import s.implicits._
      val bands = Seq(("low", 0.0, 50000.0),
                      ("mid", 50000.0, 150000.0),
                      ("high", 150000.0, 600000.0))
        .toDF("band", "lo", "hi")
      graft.ops.Relational.rangeJoin(
          t(s, dir, "orders").select("o_orderkey", "o_totalprice"),
          bands, col("o_totalprice"), col("lo"), col("hi"),
          bucketWidth = 50000L)
        .groupBy("band")
        .agg(count(lit(1)).as("n"),
             round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy("band")
    }),

    // Pivot (wide aggregation): per-source language counts as columns;
    // absent combinations are explicit zeros on both engines.
    "q144_pivot" -> ((s, dir) => {
      val langs = Seq("en", "de", "fr", "es", "zh")
      val p = t(s, dir, "documents").groupBy("source")
        .pivot("lang", langs).agg(count(lit(1)))
      p.select(col("source") +:
          langs.map(l => coalesce(col(l), lit(0L)).as(l)): _*)
        .orderBy("source")
    }),

    // Reciprocal-rank fusion of two BM25 parameterizations — the
    // rank-only retrieval ensemble (raw scores never compared).
    "q134_rrf_fusion" -> ((s, dir) => {
      import s.implicits._
      val qs = Seq((1L, "spark hash join"), (2L, "window sort table"),
                   (3L, "fast merge batch")).toDF("qid", "qtext")
      val d = t(s, dir, "documents")
      def run(k1: Double) = graft.ops.Retrieval.bm25(d, col("doc_id"),
        col("text"), qs, col("qid"), col("qtext"), k = 10, k1 = k1)
      graft.ops.Retrieval.rrfFuse(Seq(run(1.2), run(2.0)), k = 10)
        .orderBy("qid", "rank")
    }),

    // Hashing-trick features: vocab-side char-fold bucket + sign,
    // integer-exact sparse (doc, j, v) vectors — featurization with
    // no trained model.
    "q133_hash_features" -> ((s, dir) => {
      graft.ops.TextAnalysis.hashFeatures(t(s, dir, "documents"),
          col("doc_id"), col("text"), dim = 64)
        .orderBy("doc_id", "j")
    }),

    // Incremental dedup at LSH cost: batch and corpus each build a
    // reusable (id, shingles, signature) index; candidates come from
    // the banded signature join, exact-verified — same results as
    // q43's full inverted-index join (shared oracle).
    "q132_incremental_lsh" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val batch = graft.ops.Dedup.minhashIndex(
        d.filter(pmod(col("doc_id"), lit(2)) === 1),
        col("doc_id"), col("text"))
      val corpus = graft.ops.Dedup.minhashIndex(
        d.filter(pmod(col("doc_id"), lit(2)) === 0),
        col("doc_id"), col("text"))
      graft.ops.Dedup.minhashLshPairsBetween(batch, corpus, tau = 0.6)
        .orderBy("id1", "id2")
    }),

    // Funnel v4 through the PUBLIC Pipeline API: quality gate ->
    // containment removal (winnowed fingerprints) -> leakage-safe
    // split — the round's ops composed end to end, one exact oracle.
    "q131_funnel_guarded" -> ((s, dir) => {
      graft.ops.Pipeline(t(s, dir, "documents"), "doc_id", "text")
        .filterQuality(4500)
        .removeContained(minShared = 3, maxDocFreq = 20)
        .splitLeakageSafe(
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .result
        .select("doc_id", "split")
        .orderBy("doc_id")
    }),

    // Event-type transition matrix (path analysis), lag window per
    // user with a deterministic event-id tiebreak.
    "q130_transitions" -> ((s, dir) => {
      graft.ops.Events.eventTransitions(t(s, dir, "events"),
          col("user_id"), col("ts"), col("event_type"),
          col("event_id"))
        .orderBy("from_type", "to_type")
    }),

    // Sequential conversion funnel: stage-i completion must be
    // STRICTLY AFTER stage i-1's earliest completion; nulls from the
    // first uncompleted stage propagate.
    "q128_funnel" -> ((s, dir) => {
      def fmt(c: String) =
        date_format(col(c), "yyyy-MM-dd HH:mm:ss.SSSSSS").as(c)
      graft.ops.Events.funnel(t(s, dir, "events"), col("user_id"),
          col("ts"), col("event_type"),
          Seq("signup", "view", "click", "purchase"))
        .select(col("user_id"), fmt("t1"), fmt("t2"), fmt("t3"),
                fmt("t4"))
        .orderBy("user_id")
    }),

    // Cohort retention matrix: users bucketed by first-event day,
    // counted once per active day offset.
    "q129_retention" -> ((s, dir) => {
      graft.ops.Events.retentionCohorts(t(s, dir, "events"),
          col("user_id"), col("ts"))
        .select(date_format(col("cohort_day"), "yyyy-MM-dd")
                  .as("cohort_day"),
                col("day_offset"), col("n_users"))
        .orderBy("cohort_day", "day_offset")
    }),

    // Top principal component by fixed-point power iteration: integer
    // micro-units end to end (decimal(38,0) sums = DuckDB's HUGEINT),
    // so the oracle replays the whole 2-iteration loop bit-for-bit.
    "q127_top_pc" -> ((s, dir) => {
      import s.implicits._
      graft.ops.Similarity.topPrincipalComponent(
          t(s, dir, "embeddings"), col("vec_id"), col("embedding"),
          iters = 2)
        .toDF("j", "v").orderBy("j")
    }),

    // Denoised ANN v2 — both trained directions removed sequentially
    // before exact cosine top-k; the oracle replays the q487 trainer
    // chain, both projections, and the rounded cosine ranking.
    "q489_ann_denoised2" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val comps = graft.ops.Similarity.topPrincipalComponents(
          e, col("vec_id"), col("embedding"), m = 2, iters = 2)
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
        .toSeq
      val r = graft.ops.Similarity.removeTopComponents(
        e, col("vec_id"), col("embedding"), comps)
      graft.ops.Similarity.bruteForceTopK(
          r, r.filter(col("id") < 10),
          col("id"), col("v"), col("id"), col("v"), k = 5)
        .orderBy("qid", "rank")
    }),

    // Top-2 principal components by deflated fixed-point power
    // iteration — the PCA head when one common direction isn't
    // enough; the oracle replays the full (2 comps × 2 iters) loop
    // plus the integer deflation bit-for-bit.
    "q487_top_pcs" -> ((s, dir) => {
      graft.ops.Similarity.topPrincipalComponents(
          t(s, dir, "embeddings"), col("vec_id"), col("embedding"),
          m = 2, iters = 2)
        .orderBy("comp", "j")
    }),

    // BM25 keyword retrieval: inverted tf index cut down by a
    // broadcast query-term join, partial-top-k ranking; float exprs
    // structured identically to the oracle, scores rounded at 1e-6
    // before ranking.
    "q126_bm25" -> ((s, dir) => {
      import s.implicits._
      val qs = Seq((1L, "spark hash join"), (2L, "window sort table"),
                   (3L, "fast merge batch")).toDF("qid", "qtext")
      graft.ops.Retrieval.bm25(t(s, dir, "documents"), col("doc_id"),
          col("text"), qs, col("qid"), col("qtext"), k = 10)
        .orderBy("qid", "rank")
    }),

    // Containment pairs over the winnowed fingerprints: shared-fp
    // count with a hot-fp cap — catches long shared passages that
    // whole-doc jaccard dilutes away; inverted-index join, never
    // all-pairs.
    "q125_containment_pairs" -> ((s, dir) => {
      graft.ops.Dedup.winnowContainmentPairs(t(s, dir, "documents"),
          col("doc_id"), col("text"), k = 3, w = 4,
          minShared = 3, maxDocFreq = 20)
        .orderBy("id1", "id2")
    }),

    // Winnowing (MOSS) fingerprint selection: k-gram hashes, w-window
    // minima, distinct per doc — the sublinear alignment-robust
    // fingerprint set; the oracle replays the identical pack/fold
    // hashes and takes the window min relationally.
    "q123_winnow_fingerprints" -> ((s, dir) => {
      graft.ops.TextAnalysis.winnowFingerprints(t(s, dir, "documents"),
          col("doc_id"), col("text"), k = 3, w = 4)
        .orderBy("doc_id", "fp")
    }),

    // Leakage-safe split: near-dup components (same exact-jaccard
    // oracle graph as q56) hash on their canonical representative, so
    // no near-dup pair can straddle train/test; singletons fall back
    // to the plain q73 assignment.
    "q124_split_leakage_safe" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val pairs = graft.ops.Dedup.minhashLshPairs(d, col("doc_id"),
          col("text"), tau = 0.6)
      graft.ops.Sampling.leakageSafeSplit(d.select("doc_id"),
          col("doc_id"), pairs, col("id1"), col("id2"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .orderBy("doc_id")
    }),

    // Leakage-safe 5-fold CV: near-dup components fold together on
    // their canonical representative; singletons fold as themselves.
    "q168_kfold_leakage_safe" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val pairs = graft.ops.Dedup.minhashLshPairs(d, col("doc_id"),
          col("text"), tau = 0.6)
      graft.ops.Sampling.kFoldLeakageSafe(d.select("doc_id"),
          col("doc_id"), pairs, col("id1"), col("id2"), k = 5)
        .orderBy("doc_id")
    }),

    "q114_ann_projected" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val p = graft.ops.Similarity.jlProjectVec(
        e, col("vec_id"), col("embedding"), dim = 64, k = 16)
      graft.ops.Similarity.bruteForceTopK(
          p, p.filter(col("vec_id") < 10),
          col("vec_id"), col("proj"), col("vec_id"), col("proj"), k = 5)
        .orderBy("qid", "rank")
    }),

    // JL sign projection 64 -> 16: seeded fmix32 ±1 matrix, one narrow
    // pass of codegen'd dots; the oracle replays the identical integer
    // sign derivation and multiply-by-reciprocal scaling.
    "q113_jl_project" -> ((s, dir) => {
      graft.ops.Similarity.jlProject(t(s, dir, "embeddings"),
          col("vec_id"), col("embedding"), dim = 64, k = 16)
        .orderBy("vec_id", "j")
    }),

    // SpaceSaving frequent items per source: capacity above the
    // per-source vocab puts the sketch in its exact regime (err 0,
    // deterministic top-5), which the oracle checks bit-for-bit; the
    // bounded approximate regime is spec-checked in OpsSpec.
    "q112_heavy_hitters" -> ((s, dir) => {
      val tok = t(s, dir, "documents").select(col("source"),
          explode(graft.functions.TextFunctions.tokens(col("text")))
            .as("tok"))
        .filter(col("tok") =!= "")
      graft.ops.Sketches.heavyHitters(tok, Seq(col("source")),
          col("tok"), k = 5, capacity = 1 << 17)
        .orderBy(col("source"), col("cnt_est").desc, col("item"))
    }),

    // Multi-suite decontamination matrix: one corpus gram pass audits
    // BOTH eval suites (src0 and src1 as stand-in benchmarks); output
    // is per-(doc, suite) distinct-overlap counts.
    "q111_contamination_matrix" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.ops.Dedup.contaminationMatrix(
          d.filter(!col("source").isin("src0", "src1")),
          d.filter(col("source").isin("src0", "src1")),
          col("doc_id"), col("text"), col("source"), col("text"), n = 4)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "suite")
    }),

    // Corpus health report: per-source volume / language spread /
    // exact-dup load / quality mass, all integer-exact sums.
    "q109_corpus_report" -> ((s, dir) => {
      graft.ops.TextAnalysis.corpusReport(t(s, dir, "documents"),
          col("source"), col("text"), col("lang"), col("n_chars"))
        .orderBy("source")
    }),

    // DSIR importance weights: hashed-bucket (B=256) add-one log
    // ratios of the src0 target distribution vs the full corpus,
    // micro-unit integer fixed point (exact integer outputs only, the
    // q97 discipline).
    "q108_dsir_weights" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.ops.TextAnalysis.dsirWeights(d, col("doc_id"), col("text"),
          d.filter(col("source") === "src0"), col("text"))
        .select("doc_id", "w_micro_sum", "n_tokens")
        .orderBy("doc_id")
    }),

    // SSL-prototypes diversity pruning: cosine-to-centroid score over
    // the TRAINED k-means clusters (q51's fixed-point Lloyd), top 20%
    // most prototypical of each cluster flagged for pruning. Rank runs
    // on the distributed prefix sum, never a per-cluster window.
    "q107_prototypes" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val trained = graft.ops.Similarity.kmeansCentroids(
        e, col("vec_id"), col("embedding"), k = 8, iters = 2)
      graft.ops.Similarity.prototypicality(
          e, col("vec_id"), col("embedding"), trained, pruneFrac = 0.2)
        .orderBy("vec_id")
    }),

    // Curriculum sharding: shards dealt round-robin over the QUALITY
    // order (easy-to-hard inside each shard via pos_in_shard, same
    // difficulty profile across shards).
    "q104_curriculum_shards" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.ops.Packing.orderedShards(d, col("doc_id"),
          graft.ops.TextAnalysis.qualityScoreX1e4(col("text")),
          numShards = 8)
        .orderBy("doc_id")
    }),

    // Per-source capping (the C4/RefinedWeb domain-cap policy): keep
    // only the top-5 quality docs per source, rank exposed.
    "q103_source_cap" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("quality_x1e4",
          graft.ops.TextAnalysis.qualityScoreX1e4(col("text")))
      graft.ops.Relational.topKPerGroup(d, Seq(col("source")),
          Seq(col("quality_x1e4").desc, col("doc_id").asc), 5,
          keepRankAs = Some("rnk"))
        .select("doc_id", "source", "quality_x1e4", "rnk")
        .orderBy("doc_id")
    }),

    // Round-4 funnel through the PUBLIC Pipeline API: NB seed-quality
    // gate (keep docs scoring >= 0 mean log-odds vs the src0 seed),
    // then near-dup cluster collapse keeping the LONGEST member.
    // Composition of q97's classifier and q95's keep-best policy,
    // end-to-end against one exact oracle.
    "q102_funnel_seeded" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.ops.Pipeline(d, "doc_id", "text")
        .filterSeedQuality(
          d.filter(col("source") === "src0"), col("text"),
          d.filter(col("source") =!= "src0"), col("text"),
          minMeanMicro = 0L)
        .removeNearDupClustersKeepBest(0.6, col("n_chars"))
        .result.select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    }),

    // Naive Bayes seed classifier: src0 as the curated positive set,
    // everything else as background; every document scored by mean
    // token log-odds (micro-unit fixed point, oracle-exact).
    "q97_nb_quality" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.ops.TextAnalysis.nbQualityScore(d, col("doc_id"), col("text"),
          d.filter(col("source") === "src0"), col("text"),
          d.filter(col("source") =!= "src0"), col("text"))
        .select("doc_id", "lo_micro_sum", "n_tokens") // exact integers
        .orderBy("doc_id")
    }),

    // Token-budget mixture head: per-source token budgets (even
    // sources 800, odd 1200), documents taken in deterministic idHash
    // order until each source's budget is exhausted.
    "q96_token_budget" -> ((s, dir) => {
      import graft.functions.TextFunctions.tokens
      val d = t(s, dir, "documents")
        .withColumn("n_tok", size(tokens(col("text"))).cast("long"))
      val budgets = (0 until 20).map(i =>
        s"src$i" -> (if (i % 2 == 0) 800L else 1200L)).toMap
      graft.ops.Sampling.tokenBudget(d, col("doc_id"), col("source"),
          col("n_tok"), budgets)
        .select(col("doc_id"), col("source"), col("n_tok"))
        .orderBy("doc_id")
    }),

    // Epoch upsampling at rate 2.5: two full copies + a hash-sampled
    // half copy, each tagged with its epoch.
    "q92_epoch_upsample" -> ((s, dir) => {
      graft.ops.Sampling.epochUpsample(
          t(s, dir, "documents").select("doc_id"), col("doc_id"),
          rate = 2.5)
        .orderBy("doc_id", "epoch")
    }),

    // MinHash+LSH near-dup: banded candidate generation + exact verify.
    // Same oracle as q21 — at the corpus's jaccard levels (>=0.9) the
    // 32x4 banding misses a true pair with probability < 1e-14.
    "q22_minhash_lsh" -> ((s, dir) => {
      graft.ops.Dedup.minhashLshPairs(t(s, dir, "documents"),
          col("doc_id"), col("text"), tau = 0.6)
        .orderBy("id1", "id2")
    }),

    // SimHash near-dup candidates (4x16-bit bands), exact-verified.
    // Portable polynomial char hashes → the DuckDB oracle reproduces
    // candidate generation AND verification bit-for-bit.
    "q23_simhash_dup" -> ((s, dir) => {
      graft.ops.Dedup.simhashPairs(t(s, dir, "documents"),
          col("doc_id"), col("text"), tau = 0.6)
        .orderBy("id1", "id2")
    }),

    // Brute-force exact ANN baseline: top-5 cosine neighbors for the
    // first 10 vectors (query side broadcast, corpus streamed).
    "q24_ann_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.ops.Similarity.bruteForceTopK(
          e, e.filter(col("vec_id") < 10),
          col("vec_id"), col("embedding"),
          col("vec_id"), col("embedding"), k = 5)
        .orderBy("qid", "rank")
    }),

    // Language ID: marker-word frequency argmax (formula mirrored in SQL).
    "q25_langid" -> ((s, dir) => {
      graft.ops.TextAnalysis.langIdOf(t(s, dir, "documents"),
          col("doc_id"), col("text"))
        .orderBy("doc_id")
    }),

    // Quality scoring: token stats + composite score.
    "q26_quality" -> ((s, dir) => {
      graft.ops.TextAnalysis.quality(t(s, dir, "documents"),
          col("doc_id"), col("text"))
        .orderBy("doc_id")
    }),

    // Rolling-hash document fingerprint (portable modular polynomial).
    "q27_fingerprint" -> ((s, dir) => {
      graft.ops.TextAnalysis.fingerprints(t(s, dir, "documents"),
          col("doc_id"), col("text"))
        .orderBy("doc_id")
    }),

    // Embedding near-dup pairs above cosine 0.4 (exact baseline; LSH
    // variant covered in the similarity spec against this same truth).
    "q28_embedding_pairs" -> ((s, dir) => {
      graft.ops.Dedup.embeddingPairs(t(s, dir, "embeddings"),
          col("vec_id"), col("embedding"), tau = 0.4)
        .orderBy("id1", "id2")
    }),

    // Embedding near-dup pairs via sign-pattern LSH — the non-cartesian
    // scale path for q28's semantics, against the SAME exact oracle
    // (same exact-oracle-for-approx-path pattern as q22 vs q21).
    // nPlanes=2/tables=24 reaches recall 1 at this corpus's cosine
    // levels (0.40-0.55; tuning math in Similarity.cosinePairsLsh).
    "q49_embedding_pairs_lsh" -> ((s, dir) => {
      graft.ops.Similarity.cosinePairsLsh(t(s, dir, "embeddings"),
          col("vec_id"), col("embedding"), tau = 0.4,
          nPlanes = 2, tables = 24)
        .orderBy("id1", "id2")
    }),

    // Corpus token frequency, top 50 (tie-broken).
    "q29_token_freq" -> ((s, dir) => {
      graft.ops.TextAnalysis.tokenFrequency(t(s, dir, "documents"),
          col("text"), topN = 50)
    }),

    // Token counting: whitespace + BPE-ish regex (same RE2-subset
    // pattern runs in the DuckDB oracle).
    "q34_token_count" -> ((s, dir) => {
      graft.ops.TextAnalysis.tokenCounts(t(s, dir, "documents"),
          col("doc_id"), col("text"))
        .orderBy("doc_id")
    }),

    // Gopher-style repetition quality filters: top/duplicate n-gram
    // character-mass fractions (n=2,3), pure narrow column expressions
    // (no explode/shuffle); the oracle recomputes them relationally
    // via unnest + GROUP BY.
    "q72_repetition" -> ((s, dir) => {
      graft.ops.TextAnalysis.repetitionSignals(t(s, dir, "documents"),
          col("doc_id"), col("text"))
        .orderBy("doc_id")
    }),

    // Deterministic reproducibility layer: hash-based train/val/test
    // assignment (q73) and weighted corpus mixture (q74). MINSTD id
    // hash with integer thresholds — the oracle replays the identical
    // formula, so the split is proven bit-reproducible cross-engine.
    "q73_hash_split" -> ((s, dir) => {
      graft.ops.Sampling.hashSplit(
          t(s, dir, "documents").select("doc_id"), col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .orderBy("doc_id")
    }),
    "q74_mix_corpora" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      def src(name: String) =
        d.filter(col("source") === name).select("doc_id")
      graft.ops.Sampling.mixCorpora(Seq(
          ("src0", src("src0"), 1.0),
          ("src1", src("src1"), 0.5),
          ("src2", src("src2"), 0.25)),
        col("doc_id"))
        .orderBy("doc_id")
    }),

    // Per-stratum rebalancing: downsample each language at its own
    // deterministic rate (the "rebalance the language mix" op). Same
    // MINSTD integer-threshold scheme as q73/q74 — bit-reproducible.
    "q75_stratified_sample" -> ((s, dir) => {
      graft.ops.Sampling.stratifiedSample(
          t(s, dir, "documents").select("doc_id", "lang"),
          col("doc_id"), col("lang"),
          Seq("en" -> 0.5, "de" -> 1.0, "fr" -> 0.25, "es" -> 0.1,
              "zh" -> 0.05))
        .orderBy("doc_id")
    }),

    // PII scrubbing over deterministically dirtied text (the synthetic
    // corpus carries no PII, so both engines inject the same emails /
    // IPs / account numbers keyed off doc_id, then redaction is
    // exercised on real matches — not a vacuous all-zero pass).
    "q76_pii_redact" -> ((s, dir) => {
      val ids = col("doc_id").cast("string")
      val dirty = concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact u"), ids, lit("@ex"),
                 (col("doc_id") % 7).cast("string"), lit(".org now")))
          .otherwise(lit("")),
        when(col("doc_id") % 3 === 1,
          concat(lit(" from 10."), (col("doc_id") % 200).cast("string"),
                 lit(".0.1 host"))).otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          concat(lit(" acct 90011223"), (col("doc_id") % 10).cast("string"),
                 lit("4"))).otherwise(lit("")))
      graft.ops.TextAnalysis.redactPii(
          t(s, dir, "documents").withColumn("dirty", dirty),
          col("doc_id"), col("dirty"))
        .orderBy("doc_id")
    }),

    // Corpus-unigram LM scoring: per-doc avg negative log-likelihood
    // under the corpus's own unigram distribution.
    "q77_unigram_nll" -> ((s, dir) => {
      graft.ops.TextAnalysis.unigramNll(
          t(s, dir, "documents"), col("doc_id"), col("text"))
        .orderBy("doc_id")
    }),

    // IVF approximate top-k ANN (scale path of q24). Deterministic
    // centroid bootstrap + round(6) ranking make the full
    // assignment/probe/score path SQL-expressible — exact oracle.
    "q35_ann_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.ops.Similarity.ivfTopK(
          e, e.filter(col("vec_id") < 10),
          col("vec_id"), col("embedding"),
          col("vec_id"), col("embedding"), k = 5)
        .orderBy("qid", "rank")
    }),

    // Packed IVF (the stream-static index shape): postings packed one
    // row per list at build time, probes ranked INSIDE the row — the
    // same stateless kernel the streaming ANN runs per micro-batch.
    // Bit-identical to ivfTopK at nProbe = 1, so the oracle is q35's
    // with a single-probe routing.
    "q264_ann_packed" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val (cents, packed) = graft.ops.Similarity.ivfPack(
        e, col("vec_id"), col("embedding"), nLists = 16)
      graft.ops.Similarity.ivfTopKPacked(
          e.filter(col("vec_id") < 10), cents, packed,
          col("vec_id"), col("embedding"), k = 5)
        .orderBy("qid", "rank")
    }),

    // Trained IVF: the kmeansCentroids -> ivfTopK production path, fully
    // oracle-checked. The trainer's fixed-point arithmetic (micro-unit
    // integer sums, floor-div means, round(6) assignment, first-k init)
    // makes both Lloyd iterations bit-reproducible in SQL.
    "q51_ann_ivf_trained" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val trained = graft.ops.Similarity.kmeansCentroids(
        e, col("vec_id"), col("embedding"), k = 8, iters = 2)
      graft.ops.Similarity.ivfTopK(
          e, e.filter(col("vec_id") < 10),
          col("vec_id"), col("embedding"),
          col("vec_id"), col("embedding"), k = 5,
          nLists = 8, nProbe = 2, trained = Some(trained))
        .orderBy("qid", "rank")
    }),

    // Int8-quantized shortlist + exact-rescore ANN (memory/IO scale
    // path of q24). The full quantize/shortlist/rescore pipeline is
    // deterministic, so the oracle replays it end-to-end.
    "q79_ann_quantized" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.ops.Similarity.quantizedTopK(
          e, e.filter(col("vec_id") < 10),
          col("vec_id"), col("embedding"),
          col("vec_id"), col("embedding"), k = 5)
        .orderBy("qid", "rank")
    }),

    // Sliding token-window chunking (context-window shaping): 40-token
    // chunks every 30 tokens, partial tails allowed.
    "q81_chunk_windows" -> ((s, dir) => {
      graft.ops.TextAnalysis.chunkTokens(
          t(s, dir, "documents"), col("doc_id"), col("text"),
          window = 40, stride = 30)
        .orderBy("doc_id", "chunk_id")
    }),

    // Sequence packing: corpus token stream in doc_id order cut into
    // 256-token sequences; output = (sequence, doc, token span)
    // manifest. Distributed prefix sum (range shuffle + O(partitions)
    // driver offsets), never a single-task global window.
    "q82_pack_sequences" -> ((s, dir) => {
      graft.ops.Packing.packSequences(
          t(s, dir, "documents"), col("doc_id"), col("text"),
          seqLen = 256)
        .orderBy("seq_id", "doc_id")
    }),

    // Sketch profiling. The oracle-checked row is the EXACT scalar twin
    // (exact distinct + interpolated percentile -> hash-matchable, no
    // array column to crash the driver compare); the approx HLL++/KLL
    // sketch path ([[graft.ops.Sketches.profile]]) stays the 100 TB
    // survey pass and is pinned by OpsSpec within its error bounds.
    "q80_sketch_profile" -> ((s, dir) => {
      graft.ops.Sketches.profileExact(
          t(s, dir, "lineitem"),
          Seq(col("l_returnflag")), col("l_extendedprice"))
        .orderBy("l_returnflag")
    }),

    // Tumbling 1-hour window aggregation over events (batch form of the
    // streaming query in graft.streaming).
    "q30_window_hourly" -> ((s, dir) => {
      graft.ops.Events.tumbling(t(s, dir, "events"), col("ts"), "1 hour")
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
                  .as("window_start"),
                col("event_type"), col("n"), col("sum_value"))
        .orderBy("window_start", "event_type")
    }),

    // Gap-based sessionization (30 min) → per-user session stats.
    "q31_sessions" -> ((s, dir) => {
      graft.ops.Events.sessionStats(t(s, dir, "events"),
          col("user_id"), col("ts"), gapSeconds = 1800)
        .orderBy("user_id")
    }),

    // q31's semantics on the skew-resistant path: the event-proportional
    // windows partition on (user, hour bucket) so one power-law user
    // spreads over its buckets; per-user-alone work runs over bucket
    // summaries only. Same oracle as q31.
    "q53_sessions_bucketed" -> ((s, dir) => {
      graft.ops.Events.sessionStatsBucketed(t(s, dir, "events"),
          col("user_id"), col("ts"), gapSeconds = 1800, bucketSeconds = 3600)
        .orderBy("user_id")
    }),

    // q37's semantics on the skew-resistant path: carry-forward windows
    // partition on (user, hour bucket), carry-in stitched via bucket
    // summaries. Same oracle as q37 (DuckDB native ASOF JOIN).
    "q54_asof_bucketed" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val joined = graft.ops.Relational.asofJoinBackwardBucketed(
        ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts")),
        ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts")),
        key = "user_id", leftTime = "ts", rightTime = "ts",
        payload = Map("ts" -> "click_ts"),
        bucketOf = tc => floor(unix_micros(tc) / (3600L * 1000000L)))
      joined.groupBy("user_id")
        .agg(count(lit(1)).as("n_purchases"),
             count(col("click_ts")).as("n_matched"),
             coalesce(sum(unix_micros(col("ts")) -
                          unix_micros(col("click_ts"))), lit(0L))
               .as("sum_gap_us"))
        .orderBy("user_id")
    }),

    // Top-k per group via ranking window (extension surface: window fns).
    "q32_topk_orders" -> ((s, dir) => {
      graft.ops.Relational.topKPerGroup(t(s, dir, "orders"),
          Seq(col("o_orderstatus")),
          Seq(col("o_totalprice").desc, col("o_orderkey").asc), k = 3)
        .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderstatus"), col("o_totalprice").desc,
                 col("o_orderkey"))
    }),

    // Rollup (multi-granularity grouping sets in ONE pass — the scalable
    // form of the reference's multi-level aggregation).
    "q33_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("qty"))
        .select(coalesce(col("l_returnflag"), lit("(all)")).as("rf"),
                coalesce(col("l_linestatus"), lit("(all)")).as("ls"),
                col("n"), col("qty"))
        .orderBy("rf", "ls")
    }),

    // O20-O23: arbitrary custom reducer through the DSL's RAgg hook — a
    // KMV bottom-k deterministic distinct sample per group (Aggregator
    // with the reference's partial/merge/finalize structure). The hash is
    // the oracle-portable 31-bit polynomial, so DuckDB reproduces the
    // exact sample.
    "q41_group_sample" -> ((s, dir) => {
      Transform.run(t(s, dir, "lineitem"),
        rows("l_returnflag", "l_partkey"),
        RMap(col("l_returnflag"),
          RAgg(graft.functions.Reducers.bottomKSample(16)(
            col("l_partkey").cast("string")))))
        .orderBy("l_returnflag")
    }),

    // Set operators (corpus diff): intersect / except via tagged split.
    "q36_set_ops" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      graft.ops.Relational.setSplit(
          c.filter(col("c_acctbal") > 5000).select(col("c_custkey")),
          c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey")))
        .groupBy("which").agg(count(lit(1)).as("n"))
        .orderBy("which")
    }),

    // Backward as-of join: each purchase event picks up the same user's
    // most recent click at-or-before it (union + carry-forward window —
    // one shuffle, no range explosion). DuckDB's native ASOF JOIN is the
    // oracle.
    // TPC-H Q18 shape (large-volume orders): HAVING-filtered semi-join
    // — the "orders whose own aggregate clears a bar" pattern. The
    // qualifying set comes from one groupBy, then a left_semi join
    // keeps fact rows; quantities are integer-valued doubles so sums
    // are exact and order-independent.
    "q273_tpch_q18" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val big = li.groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("q"))
        .filter(col("q") > 250)
        .select(col("l_orderkey").as("big_okey"))
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .join(big, col("o_orderkey") === col("big_okey"), "left_semi")
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")
            .as("totalprice_cents"))
        .agg(sum(col("l_quantity")).cast("long").as("sum_qty"))
        .orderBy(desc("totalprice_cents"), col("o_orderkey"))
        .limit(20)
    }),

    // TPC-H Q22 shape (global sales opportunity): anti-join + scalar
    // subquery — rich customers LAPSED since 2000 (no order at or
    // after the cutoff; this corpus has no never-ordered customers),
    // per nation. The threshold is the integer-cents floor-average
    // (exact in any summation order), not a float avg.
    "q274_tpch_q22" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
        .withColumn("bal_cents",
          floor(col("c_acctbal") * 100 + lit(0.5)).cast("long"))
      val thresh = cust.filter(col("bal_cents") > 0)
        .agg(expr("sum(bal_cents) div count(1)").as("avg_cents"))
      cust.crossJoin(broadcast(thresh))
        .filter(col("bal_cents") > col("avg_cents"))
        .join(t(s, dir, "orders")
            .filter(col("o_orderdate") >= lit("2000-01-01")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .join(t(s, dir, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("numcust"),
             sum(col("bal_cents")).as("totacctbal_cents"))
        .orderBy("n_name")
    }),

    // TPC-H Q2 shape (min-cost supplier): the correlated-MIN subquery —
    // for each LARGE small part, the supplier rows attaining the MINIMUM
    // lineitem price for that part. Decorrelated the Spark-first way:
    // per-part min as an aggregate, joined back on (part, price); a
    // (part, supplier) pair can attain the min through several
    // lineitems, so the join-back distincts. No partsupp table in this
    // corpus — lineitem IS the part↔supplier price relation.
    "q280_tpch_q2" -> ((s, dir) => {
      val price = floor(col("l_extendedprice") * 100 + lit(0.5))
        .cast("long").as("price_cents")
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"), price)
      val minPrice = li.groupBy(col("l_partkey"))
        .agg(min(col("price_cents")).as("min_cents"))
      li.join(minPrice,
          li("l_partkey") === minPrice("l_partkey") &&
            col("price_cents") === col("min_cents"))
        .drop(minPrice("l_partkey"))
        .select(col("l_partkey"), col("l_suppkey"), col("price_cents"))
        .distinct()
        .join(broadcast(t(s, dir, "part")
            .filter(col("p_type") === "LARGE" && col("p_size") <= 10)),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select(
          floor(col("s_acctbal") * 100 + lit(0.5)).cast("long")
            .as("s_acctbal_cents"),
          col("s_name"), col("n_name"), col("p_partkey"),
          col("p_name"), col("price_cents"))
        .orderBy(desc("s_acctbal_cents"), col("s_name"),
          col("p_partkey"))
        .limit(100)
    }),

    // TPC-H Q4 shape (order priority checking): EXISTS with a
    // cross-table inequality — orders in one quarter having at least
    // one lineitem shipped >60 days after the order date. The
    // correlated EXISTS lowers to a left-semi join whose condition
    // spans both tables; Spark keeps it one shuffle join, no distinct.
    "q281_tpch_q4" -> ((s, dir) => {
      t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
                col("o_orderdate") < lit("1996-04-01"))
        .join(t(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") >
              col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),

    // TPC-H Q11 shape (important stock): HAVING against a SCALAR
    // subquery over the whole fact — parts whose revenue exceeds
    // 1.5× the MEAN per-part revenue. The threshold is scale-free
    // (mean share, not an absolute fraction, so it selects at every
    // SF); the global (count, sum) is a 1-row aggregate cross-joined
    // (broadcast) into the per-part frame and the compare is integer
    // cross-multiplication, no float epsilon.
    "q282_tpch_q11" -> ((s, dir) => {
      val cents = floor(col("l_extendedprice") *
        (lit(1.0) - col("l_discount")) * 100 + lit(0.5)).cast("long")
      val perPart = t(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(sum(cents).as("value_cents"))
      val total = perPart.agg(sum(col("value_cents")).as("total_cents"),
        count(lit(1)).as("n_parts"))
      perPart.crossJoin(broadcast(total))
        .filter(col("value_cents") * col("n_parts") * 2 >
                col("total_cents") * 3)
        .select(col("l_partkey"), col("value_cents"))
        .orderBy(desc("value_cents"), col("l_partkey"))
    }),

    // TPC-H Q15 shape (top supplier): equality against a scalar MAX
    // subquery — supplier(s) whose windowed revenue equals the global
    // maximum. Two consumers of one aggregate (the per-supplier frame
    // feeds both the max and the equality filter).
    "q283_tpch_q15" -> ((s, dir) => {
      val cents = floor(col("l_extendedprice") *
        (lit(1.0) - col("l_discount")) * 100 + lit(0.5)).cast("long")
      val rev = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
                col("l_shipdate") < lit("1996-04-01"))
        .groupBy(col("l_suppkey"))
        .agg(sum(cents).as("total_revenue_cents"))
      val mx = rev.agg(max(col("total_revenue_cents")).as("mx"))
      rev.crossJoin(broadcast(mx))
        .filter(col("total_revenue_cents") === col("mx"))
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("total_revenue_cents"))
        .orderBy("s_suppkey")
    }),

    // TPC-H Q16 shape (parts/supplier relationship): NOT IN subquery
    // (suppliers in bad standing) as a left-anti join, then a
    // COUNT(DISTINCT) per part attribute group. The anti-join runs on
    // the small supplier side (broadcast); the distinct count is the
    // only shuffle on the fact.
    "q284_tpch_q16" -> ((s, dir) => {
      val badSupp = t(s, dir, "supplier")
        .filter(col("s_acctbal") < 0)
        .select(col("s_suppkey").as("bad_suppkey"))
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")
            .filter(col("p_type") =!= "PROMO" &&
                    col("p_brand") =!= "Brand#1")),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(badSupp),
          col("l_suppkey") === col("bad_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(desc("supplier_cnt"), col("p_brand"), col("p_size"))
        .limit(100)
    }),

    // TPC-H Q17 shape (small-quantity revenue): the correlated-AVG
    // subquery — lineitems of one brand with quantity below 20% of
    // that part's average quantity. avg = sum/cnt decorrelates to the
    // exact integer cross-multiplication 5·qty·cnt < sum (quantities
    // are integer-valued), so Spark and the oracle agree bit-for-bit.
    "q285_tpch_q17" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("qty", col("l_quantity").cast("long"))
      val perPart = li.groupBy(col("l_partkey").as("pk"))
        .agg(sum(col("qty")).as("sum_qty"), count(lit(1)).as("cnt"))
      li.join(broadcast(t(s, dir, "part")
            .filter(col("p_brand") === "Brand#2")),
          col("l_partkey") === col("p_partkey"))
        .join(perPart, col("l_partkey") === col("pk"))
        .filter(col("qty") * 5 * col("cnt") < col("sum_qty"))
        .agg(
          sum(floor(col("l_extendedprice") * 100 + lit(0.5))
            .cast("long")).as("total_cents"),
          count(lit(1)).as("n_items"))
    }),

    // TPC-H Q20 shape (excess-stock suppliers): nested correlated
    // subqueries — suppliers who shipped MORE THAN 3× an average
    // supplier's share of some red part's volume. Per-(supplier, part)
    // sums compare against per-part totals and supplier counts by
    // integer cross-multiplication (3× the mean share is scale-free —
    // it selects at every SF); the qualifying supplier set semi-joins
    // back to supplier.
    "q286_tpch_q20" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")
            .filter(col("p_name").like("%red%"))
            .select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_suppkey"), col("l_partkey"),
          col("l_quantity").cast("long").as("qty"))
      val perSuppPart = li.groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum(col("qty")).as("sp_qty"))
      val perPart = li.groupBy(col("l_partkey").as("pk"))
        .agg(sum(col("qty")).as("p_qty"),
             countDistinct(col("l_suppkey")).as("ns"))
      val dominant = perSuppPart
        .join(perPart, col("l_partkey") === col("pk"))
        .filter(col("sp_qty") * col("ns") > col("p_qty") * 3)
        .select(col("l_suppkey")).distinct()
      t(s, dir, "supplier")
        .join(dominant, col("s_suppkey") === col("l_suppkey"),
          "left_semi")
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_name"), col("n_name"))
        .orderBy("s_name")
    }),

    // TPC-H Q21 shape (waiting orders): EXISTS + NOT-EXISTS over the
    // same fact — in multi-supplier orders, the supplier who shipped
    // STRICTLY LAST (their latest shipment is the order's latest, no
    // other supplier ties it). Both existentials decorrelate into one
    // per-(order, supplier) aggregate joined to a per-order frame that
    // carries supplier count and number of max-attaining suppliers.
    "q287_tpch_q21" -> ((s, dir) => {
      val perOrdSupp = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max(col("l_shipdate")).as("supp_last"))
      val perOrd = perOrdSupp.groupBy(col("l_orderkey").as("ok"))
        .agg(count(lit(1)).as("nsupp"),
             max(col("supp_last")).as("ord_last"))
      val lastAttainers = perOrdSupp
        .join(perOrd, col("l_orderkey") === col("ok") &&
                      col("supp_last") === col("ord_last"))
        .withColumn("n_attain",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("l_orderkey"))))
      lastAttainers
        .filter(col("nsupp") >= 2 && col("n_attain") === 1)
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("numwait"))
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_name"), col("numwait"))
        .orderBy(desc("numwait"), col("s_name"))
        .limit(20)
    }),

    // TPC-H Q7 shape (volume shipping): nation-pair trade flows — the
    // classic 6-table join with a symmetric pair predicate, revenue by
    // (supplier nation, customer nation, ship year) for two nations in
    // both directions. Dimensions broadcast; the only fact shuffle is
    // the final aggregate.
    "q288_tpch_q7" -> ((s, dir) => {
      val cents = floor(col("l_extendedprice") *
        (lit(1.0) - col("l_discount")) * 100 + lit(0.5)).cast("long")
      val suppNat = t(s, dir, "supplier")
        .join(t(s, dir, "nation"),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val custNat = t(s, dir, "customer")
        .join(t(s, dir, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
                col("l_shipdate") < lit("1998-01-01"))
        .join(t(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(custNat), col("o_custkey") === col("c_custkey"))
        .join(broadcast(suppNat), col("l_suppkey") === col("s_suppkey"))
        .filter(
          (col("supp_nation") === "NATION_1" &&
           col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" &&
           col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(sum(cents).as("revenue_cents"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),

    // TPC-H Q8 shape (national market share): one nation's share of a
    // region's ECONOMY-part order volume per year. Both the numerator
    // (conditional sum) and denominator are exact integer cents — the
    // share itself is left to the reader so the result stays
    // hash-exact across engines.
    "q289_tpch_q8" -> ((s, dir) => {
      val cents = floor(col("l_extendedprice") *
        (lit(1.0) - col("l_discount")) * 100 + lit(0.5)).cast("long")
      val custRegion = t(s, dir, "customer")
        .join(t(s, dir, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "region"),
          col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .select(col("c_custkey"))
      val suppNat = t(s, dir, "supplier")
        .join(t(s, dir, "nation"),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")
            .filter(col("p_type") === "ECONOMY")
            .select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "orders")
            .filter(col("o_orderdate") >= lit("1996-01-01") &&
                    col("o_orderdate") < lit("1998-01-01")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(custRegion),
          col("o_custkey") === col("c_custkey"), "left_semi")
        .join(broadcast(suppNat), col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_7", cents)
            .otherwise(lit(0L))).as("nation_cents"),
          sum(cents).as("total_cents"))
        .orderBy("o_year")
    }),

    // TPC-H Q14 shape (promotion effect): conditional-aggregate ratio
    // — per ship month, PROMO-part revenue beside total revenue, both
    // exact cents (the ratio is derived, not stored, for hash
    // stability).
    "q290_tpch_q14" -> ((s, dir) => {
      val cents = floor(col("l_extendedprice") *
        (lit(1.0) - col("l_discount")) * 100 + lit(0.5)).cast("long")
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01") &&
                col("l_shipdate") < lit("1998-01-01"))
        .join(broadcast(t(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("month"))
        .agg(
          sum(when(col("p_type") === "PROMO", cents).otherwise(lit(0L)))
            .as("promo_cents"),
          sum(cents).as("total_cents"))
        .orderBy("month")
    }),

    // TPC-H Q19 shape (discounted revenue, disjunctive predicates):
    // three OR-blocks each touching BOTH join sides (brand+size from
    // part, quantity from lineitem) — the pushdown-hostile shape.
    // Catalyst still prunes columns and pushes the per-table residuals
    // (size ≥ 1, quantity bounds) below the join.
    "q291_tpch_q19" -> ((s, dir) => {
      val cents = floor(col("l_extendedprice") *
        (lit(1.0) - col("l_discount")) * 100 + lit(0.5)).cast("long")
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 5)
            && col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10)
            && col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#34" && col("p_size").between(1, 15)
            && col("l_quantity").between(20, 30)))
        .agg(sum(cents).as("revenue_cents"),
             count(lit(1)).as("n_items"))
    }),

    // Graph V: label-propagation communities on the co-purchase
    // graph — deterministic sync LPA (most-frequent neighbor label,
    // ties to the smallest), 3 fixed rounds; the oracle replays the
    // identical rounds as a QUALIFY-argmax CTE chain.
    "q292_lpa_communities" -> ((s, dir) => {
      val e = graft.ops.Graph.coOccurrencePairs(
        t(s, dir, "lineitem"), col("l_orderkey"), col("l_partkey"))
      graft.ops.Graph.labelPropagation(e, col("u"), col("v"),
          rounds = 3)
        .groupBy(col("lbl").as("community"))
        .agg(count(lit(1)).as("n_members"))
        .orderBy(desc("n_members"), col("community"))
    }),

    // Operability: the key-skew report consulted before salting /
    // broadcast / AQE-threshold decisions — per-key count
    // distribution of events.user_id in one row.
    "q293_skew_report" -> ((s, dir) => {
      graft.ops.Relational.skewReport(t(s, dir, "events"),
        col("user_id"))
    }),

    // Snapshot diff: recover the change log from two full dumps —
    // adds (doc_id%7=0 ∧ %5≠0), removes (%5=0 ∧ %7≠0), and in-place
    // text edits (%3=0 → uppercased) fall out of one full-outer join.
    "q294_snapshot_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val oldSnap = docs.filter(col("doc_id") % 7 =!= 0)
      val newSnap = docs.filter(col("doc_id") % 5 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 3 === 0, upper(col("text")))
            .otherwise(col("text")))
      graft.ops.Relational.snapshotDiff(oldSnap, newSnap,
          col("doc_id"))
        .orderBy("id")
    }),

    // Operability: equi-depth revenue histogram — the boundary picker
    // behind range partitioning and length-bucketed batching, 8
    // buckets over lineitem price cents.
    "q295_equidepth_hist" -> ((s, dir) => {
      graft.ops.Relational.equiDepthHistogram(t(s, dir, "lineitem"),
          floor(col("l_extendedprice") * 100 + lit(0.5)), k = 8)
        .orderBy("bucket")
    }),

    // Operability: join-explosion forecast for the events self-join
    // on user_id — per-key multiplicity products, the many-to-many
    // guard consulted before shipping a join at scale.
    "q296_join_forecast" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      graft.ops.Relational.joinExplosionReport(ev, ev,
        col("user_id"), col("user_id"), topN = 10)
    }),

    // Operability: one-scan column profile of documents — null /
    // distinct counts and typed extremes per column.
    "q297_column_profile" -> ((s, dir) => {
      graft.ops.Relational.profileColumns(t(s, dir, "documents"))
        .orderBy("column")
    }),

    // SQL-surface sweep: the full ranking-window family in one
    // oracle-checked query — rank/dense_rank/percent_rank/cume_dist/
    // ntile plus lag/lead, all over a total (ties-free) per-customer
    // order so every engine agrees bit-for-bit. percent_rank and
    // cume_dist stay double on both sides.
    "q299_window_suite" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .filter(col("o_custkey") % 100 === 0)
        .withColumn("cents",
          floor(col("o_totalprice") * 100 + lit(0.5)).cast("long"))
        .select(col("o_custkey"), col("o_orderkey"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"),
          percent_rank().over(w).as("prnk"),
          cume_dist().over(w).as("cdist"),
          ntile(4).over(w).as("quartile"),
          lag(col("cents"), 1).over(w).as("prev_cents"),
          lead(col("cents"), 1).over(w).as("next_cents"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // SQL-surface sweep: BAG-semantics set operations — INTERSECT ALL
    // keeps min(multiplicity), EXCEPT ALL subtracts multiplicities —
    // over the (custkey, priority) pairs of two order-status slices.
    "q300_bag_setops" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      def side(status: String) = o
        .filter(col("o_orderstatus") === status)
        .select(col("o_custkey"), col("o_orderpriority"))
      val inter = side("F").intersectAll(side("O"))
        .withColumn("which", lit("inter_all"))
      val exc = side("F").exceptAll(side("O"))
        .withColumn("which", lit("except_all"))
      inter.unionByName(exc)
        .groupBy(col("which"), col("o_custkey"), col("o_orderpriority"))
        .agg(count(lit(1)).as("multiplicity"))
        .orderBy("which", "o_custkey", "o_orderpriority")
    }),

    // Graph VI: personalized PageRank seeded on the size-1 parts —
    // teleport mass pinned to a trusted core (TrustRank-style
    // expansion), integer-exact so the oracle replays the loop.
    "q298_ppr" -> ((s, dir) => {
      val e = graft.ops.Graph.coOccurrenceEdges(
        t(s, dir, "lineitem"), col("l_orderkey"), col("l_partkey"))
      val seeds = t(s, dir, "part").filter(col("p_size") === 1)
        .select(col("p_partkey").as("id"))
      graft.ops.Graph.personalizedPageRank(e, seeds, iters = 3)
        .select(col("id").as("part_id"), col("r").as("rank_fp"))
        .orderBy(desc("rank_fp"), col("part_id")).limit(20)
    }),

    // TPC-H Q13 shape (customer order distribution): LEFT join keeps
    // zero-order customers, then a histogram OF the per-customer
    // counts — the agg-of-agg shape with outer-join null arithmetic.
    "q272_tpch_q13" -> ((s, dir) => {
      val perCust = t(s, dir, "customer")
        .join(t(s, dir, "orders")
            .filter(col("o_orderpriority") =!= "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
      perCust.groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(desc("custdist"), desc("c_count"))
    }),

    // TPC-H Q3 shape (shipping priority): the canonical 3-table
    // fact-dim join + filtered agg. Revenue is per-row cents (floor of
    // the double product) summed as integers — order-independent, so
    // the hash compare is exact.
    "q269_tpch_q3" -> ((s, dir) => {
      val cents = floor(col("l_extendedprice") *
        (lit(1.0) - col("l_discount")) * 100 + lit(0.5)).cast("long")
      t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") < lit("1998-07-01"))
        .join(t(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > lit("1998-07-01"))
        .groupBy(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          col("o_orderpriority"))
        .agg(sum(cents).as("revenue_cents"))
        .orderBy(desc("revenue_cents"), col("l_orderkey"))
        .limit(10)
    }),

    // TPC-H Q5 shape (local-supplier volume): the 6-table snowflake —
    // region prunes nations, customer and supplier must share the
    // nation — with dims broadcast and one fact-side shuffle.
    "q270_tpch_q5" -> ((s, dir) => {
      val cents = floor(col("l_extendedprice") *
        (lit(1.0) - col("l_discount")) * 100 + lit(0.5)).cast("long")
      t(s, dir, "region").filter(col("r_name") === "ASIA")
        .join(t(s, dir, "nation"),
          col("n_regionkey") === col("r_regionkey"))
        .join(t(s, dir, "supplier"),
          col("s_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "lineitem"), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders"), col("o_orderkey") === col("l_orderkey"))
        .filter(col("o_orderdate") >= lit("1997-01-01") &&
                col("o_orderdate") < lit("1998-01-01"))
        .join(t(s, dir, "customer"),
          col("c_custkey") === col("o_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(cents).as("revenue_cents"))
        .orderBy(desc("revenue_cents"), col("n_name"))
    }),

    // TPC-H Q10 shape (returned-item reporting): quarter of orders,
    // returned lines only, top customers by lost revenue.
    "q271_tpch_q10" -> ((s, dir) => {
      val cents = floor(col("l_extendedprice") *
        (lit(1.0) - col("l_discount")) * 100 + lit(0.5)).cast("long")
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") >= lit("1997-10-01") &&
                col("o_orderdate") < lit("1998-01-01"))
        .join(t(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_returnflag") === "R")
        .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"),
          floor(col("c_acctbal") * 100 + lit(0.5)).cast("long")
            .as("acctbal_cents"),
          col("n_name"))
        .agg(sum(cents).as("revenue_cents"))
        .orderBy(desc("revenue_cents"), col("c_custkey"))
        .limit(20)
    }),

    // Kneser-Ney bigram surprisal — the continuation-probability
    // smoothing add-k can't express; d = 3/4 exactly representable so
    // the float pipeline is engine-identical.
    "q279_kn_nll" -> ((s, dir) => {
      graft.ops.TextAnalysis.kneserNeyNll(t(s, dir, "documents"),
          col("doc_id"), col("text"))
        .orderBy("doc_id")
    }),

    // C4-style line screen, rules tuned to the corpus's structure
    // (segments delimited by 'table' as in q58; terminal tokens and a
    // line-blocker drawn from the vocabulary): per-doc accounting plus
    // the reassembled clean text — every rule misfire breaks the hash.
    "q278_c4_screen" -> ((s, dir) => {
      graft.ops.TextAnalysis.c4Screen(t(s, dir, "documents"),
          col("doc_id"), col("text"), sep = "table",
          terminalPattern = "(join|scan|merge)\\s*$",
          minLineWords = 5, minKeptLines = 2,
          blockSubstrings = Seq("lorem ipsum", "{"),
          lineBlockWord = "slow")
        .orderBy("doc_id")
    }),

    // CDC upsert-apply: merge a synthetic change batch into the part
    // snapshot — mod-7 keys take updated prices, mod-11 keys
    // tombstone out, one new key inserts. One full-outer join.
    "q276_upsert" -> ((s, dir) => {
      val base = t(s, dir, "part")
        .select(col("p_partkey"), col("p_name"),
          floor(col("p_retailprice") * 100 + lit(0.5)).cast("long")
            .as("price_cents"))
      // mod-77 keys would be BOTH updated and tombstoned — the change
      // batch must stay unique per key (the op's contract), so the
      // tombstone wins and updates exclude those keys
      val updates = base.filter(col("p_partkey") % 7 === 0 &&
          col("p_partkey") % 11 =!= 0)
        .select(col("p_partkey"), col("p_name"),
          (col("price_cents") + 999L).as("price_cents"))
        .withColumn("is_del", lit(false))
      val dels = base.filter(col("p_partkey") % 11 === 0)
        .select(col("p_partkey"), col("p_name"), col("price_cents"))
        .withColumn("is_del", lit(true))
      val ins = s.range(1).select(lit(99999999L).as("p_partkey"),
        lit("brand new part").as("p_name"), lit(123L).as("price_cents"),
        lit(false).as("is_del"))
      graft.ops.Relational.applyUpsert(base,
          updates.unionByName(dels).unionByName(ins),
          key = "p_partkey", deleted = col("is_del"))
        .orderBy("p_partkey")
    }),

    // SCD-2 entity history: each user's event-value observations become
    // validity intervals (valid_from = own ts, valid_to = next ts,
    // current state open-ended) — one lead window per key.
    "q277_scd2" -> ((s, dir) => {
      graft.ops.Events.scd2(t(s, dir, "events"),
          col("user_id"), col("ts"), col("event_id"),
          Seq(col("event_type"),
            floor(col("value") * 100 + lit(0.5)).cast("long")
              .as("value_cents")))
        .select(col("key").as("user_id"),
          date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss")
            .as("valid_from"),
          col("event_type"), col("value_cents"),
          date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss")
            .as("valid_to"))
        .orderBy("user_id", "valid_from", "event_type", "value_cents")
    }),

    // Real multimodal codec III (video): deterministic multi-frame
    // synthesis -> GFV1 frame-indexed container encode -> SAMPLED
    // decode (stride 2 — the index walk slices only sampled frames,
    // the mp4-stbl pattern). Any index/offset/stride bug breaks the
    // per-frame hash match.
    "q275_video_sample" -> ((s, dir) => {
      val vids = graft.ops.Multimodal.synthVideo(
        t(s, dir, "documents").select(col("doc_id")), "doc_id")
      graft.ops.Multimodal.sampleFrameStatsDf(
          vids, "asset_id", "media", stride = 2)
        .select(col("asset_id").as("doc_id"), col("n_frames"),
                col("frame_idx"), col("width"), col("height"),
                col("sum_r"), col("sum_g"), col("sum_b"))
        .orderBy("doc_id", "frame_idx")
    }),

    // Crawl-frontier URL dedup: deterministic URL synthesis (case
    // shuffle, default port, trailing slash, tracking params,
    // fragments) -> canonicalize -> exact dedup census per canonical
    // URL. The oracle replays synthesis AND canonicalization verbatim.
    "q268_url_canonical" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
        .withColumn("url", concat(
          when(col("doc_id") % 2 === 0, lit("http"))
            .otherwise(lit("HTTP")), lit("://"),
          when(col("doc_id") % 4 < 2, lit("Example"))
            .otherwise(lit("example")),
          (col("doc_id") % 10).cast("string"), lit(".com"),
          when(col("doc_id") % 8 === 3, lit(":80")).otherwise(lit("")),
          lit("/page/"), (col("doc_id") % 20).cast("string"),
          when(col("doc_id") % 16 === 5, lit("/")).otherwise(lit("")),
          lit("?id="), (col("doc_id") % 40).cast("string"),
          lit("&utm_source=s"), col("doc_id").cast("string"),
          when(col("doc_id") % 3 === 0,
            concat(lit("&ref=r"), col("doc_id").cast("string")))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit("#frag")).otherwise(lit(""))))
      d.withColumn("curl",
          graft.ops.TextAnalysis.canonicalizeUrl(col("url")))
        .groupBy("curl")
        .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("first_id"))
        .orderBy("curl")
    }),

    // OHLC hourly bars over the event value series: open/close via
    // min_by/max_by over the (ts, event_id) total order — one partial+
    // final aggregation, never a per-bar sort.
    "q267_ohlc_bars" -> ((s, dir) => {
      graft.ops.Events.ohlcBars(t(s, dir, "events"),
          col("ts"), col("event_id"), col("value"))
        .select(date_format(col("bar_start"), "yyyy-MM-dd HH:mm:ss")
                  .as("bar_start"),
                round(col("open"), 4).as("open"),
                round(col("high"), 4).as("high"),
                round(col("low"), 4).as("low"),
                round(col("close"), 4).as("close"),
                col("n"), col("sum_cents"))
        .orderBy("bar_start")
    }),

    // Forward as-of: next click AT OR AFTER each purchase (response
    // latency) — the mirrored carry lowering, one shuffle.
    "q265_asof_forward" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val joined = graft.ops.Relational.asofJoinForward(
        ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts")),
        ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts")),
        key = "user_id", leftTime = "ts", rightTime = "ts",
        payload = Map("ts" -> "click_ts"))
      joined.groupBy("user_id")
        .agg(count(lit(1)).as("n_purchases"),
             count(col("click_ts")).as("n_matched"),
             coalesce(sum(unix_micros(col("click_ts")) -
                          unix_micros(col("ts"))), lit(0L))
               .as("sum_gap_us"))
        .orderBy("user_id")
    }),

    "q37_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val joined = graft.ops.Relational.asofJoinBackward(
        ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts")),
        ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts")),
        key = "user_id", leftTime = "ts", rightTime = "ts",
        payload = Map("ts" -> "click_ts"))
      joined.groupBy("user_id")
        .agg(count(lit(1)).as("n_purchases"),
             count(col("click_ts")).as("n_matched"),
             coalesce(sum(unix_micros(col("ts")) -
                          unix_micros(col("click_ts"))), lit(0L))
               .as("sum_gap_us"))
        .orderBy("user_id")
    }),

    // Binary (multimodal) column metadata: text re-encoded as a binary
    // blob, metadata projected without shuffling the bytes.
    "q38_binary_meta" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("media", to_binary(col("text"), lit("utf-8")))
        .select(col("doc_id"),
                octet_length(col("media")).as("n_bytes"),
                length(col("text")).as("n_chars"))
        .orderBy("doc_id")
    }),

    // Exact interpolated percentiles per group (sorts/quantiles surface;
    // approx_percentile is the 100 TB path, exact matches the oracle).
    "q39_quantiles" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        // one percentile buffer per group, not three
        .agg(percentile(col("l_extendedprice"),
               array(lit(0.25), lit(0.5), lit(0.75))).as("ps"))
        .select(col("l_returnflag"),
                round(element_at(col("ps"), 1), 4).as("p25"),
                round(element_at(col("ps"), 2), 4).as("p50"),
                round(element_at(col("ps"), 3), 4).as("p75"))
        .orderBy("l_returnflag")
    }),

    // TF-IDF: top-3 terms per document (first 20 docs) by smoothed
    // tf*ln((N+1)/(df+1)), deterministic tie-break on the term.
    "q48_tfidf" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val scored = graft.ops.TextAnalysis.tfIdf(d, col("doc_id"), col("text"))
        .filter(col("doc_id") < 20)
        .select(col("doc_id"), col("term"), col("tf"),
                round(col("tfidf"), 6).as("tfidf"))
      graft.ops.Relational.topKPerGroup(scored,
          Seq(col("doc_id")), Seq(col("tfidf").desc, col("term").asc), 3)
        .orderBy(col("doc_id"), col("tfidf").desc, col("term"))
    }),

    // Multimodal frame-sampling plumbing: binary media column -> n
    // evenly-spaced byte-range frames (a real video codec replaces the
    // slicing with keyframe extraction; schema array<binary> and
    // downstream shape stay). Frame lengths are pure arithmetic over
    // octet_length, so the oracle reproduces them exactly.
    "q47_frame_meta" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("media", to_binary(col("text"), lit("utf-8")))
      val frames = graft.ops.Multimodal.sampleFramesStub(col("media"), 4)
      d.select(col("doc_id"),
          octet_length(col("media")).as("n_bytes"),
          transform(frames, f => octet_length(f)).as("frame_lens"))
        .withColumn("frame_lens",
          array_join(transform(col("frame_lens"), _.cast("string")), ","))
        .orderBy("doc_id")
    }),

    // Canonical text normalization (lowercase / strip / collapse) — the
    // key-derivation step ahead of exact dedup; identical RE2 patterns
    // run in the oracle.
    "q46_normalize" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
          graft.ops.TextAnalysis.normalize(col("text")).as("norm"))
        .withColumn("norm_tokens", size(split(col("norm"), " ")))
        .orderBy("doc_id")
    }),

    // Analytic window surface: lag + running aggregate per customer
    // (deterministic total order inside each partition key).
    "q45_window_running" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .filter(col("o_custkey") < 50)
        .select(col("o_custkey"), col("o_orderkey"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          round(sum(col("o_totalprice"))
            .over(w.rowsBetween(Window.unboundedPreceding, 0)), 2)
            .as("running_total"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // The skew lever: jaccard pair discovery with ubiquitous shingles
    // dropped (a shingle shared by >m docs contributes m^2 join rows and
    // little identity signal — at corpus scale this is what keeps one
    // hot shingle from dominating the shuffle). Jaccard is computed
    // within the filtered shingle universe (sizes recomputed, so exact
    // duplicates still score 1.0); the oracle replicates it exactly.
    "q44_dedup_capped" -> ((s, dir) => {
      graft.ops.Dedup.jaccardPairs(t(s, dir, "documents"),
          col("doc_id"), col("text"), tau = 0.5, maxShingleFreq = Some(3))
        .orderBy("id1", "id2")
    }),

    // Incremental dedup: near-dup pairs BETWEEN a "new batch" (odd
    // doc_ids) and the "existing corpus" (even doc_ids) — cost scales
    // with the batch, not the corpus.
    // The stateless batch/stream screen kernel, collapsed to distinct
    // verified pairs — must equal q43/q132 (banding recalls every pair
    // on this corpus; StreamingSpec pins stream == batch rows).
    "q266_lsh_screen" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val idx = graft.ops.Dedup.minhashIndex(
        d.filter(pmod(col("doc_id"), lit(2)) === 0),
        col("doc_id"), col("text"))
      graft.ops.Dedup.lshScreen(
          d.filter(pmod(col("doc_id"), lit(2)) === 1),
          col("doc_id"), col("text"), idx, tau = 0.6)
        .select("id1", "id2", "jaccard").distinct()
        .orderBy("id1", "id2")
    }),

    "q43_dedup_incremental" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.ops.Dedup.jaccardPairsBetween(
          d.filter(pmod(col("doc_id"), lit(2)) === 1),
          d.filter(pmod(col("doc_id"), lit(2)) === 0),
          col("doc_id"), col("doc_id"), col("text"), col("text"), tau = 0.6)
        .orderBy("id1", "id2")
    }),

    // Duplicate CLUSTERS, not just pairs: connected components over the
    // MinHash-LSH pair graph — (id, comp) with comp = min reachable id,
    // the canonical-representative assignment a transitive dedup policy
    // needs. O(log diameter) rounds of min-propagation + pointer
    // jumping; the oracle is an independent recursive-CTE closure over
    // the exact jaccard pairs.
    "q56_dedup_groups" -> ((s, dir) => {
      val pairs = graft.ops.Dedup.minhashLshPairs(t(s, dir, "documents"),
          col("doc_id"), col("text"), tau = 0.6)
      graft.ops.Dedup.connectedComponents(pairs, col("id1"), col("id2"))
        .orderBy("id")
    }),

    // Cluster-policy near-dup removal through the PUBLIC Pipeline API:
    // keep exactly one document (min id) per duplicate component.
    "q57_dedup_keep_one" -> ((s, dir) => {
      graft.ops.Pipeline(t(s, dir, "documents"), "doc_id", "text")
        .removeNearDupClusters(0.6)
        .result
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    }),

    // Paragraph-granularity exact dedup: every distinct segment keeps
    // only its first (id, position) occurrence corpus-wide, documents
    // reassembled from survivors in order. The corpus has no newline
    // structure, so segments are delimited by a common token — the
    // operator is separator-generic; the machinery (posexplode →
    // first-occurrence agg → join-back → ordered reassembly) is what's
    // under test.
    "q58_dedup_paragraphs" -> ((s, dir) => {
      graft.ops.Dedup.dedupParagraphs(t(s, dir, "documents"),
          col("doc_id"), col("text"), sep = "table")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // Benchmark decontamination: treat source src0 as the held-out eval
    // set, flag every other document sharing a distinct 4-gram with it
    // (n=13 on real text; 4 fits this corpus's short docs). Eval
    // shingle set broadcasts; corpus text never shuffles.
    "q59_decontaminate" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.ops.Dedup.contaminatedDocs(
          d.filter(col("source") =!= "src0"),
          d.filter(col("source") === "src0"),
          col("doc_id"), col("text"), col("text"), n = 4)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // Bloom-prefiltered decontamination (scale path of q59): identical
    // results, but corpus grams are screened by a compact bloom filter
    // in-scan before any join — checked against the exact oracle.
    "q78_decontaminate_bloom" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.ops.Dedup.bloomContaminatedDocs(
          d.filter(col("source") =!= "src0"),
          d.filter(col("source") === "src0"),
          col("doc_id"), col("text"), col("text"), n = 4)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // The full LLM preprocessing funnel composed from the operators
    // above: language filter -> quality filter -> exact dedup
    // (keep-first by 8-token prefix) -> near-dup removal (drop the
    // higher id of each jaccard>=0.8 pair) -> per-source token
    // accounting. Every stage is individually oracle-proven; this pins
    // their composition.
    "q42_pipeline_funnel" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val lang = graft.ops.TextAnalysis.langIdOf(d, col("doc_id"), col("text"))
        .filter(col("pred_lang") === "en").select("doc_id")
      val qual = graft.ops.TextAnalysis.quality(d, col("doc_id"), col("text"))
        .filter(col("quality_x1e4") >= 4500).select("doc_id")
      val pool = d.join(lang, "doc_id").join(qual, "doc_id")
      val kept = graft.ops.Dedup.exactKeepFirst(pool,
          concat_ws(" ", slice(split(col("text"), " "), 1, 8)), col("doc_id"))
        .select(col("kept").as("doc_id"))
      val survivors = pool.join(kept, "doc_id")
      val nearDup = graft.ops.Dedup.jaccardPairs(survivors,
          col("doc_id"), col("text"), tau = 0.8)
        .select(col("id2").as("doc_id")).distinct()
      survivors.join(nearDup, Seq("doc_id"), "left_anti")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
             sum(size(split(col("text"), " "))).as("sum_tokens"))
        .orderBy("source")
    }),

    // The same funnel through the PUBLIC fluent Pipeline API (q42 is the
    // hand-assembled form) — proves the user-facing surface, not just
    // the stages. Same oracle as q42.
    "q52_pipeline_fluent" -> ((s, dir) => {
      graft.ops.Pipeline(t(s, dir, "documents"), "doc_id", "text")
        .filterLang("en")
        .filterQuality(4500)
        .dedupExactByPrefix(8)
        .removeNearDups(0.8)
        .result
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
             sum(size(split(col("text"), " "))).as("sum_tokens"))
        .orderBy("source")
    }),

    // Broadcast-dimension equi-join (star-schema enrichment).
    "q40_join_enrich" -> ((s, dir) => {
      graft.ops.Relational.joinDim(
          t(s, dir, "orders"), t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n_orders"),
             round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy("segment")
    })
  )

  /** q12/q55 shared body: two granularities of lineitem aggregation in
    * one Transform (nested-map field serialized for the driver compare —
    * map columns crash its pandas sort, r1 lesson; x1e4 integer floors
    * sidestep cross-engine round() boundaries, and the avg stays RAW
    * until the floor for the same reason). */
  private def multigrainQuery(s: SparkSession, dir: String): DataFrame =
    Transform.run(t(s, dir, "lineitem"),
      rows("l_returnflag", "l_linestatus", "l_orderkey", "l_quantity"),
      RMap(col("l_returnflag"),
        RStruct(Seq(
          "n_orders" -> RAgg(countDistinct(col("l_orderkey"))),
          "by_status" -> RMap(col("l_linestatus"),
            RAgg(avg(col("l_quantity"))))))))
      .withColumn("by_status",
        array_join(transform(array_sort(map_entries(col("by_status"))),
          e => concat_ws("=", e.getField("key"),
            floor(e.getField("value") * 10000.0 + 0.5).cast("long")
              .cast("string"))), ","))
      .orderBy("l_returnflag")

  /** Shared oracle text: the two-granularity aggregation (q12 adaptive,
    * q55 with the one-scan GROUPING SETS lowering forced — same answer,
    * different physical plan). */
  /** q479–q482 shared oracle prefix: the q97 NB model replayed, then
    * one integer score per document (mean micro log-odds + the 10⁸
    * offset, truncating division on a positive numerator), the src0
    * gold label, and `g` — the distinct-score table every rank
    * statistic derives from. */
  private val nbEvalCte: String =
    """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws
                  FROM documents),
       tk AS (SELECT doc_id, source, tok
              FROM (SELECT doc_id, source, unnest(ws) AS tok FROM w)
              WHERE tok != ''),
       cp AS (SELECT tok, count(*) AS c FROM tk
              WHERE source = 'src0' GROUP BY 1),
       cn AS (SELECT tok, count(*) AS c FROM tk
              WHERE source != 'src0' GROUP BY 1),
       m0 AS (SELECT coalesce(cp.tok, cn.tok) AS tok,
                coalesce(cp.c, 0) AS cp, coalesce(cn.c, 0) AS cn
              FROM cp FULL JOIN cn ON cp.tok = cn.tok),
       st AS (SELECT sum(cp) AS np0, sum(cn) AS nn0, count(*) AS v
              FROM m0),
       m AS (SELECT tok,
               CAST(round((ln((cp + 1.0) / (np0 + v))
                         - ln((cn + 1.0) / (nn0 + v))) * 1000000)
                 AS BIGINT) AS lo
             FROM m0, st),
       sc AS (SELECT tk.doc_id,
                max(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS y,
                (CAST(sum(lo) AS BIGINT) + 100000000 * count(*))
                  // count(*) AS s
              FROM tk JOIN m USING (tok) GROUP BY 1),
       g AS (SELECT s, count(*) AS n, sum(y) AS p FROM sc GROUP BY 1)"""

  private val multigrainSql: String =
    """WITH f AS (SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_orders
                  FROM lineitem GROUP BY 1),
          s AS (SELECT l_returnflag, l_linestatus,
                       avg(l_quantity) AS avg_q
                  FROM lineitem GROUP BY 1, 2),
          m AS (SELECT l_returnflag,
                       string_agg(l_linestatus || '=' ||
                         CAST(CAST(floor(avg_q*10000.0 + 0.5) AS BIGINT)
                              AS VARCHAR),
                         ',' ORDER BY l_linestatus) AS by_status
                  FROM s GROUP BY 1)
       SELECT f.l_returnflag, f.n_orders, m.by_status
       FROM f JOIN m USING (l_returnflag) ORDER BY 1"""

  /** Shared oracle text: exact shingle-Jaccard pair discovery (used by
    * both the exact q21 and the LSH-accelerated q22 — the LSH variant is
    * exact-verified and loses no pairs at this corpus's jaccard levels). */
  /** DuckDB replay of [[graft.ops.Graph.pageRank]] over the part
    * co-purchase graph: one CTE per iteration, the same micro-unit
    * integer arithmetic (`//` there, `div` in Spark — both exact floor
    * on the nonnegative values). sum(BIGINT) is HUGEINT in DuckDB, so
    * every iteration casts its rank back to BIGINT. */
  private def pagerankSql(iters: Int): String = {
    val chain = (1 to iters).map { i =>
      s"""r$i AS (SELECT e.dst AS id,
            CAST(150000 + (17 * sum((r.r * e.w) // ow.out_w)) // 20
                 AS BIGINT) AS r
          FROM e JOIN r${i - 1} r ON e.src = r.id
                 JOIN ow ON e.src = ow.src
          GROUP BY e.dst)"""
    }.mkString(",\n         ")
    s"""WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                    FROM lineitem),
        e AS (SELECT a.p AS src, b.p AS dst, count(*) AS w
              FROM lp a JOIN lp b ON a.o = b.o AND a.p <> b.p
              GROUP BY 1, 2),
        ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS out_w
               FROM e GROUP BY 1),
        r0 AS (SELECT src AS id, CAST(1000000 AS BIGINT) AS r FROM ow),
        $chain
        SELECT id AS part_id, r AS rank_fp FROM r$iters
        ORDER BY rank_fp DESC, part_id LIMIT 20"""
  }

  /** Generated oracle for q298: replays [[graft.ops.Graph
    * .personalizedPageRank]]'s integer loop — teleport pinned to the
    * seed set, every node re-pinned per round via the LEFT join so
    * zero-inbound nodes keep their seed mass. */
  private def pprSql(iters: Int): String = {
    val chain = (1 to iters).map { i =>
      s"""r$i AS (SELECT n.id,
            CAST(n.is_seed * 150000 +
                 (17 * coalesce(s.c, 0)) // 20 AS BIGINT) AS r
          FROM nodes n LEFT JOIN
            (SELECT e.dst AS id,
               CAST(sum((r.r * e.w) // ow.out_w) AS BIGINT) AS c
             FROM e JOIN r${i - 1} r ON e.src = r.id
                    JOIN ow ON e.src = ow.src
             GROUP BY 1) s ON n.id = s.id)"""
    }.mkString(",\n         ")
    s"""WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                    FROM lineitem),
        e AS (SELECT a.p AS src, b.p AS dst, count(*) AS w
              FROM lp a JOIN lp b ON a.o = b.o AND a.p <> b.p
              GROUP BY 1, 2),
        ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS out_w
               FROM e GROUP BY 1),
        nodes AS (SELECT ow.src AS id,
                    CASE WHEN ow.src IN
                      (SELECT p_partkey FROM part WHERE p_size = 1)
                      THEN 1 ELSE 0 END AS is_seed
                  FROM ow),
        r0 AS (SELECT id, CAST(is_seed * 1000000 AS BIGINT) AS r
               FROM nodes),
        $chain
        SELECT id AS part_id, r AS rank_fp FROM r$iters WHERE r > 0
        ORDER BY rank_fp DESC, part_id LIMIT 20"""
  }

  /** DuckDB replay of the q203 cross-validation: one q97-shaped NB
    * model per fold (trained on the complement), scored on the fold,
    * sign-vs-label accuracy. CTE names carry the fold suffix so the
    * whole CV sits in one WITH chain. */
  private def nbCrossvalSql(folds: Int): String = {
    val blocks = (0 until folds).map { f =>
      s"""tr$f AS (SELECT * FROM tk WHERE (doc_id // 20) % $folds != $f),
         te$f AS (SELECT * FROM tk WHERE (doc_id // 20) % $folds = $f),
         cp$f AS (SELECT tok, count(*) AS c FROM tr$f
                  WHERE source = 'src0' GROUP BY 1),
         cn$f AS (SELECT tok, count(*) AS c FROM tr$f
                  WHERE source != 'src0' GROUP BY 1),
         m0$f AS (SELECT coalesce(cp$f.tok, cn$f.tok) AS tok,
                    coalesce(cp$f.c, 0) AS cp, coalesce(cn$f.c, 0) AS cn
                  FROM cp$f FULL JOIN cn$f ON cp$f.tok = cn$f.tok),
         s$f AS (SELECT sum(cp) AS np, sum(cn) AS nn, count(*) AS v
                 FROM m0$f),
         m$f AS (SELECT tok,
                   CAST(round((ln((cp + 1.0) / (np + v))
                             - ln((cn + 1.0) / (nn + v))) * 1000000)
                     AS BIGINT) AS lo
                 FROM m0$f, s$f),
         sc$f AS (SELECT doc_id, CAST(sum(lo) AS BIGINT) AS lo
                  FROM te$f JOIN m$f USING (tok) GROUP BY 1),
         r$f AS (SELECT $f AS fold, count(*) AS n_docs,
                   CAST(sum(CASE WHEN (sc$f.lo > 0) = l.pos
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
                 FROM sc$f JOIN lab l USING (doc_id))"""
    }.mkString(",\n         ")
    val union = (0 until folds).map(f => s"SELECT * FROM r$f")
      .mkString(" UNION ALL ")
    s"""WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws
                   FROM documents),
        tk AS (SELECT doc_id, source, tok
               FROM (SELECT doc_id, source, unnest(ws) AS tok FROM w)
               WHERE tok != ''),
        lab AS (SELECT doc_id, (source = 'src0') AS pos FROM documents),
        $blocks
        SELECT fold, n_docs, n_correct,
          CAST((1000 * n_correct) // n_docs AS BIGINT) AS acc_permille
        FROM ($union) ORDER BY fold"""
  }

  private val jaccardPairsSql: String =
    """WITH tkn AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
       sh AS (SELECT doc_id, list_distinct(
                [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                 FOR i IN range(1, len(ws)-1)]) AS shingles FROM tkn),
       ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh),
       pairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS co,
                        any_value(a.n) AS na, any_value(b.n) AS nb
                 FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
                 GROUP BY 1, 2)
       SELECT id1, id2, round(co*1.0/(na+nb-co), 4) AS jaccard FROM pairs
       WHERE co*1.0/(na+nb-co) >= 0.6 ORDER BY 1, 2"""

  /** Shared oracle text: duplicate components via an independent
    * recursive-CTE transitive closure over the exact jaccard pair graph
    * (tau 0.6 — the pair universe q21/q22 are proven against). Used by
    * q56 (the components themselves) and q57 (keep-one-per-component
    * survivors through the Pipeline API). */
  private val dedupGroupsSql: String =
    """WITH RECURSIVE
       tkn AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
       sh AS (SELECT doc_id, list_distinct(
                [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                 FOR i IN range(1, len(ws)-1)]) AS shingles FROM tkn),
       ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh),
       p AS (SELECT id1, id2 FROM (
               SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS co,
                      any_value(a.n) AS na, any_value(b.n) AS nb
               FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
               GROUP BY 1, 2)
             WHERE co*1.0/(na+nb-co) >= 0.6),
       e AS (SELECT id1 AS a, id2 AS b FROM p
             UNION SELECT id2, id1 FROM p),
       reach(a, b) AS (
         SELECT DISTINCT a, a FROM e
         UNION
         SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
       comp AS (SELECT a AS id, min(b) AS comp FROM reach GROUP BY 1)"""

  /** Shared oracle text: exact all-pairs cosine similarity (used by both
    * the exact q28 and the LSH-accelerated q49 — the LSH variant is
    * exact-verified and its nPlanes=2/tables=24 config reaches recall 1
    * at this corpus's cosine levels; see Similarity.cosinePairsLsh). */
  private val embeddingPairsSql: String =
    """SELECT a.vec_id AS id1, b.vec_id AS id2,
       round(list_cosine_similarity(a.embedding::DOUBLE[],
                                    b.embedding::DOUBLE[]), 6) AS cos
       FROM embeddings a, embeddings b
       WHERE a.vec_id < b.vec_id
         AND list_cosine_similarity(a.embedding::DOUBLE[],
                                    b.embedding::DOUBLE[]) >= 0.4
       ORDER BY 1, 2"""

  /** Shared oracle text: gap sessionization (q31 and its skew-resistant
    * bucketed form q53 — same semantics, different partitioning). */
  private val sessionsSql: String =
    """WITH x AS (SELECT user_id, ts,
           CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1
                WHEN CAST(floor(epoch(ts)) AS BIGINT) -
                     CAST(floor(epoch(lag(ts) OVER
                       (PARTITION BY user_id ORDER BY ts))) AS BIGINT) > 1800
                  THEN 1
                ELSE 0 END AS ns
           FROM events WHERE ts IS NOT NULL),
         y AS (SELECT user_id,
                 sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS session_id
               FROM x)
       SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions,
              count(*) AS n_events
       FROM y GROUP BY 1 ORDER BY 1"""

  /** Generated oracle text for q263: the bounded k-core peel replayed
    * as a CTE chain — one (degree, keep, filter) stage per round, the
    * same fixed-round semantics the Spark op commits to. */
  private def kcoreSql(k: Int, rounds: Int): String = {
    // every eN is referenced twice by round N+1 (degree count + edge
    // filter); DuckDB inlines plain CTEs, which re-evaluates the whole
    // prefix exponentially per round — MATERIALIZED keeps each stage
    // computed once (semantics unchanged; sf0.1 went from stuck to
    // seconds)
    val head =
      """WITH m AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o,
                      l_partkey AS p
                    FROM lineitem),
         e0 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
                FROM m a JOIN m b ON a.o = b.o AND a.p < b.p)"""
    val stages = (1 to rounds).map { i =>
      val p = i - 1
      s""",
         d$i AS MATERIALIZED (SELECT id, count(*) AS c FROM
                   (SELECT u AS id FROM e$p UNION ALL SELECT v FROM e$p)
                 GROUP BY 1),
         n$i AS MATERIALIZED (SELECT id FROM d$i WHERE c >= $k),
         e$i AS MATERIALIZED (SELECT u, v FROM e$p
                 WHERE u IN (SELECT id FROM n$i)
                   AND v IN (SELECT id FROM n$i))"""
    }.mkString
    head + stages +
      s"""
         SELECT id AS part_id, count(*) AS core_deg FROM
           (SELECT u AS id FROM e$rounds UNION ALL SELECT v FROM e$rounds)
         GROUP BY 1 ORDER BY 1"""
  }

  /** Generated oracle for q292: replays [[graft.ops.Graph
    * .labelPropagation]]'s deterministic sync rounds as a CTE chain —
    * per round, each node adopts its neighbors' most frequent label
    * (ties to the smallest) via a QUALIFY row_number argmax.
    * MATERIALIZED for the same inline-explosion reason as
    * [[kcoreSql]]. */
  private def lpaSql(rounds: Int): String = {
    val head =
      """WITH m AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o,
                      l_partkey AS p
                    FROM lineitem),
         e AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
                FROM m a JOIN m b ON a.o = b.o AND a.p < b.p),
         adj AS MATERIALIZED (SELECT u AS id, v AS nb FROM e
                UNION ALL SELECT v, u FROM e),
         l0 AS MATERIALIZED (SELECT DISTINCT id, id AS lbl FROM adj)"""
    val stages = (1 to rounds).map { i =>
      s""",
         l$i AS MATERIALIZED (SELECT id, lbl FROM
                 (SELECT a.id AS id, l.lbl AS lbl, count(*) AS c
                  FROM adj a JOIN l${i - 1} l ON a.nb = l.id
                  GROUP BY 1, 2)
               QUALIFY row_number() OVER
                 (PARTITION BY id ORDER BY c DESC, lbl) = 1)"""
    }.mkString
    head + stages +
      s"""
         SELECT lbl AS community, count(*) AS n_members FROM l$rounds
         GROUP BY 1 ORDER BY n_members DESC, community"""
  }

  /** Shared oracle text: backward as-of join via DuckDB's native ASOF
    * (q37 and its skew-resistant bucketed form q54). */
  private val asofSql: String =
    """WITH p AS (SELECT user_id, ts FROM events
                  WHERE event_type = 'purchase'),
          c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
          j AS (SELECT p.user_id, p.ts AS pts, c.ts AS cts
                FROM p ASOF LEFT JOIN c
                  ON p.user_id = c.user_id AND p.ts >= c.ts)
       SELECT user_id, count(*) AS n_purchases, count(cts) AS n_matched,
              CAST(coalesce(sum(epoch_us(pts) - epoch_us(cts)), 0)
                   AS BIGINT) AS sum_gap_us
       FROM j GROUP BY 1 ORDER BY 1"""

  /** Shared oracle text: the LLM preprocessing funnel (q42 hand-assembled,
    * q52 through the fluent Pipeline API — identical semantics). */
  /** Shared oracle text: the q127 GRAM-MATRIX fixed-point power
    * iteration (r8) -- ONE pass of raw moments (n, s_j, S_jk) over the
    * micro-quantized vectors, the centered Gram by algebra
    * (G = S - m s' - s m' + n m m', m = floorDiv(s, n)), then the
    * 2-iteration driver loop replayed on the d^2-row `g` CTE:
    * v0 = 1e6 * e_{argmax diag G}, v_{t+1} = trunc-normalized G v_t.
    * All divisions truncate toward zero (DuckDB `//` = BigInt `/`)
    * except the mean, which keeps the floor formula. Ends at `v2`
    * (j, v) -- the trained direction in micro-units -- reused by q157,
    * which consumes it for common-direction removal before ANN. */
  private val topPcCteSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ev
                    FROM embeddings WHERE embedding IS NOT NULL),
         q AS (SELECT vec_id,
                 [CAST(floor(x*1000000 + 0.5) AS BIGINT) FOR x IN ev] AS qv
               FROM e),
         nn AS (SELECT count(*) AS n FROM q),
         lf AS MATERIALIZED (SELECT vec_id, unnest(qv) AS x,
                  unnest(range(1, len(qv)+1)) AS j FROM q),
         sv AS (SELECT j, sum(x) AS s FROM lf GROUP BY j),
         mu AS (SELECT j, (s - ((s % n + n) % n)) // n AS m
                FROM sv CROSS JOIN nn),
         gr AS MATERIALIZED (SELECT a.j AS j, b.j AS k,
                  sum(a.x * b.x) AS sjk
                FROM lf a JOIN lf b USING (vec_id) GROUP BY 1, 2),
         g AS MATERIALIZED (SELECT gr.j, gr.k,
                  gr.sjk - mj.m * sk.s - mk.m * sj.s + nn.n * mj.m * mk.m
                    AS g
                FROM gr
                JOIN mu mj ON mj.j = gr.j JOIN mu mk ON mk.j = gr.k
                JOIN sv sj ON sj.j = gr.j JOIN sv sk ON sk.j = gr.k
                CROSS JOIN nn),
         dg AS MATERIALIZED (SELECT j, g FROM g WHERE j = k),
         v0 AS (SELECT dg.j, CASE WHEN dg.j =
                  (SELECT j FROM dg ORDER BY g DESC, j LIMIT 1)
                  THEN 1000000 ELSE 0 END AS v FROM dg),
         s1 AS (SELECT g.j, sum(g.g * v0.v) AS s
                FROM g JOIN v0 ON v0.j = g.k GROUP BY 1),
         m1 AS (SELECT max(abs(s)) AS ma FROM s1),
         v1 AS (SELECT j, CASE WHEN m1.ma = 0 THEN 0
                  ELSE (s * 1000000) // m1.ma END AS v
                FROM s1 CROSS JOIN m1),
         s2 AS (SELECT g.j, sum(g.g * v1.v) AS s
                FROM g JOIN v1 ON v1.j = g.k GROUP BY 1),
         m2 AS (SELECT max(abs(s)) AS ma FROM s2),
         v2 AS MATERIALIZED (SELECT j, CASE WHEN m2.ma = 0 THEN 0
                  ELSE (s * 1000000) // m2.ma END AS v
                FROM s2 CROSS JOIN m2)"""

  /** Shared oracle text: q487's two-component chain -- [[topPcCteSql]]
    * through `v2`, then component 2 on the SAME Gram CTE: init at the
    * second-largest diagonal, each iteration orthogonalized against
    * v2 (w <- w - (<w,u> * u) // <u,u>, truncating) before the
    * max-abs renormalization. Ends at `w2`. Reused by q489's
    * removal. */
  private val topPc2CteSql: String =
    topPcCteSql + """,
       uu AS (SELECT sum(v*v) AS uq FROM v2),
       w0 AS (SELECT dg.j, CASE WHEN dg.j =
                (SELECT j FROM dg ORDER BY g DESC, j LIMIT 1 OFFSET 1)
                THEN 1000000 ELSE 0 END AS v FROM dg),
       t1 AS (SELECT g.j, sum(g.g * w0.v) AS s
              FROM g JOIN w0 ON w0.j = g.k GROUP BY 1),
       x1 AS (SELECT sum(t1.s * v2.v) AS nu FROM t1 JOIN v2 USING (j)),
       o1 AS (SELECT t1.j, CASE WHEN uu.uq = 0 THEN t1.s
                ELSE t1.s - (x1.nu * v2.v) // uu.uq END AS s
              FROM t1 JOIN v2 USING (j) CROSS JOIN x1 CROSS JOIN uu),
       n1 AS (SELECT max(abs(s)) AS ma FROM o1),
       w1 AS (SELECT j, CASE WHEN n1.ma = 0 THEN 0
                ELSE (s * 1000000) // n1.ma END AS v
              FROM o1 CROSS JOIN n1),
       t2 AS (SELECT g.j, sum(g.g * w1.v) AS s
              FROM g JOIN w1 ON w1.j = g.k GROUP BY 1),
       x2 AS (SELECT sum(t2.s * v2.v) AS nu FROM t2 JOIN v2 USING (j)),
       o2 AS (SELECT t2.j, CASE WHEN uu.uq = 0 THEN t2.s
                ELSE t2.s - (x2.nu * v2.v) // uu.uq END AS s
              FROM t2 JOIN v2 USING (j) CROSS JOIN x2 CROSS JOIN uu),
       n2 AS (SELECT max(abs(s)) AS ma FROM o2),
       w2 AS MATERIALIZED (SELECT j, CASE WHEN n2.ma = 0 THEN 0
                ELSE (s * 1000000) // n2.ma END AS v
              FROM o2 CROSS JOIN n2)"""

  /** Shared oracle text: exact jaccard pairs BETWEEN the odd-id batch
    * and the even-id corpus (q43's inverted-index form and q132's
    * signature-index LSH form compute the same pair set — the LSH
    * banding recalls every tau>=0.6 pair on this corpus, exactly as
    * q22-vs-q21 established for the within-corpus variant). */
  private val incrementalPairsSql: String =
    """WITH tkn AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
         sh AS (SELECT doc_id, list_distinct(
                  [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                   FOR i IN range(1, len(ws)-1)]) AS shingles FROM tkn),
         ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s
                FROM sh),
         pairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS co,
                          any_value(a.n) AS na, any_value(b.n) AS nb
                   FROM ex a JOIN ex b ON a.s = b.s
                   WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
                   GROUP BY 1, 2)
         SELECT id1, id2, round(co*1.0/(na+nb-co), 4) AS jaccard FROM pairs
         WHERE co*1.0/(na+nb-co) >= 0.6 ORDER BY 1, 2"""

  private val pipelineFunnelSql: String =
    """WITH tkn AS (SELECT doc_id, text, source, string_split(text,' ') AS ws
                    FROM documents),
       lng AS (SELECT doc_id FROM (
                 SELECT doc_id,
                   CAST(len(list_filter(ws, t -> t IN ('the','a','of','and','to','in'))) AS INTEGER) AS s_en,
                   CAST(len(list_filter(ws, t -> t IN ('der','die','das','und','ist'))) AS INTEGER) AS s_de,
                   CAST(len(list_filter(ws, t -> t IN ('le','la','les','et','est'))) AS INTEGER) AS s_fr,
                   CAST(len(list_filter(ws, t -> t IN ('el','los','las','y','es'))) AS INTEGER) AS s_es
                 FROM tkn)
               WHERE greatest(s_en,s_de,s_fr,s_es) > 0
                 AND s_en = greatest(s_en,s_de,s_fr,s_es)),
       ql AS (SELECT doc_id FROM (
                SELECT doc_id,
                  CAST(floor((len(list_distinct(ws))*1.0/len(ws)*0.5
                    + least(len(ws)/100.0, 1.0)*0.3
                    + len(list_filter(ws, t -> t IN ('the','a','of','and','to','in')))*1.0/len(ws)*0.2)
                    *10000.0 + 0.5) AS BIGINT) AS q
                FROM tkn)
              WHERE q >= 4500),
       pool AS (SELECT t.* FROM tkn t
                JOIN lng USING (doc_id) JOIN ql USING (doc_id)),
       kept AS (SELECT min(doc_id) AS doc_id FROM pool
                GROUP BY array_to_string(list_slice(ws, 1, 8), ' ')),
       surv AS (SELECT p.* FROM pool p JOIN kept USING (doc_id)),
       sh AS (SELECT doc_id, source, ws, list_distinct(
                [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                 FOR i IN range(1, len(ws)-1)]) AS shingles FROM surv),
       ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s
              FROM sh),
       nd AS (SELECT DISTINCT id2 AS doc_id FROM (
                SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS co,
                       any_value(a.n) AS na, any_value(b.n) AS nb
                FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
              WHERE co*1.0/(na+nb-co) >= 0.8),
       fin AS (SELECT * FROM sh WHERE doc_id NOT IN (SELECT doc_id FROM nd))
       SELECT source, count(*) AS n_docs,
              CAST(sum(len(ws)) AS BIGINT) AS sum_tokens
       FROM fin GROUP BY 1 ORDER BY 1"""

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    graft.tools.FuzzConformance.specs
      .map(sp => sp.name -> sp.sql).toMap ++
    graft.tools.FuzzEvalCrawl.specs
      .map(sp => sp.name -> sp.sql).toMap ++
    graft.tools.FuzzTable.specs
      .map(sp => sp.name -> sp.sql).toMap ++ Map(
    "q20_dedup_exact" ->
      """SELECT array_to_string(list_slice(string_split(text,' '), 1, 8), ' ')
           AS dedup_key,
         min(doc_id) AS kept
         FROM documents GROUP BY 1 ORDER BY 2""",
    "q21_jaccard_pairs" -> jaccardPairsSql,
    "q22_minhash_lsh" -> jaccardPairsSql,
    // q21's pair CTEs + the double-round MINSTD split at 0.5/0.5
    // (threshold floor(0.5 * (2^31-1)) = 1073741823)
    "q87_split_leakage" ->
      """WITH tkn AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
         sh AS (SELECT doc_id, list_distinct(
                  [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                   FOR i IN range(1, len(ws)-1)]) AS shingles FROM tkn),
         ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh),
         pairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS co,
                          any_value(a.n) AS na, any_value(b.n) AS nb
                   FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         pr AS (SELECT id1, id2, round(co*1.0/(na+nb-co), 4) AS jaccard
                FROM pairs WHERE co*1.0/(na+nb-co) >= 0.6),
         sp AS (SELECT doc_id,
                  CASE WHEN (((((((doc_id + 1) % 2147483647) + 2147483647)
                       % 2147483647) * 48271) % 2147483647) * 48271)
                       % 2147483647 < 1073741823
                       THEN 'train' ELSE 'heldout' END AS split
                FROM documents)
         SELECT p.id1, p.id2, p.jaccard,
                a.split AS split1, b.split AS split2
         FROM pr p LEFT JOIN sp a ON p.id1 = a.doc_id
                   LEFT JOIN sp b ON p.id2 = b.doc_id
         WHERE a.split IS DISTINCT FROM b.split ORDER BY 1, 2""",

    // SemDeDup: the q51 fixed-point k-means CTEs (k=8, 2 Lloyd
    // iterations, micro-unit centroids) route every vector, then pairs
    // form within clusters only — raw-score threshold, round-6 output.
    "q88_semdedup_pairs" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
             [CAST(floor(x*1000000 + 0.5) AS BIGINT)
              FOR x IN embedding::DOUBLE[]] AS q
           FROM embeddings),
         c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                       q AS cq
                FROM (SELECT * FROM e ORDER BY vec_id LIMIT 8)),
         a1 AS (SELECT e.vec_id, e.q, c.cid,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY round(list_cosine_similarity(e.v,
                      [x/1000000.0 FOR x IN c.cq]), 6) DESC, c.cid) AS rn
                FROM e CROSS JOIN c0 c),
         s1 AS (SELECT cid, d,
                  CAST(floor(sum(q[d])*1.0/count(*)) AS BIGINT) AS m
                FROM (SELECT * FROM a1 WHERE rn = 1), range(1, 65) AS t(d)
                GROUP BY cid, d),
         c1 AS (SELECT c0.cid, coalesce(l.mq, c0.cq) AS cq
                FROM c0 LEFT JOIN (SELECT cid, list(m ORDER BY d) AS mq
                                   FROM s1 GROUP BY cid) l USING (cid)),
         a2 AS (SELECT e.vec_id, e.q, c.cid,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY round(list_cosine_similarity(e.v,
                      [x/1000000.0 FOR x IN c.cq]), 6) DESC, c.cid) AS rn
                FROM e CROSS JOIN c1 c),
         s2 AS (SELECT cid, d,
                  CAST(floor(sum(q[d])*1.0/count(*)) AS BIGINT) AS m
                FROM (SELECT * FROM a2 WHERE rn = 1), range(1, 65) AS t(d)
                GROUP BY cid, d),
         c2 AS (SELECT c1.cid, coalesce(l.mq, c1.cq) AS cq
                FROM c1 LEFT JOIN (SELECT cid, list(m ORDER BY d) AS mq
                                   FROM s2 GROUP BY cid) l USING (cid)),
         ac AS (SELECT e.vec_id, e.v, c.cid,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY round(list_cosine_similarity(e.v,
                      [x/1000000.0 FOR x IN c.cq]), 6) DESC, c.cid) AS rn
                FROM e CROSS JOIN c2 c),
         asg AS (SELECT vec_id, v, cid FROM ac WHERE rn = 1)
         SELECT a.vec_id AS id1, b.vec_id AS id2,
                round(list_cosine_similarity(a.v, b.v), 6) AS cos
         FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.v, b.v) >= 0.4
         ORDER BY 1, 2""",

    // Length-bucketed batching: width-32 buckets, 16-doc batches; the
    // oracle's per-bucket window rank equals the engine's re-based
    // distributed prefix sum over the same (bucket, doc_id) order.
    "q89_length_batches" ->
      """WITH d AS (SELECT doc_id, len(string_split(text, ' ')) AS n
                    FROM documents
                    WHERE len(string_split(text, ' ')) > 0),
         b AS (SELECT doc_id, n, ((n + 31) // 32) * 32 AS bucket FROM d),
         r AS (SELECT doc_id, n, bucket,
                 row_number() OVER (PARTITION BY bucket
                                    ORDER BY doc_id) - 1 AS rk
               FROM b)
         SELECT bucket, rk // 16 AS batch, rk % 16 AS slot,
                doc_id, n AS n_tok, bucket - n AS pad
         FROM r ORDER BY bucket, batch, slot""",

    // Deterministic shuffle shards: MINSTD hash order (q73's formula,
    // seed 0) + round-robin deal into 8 shards.
    "q90_shuffle_shards" ->
      """WITH h AS (SELECT doc_id,
           (((((((doc_id + 1) % 2147483647) + 2147483647) % 2147483647)
              * 48271) % 2147483647) * 48271) % 2147483647 AS hv
         FROM documents),
         r AS (SELECT doc_id,
                 row_number() OVER (ORDER BY hv, doc_id) - 1 AS pos
               FROM h)
         SELECT doc_id, pos % 8 AS shard, pos // 8 AS pos_in_shard
         FROM r ORDER BY doc_id""",

    // Top-fraction curation: q26's quality formula, per-source rank
    // (score desc, id asc), keep floor(0.25 * n) rows per source.
    "q91_top_fraction" ->
      """WITH tkn AS (SELECT doc_id, source, text,
                        string_split(text,' ') AS ws FROM documents),
         q AS (SELECT doc_id, source,
                 CAST(floor((len(list_distinct(ws))*1.0/len(ws)*0.5 +
                   least(len(ws)/100.0, 1.0)*0.3 +
                   len(list_filter(ws, t -> t IN
                     ('the','a','of','and','to','in')))*1.0/len(ws)*0.2)
                   *10000.0 + 0.5) AS BIGINT) AS quality_x1e4
               FROM tkn),
         r AS (SELECT doc_id, source, quality_x1e4,
                 row_number() OVER (PARTITION BY source
                   ORDER BY quality_x1e4 DESC, doc_id) AS rn,
                 count(*) OVER (PARTITION BY source) AS n
               FROM q)
         SELECT doc_id, source, quality_x1e4
         FROM r WHERE rn <= floor(n * 0.25) ORDER BY doc_id""",

    // Duplicate spans: q81's chunk construction at window=stride=20,
    // q27's rolling-fingerprint fold per span, keep-first by
    // (doc_id, chunk_id), cut rows for later occurrences.
    "q93_duplicate_spans" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents),
         s AS (SELECT doc_id, ws, len(ws) AS n FROM w),
         st AS (SELECT doc_id, ws, n,
                  CASE WHEN n <= 20 THEN [0]
                       ELSE list_transform(
                         range(0, (n - 20 + 19) // 20 + 1), i -> i * 20)
                  END AS starts
                FROM s),
         e AS (SELECT doc_id, ws, n, u.cid AS chunk_id, u.st AS start
               FROM st, unnest(list_transform(
                 range(1, len(starts) + 1),
                 i -> {'cid': i - 1, 'st': starts[i]})) AS t(u)),
         c AS (SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
                 least(20, n - start) AS ctok,
                 list_reduce(list_prepend(CAST(7 AS BIGINT),
                   [CAST(31*length(t) + ascii(substr(t,1,1)) AS BIGINT)
                    FOR t IN list_slice(ws, start + 1, start + 20)]),
                   (acc, x) -> (acc*31 + x) % 2147483647) AS fp
               FROM e),
         r AS (SELECT doc_id, chunk_id, ctok, fp,
                 row_number() OVER (PARTITION BY fp
                   ORDER BY doc_id, chunk_id) AS rn,
                 count(*) OVER (PARTITION BY fp) AS cnt
               FROM c)
         SELECT doc_id, chunk_id,
           CAST(chunk_id AS BIGINT) * 20 AS tok_from,
           CAST(chunk_id AS BIGINT) * 20 + ctok AS tok_to
         FROM r WHERE cnt > 1 AND rn > 1 ORDER BY doc_id, chunk_id""",

    // Span-dedup rewrite: q93's keep-first spans, reassembled in chunk
    // order per doc; docs reduced to nothing (or null text) come back "".
    "q94_dedup_spans" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents),
         s AS (SELECT doc_id, ws, len(ws) AS n FROM w),
         st AS (SELECT doc_id, ws, n,
                  CASE WHEN n <= 20 THEN [0]
                       ELSE list_transform(
                         range(0, (n - 20 + 19) // 20 + 1), i -> i * 20)
                  END AS starts
                FROM s),
         e AS (SELECT doc_id, ws, n, u.cid AS chunk_id, u.st AS start
               FROM st, unnest(list_transform(
                 range(1, len(starts) + 1),
                 i -> {'cid': i - 1, 'st': starts[i]})) AS t(u)),
         c AS (SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
                 array_to_string(
                   list_slice(ws, start + 1, start + 20), ' ') AS ctext,
                 list_reduce(list_prepend(CAST(7 AS BIGINT),
                   [CAST(31*length(t) + ascii(substr(t,1,1)) AS BIGINT)
                    FOR t IN list_slice(ws, start + 1, start + 20)]),
                   (acc, x) -> (acc*31 + x) % 2147483647) AS fp
               FROM e),
         r AS (SELECT doc_id, chunk_id, ctext, fp,
                 row_number() OVER (PARTITION BY fp
                   ORDER BY doc_id, chunk_id) AS rn,
                 count(*) OVER (PARTITION BY fp) AS cnt
               FROM c),
         g AS (SELECT doc_id,
                 string_agg(ctext, ' ' ORDER BY chunk_id)
                   AS text_deduped
               FROM r WHERE NOT (cnt > 1 AND rn > 1)
               GROUP BY doc_id)
         SELECT d.doc_id, coalesce(g.text_deduped, '') AS text_deduped
         FROM documents d LEFT JOIN g USING (doc_id)
         ORDER BY d.doc_id""",

    // Keep-best cluster policy: same components as q56/q57, survivor =
    // argmax(n_chars) per component (ties -> min doc_id); docs outside
    // any component are their own singleton and always survive.
    "q95_cluster_best" ->
      (dedupGroupsSql + """
       SELECT doc_id, source FROM (
         SELECT d.doc_id, d.source,
           row_number() OVER (PARTITION BY coalesce(c.comp, d.doc_id)
             ORDER BY d.n_chars DESC, d.doc_id) AS rn
         FROM documents d LEFT JOIN comp c ON d.doc_id = c.id)
       WHERE rn = 1 ORDER BY doc_id"""),

    // BPE iteration-0 pair counts over the word-frequency table.
    "q105_bpe_pairs" ->
      """WITH w AS (SELECT tok AS word, count(*) AS cnt
                    FROM (SELECT unnest(string_split(text, ' ')) AS tok
                          FROM documents)
                    WHERE tok != '' GROUP BY 1),
         p AS (SELECT unnest([substring(word, i, 2)
                              FOR i IN range(1, length(word))]) AS pair,
                      cnt
               FROM w WHERE length(word) >= 2)
         SELECT pair, CAST(sum(cnt) AS BIGINT) AS pair_count
         FROM p GROUP BY 1
         ORDER BY pair_count DESC, pair LIMIT 50""",

    // Bigram NLL: same smoothed model replayed relationally. The
    // bigram key is "w1 w2" (tokens are space-split, no collision).
    "q169_pmi_collocations" ->
      """WITH t AS (SELECT doc_id,
             [x FOR x IN string_split(text, ' ') IF x <> ''] AS ts
           FROM documents),
         b AS (SELECT unnest([ts[i] || ' ' || ts[i+1]
                              FOR i IN range(1, len(ts))]) AS bg
               FROM t WHERE len(ts) >= 2),
         bc AS (SELECT bg, count(*) AS c12 FROM b GROUP BY 1),
         c1 AS (SELECT string_split(bg, ' ')[1] AS w1,
                  CAST(sum(c12) AS BIGINT) AS c1 FROM bc GROUP BY 1),
         c2 AS (SELECT string_split(bg, ' ')[2] AS w2,
                  CAST(sum(c12) AS BIGINT) AS c2 FROM bc GROUP BY 1),
         nn AS (SELECT CAST(sum(c12) AS BIGINT) AS n FROM bc)
         SELECT bg, c12,
           CAST(floor(ln((c12 * n) * 1.0 / (c1 * c2)) * 1000000.0 + 0.5)
                AS BIGINT) AS pmi_fp
         FROM bc JOIN c1 ON string_split(bc.bg, ' ')[1] = c1.w1
                 JOIN c2 ON string_split(bc.bg, ' ')[2] = c2.w2
                 CROSS JOIN nn
         WHERE c12 >= 5
         ORDER BY pmi_fp DESC, bg LIMIT 50""",

    "q203_nb_crossval" -> nbCrossvalSql(5),

    // Join-size estimate: both grids rebuilt with the q171 hash
    // arithmetic at width 64, row inner products, min; exact beside.
    "q232_join_size_est" ->
      """WITH occ AS (SELECT lang, CAST(substr(source, 4) AS INT) % 2
                        AS par, tok
                      FROM (SELECT lang, source,
                              unnest(string_split(text, ' ')) AS tok
                            FROM documents) WHERE tok <> ''),
         tca AS (SELECT lang, tok, count(*) AS cnt FROM occ
                 WHERE par = 0 GROUP BY 1, 2),
         tcb AS (SELECT lang, tok, count(*) AS cnt FROM occ
                 WHERE par = 1 GROUP BY 1, 2),
         vh AS (SELECT tok,
                  list_reduce(list_prepend(CAST(7 AS BIGINT),
                      [CAST(ascii(substring(tok, i, 1)) AS BIGINT)
                       FOR i IN range(1, length(tok) + 1)]),
                    (a, c) -> (a * 31 + c) % 2147483647) AS h1,
                  list_reduce(list_prepend(CAST(11 AS BIGINT),
                      [CAST(ascii(substring(tok, i, 1)) AS BIGINT)
                       FOR i IN range(1, length(tok) + 1)]),
                    (a, c) -> (a * 31 + c) % 2147483647) AS h2
                FROM (SELECT DISTINCT tok FROM occ)),
         rows_ AS (SELECT unnest([0, 1, 2]) AS row),
         ga AS (SELECT lang, row,
                  CAST((h1 + row * h2) % 2147483647 % 64 AS INTEGER)
                    AS bucket,
                  CAST(sum(cnt) AS BIGINT) AS c
                FROM tca JOIN vh USING (tok) CROSS JOIN rows_
                GROUP BY 1, 2, 3),
         gb AS (SELECT lang, row,
                  CAST((h1 + row * h2) % 2147483647 % 64 AS INTEGER)
                    AS bucket,
                  CAST(sum(cnt) AS BIGINT) AS c
                FROM tcb JOIN vh USING (tok) CROSS JOIN rows_
                GROUP BY 1, 2, 3),
         ip AS (SELECT ga.lang, ga.row,
                  CAST(sum(ga.c * gb.c) AS BIGINT) AS ip
                FROM ga JOIN gb ON ga.lang = gb.lang
                  AND ga.row = gb.row AND ga.bucket = gb.bucket
                GROUP BY 1, 2),
         est AS (SELECT lang, CAST(min(ip) AS BIGINT) AS est
                 FROM ip GROUP BY 1),
         ex AS (SELECT tca.lang,
                  CAST(sum(tca.cnt * tcb.cnt) AS BIGINT) AS exact
                FROM tca JOIN tcb ON tca.lang = tcb.lang
                  AND tca.tok = tcb.tok
                GROUP BY 1)
         SELECT est.lang, est.est, ex.exact
         FROM est JOIN ex ON est.lang = ex.lang
         ORDER BY est.lang""",

    // Trimmed mean: q167's rank CTEs, drop outside (lo, hi], exact
    // sums, one shared float ratio.
    "q233_trimmed_mean" ->
      """WITH b AS (SELECT o_orderkey AS id, o_orderpriority AS g,
                 CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
               FROM orders),
         r AS (SELECT id, g, v,
                 count(*) OVER (PARTITION BY g) AS n,
                 row_number() OVER (PARTITION BY g ORDER BY v, id)
                   AS rn
               FROM b),
         k AS (SELECT g, v FROM r
               WHERE rn > (50 * n) // 1000 AND rn <= (950 * n) // 1000)
         SELECT g AS o_orderpriority, count(*) AS n_kept,
           CAST(sum(v) AS BIGINT) AS sum_kept,
           CAST(floor(CAST(sum(v) AS DOUBLE)
                      / CAST(count(*) AS DOUBLE)
                      * 1000000.0 + 0.5) AS BIGINT) AS mean_fp
         FROM k GROUP BY 1 ORDER BY 1""",

    // Prefix filtering is exact, so the oracle is the plain full
    // inverted-index word-jaccard join — no prefix logic to replay.
    // Same cross-multiplied integer threshold (19/20), same one shared
    // rounded float.
    "q242_prefix_filter_pairs" ->
      """WITH tkn AS (SELECT doc_id,
                 list_distinct([x FOR x IN string_split(text, ' ')
                                IF x <> '']) AS ws
               FROM documents),
         ex AS (SELECT doc_id, len(ws) AS n, unnest(ws) AS tk
                FROM tkn WHERE len(ws) > 0),
         pairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
                          count(*) AS co,
                          any_value(a.n) AS na, any_value(b.n) AS nb
                   FROM ex a JOIN ex b
                     ON a.tk = b.tk AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
         SELECT id1, id2, round(co*1.0/(na+nb-co), 4) AS jaccard
         FROM pairs WHERE 20*co >= 19*(na+nb-co) ORDER BY 1, 2""",

    // Golden record: name-rep graph + recursive-CTE closure (the q56
    // pattern), then the identical survivorship aggregates.
    "q243_golden_record" ->
      """WITH RECURSIVE
         names AS (SELECT p_name AS name, min(p_partkey) AS rep
                   FROM part GROUP BY 1),
         pr AS (SELECT a.rep AS r1, b.rep AS r2
                FROM names a JOIN names b
                  ON a.name < b.name
                 AND levenshtein(a.name, b.name) <= 2),
         e AS (SELECT r1 AS a, r2 AS b FROM pr
               UNION SELECT r2, r1 FROM pr),
         reach(a, b) AS (
           SELECT DISTINCT a, a FROM e
           UNION
           SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
         comp AS (SELECT a AS id, min(b) AS comp FROM reach GROUP BY 1),
         ent AS (SELECT p.p_name, p.p_retailprice, p.p_size,
                   coalesce(c.comp, n.rep) AS entity
                 FROM part p JOIN names n ON p.p_name = n.name
                   LEFT JOIN comp c ON n.rep = c.id)
         SELECT entity, count(*) AS n_members,
           count(DISTINCT p_name) AS n_variants,
           min(p_name) AS canonical_name,
           CAST(sum(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS price_cents,
           max(p_size) AS max_size
         FROM ent GROUP BY 1 ORDER BY 1""",

    // Triangles: the oracle skips the degree orientation (a pure
    // performance device — the enumerated set is identical) and lists
    // each a<b<c triangle once via the canonical 3-way edge join.
    "q244_triangles" ->
      """WITH m AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                    FROM lineitem),
         e AS (SELECT DISTINCT a.p AS u, b.p AS v
               FROM m a JOIN m b ON a.o = b.o AND a.p < b.p),
         tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
                 FROM e e1
                   JOIN e e2 ON e2.u = e1.v
                   JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
         corners AS (SELECT a AS id FROM tri
                     UNION ALL SELECT b FROM tri
                     UNION ALL SELECT c FROM tri)
         SELECT id AS part_id, count(*) AS n_tri
         FROM corners GROUP BY 1
         ORDER BY n_tri DESC, part_id LIMIT 50""",

    // Session overlap: q31's sessionization CTE builds the intervals;
    // the oracle then joins them with the plain overlap theta predicate
    // (bucket decomposition is a pure performance device).
    "q245_session_overlap" ->
      """WITH x AS (SELECT user_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                      IS NULL THEN 1
                  WHEN CAST(floor(epoch(ts)) AS BIGINT) -
                       CAST(floor(epoch(lag(ts) OVER
                         (PARTITION BY user_id ORDER BY ts))) AS BIGINT)
                       > 1800 THEN 1
                  ELSE 0 END AS ns
             FROM events WHERE ts IS NOT NULL),
         y AS (SELECT user_id, ts,
                 CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
               FROM x),
         iv AS (SELECT user_id * 100000 + session_id AS sid,
                  CAST(floor(epoch(min(ts))) AS BIGINT) AS s,
                  CAST(floor(epoch(max(ts))) AS BIGINT) AS e
                FROM y GROUP BY user_id, session_id)
         SELECT a.sid AS id1, b.sid AS id2,
                least(a.e, b.e) - greatest(a.s, b.s) AS overlap_secs
         FROM iv a JOIN iv b
           ON a.sid < b.sid AND a.s <= b.e AND b.s <= a.e
         ORDER BY 1, 2""",

    // arithmetic replay of the synthesized PCM (the oracle never sees
    // the WAV bytes — agreement proves encode→decode round-trips them)
    "q246_wav_decode" ->
      """WITH s AS (SELECT doc_id, 20 + (doc_id % 50) AS n FROM documents),
         e AS (SELECT doc_id, n,
                 [abs(((doc_id + 1) * 7919 + i * 104729) % 65521 - 32760)
                  FOR i IN range(n)] AS a
               FROM s)
         SELECT doc_id, CAST(8000 AS INTEGER) AS sample_rate,
           CAST(1 AS INTEGER) AS channels, CAST(16 AS INTEGER) AS bits,
           CAST(n AS BIGINT) AS n_samples,
           CAST(list_sum(a) AS BIGINT) AS sum_abs,
           CAST(list_max(a) AS BIGINT) AS peak
         FROM e ORDER BY doc_id""",

    // the oracle computes symdiff <= 1 pairs directly (all-pairs is
    // fine at oracle scale; the Spark plan is the blocked one)
    "q247_deletion_neighbors" ->
      """WITH tkn AS (SELECT doc_id,
                 list_sort(list_distinct(
                   [x FOR x IN string_split(text, ' ') IF x <> ''])) AS ws
               FROM documents),
         s AS (SELECT doc_id, ws, len(ws) AS n FROM tkn WHERE len(ws) > 0)
         SELECT a.doc_id AS id1, b.doc_id AS id2,
           CAST(a.n + b.n - 2 * len(list_intersect(a.ws, b.ws))
                AS INTEGER) AS symdiff
         FROM s a JOIN s b ON a.doc_id < b.doc_id
         WHERE a.n + b.n - 2 * len(list_intersect(a.ws, b.ws)) <= 1
         ORDER BY 1, 2""",

    // pixel-arithmetic replay; x = i mod w, y = i div w over range(w*h)
    "q248_bmp_decode" ->
      """WITH s AS (SELECT doc_id, 8 + doc_id % 9 AS w,
                      5 + doc_id % 7 AS h FROM documents),
         e AS (SELECT doc_id, w, h,
           [(doc_id*3 + (i % w)*7 + (i // w)*11) % 256
              FOR i IN range(w*h)] AS rs,
           [(doc_id*5 + (i % w)*13 + (i // w)*3) % 256
              FOR i IN range(w*h)] AS gs,
           [(doc_id*7 + (i % w) + (i // w)*17) % 256
              FOR i IN range(w*h)] AS bs
         FROM s)
         SELECT doc_id, CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(list_sum(rs) AS BIGINT) AS sum_r,
           CAST(list_sum(gs) AS BIGINT) AS sum_g,
           CAST(list_sum(bs) AS BIGINT) AS sum_b,
           CAST((doc_id*3 % 256) * 65536 + (doc_id*5 % 256) * 256 +
                (doc_id*7 % 256) AS BIGINT) AS first_px
         FROM e ORDER BY doc_id""",

    // identical pixel-arithmetic replay to q248: the PNG encode→decode
    // round trip (all five filters across the corpus) must be lossless
    "q415_png_decode" ->
      """WITH s AS (SELECT doc_id, 8 + doc_id % 9 AS w,
                      5 + doc_id % 7 AS h FROM documents),
         e AS (SELECT doc_id, w, h,
           [(doc_id*3 + (i % w)*7 + (i // w)*11) % 256
              FOR i IN range(w*h)] AS rs,
           [(doc_id*5 + (i % w)*13 + (i // w)*3) % 256
              FOR i IN range(w*h)] AS gs,
           [(doc_id*7 + (i % w) + (i // w)*17) % 256
              FOR i IN range(w*h)] AS bs
         FROM s)
         SELECT doc_id, CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(list_sum(rs) AS BIGINT) AS sum_r,
           CAST(list_sum(gs) AS BIGINT) AS sum_g,
           CAST(list_sum(bs) AS BIGINT) AS sum_b,
           CAST((doc_id*3 % 256) * 65536 + (doc_id*5 % 256) * 256 +
                (doc_id*7 % 256) AS BIGINT) AS first_px
         FROM e ORDER BY doc_id""",

    // mosaic-cell replay: luma depends only on (x div 8, y div 8), so
    // the lossy JPEG round trip is exact (DC-only blocks, flat quant)
    "q416_jpeg_decode" ->
      """WITH s AS (SELECT doc_id, 9 + doc_id % 17 AS w,
                      6 + doc_id % 11 AS h FROM documents),
         e AS (SELECT doc_id, w, h,
           [(doc_id*31 + ((i % w) // 8)*7 + ((i // w) // 8)*13) % 256
              FOR i IN range(w*h)] AS ys
           FROM s)
         SELECT doc_id, CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(list_sum(ys) AS BIGINT) AS sum_y,
           CAST(doc_id*31 % 256 AS BIGINT) AS first_px
         FROM e ORDER BY doc_id""",

    // q417's cell replay at 16x16 cells (the 4:2:0 exactness grain)
    "q418_jpeg_420" ->
      """WITH s AS (SELECT doc_id, 17 + doc_id % 18 AS w,
                      10 + doc_id % 14 AS h FROM documents),
         cells AS (SELECT doc_id, w, h,
             unnest([{'cx': i % ((w+15)//16), 'cy': i // ((w+15)//16)}
                     FOR i IN range(((w+15)//16) * ((h+15)//16))]) AS c
           FROM s),
         v AS (SELECT doc_id, w, h, c.cx AS cx, c.cy AS cy,
             (doc_id*3 + c.cx*7 + c.cy*11) % 256 AS r0,
             (doc_id*5 + c.cx*13 + c.cy*3) % 256 AS g0,
             (doc_id*7 + c.cx + c.cy*17) % 256 AS b0,
             least(16, w - c.cx*16) AS cw,
             least(16, h - c.cy*16) AS ch
           FROM cells),
         ycc AS (SELECT *,
             greatest(0, least(255, CAST(floor(
               (299000*r0 + 587000*g0 + 114000*b0 + 500000)
                 / 1000000.0) AS BIGINT))) AS yy,
             greatest(0, least(255, CAST(floor(
               (-168736*r0 - 331264*g0 + 500000*b0 + 128000000
                + 500000) / 1000000.0) AS BIGINT))) AS cb,
             greatest(0, least(255, CAST(floor(
               (500000*r0 - 418688*g0 - 81312*b0 + 128000000
                + 500000) / 1000000.0) AS BIGINT))) AS cr
           FROM v),
         rgb AS (SELECT *,
             greatest(0, least(255, CAST(floor(
               (1000000*yy + 1402000*(cr-128) + 500000)
                 / 1000000.0) AS BIGINT))) AS r1,
             greatest(0, least(255, CAST(floor(
               (1000000*yy - 344136*(cb-128) - 714136*(cr-128)
                + 500000) / 1000000.0) AS BIGINT))) AS g1,
             greatest(0, least(255, CAST(floor(
               (1000000*yy + 1772000*(cb-128) + 500000)
                 / 1000000.0) AS BIGINT))) AS b1
           FROM ycc)
         SELECT doc_id, CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(sum(r1*cw*ch) AS BIGINT) AS sum_r,
           CAST(sum(g1*cw*ch) AS BIGINT) AS sum_g,
           CAST(sum(b1*cw*ch) AS BIGINT) AS sum_b,
           CAST(max(CASE WHEN cx = 0 AND cy = 0
                THEN r1*65536 + g1*256 + b1 END) AS BIGINT) AS first_px
         FROM rgb GROUP BY doc_id, w, h ORDER BY doc_id""",

    // full PQ replay, all-integer until two float steps (the ADC
    // cosine's one division and the final exact cosine): seed
    // codebooks from the first 8 vectors' subvector slices, one
    // integer-L2 Lloyd update (floor-div means, empty codes keep
    // their seed), re-encode, ADC cosine = summed integer dot-table
    // lookups over exact integer norms, shortlist (s8 desc, nbr asc,
    // top 20), exact-cosine re-rank top 5
    "q419_ann_pq" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
             [CAST(floor(x*1000000 + 0.5) AS BIGINT)
              FOR x IN embedding::DOUBLE[]] AS q
           FROM embeddings),
         seed AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, q
                  FROM (SELECT * FROM e ORDER BY vec_id LIMIT 8)),
         c0 AS (SELECT t.j, s.cid, t2.d, s.q[t.j*8 + t2.d + 1] AS cv
                FROM seed s, range(0,8) t(j), range(0,8) t2(d)),
         d1 AS (SELECT e.vec_id, c.j, c.cid,
                  sum((e.q[c.j*8 + c.d + 1] - c.cv)
                    * (e.q[c.j*8 + c.d + 1] - c.cv)) AS dist
                FROM e CROSS JOIN c0 c GROUP BY e.vec_id, c.j, c.cid),
         a1 AS (SELECT vec_id, j, cid,
                  row_number() OVER (PARTITION BY vec_id, j
                    ORDER BY dist, cid) AS rn
                FROM d1),
         s1 AS (SELECT a1.j, a1.cid, t2.d,
                  CAST(floor(sum(e.q[a1.j*8 + t2.d + 1])*1.0/count(*))
                    AS BIGINT) AS mv
                FROM a1 JOIN e USING (vec_id), range(0,8) t2(d)
                WHERE a1.rn = 1
                GROUP BY a1.j, a1.cid, t2.d),
         c1 AS (SELECT c0.j, c0.cid, c0.d, coalesce(s1.mv, c0.cv) AS cv
                FROM c0 LEFT JOIN s1 ON s1.j = c0.j AND s1.cid = c0.cid
                                    AND s1.d = c0.d),
         d2 AS (SELECT e.vec_id, c.j, c.cid,
                  sum((e.q[c.j*8 + c.d + 1] - c.cv)
                    * (e.q[c.j*8 + c.d + 1] - c.cv)) AS dist
                FROM e CROSS JOIN c1 c GROUP BY e.vec_id, c.j, c.cid),
         enc AS (SELECT vec_id AS nbr, j, cid AS code
                 FROM (SELECT vec_id, j, cid,
                        row_number() OVER (PARTITION BY vec_id, j
                          ORDER BY dist, cid) AS rn
                       FROM d2) WHERE rn = 1),
         cbn2 AS (SELECT j, cid, sum(cv*cv) AS n2
                  FROM c1 GROUP BY j, cid),
         cn2 AS (SELECT n.nbr, sum(b.n2) AS cn2
                 FROM enc n JOIN cbn2 b ON b.j = n.j AND b.cid = n.code
                 GROUP BY n.nbr),
         qn2 AS (SELECT vec_id AS qid,
                   (SELECT sum(x*x) FROM unnest(q) t(x)) AS qn2
                 FROM e WHERE vec_id < 10),
         dt AS (SELECT e.vec_id, c.j, c.cid,
                  sum(e.q[c.j*8 + c.d + 1] * c.cv) AS dp
                FROM e CROSS JOIN c1 c
                WHERE e.vec_id < 10
                GROUP BY e.vec_id, c.j, c.cid),
         ad AS (SELECT d.vec_id AS qid, n.nbr, sum(d.dp) AS adot
                FROM dt d JOIN enc n ON n.j = d.j AND n.code = d.cid
                WHERE n.nbr != d.vec_id
                GROUP BY d.vec_id, n.nbr),
         s8 AS (SELECT a.qid, a.nbr,
                  CASE WHEN q.qn2 = 0 OR c.cn2 = 0 THEN 0.0
                       ELSE round((a.adot*1.0) /
                         (sqrt(q.qn2*1.0) * sqrt(c.cn2*1.0)), 6)
                  END AS s8
                FROM ad a JOIN qn2 q USING (qid)
                          JOIN cn2 c USING (nbr)),
         short AS (SELECT qid, nbr FROM (SELECT qid, nbr,
                     row_number() OVER (PARTITION BY qid
                       ORDER BY s8 DESC, nbr) AS rn
                   FROM s8) WHERE rn <= 20),
         sc AS (SELECT s.qid, s.nbr,
                  round(list_cosine_similarity(eq.v, en.v), 6) AS score
                FROM short s JOIN e eq ON eq.vec_id = s.qid
                             JOIN e en ON en.vec_id = s.nbr),
         r AS (SELECT qid, nbr, score,
                 CAST(row_number() OVER (PARTITION BY qid
                   ORDER BY score DESC, nbr) AS INTEGER) AS rank
               FROM sc)
         SELECT qid, nbr, score, rank FROM r WHERE rank <= 5
         ORDER BY qid, rank""",

    // identical KMV sketches rebuilt with ORDER BY hash LIMIT k per
    // cohort (polyHash62 scattered by the double-round MINSTD
    // permutation — the engine's uniformizer for short keys), then
    // the same multiply/divide/floor doubles (all numerators exact
    // in double, identical IEEE op order): est = floor((k-1)·M /
    // h_(k)) saturated, exact size otherwise; intersection/
    // difference scale sub-theta sample counts by M/theta
    "q420_theta_sketch" ->
      """WITH h0 AS (SELECT o_orderpriority AS g,
             o_orderdate < DATE '1998-01-01' AS pre,
             list_reduce(list_prepend(CAST(7 AS BIGINT),
                 [CAST(ascii(substring(CAST(o_custkey AS VARCHAR), i, 1))
                   AS BIGINT)
                  FOR i IN range(1, length(CAST(o_custkey AS VARCHAR)) + 1)]),
               (a, c) -> (a * 31 + c) % 2147483647) * 2147483648
             + list_reduce(list_prepend(CAST(11 AS BIGINT),
                 [CAST(ascii(substring(CAST(o_custkey AS VARCHAR), i, 1))
                   AS BIGINT)
                  FOR i IN range(1, length(CAST(o_custkey AS VARCHAR)) + 1)]),
               (a, c) -> (a * 37 + c) % 2147483629) AS h62
           FROM orders),
         h AS (SELECT g, pre,
             (((((h62 + 1) % 2147483647) + 2147483647) % 2147483647
               * 48271) % 2147483647 * 48271) % 2147483647 AS hv
           FROM h0),
         da AS (SELECT DISTINCT g, hv FROM h WHERE pre),
         db AS (SELECT DISTINCT g, hv FROM h WHERE NOT pre),
         ka AS (SELECT g, list(hv ORDER BY hv) AS ks
                FROM (SELECT g, hv, row_number() OVER
                        (PARTITION BY g ORDER BY hv) AS rn FROM da)
                WHERE rn <= 64 GROUP BY g),
         kb AS (SELECT g, list(hv ORDER BY hv) AS ks
                FROM (SELECT g, hv, row_number() OVER
                        (PARTITION BY g ORDER BY hv) AS rn FROM db)
                WHERE rn <= 64 GROUP BY g),
         j AS (SELECT coalesce(ka.g, kb.g) AS g,
                 coalesce(ka.ks, []) AS la, coalesce(kb.ks, []) AS lb
               FROM ka FULL OUTER JOIN kb ON ka.g = kb.g),
         u AS (SELECT g, la, lb,
                 list_sort(list_distinct(la || lb))[1:64] AS lu,
                 least(CASE WHEN len(la) < 64
                        THEN 2147483647 ELSE la[64] END,
                       CASE WHEN len(lb) < 64
                        THEN 2147483647 ELSE lb[64] END)
                   AS theta
               FROM j),
         est AS (SELECT g,
                 CASE WHEN len(la) < 64 THEN CAST(len(la) AS BIGINT)
                  ELSE CAST(floor(135291469761.0 / la[64]) AS BIGINT)
                 END AS ea,
                 CASE WHEN len(lb) < 64 THEN CAST(len(lb) AS BIGINT)
                  ELSE CAST(floor(135291469761.0 / lb[64]) AS BIGINT)
                 END AS eb,
                 CASE WHEN len(lu) < 64 THEN CAST(len(lu) AS BIGINT)
                  ELSE CAST(floor(135291469761.0 / lu[64]) AS BIGINT)
                 END AS eu,
                 CAST(floor(len([x FOR x IN la
                           IF list_contains(lb, x) AND x < theta])
                   * 2147483647.0 / theta) AS BIGINT) AS ei,
                 CAST(floor(len([x FOR x IN la
                           IF NOT list_contains(lb, x) AND x < theta])
                   * 2147483647.0 / theta) AS BIGINT) AS ed
               FROM u)
         SELECT g AS o_orderpriority, ea AS est_a,
           eb AS est_b, eu AS est_union,
           ei AS est_intersect,
           ed AS est_diff
         FROM est ORDER BY o_orderpriority""",

    // wedge enumeration at the shared-neighbor apex, integer RA
    // (1000000 // deg), NOT EXISTS against the edge list, the same
    // (ra desc, cn desc, x, y) total order
    "q421_link_prediction" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
             FROM lineitem WHERE l_quantity >= 25),
         e AS (SELECT DISTINCT least(a.p, b.p) AS u,
                 greatest(a.p, b.p) AS v
               FROM li a JOIN li b ON a.o = b.o AND a.p <> b.p),
         adj AS (SELECT u AS w, v AS x FROM e
                 UNION ALL SELECT v, u FROM e),
         d AS (SELECT w, count(*) AS dg FROM adj GROUP BY w),
         cap AS (SELECT adj.w, adj.x, 1000000 // d.dg AS ra_w
                 FROM adj JOIN d USING (w) WHERE d.dg <= 64),
         wg AS (SELECT a.x AS u, b.x AS v, a.ra_w
                FROM cap a JOIN cap b ON a.w = b.w AND a.x < b.x),
         nw AS (SELECT u, v, count(*) AS cn, sum(ra_w) AS ra_ppm
                FROM wg WHERE NOT EXISTS (SELECT 1 FROM e
                  WHERE e.u = wg.u AND e.v = wg.v)
                GROUP BY u, v)
         SELECT u AS x, v AS y, CAST(cn AS BIGINT) AS cn,
           CAST(ra_ppm AS BIGINT) AS ra_ppm
         FROM nw ORDER BY ra_ppm DESC, cn DESC, x, y LIMIT 40""",

    // lossless palette replay: index (id*3 + x*7 + y*11) % 256 through
    // the global-palette formulas (r=i, g=(i*7+3)%256, b=(i*13+5)%256)
    "q422_gif_decode" ->
      """WITH s AS (SELECT doc_id, 7 + doc_id % 12 AS w,
                      5 + doc_id % 9 AS h FROM documents),
         cells AS (SELECT doc_id, w, h,
             unnest([i FOR i IN range(w*h)]) AS p
           FROM s),
         rgb AS (SELECT doc_id, w, h, p,
             i AS r, (i*7 + 3) % 256 AS g, (i*13 + 5) % 256 AS b
           FROM (SELECT doc_id, w, h, p,
                   (doc_id*3 + (p % w)*7 + (p // w)*11) % 256 AS i
                 FROM cells))
         SELECT doc_id, CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(sum(r) AS BIGINT) AS sum_r,
           CAST(sum(g) AS BIGINT) AS sum_g,
           CAST(sum(b) AS BIGINT) AS sum_b,
           CAST(max(CASE WHEN p = 0 THEN r*65536 + g*256 + b END)
             AS BIGINT) AS first_px
         FROM rgb GROUP BY doc_id, w, h ORDER BY doc_id""",

    // recursive-CTE BFS from the same 8 seeds (UNION dedups the
    // (id, seed, d) triples so the recursion is layer-bounded),
    // min-hop per pair, then the same integer reductions
    "q428_closeness" ->
      """WITH RECURSIVE
         li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
             FROM lineitem WHERE l_quantity >= 25),
         e AS (SELECT DISTINCT least(a.p, b.p) AS u,
                 greatest(a.p, b.p) AS v
               FROM li a JOIN li b ON a.o = b.o AND a.p <> b.p),
         adj AS (SELECT u AS a, v AS b FROM e
                 UNION ALL SELECT v, u FROM e),
         seeds AS (SELECT DISTINCT a AS id FROM adj ORDER BY id LIMIT 8),
         bfs AS (
           SELECT id, id AS seed, 0 AS d FROM seeds
           UNION
           SELECT adj.b, bfs.seed, bfs.d + 1
           FROM bfs JOIN adj ON adj.a = bfs.id
           WHERE bfs.d < 3),
         m AS (SELECT id, seed, min(d) AS d FROM bfs GROUP BY id, seed)
         SELECT id, CAST(count(*) AS BIGINT) AS seeds_reached,
           CAST(sum(d) AS BIGINT) AS sum_dist
         FROM m GROUP BY id ORDER BY id""",

    // q453's quality CTE gating q477's substring-dedup chain: the
    // gram corpus (and therefore keep-first) is the POST-GATE doc set
    "q478_funnel_substring" ->
      """WITH tkn AS (SELECT doc_id, text, string_split(text,' ') AS ws
             FROM documents),
 ql AS (SELECT doc_id FROM (
          SELECT doc_id,
            CAST(floor((len(list_distinct(ws))*1.0/len(ws)*0.5
              + least(len(ws)/100.0, 1.0)*0.3
              + len(list_filter(ws, t -> t IN ('the','a','of','and','to','in')))*1.0/len(ws)*0.2)
              *10000.0 + 0.5) AS BIGINT) AS q
          FROM tkn)
        WHERE q >= 4500),
 d AS (SELECT t.doc_id, t.text FROM tkn t JOIN ql USING (doc_id)
       WHERE t.text IS NOT NULL AND len(t.text) >= 25),
 p AS (SELECT doc_id, text, unnest(range(1, len(text) - 25 + 2)) AS i
       FROM d),
 g AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
         list_reduce(list_prepend(CAST(7 AS BIGINT),
             [CAST(ascii(substring(text, CAST(j AS INTEGER), 1)) AS BIGINT)
              FOR j IN range(i, i + 25)]),
           (a,c) -> (a*31+c) % 2147483647) * 2147483648
       + list_reduce(list_prepend(CAST(11 AS BIGINT),
             [CAST(ascii(substring(text, CAST(j AS INTEGER), 1)) AS BIGINT)
              FOR j IN range(i, i + 25)]),
           (a,c) -> (a*37+c) % 2147483629) AS h
       FROM p),
 f AS (SELECT h AS fh, min(struct_pack(i := doc_id, p := pos)) AS f,
         count(*) AS c
       FROM g GROUP BY h HAVING count(*) >= 2),
 cov AS (SELECT g.doc_id, g.pos FROM g JOIN f ON g.h = f.fh
         WHERE NOT (g.doc_id = (f.f).i AND g.pos = (f.f).p)),
 w AS (SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                IS NULL
              OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                + 25
              THEN 1 ELSE 0 END AS ni
       FROM cov),
 isl AS (SELECT doc_id, pos,
           sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island
         FROM w),
 sp AS (SELECT doc_id, min(pos) AS sf, max(pos) + 25 AS st
        FROM isl GROUP BY doc_id, island),
 seg AS (SELECT doc_id,
           coalesce(lag(st) OVER (PARTITION BY doc_id ORDER BY sf), 0)
             AS s,
           sf AS e
         FROM sp
         UNION ALL
         SELECT dd.doc_id, coalesce(mx.m, 0) AS s, len(dd.text) AS e
         FROM d dd LEFT JOIN (SELECT doc_id, max(st) AS m FROM sp
                              GROUP BY doc_id) mx USING (doc_id)),
 reb AS (SELECT seg.doc_id,
           string_agg(substring(dd.text, CAST(s + 1 AS INTEGER),
             CAST(e - s AS INTEGER)), '' ORDER BY s) AS td
         FROM seg JOIN d dd ON seg.doc_id = dd.doc_id
         WHERE e > s GROUP BY seg.doc_id)
 SELECT doc.doc_id,
   CAST(len(CASE WHEN doc.text IS NULL THEN ''
                 WHEN len(doc.text) < 25 THEN doc.text
                 ELSE coalesce(reb.td, '') END) AS BIGINT) AS n_chars
 FROM documents doc JOIN ql USING (doc_id) LEFT JOIN reb USING (doc_id)
 ORDER BY doc.doc_id""",

    // q476's span CTEs + complement-segment reassembly (lag window
    // gives each kept segment's start; the tail segment joins back to
    // the doc; fully-covered docs rebuild as '')
    "q477_substring_dedup" ->
      """WITH d AS (SELECT doc_id, text FROM documents
           WHERE text IS NOT NULL AND len(text) >= 25),
 p AS (SELECT doc_id, text, unnest(range(1, len(text) - 25 + 2)) AS i
       FROM d),
 g AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
         list_reduce(list_prepend(CAST(7 AS BIGINT),
             [CAST(ascii(substring(text, CAST(j AS INTEGER), 1)) AS BIGINT)
              FOR j IN range(i, i + 25)]),
           (a,c) -> (a*31+c) % 2147483647) * 2147483648
       + list_reduce(list_prepend(CAST(11 AS BIGINT),
             [CAST(ascii(substring(text, CAST(j AS INTEGER), 1)) AS BIGINT)
              FOR j IN range(i, i + 25)]),
           (a,c) -> (a*37+c) % 2147483629) AS h
       FROM p),
 f AS (SELECT h AS fh, min(struct_pack(i := doc_id, p := pos)) AS f,
         count(*) AS c
       FROM g GROUP BY h HAVING count(*) >= 2),
 cov AS (SELECT g.doc_id, g.pos FROM g JOIN f ON g.h = f.fh
         WHERE NOT (g.doc_id = (f.f).i AND g.pos = (f.f).p)),
 w AS (SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                IS NULL
              OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                + 25
              THEN 1 ELSE 0 END AS ni
       FROM cov),
 isl AS (SELECT doc_id, pos,
           sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island
         FROM w),
 sp AS (SELECT doc_id, min(pos) AS sf, max(pos) + 25 AS st
        FROM isl GROUP BY doc_id, island),
 seg AS (SELECT doc_id,
           coalesce(lag(st) OVER (PARTITION BY doc_id ORDER BY sf), 0)
             AS s,
           sf AS e
         FROM sp
         UNION ALL
         SELECT dd.doc_id, coalesce(mx.m, 0) AS s, len(dd.text) AS e
         FROM d dd LEFT JOIN (SELECT doc_id, max(st) AS m FROM sp
                              GROUP BY doc_id) mx USING (doc_id)),
 reb AS (SELECT seg.doc_id,
           string_agg(substring(dd.text, CAST(s + 1 AS INTEGER),
             CAST(e - s AS INTEGER)), '' ORDER BY s) AS td
         FROM seg JOIN d dd ON seg.doc_id = dd.doc_id
         WHERE e > s GROUP BY seg.doc_id),
 nrem AS (SELECT doc_id, CAST(sum(st - sf) AS BIGINT) AS nr FROM sp
          GROUP BY doc_id)
 SELECT doc.doc_id,
   CASE WHEN doc.text IS NULL THEN ''
        WHEN len(doc.text) < 25 THEN doc.text
        ELSE coalesce(reb.td, '') END AS text_deduped,
   coalesce(nrem.nr, 0) AS n_removed
 FROM documents doc LEFT JOIN reb USING (doc_id)
   LEFT JOIN nrem USING (doc_id)
 ORDER BY doc.doc_id""",

    // per-position 25-gram double-fold hashes -> keep-first-exempt
    // duplicated positions -> gaps-and-islands merge (q476's exact
    // semantics, gram identity = the same 62-bit pack)
    "q476_dup_substrings" ->
      """WITH d AS (SELECT doc_id, text FROM documents
           WHERE text IS NOT NULL AND len(text) >= 25),
 p AS (SELECT doc_id, text, unnest(range(1, len(text) - 25 + 2)) AS i
       FROM d),
 g AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
         list_reduce(list_prepend(CAST(7 AS BIGINT),
             [CAST(ascii(substring(text, CAST(j AS INTEGER), 1)) AS BIGINT)
              FOR j IN range(i, i + 25)]),
           (a,c) -> (a*31+c) % 2147483647) * 2147483648
       + list_reduce(list_prepend(CAST(11 AS BIGINT),
             [CAST(ascii(substring(text, CAST(j AS INTEGER), 1)) AS BIGINT)
              FOR j IN range(i, i + 25)]),
           (a,c) -> (a*37+c) % 2147483629) AS h
       FROM p),
 f AS (SELECT h AS fh, min(struct_pack(i := doc_id, p := pos)) AS f,
         count(*) AS c
       FROM g GROUP BY h HAVING count(*) >= 2),
 cov AS (SELECT g.doc_id, g.pos FROM g JOIN f ON g.h = f.fh
         WHERE NOT (g.doc_id = (f.f).i AND g.pos = (f.f).p)),
 w AS (SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                IS NULL
              OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                + 25
              THEN 1 ELSE 0 END AS ni
       FROM cov),
 isl AS (SELECT doc_id, pos,
           sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island
         FROM w)
 SELECT doc_id, CAST(min(pos) AS INTEGER) AS span_from,
   CAST(max(pos) + 25 AS INTEGER) AS span_to
 FROM isl GROUP BY doc_id, island ORDER BY doc_id, span_from""",

    // closed-form replay of synthFlac's PCM formulas — the Spark side
    // earns the same numbers only if encode -> decode is lossless
    "q475_flac_decode" ->
      """WITH s AS (SELECT doc_id, 30 + (doc_id % 70) AS n FROM documents),
         e AS (SELECT doc_id, n,
                 [abs(((doc_id + 7) * 6007 + i * 31627) % 65521 - 32760)
                  FOR i IN range(n)] AS a
               FROM s)
         SELECT doc_id, CAST(8000 AS INTEGER) AS sample_rate,
           CAST(1 AS INTEGER) AS channels, CAST(16 AS INTEGER) AS bits,
           CAST(n AS BIGINT) AS n_samples,
           CAST(ceil(n / 64.0) AS INTEGER) AS n_frames,
           CAST(list_sum(a) AS BIGINT) AS sum_abs,
           CAST(list_max(a) AS BIGINT) AS peak
         FROM e ORDER BY doc_id""",

    // closed-form replay of synthMp4's geometry/timing formulas
    "q474_mp4_demux" ->
      """SELECT doc_id, 'isom' AS brand,
           1000 + (doc_id % 3) * 500 AS timescale,
           (40 * (3 + doc_id % 6)) * 1000
             // (1000 + (doc_id % 3) * 500) AS duration_ms,
           CAST(1 AS INTEGER) AS n_tracks, 'vide' AS handler,
           CAST(64 + 16 * (doc_id % 8) AS INTEGER) AS width,
           CAST(48 + 16 * (doc_id % 5) AS INTEGER) AS height,
           3 + doc_id % 6 AS n_samples,
           CAST(list_sum([40 + ((doc_id + i) % 25)
             FOR i IN range(0, 3 + doc_id % 6)]) AS BIGINT)
             AS sum_sample_bytes
         FROM documents ORDER BY doc_id""",

    // q526: doubled average ranks from window prefix sums; exact
    // integer moments; identical double pipeline for the final rho
    "q526_spearman" ->
      """WITH b AS (SELECT CAST(floor(s_acctbal*100 + 0.5) AS BIGINT)
                      AS x,
                    CAST(s_nationkey AS BIGINT) AS y FROM supplier
                    WHERE s_acctbal IS NOT NULL
                      AND s_nationkey IS NOT NULL),
         gx AS (SELECT x, count(*) AS n FROM b GROUP BY x),
         rx AS (SELECT x, 2*coalesce(sum(n) OVER (ORDER BY x
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  + n + 1 AS rx2 FROM gx),
         gy AS (SELECT y, count(*) AS n FROM b GROUP BY y),
         ry AS (SELECT y, 2*coalesce(sum(n) OVER (ORDER BY y
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  + n + 1 AS ry2 FROM gy),
         jj AS (SELECT rx2, ry2 FROM b JOIN rx USING (x)
                JOIN ry USING (y)),
         a AS (SELECT count(*) AS n, sum(rx2) AS sx, sum(ry2) AS sy,
                 sum(rx2*rx2) AS sxx, sum(ry2*ry2) AS syy,
                 sum(rx2*ry2) AS sxy
               FROM jj)
         SELECT CAST(n AS BIGINT) AS n,
           CASE WHEN n*sxx - sx*sx <= 0 OR n*syy - sy*sy <= 0 THEN NULL
             ELSE CAST(floor((n*sxy - sx*sy) * 1000000.0 /
               sqrt((n*sxx - sx*sx) * 1.0 * (n*syy - sy*sy)) + 0.5)
               AS BIGINT)
           END AS rho_micro
         FROM a""",

    // q528: the q526 rank machinery under PARTITION BY g windows
    "q528_spearman_group" ->
      """WITH b AS (SELECT CAST(s_nationkey % 5 AS VARCHAR) AS g,
                    CAST(floor(s_acctbal*100 + 0.5) AS BIGINT) AS x,
                    CAST(len(s_name) AS BIGINT) AS y FROM supplier
                    WHERE s_acctbal IS NOT NULL
                      AND s_name IS NOT NULL),
         gx AS (SELECT g, x, count(*) AS n FROM b GROUP BY g, x),
         rx AS (SELECT g, x, 2*coalesce(sum(n) OVER (PARTITION BY g
                  ORDER BY x
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  + n + 1 AS rx2 FROM gx),
         gy AS (SELECT g, y, count(*) AS n FROM b GROUP BY g, y),
         ry AS (SELECT g, y, 2*coalesce(sum(n) OVER (PARTITION BY g
                  ORDER BY y
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  + n + 1 AS ry2 FROM gy),
         jj AS (SELECT b.g AS g, rx2, ry2 FROM b
                JOIN rx ON b.g = rx.g AND b.x = rx.x
                JOIN ry ON b.g = ry.g AND b.y = ry.y),
         a AS (SELECT g, count(*) AS n, sum(rx2) AS sx, sum(ry2) AS sy,
                 sum(rx2*rx2) AS sxx, sum(ry2*ry2) AS syy,
                 sum(rx2*ry2) AS sxy
               FROM jj GROUP BY g)
         SELECT g, CAST(n AS BIGINT) AS n,
           CASE WHEN n*sxx - sx*sx <= 0 OR n*syy - sy*sy <= 0 THEN NULL
             ELSE CAST(floor((n*sxy - sx*sy) * 1000000.0 /
               sqrt((n*sxx - sx*sx) * 1.0 * (n*syy - sy*sy)) + 0.5)
               AS BIGINT)
           END AS rho_micro
         FROM a ORDER BY g""",

    // q529: tau-b from the distinct-cell table — concordant/
    // discordant cell-pair sums, tie-corrected doubled margins
    "q529_kendall_group" ->
      """WITH b AS (SELECT CAST(s_nationkey % 5 AS VARCHAR) AS g,
                    CAST(floor(s_acctbal / 1000) AS BIGINT) AS x,
                    CAST(s_suppkey % 7 AS BIGINT) AS y FROM supplier
                    WHERE s_acctbal IS NOT NULL
                      AND s_suppkey IS NOT NULL),
         cells AS (SELECT g, x, y, count(*) AS f FROM b
                   GROUP BY g, x, y),
         pairs AS (SELECT c1.g AS g,
                     sum(CASE WHEN c1.y < c2.y THEN c1.f*c2.f
                         ELSE 0 END) AS c,
                     sum(CASE WHEN c1.y > c2.y THEN c1.f*c2.f
                         ELSE 0 END) AS d
                   FROM cells c1 JOIN cells c2
                     ON c1.g = c2.g AND c1.x < c2.x
                   GROUP BY c1.g),
         nn AS (SELECT g, sum(f) AS n FROM cells GROUP BY g),
         xt AS (SELECT g, sum(t*(t-1)) AS n1x2 FROM
                  (SELECT g, x, sum(f) AS t FROM cells GROUP BY g, x)
                GROUP BY g),
         yt AS (SELECT g, sum(t*(t-1)) AS n2x2 FROM
                  (SELECT g, y, sum(f) AS t FROM cells GROUP BY g, y)
                GROUP BY g)
         SELECT nn.g AS g, CAST(n AS BIGINT) AS n,
           CAST(coalesce(c, 0) AS BIGINT) AS concordant,
           CAST(coalesce(d, 0) AS BIGINT) AS discordant,
           CASE WHEN n*(n-1) - n1x2 <= 0 OR n*(n-1) - n2x2 <= 0
             THEN NULL
             ELSE CAST(floor(
               (coalesce(c, 0) - coalesce(d, 0)) * 2000000.0 /
               sqrt((n*(n-1) - n1x2) * 1.0 * (n*(n-1) - n2x2)) + 0.5)
               AS BIGINT)
           END AS tau_b_micro
         FROM nn JOIN xt ON nn.g = xt.g JOIN yt ON nn.g = yt.g
         LEFT JOIN pairs ON nn.g = pairs.g
         ORDER BY g""",

    // q525: sniffing is deterministic per residue — the oracle IS the
    // residue -> mime map
    "q525_sniff_route" ->
      """SELECT doc_id,
           CASE doc_id % 8
             WHEN 0 THEN 'image/bmp'    WHEN 1 THEN 'image/png'
             WHEN 2 THEN 'image/jpeg'   WHEN 3 THEN 'image/gif'
             WHEN 4 THEN 'audio/wav'    WHEN 5 THEN 'audio/flac'
             WHEN 6 THEN 'video/mp4'    ELSE 'video/x-gfv1'
           END AS mime
         FROM documents ORDER BY doc_id""",

    // q524: the mosaic decode is exact, so the aHash replays in
    // closed form — NN source pixel per 8x8 cell, strict-mean bits,
    // non-negative 32-bit halves; the corrupted frame emits no row
    "q524_mjpeg_phash" ->
      """WITH s AS (SELECT doc_id, 9 + doc_id % 17 AS w,
                      6 + doc_id % 11 AS h,
                      3 + doc_id % 4 AS nf FROM documents),
         f AS (SELECT doc_id, w, h, nf,
                 unnest(range(nf)) AS fi FROM s),
         f2 AS (SELECT * FROM f WHERE NOT (doc_id % 7 = 3 AND fi = 1)),
         c AS (SELECT doc_id, fi, nf,
                 [ (doc_id*31 + fi*19 + ((((i % 8) * w) // 8) // 8) * 7
                    + ((((i // 8) * h) // 8) // 8) * 13) % 256
                   FOR i IN range(64) ] AS ls
               FROM f2),
         m AS (SELECT doc_id, fi, nf, ls,
                 list_sum(ls) // 64 AS mean FROM c)
         SELECT doc_id, CAST(fi AS INTEGER) AS frame_idx,
           CAST(nf AS INTEGER) AS n_frames,
           CAST(list_sum([CASE WHEN ls[i+33] > mean
             THEN (CAST(1 AS BIGINT) << i) ELSE 0 END
             FOR i IN range(32)]) AS BIGINT) AS hash_hi,
           CAST(list_sum([CASE WHEN ls[i+1] > mean
             THEN (CAST(1 AS BIGINT) << i) ELSE 0 END
             FOR i IN range(32)]) AS BIGINT) AS hash_lo
         FROM m ORDER BY doc_id, frame_idx""",

    // q523: the table format must be a lossless view of the source —
    // the oracle is the plain predicate, pruning is invisible
    "q523_sharded_table" ->
      """SELECT doc_id, source, CAST(len(text) AS BIGINT) AS n_chars
         FROM documents WHERE doc_id BETWEEN 100 AND 399
         ORDER BY doc_id""",

    // q527: append + multi-column pruning are invisible too — the
    // oracle is the conjunctive predicate over the source table
    "q527_sharded_append" ->
      """SELECT doc_id, source, n_chars
         FROM documents WHERE doc_id BETWEEN 100 AND 399
           AND n_chars BETWEEN 0 AND 2000
         ORDER BY doc_id""",

    // q531: compaction is invisible too
    "q531_sharded_compact" ->
      """SELECT doc_id, source, n_chars
         FROM documents WHERE doc_id BETWEEN 100 AND 399
         ORDER BY doc_id""",

    // q532: merge-on-read delete = the anti-predicate
    "q532_sharded_delete" ->
      """SELECT doc_id, source, n_chars
         FROM documents WHERE doc_id % 7 <> 3
         ORDER BY doc_id""",

    // q533: delete %7==3 then upsert %10==4 (+100000 chars) — the
    // upsert re-inserts keys the delete removed
    "q533_sharded_merge" ->
      """SELECT doc_id, source,
           CASE WHEN doc_id % 10 = 4 THEN n_chars + 100000
                ELSE n_chars END AS n_chars
         FROM documents WHERE doc_id % 10 = 4 OR doc_id % 7 <> 3
         ORDER BY doc_id""",

    // q534: the v1→v2 insert stream is exactly batch 2
    "q534_sharded_changes" ->
      """SELECT doc_id, source, n_chars
         FROM documents WHERE doc_id % 2 = 1
         ORDER BY doc_id""",

    // q535: the Morton layout is invisible — plain conjunctive box
    "q535_sharded_zorder" ->
      """SELECT doc_id, source, n_chars
         FROM documents WHERE doc_id BETWEEN 50 AND 349
           AND n_chars BETWEEN 100 AND 400
         ORDER BY doc_id""",

    // q536: add-only schema evolution — pre-evolution rows null-fill
    // the new column
    "q536_sharded_evolve" ->
      """SELECT doc_id, source, n_chars,
           CASE WHEN doc_id % 2 = 1 THEN lang END AS lang
         FROM documents ORDER BY doc_id""",

    // q537: bloom pruning is a superset guarantee — plain equality
    "q537_sharded_bloom" ->
      """SELECT doc_id, source, n_chars
         FROM documents WHERE n_chars = 300
         ORDER BY doc_id""",

    // q538: streaming upsert with a replayed tick — exactly-once
    // (a double-applied merge would duplicate every %3 row)
    "q538_sharded_merge_sink" ->
      """SELECT doc_id, source,
           CASE WHEN doc_id % 3 = 0 THEN n_chars + 100000
                ELSE n_chars END AS n_chars
         FROM documents WHERE doc_id % 2 = 0 OR doc_id % 3 = 0
         ORDER BY doc_id""",

    // q552: a clean op chain audits to the EMPTY findings frame
    "q552_sharded_audit" ->
      """SELECT CAST(NULL AS VARCHAR) AS "check",
           CAST(NULL AS VARCHAR) AS data_dir,
           CAST(NULL AS BIGINT) AS shard,
           CAST(NULL AS VARCHAR) AS detail
         WHERE 1 = 0""",

    // q553: bloom-pruned set membership = the plain IN semi-join
    "q553_sharded_multilookup" ->
      """SELECT doc_id, source, n_chars FROM documents
         WHERE n_chars IN (SELECT n_chars FROM documents
                           WHERE doc_id < 20)
         ORDER BY doc_id""",

    // q551: dedup-on-ingest — a key's keeper is the min even doc_id
    // if any even doc carries it (the first batch wins), else the
    // global min; a replayed tick must change nothing
    "q551_dedup_ingest" ->
      """WITH k AS (SELECT doc_id, source, n_chars,
                      n_chars % 50 AS dkey, doc_id % 2 AS par
                    FROM documents),
         pick AS (SELECT dkey,
                    coalesce(min(CASE WHEN par = 0 THEN doc_id END),
                             min(doc_id)) AS keep
                  FROM k GROUP BY dkey)
         SELECT k.doc_id, k.source, k.n_chars, k.dkey
         FROM k JOIN pick ON k.dkey = pick.dkey
           AND k.doc_id = pick.keep
         ORDER BY k.doc_id""",

    // q564: racing writers are invisible to results — the union of
    // the create (odds) and both threads' appends (evens) is the
    // whole table, each row exactly once
    "q564_sharded_race" ->
      """SELECT doc_id, source, n_chars
         FROM documents ORDER BY doc_id""",

    // q565: ten maintained ticks cover every residue class once; the
    // replayed tick is a no-op; compaction/expiry change no rows
    "q565_sharded_maintained" ->
      """SELECT doc_id, source,
           CAST(n_chars + 1000 * (doc_id % 6) AS BIGINT) AS n_chars
         FROM documents ORDER BY doc_id""",

    // q566: the replica equals the source's event/killer closed form:
    // initial write (%3=0) minus later merge/delete killers, plus
    // each merge's own inserts minus ITS later killers
    "q566_sharded_cdc" ->
      """SELECT * FROM (
           SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
           FROM documents WHERE doc_id % 3 = 0
             AND NOT (doc_id % 4 = 1 OR doc_id % 5 = 2 OR doc_id % 7 = 3)
           UNION ALL
           SELECT doc_id, source, CAST(n_chars + 5000 AS BIGINT)
           FROM documents WHERE doc_id % 4 = 1
             AND NOT (doc_id % 5 = 2 OR doc_id % 7 = 3)
           UNION ALL
           SELECT doc_id, source, CAST(n_chars + 9000 AS BIGINT)
           FROM documents WHERE doc_id % 7 = 3
         ) ORDER BY doc_id""",

    // q568: predicate update is the plain CASE WHEN
    "q568_sharded_update" ->
      """SELECT doc_id, source,
           CAST(CASE WHEN n_chars BETWEEN 200 AND 400
                THEN n_chars + 100000 ELSE n_chars END AS BIGINT)
             AS n_chars
         FROM documents ORDER BY doc_id""",

    // q569: vacuum reclaims exactly the four fabricated debris items
    // and zero live rows
    "q569_sharded_vacuum" ->
      """SELECT * FROM (
           SELECT '.claim' AS kind, CAST(1 AS BIGINT) AS n
           UNION ALL SELECT '.stage', 1
           UNION ALL SELECT 'data', 1
           UNION ALL SELECT 'del', 1
           UNION ALL SELECT 'rows',
             (SELECT count(*) FROM documents WHERE doc_id % 2 = 0)
         ) ORDER BY kind""",

    // q570: AST-extracted pruning is invisible — plain conjunctive box
    "q570_sharded_where" ->
      """SELECT doc_id, source, n_chars
         FROM documents WHERE doc_id BETWEEN 50 AND 349
           AND n_chars BETWEEN 100 AND 400
         ORDER BY doc_id""",

    // q571: as-of v1's commit instant the appended odds don't exist
    "q571_sharded_asof" ->
      """SELECT doc_id, source, n_chars
         FROM documents WHERE doc_id % 2 = 0
         ORDER BY doc_id""",

    // q572: predicate delete = the negated filter
    "q572_sharded_delete_where" ->
      """SELECT doc_id, source, n_chars
         FROM documents
         WHERE NOT (n_chars BETWEEN 200 AND 400 AND doc_id < 300)
         ORDER BY doc_id""",

    // q581: the DSv2 format answers q570's box identically
    "q581_sharded_dsv2" ->
      """SELECT doc_id, source, n_chars
         FROM documents WHERE doc_id BETWEEN 50 AND 349
           AND n_chars BETWEEN 100 AND 400
         ORDER BY doc_id""",

    // q591: partition pruning is invisible to results — the plain
    // source/doc_id filters over the undeleted rows
    "q591_sharded_partitioned" ->
      """SELECT doc_id, source, n_chars FROM documents
         WHERE n_chars >= 100 AND (source IN ('src3', 'src7')
           OR source = 'src11'
           OR (source = 'src5' AND doc_id <= 250))
         ORDER BY doc_id""",

    // q592: the format-written table answers the plain filters
    "q592_sharded_dsv2_write" ->
      """SELECT doc_id, source, n_chars FROM documents
         WHERE source IN ('src2', 'src9', 'src14') AND doc_id >= 20
         ORDER BY doc_id""",

    // q593: the current (renamed-column) read sees every row; the
    // VERSION AS OF 1 read sees only the first insert's (even) rows
    "q593_sharded_catalog" ->
      """SELECT * FROM (
           SELECT 'cur' AS era, doc_id, CAST(n_chars AS BIGINT) AS chars
           FROM documents WHERE doc_id BETWEEN 100 AND 399
           UNION ALL
           SELECT 'v1' AS era, doc_id, CAST(n_chars AS BIGINT) AS chars
           FROM documents
           WHERE doc_id % 2 = 0 AND doc_id BETWEEN 100 AND 399
         ) ORDER BY doc_id, era""",

    // q594: the manifest-answered aggregates equal the plain ones
    "q594_sharded_agg_pushdown" ->
      """SELECT count(*) AS n,
                min(doc_id) AS min_id, max(doc_id) AS max_id,
                CAST(min(n_chars) AS BIGINT) AS min_chars,
                CAST(max(n_chars) AS BIGINT) AS max_chars
         FROM documents""",

    // q603: grouped manifest aggregates equal the plain GROUP BY
    "q603_sharded_agg_groupby" ->
      """SELECT source, count(*) AS n,
                min(doc_id) AS min_id, max(doc_id) AS max_id
         FROM documents GROUP BY source ORDER BY source""",

    // q604: the filter-selected manifest groups equal the plain
    // filtered aggregates
    "q604_sharded_agg_filter" ->
      """SELECT * FROM (
           SELECT 'eq_src3' AS probe, count(*) AS n,
                  min(doc_id) AS min_id, max(doc_id) AS max_id
           FROM documents WHERE source = 'src3'
           UNION ALL
           SELECT 'in_' || source AS probe, count(*) AS n,
                  min(doc_id) AS min_id, max(doc_id) AS max_id
           FROM documents WHERE source IN ('src1', 'src5')
           GROUP BY source
         ) ORDER BY probe""",

    // q605: the renamed table reads identically to the original
    "q605_catalog_rename_table" ->
      """SELECT * FROM (
           SELECT 'cur' AS era, doc_id, CAST(n_chars AS BIGINT)
                    AS n_chars
           FROM documents WHERE doc_id BETWEEN 200 AND 499
           UNION ALL
           SELECT 'v1' AS era, doc_id, CAST(n_chars AS BIGINT)
                    AS n_chars
           FROM documents
           WHERE doc_id % 2 = 0 AND doc_id BETWEEN 200 AND 499
         ) ORDER BY doc_id, era""",

    // q606: fault-injected conditional-PUT commits are exactly-once
    "q606_sharded_objstore_claims" ->
      """SELECT doc_id, source FROM documents ORDER BY doc_id""",

    // q607: SQL maintenance reorganizes storage, never rows
    "q607_catalog_maintenance_sql" ->
      """SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
                doc_id % 97 AS n_mod
         FROM documents WHERE n_chars BETWEEN 100 AND 2000
         ORDER BY doc_id""",

    // q582: the streamed replica equals q566's closed form
    "q582_sharded_cdc_stream" ->
      """SELECT * FROM (
           SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
           FROM documents WHERE doc_id % 3 = 0
             AND NOT (doc_id % 4 = 1 OR doc_id % 5 = 2 OR doc_id % 7 = 3)
           UNION ALL
           SELECT doc_id, source, CAST(n_chars + 5000 AS BIGINT)
           FROM documents WHERE doc_id % 4 = 1
             AND NOT (doc_id % 5 = 2 OR doc_id % 7 = 3)
           UNION ALL
           SELECT doc_id, source, CAST(n_chars + 9000 AS BIGINT)
           FROM documents WHERE doc_id % 7 = 3
         ) ORDER BY doc_id""",

    // q567: frame-layer arithmetic replay — counted frames, table-
    // indexed bitrates over the counted range, floor duration; the
    // torn cohort (id%5=2) loses exactly its last frame, the junk
    // cohort (id%7=3) reports exactly its 5 resync bytes
    "q567_mp3_stats" ->
      """WITH s AS (SELECT doc_id,
               doc_id % 11 = 5 AS mpeg2,
               doc_id % 4 = 1 AS isvbr,
               CAST(4 + doc_id % 5 AS INTEGER) AS nf0,
               doc_id % 5 = 2 AS torn,
               doc_id % 7 = 3 AS junk
             FROM documents),
         p AS (SELECT doc_id, mpeg2, isvbr, torn, junk,
               CASE WHEN torn THEN nf0 - 1 ELSE nf0 END AS nf,
               CASE WHEN mpeg2 THEN 576 ELSE 1152 END AS spf,
               CASE WHEN mpeg2 THEN 22050
                    WHEN doc_id % 3 = 0 THEN 44100
                    WHEN doc_id % 3 = 1 THEN 48000
                    ELSE 32000 END AS rate,
               CASE WHEN mpeg2
                 THEN [0,8,16,24,32,40,48,56,64,80,96,112,128,144,160]
                 ELSE [0,32,40,48,56,64,80,96,112,128,160,192,224,256,320]
                 END AS tbl
             FROM s),
         b AS (SELECT doc_id, nf, spf, rate, torn, junk,
               [tbl[CAST(2 + (CASE WHEN isvbr THEN (doc_id + f) % 14
                                   ELSE doc_id % 14 END) AS INTEGER)]
                FOR f IN range(nf)] AS brs
             FROM p)
         SELECT doc_id,
           CAST(nf AS INTEGER) AS n_frames,
           CAST(rate AS INTEGER) AS sample_rate,
           CAST(nf * spf * 1000 // rate AS BIGINT) AS duration_ms,
           CAST(list_min(brs) AS INTEGER) AS br_min,
           CAST(list_max(brs) AS INTEGER) AS br_max,
           CAST(CASE WHEN list_min(brs) <> list_max(brs)
                THEN 1 ELSE 0 END AS INTEGER) AS vbr,
           CAST(CASE WHEN junk THEN 5 ELSE 0 END AS BIGINT)
             AS bytes_skipped,
           CAST(CASE WHEN torn THEN 1 ELSE 0 END AS INTEGER)
             AS truncated
         FROM b ORDER BY doc_id""",

    // q502: the q416 mosaic replay per (id, frame) with a per-frame
    // phase; the id % 7 == 3 assets' frame 1 is the truncated sample
    // (null stats, ok = 0)
    "q502_mjpeg_frames" ->
      """WITH s AS (SELECT doc_id, 9 + doc_id % 17 AS w,
                      6 + doc_id % 11 AS h,
                      3 + doc_id % 4 AS nf FROM documents),
         f AS (SELECT doc_id, w, h, nf,
                 unnest(range(nf)) AS fi FROM s),
         e AS (SELECT doc_id, w, h, nf, fi,
                 (doc_id % 7 = 3 AND fi = 1) AS bad FROM f)
         SELECT doc_id, CAST(fi AS INTEGER) AS frame_idx,
           CAST(nf AS INTEGER) AS n_frames,
           CASE WHEN bad THEN 0 ELSE 1 END AS ok,
           CASE WHEN bad THEN NULL ELSE CAST(w AS INTEGER) END AS width,
           CASE WHEN bad THEN NULL ELSE CAST(h AS INTEGER) END AS height,
           CASE WHEN bad THEN NULL ELSE CAST(list_sum(
             [(doc_id*31 + fi*19 + ((i % w) // 8)*7 + ((i // w) // 8)*13)
                % 256 FOR i IN range(w*h)]) AS BIGINT) END AS sum_y,
           CASE WHEN bad THEN NULL
             ELSE CAST((doc_id*31 + fi*19) % 256 AS BIGINT) END
             AS first_px
         FROM e ORDER BY doc_id, fi""",

    // q530: the q502 replay with the torn-tail fragment count —
    // id%5==2 loses its last 2-frame-grouped fragment, so the
    // surviving count is 2*((nf-1)//2); frame content is unchanged
    // (fragments don't change pixels, only byte layout)
    "q530_fmp4_frames" ->
      """WITH s0 AS (SELECT doc_id, 9 + doc_id % 17 AS w,
                       6 + doc_id % 11 AS h,
                       3 + doc_id % 4 AS nf0 FROM documents),
         s AS (SELECT doc_id, w, h,
                 CASE WHEN doc_id % 5 = 2 THEN ((nf0 - 1) // 2) * 2
                      ELSE nf0 END AS nf
               FROM s0),
         f AS (SELECT doc_id, w, h, nf,
                 unnest(range(nf)) AS fi FROM s),
         e AS (SELECT doc_id, w, h, nf, fi,
                 (doc_id % 7 = 3 AND fi = 1) AS bad FROM f)
         SELECT doc_id, CAST(fi AS INTEGER) AS frame_idx,
           CAST(nf AS INTEGER) AS n_frames,
           CASE WHEN bad THEN 0 ELSE 1 END AS ok,
           CASE WHEN bad THEN NULL ELSE CAST(w AS INTEGER) END AS width,
           CASE WHEN bad THEN NULL ELSE CAST(h AS INTEGER) END AS height,
           CASE WHEN bad THEN NULL ELSE CAST(list_sum(
             [(doc_id*31 + fi*19 + ((i % w) // 8)*7 + ((i // w) // 8)*13)
                % 256 FOR i IN range(w*h)]) AS BIGINT) END AS sum_y,
           CASE WHEN bad THEN NULL
             ELSE CAST((doc_id*31 + fi*19) % 256 AS BIGINT) END
             AS first_px
         FROM e ORDER BY doc_id, fi""",

    // q131's quality CTE gating q451/q452's CDC chain — the composed
    // funnel replayed end to end
    "q453_funnel_cdc" ->
      """WITH tkn AS (SELECT doc_id, text, string_split(text,' ') AS ws
             FROM documents),
 ql AS (SELECT doc_id FROM (
          SELECT doc_id,
            CAST(floor((len(list_distinct(ws))*1.0/len(ws)*0.5
              + least(len(ws)/100.0, 1.0)*0.3
              + len(list_filter(ws, t -> t IN ('the','a','of','and','to','in')))*1.0/len(ws)*0.2)
              *10000.0 + 0.5) AS BIGINT) AS q
          FROM tkn)
        WHERE q >= 4500),
 d AS (SELECT t.doc_id, t.text FROM tkn t JOIN ql USING (doc_id)
       WHERE t.text IS NOT NULL AND len(t.text) > 0),
 p AS (SELECT doc_id, text, unnest(range(1, len(text)+1)) AS i FROM d),
 hb AS (SELECT doc_id, i,
   list_sum([ ((CAST(1 AS BIGINT)<<k) *
       (((ascii(substring(text, CAST(i-k AS INTEGER), 1)) + 1) * 48271)
         % 2147483647)) % 2147483648
      FOR k IN range(0, least(i, 31)) ]) % 2147483648 AS h
   FROM p),
 bnd AS (SELECT doc_id, i FROM hb WHERE h % 64 = 0),
 sp0 AS (SELECT doc_id, i AS e,
           coalesce(lag(i) OVER (PARTITION BY doc_id ORDER BY i), 0) AS s,
           row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS idx
         FROM bnd),
 tails AS (SELECT d.doc_id, len(d.text) AS e, coalesce(mx.m, 0) AS s,
             coalesce(mx.c, 0) AS idx
           FROM d LEFT JOIN (SELECT doc_id, max(i) AS m, count(*) AS c
                             FROM bnd GROUP BY doc_id) mx USING (doc_id)),
 sp AS (SELECT * FROM sp0 UNION ALL SELECT * FROM tails WHERE e > s),
 ch AS (SELECT sp.doc_id, idx AS chunk_idx,
          substring(d.text, CAST(s+1 AS INTEGER), CAST(e-s AS INTEGER)) AS ct
        FROM sp JOIN d ON sp.doc_id = d.doc_id),
 fo AS (SELECT ct AS kc,
          min(struct_pack(i := doc_id, x := chunk_idx)) AS f
        FROM ch GROUP BY ct),
 kc AS (SELECT ch.doc_id, ch.chunk_idx, ch.ct,
          CASE WHEN ch.doc_id = (fo.f).i AND ch.chunk_idx = (fo.f).x
               THEN 1 ELSE 0 END AS keep
        FROM ch JOIN fo ON ch.ct = fo.kc),
 rb AS (SELECT doc_id,
          coalesce(string_agg(CASE WHEN keep = 1 THEN ct END, ''
            ORDER BY chunk_idx), '') AS text_deduped
        FROM kc GROUP BY doc_id)
 SELECT q.doc_id,
   CAST(len(coalesce(rb.text_deduped, '')) AS BIGINT) AS n_chars
 FROM (SELECT doc_id FROM documents JOIN ql USING (doc_id)) q
 LEFT JOIN rb ON q.doc_id = rb.doc_id
 ORDER BY q.doc_id""",

    // per-position 31-byte-window Gear hash -> boundaries -> chunk
    // spans (lag + tail) -> portable 62-bit chunk hash
    "q451_cdc_chunks" ->
      """WITH d AS (SELECT doc_id, text FROM documents
           WHERE text IS NOT NULL AND len(text) > 0),
 p AS (SELECT doc_id, text, unnest(range(1, len(text)+1)) AS i FROM d),
 hb AS (SELECT doc_id, i,
   list_sum([ ((CAST(1 AS BIGINT)<<k) *
       (((ascii(substring(text, CAST(i-k AS INTEGER), 1)) + 1) * 48271)
         % 2147483647)) % 2147483648
      FOR k IN range(0, least(i, 31)) ]) % 2147483648 AS h
   FROM p),
 bnd AS (SELECT doc_id, i FROM hb WHERE h % 64 = 0),
 sp0 AS (SELECT doc_id, i AS e,
           coalesce(lag(i) OVER (PARTITION BY doc_id ORDER BY i), 0) AS s,
           row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS idx
         FROM bnd),
 tails AS (SELECT d.doc_id, len(d.text) AS e, coalesce(mx.m, 0) AS s,
             coalesce(mx.c, 0) AS idx
           FROM d LEFT JOIN (SELECT doc_id, max(i) AS m, count(*) AS c
                             FROM bnd GROUP BY doc_id) mx USING (doc_id)),
 sp AS (SELECT * FROM sp0 UNION ALL SELECT * FROM tails WHERE e > s),
 ch AS (SELECT sp.doc_id, idx AS chunk_idx, s AS chunk_from, e AS chunk_to,
          substring(d.text, CAST(s+1 AS INTEGER), CAST(e-s AS INTEGER)) AS ct
        FROM sp JOIN d ON sp.doc_id = d.doc_id)
 SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
   CAST(chunk_from AS INTEGER) AS chunk_from,
   CAST(chunk_to AS INTEGER) AS chunk_to,
   list_reduce(list_prepend(CAST(7 AS BIGINT),
       [CAST(ascii(substring(ct, i, 1)) AS BIGINT)
        FOR i IN range(1, len(ct)+1)]),
     (a,c) -> (a*31+c) % 2147483647) * 2147483648
   + list_reduce(list_prepend(CAST(11 AS BIGINT),
       [CAST(ascii(substring(ct, i, 1)) AS BIGINT)
        FOR i IN range(1, len(ct)+1)]),
     (a,c) -> (a*37+c) % 2147483629) AS chunk_hash
 FROM ch ORDER BY doc_id, chunk_idx""",

    // q451's chunk CTEs + corpus-wide keep-first (min (doc, idx) per
    // distinct chunk) + in-order reassembly
    "q452_cdc_dedup" ->
      """WITH d AS (SELECT doc_id, text FROM documents
           WHERE text IS NOT NULL AND len(text) > 0),
 p AS (SELECT doc_id, text, unnest(range(1, len(text)+1)) AS i FROM d),
 hb AS (SELECT doc_id, i,
   list_sum([ ((CAST(1 AS BIGINT)<<k) *
       (((ascii(substring(text, CAST(i-k AS INTEGER), 1)) + 1) * 48271)
         % 2147483647)) % 2147483648
      FOR k IN range(0, least(i, 31)) ]) % 2147483648 AS h
   FROM p),
 bnd AS (SELECT doc_id, i FROM hb WHERE h % 64 = 0),
 sp0 AS (SELECT doc_id, i AS e,
           coalesce(lag(i) OVER (PARTITION BY doc_id ORDER BY i), 0) AS s,
           row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS idx
         FROM bnd),
 tails AS (SELECT d.doc_id, len(d.text) AS e, coalesce(mx.m, 0) AS s,
             coalesce(mx.c, 0) AS idx
           FROM d LEFT JOIN (SELECT doc_id, max(i) AS m, count(*) AS c
                             FROM bnd GROUP BY doc_id) mx USING (doc_id)),
 sp AS (SELECT * FROM sp0 UNION ALL SELECT * FROM tails WHERE e > s),
 ch AS (SELECT sp.doc_id, idx AS chunk_idx,
          substring(d.text, CAST(s+1 AS INTEGER), CAST(e-s AS INTEGER)) AS ct
        FROM sp JOIN d ON sp.doc_id = d.doc_id),
 fo AS (SELECT ct AS kc,
          min(struct_pack(i := doc_id, x := chunk_idx)) AS f
        FROM ch GROUP BY ct),
 kc AS (SELECT ch.doc_id, ch.chunk_idx, ch.ct,
          CASE WHEN ch.doc_id = (fo.f).i AND ch.chunk_idx = (fo.f).x
               THEN 1 ELSE 0 END AS keep
        FROM ch JOIN fo ON ch.ct = fo.kc),
 rb AS (SELECT doc_id,
          coalesce(string_agg(CASE WHEN keep = 1 THEN ct END, ''
            ORDER BY chunk_idx), '') AS text_deduped,
          CAST(sum(keep) AS BIGINT) AS n_kept,
          CAST(sum(1 - keep) AS BIGINT) AS n_dropped
        FROM kc GROUP BY doc_id)
 SELECT doc.doc_id, coalesce(rb.text_deduped, '') AS text_deduped,
   coalesce(rb.n_kept, 0) AS n_kept,
   coalesce(rb.n_dropped, 0) AS n_dropped
 FROM documents doc LEFT JOIN rb ON doc.doc_id = rb.doc_id
 ORDER BY doc.doc_id""",

    // q88's fixed-point k-means CTEs with DYNAMIC k/m params: train on
    // the MINSTD-residue sample (tr), route the full corpus (e)
    "q450_semdedup_auto" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
       [CAST(floor(x*1000000 + 0.5) AS BIGINT)
        FOR x IN embedding::DOUBLE[]] AS q
     FROM embeddings WHERE embedding IS NOT NULL),
 prm AS (SELECT greatest(8, least(4096,
             CAST(ceil(sqrt(count(*))) AS BIGINT))) AS k,
           greatest(1, count(*) // 65536) AS m
         FROM e),
 tr AS (SELECT e.* FROM e, prm
        WHERE ((vec_id + 1) * 48271) % 2147483647 % prm.m = 0),
 c0 AS (SELECT rn - 1 AS cid, q AS cq
        FROM (SELECT vec_id, q,
                row_number() OVER (ORDER BY vec_id) AS rn FROM tr) r, prm
        WHERE r.rn <= prm.k),
 a1 AS (SELECT tr.vec_id, tr.q, c.cid,
          row_number() OVER (PARTITION BY tr.vec_id
            ORDER BY round(list_cosine_similarity(tr.v,
              [x/1000000.0 FOR x IN c.cq]), 6) DESC, c.cid) AS rn
        FROM tr CROSS JOIN c0 c),
 s1 AS (SELECT cid, d,
          CAST(floor(sum(q[d])*1.0/count(*)) AS BIGINT) AS m
        FROM (SELECT * FROM a1 WHERE rn = 1), range(1, 65) AS t(d)
        GROUP BY cid, d),
 c1 AS (SELECT c0.cid, coalesce(l.mq, c0.cq) AS cq
        FROM c0 LEFT JOIN (SELECT cid, list(m ORDER BY d) AS mq
                           FROM s1 GROUP BY cid) l USING (cid)),
 a2 AS (SELECT tr.vec_id, tr.q, c.cid,
          row_number() OVER (PARTITION BY tr.vec_id
            ORDER BY round(list_cosine_similarity(tr.v,
              [x/1000000.0 FOR x IN c.cq]), 6) DESC, c.cid) AS rn
        FROM tr CROSS JOIN c1 c),
 s2 AS (SELECT cid, d,
          CAST(floor(sum(q[d])*1.0/count(*)) AS BIGINT) AS m
        FROM (SELECT * FROM a2 WHERE rn = 1), range(1, 65) AS t(d)
        GROUP BY cid, d),
 c2 AS (SELECT c1.cid, coalesce(l.mq, c1.cq) AS cq
        FROM c1 LEFT JOIN (SELECT cid, list(m ORDER BY d) AS mq
                           FROM s2 GROUP BY cid) l USING (cid)),
 ac AS (SELECT e.vec_id, e.v, c.cid,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY round(list_cosine_similarity(e.v,
              [x/1000000.0 FOR x IN c.cq]), 6) DESC, c.cid) AS rn
        FROM e CROSS JOIN c2 c),
 asg AS (SELECT vec_id, v, cid FROM ac WHERE rn = 1)
 SELECT a.vec_id AS id1, b.vec_id AS id2,
        round(list_cosine_similarity(a.v, b.v), 6) AS cos
 FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
 WHERE list_cosine_similarity(a.v, b.v) >= 0.4
 ORDER BY 1, 2""",

    // q427's ASOF chain + per-conversion (n, first, last) shape and
    // the 40/20/40 integer weighting
    "q449_position_attribution" ->
      """WITH b AS (SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS t,
             event_type AS et, event_id AS eid
           FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
         tch AS (SELECT user_id, t, et, eid FROM b
                 WHERE et IN ('click', 'view')),
         cv AS (SELECT user_id, t AS c_t, min(eid) AS c_id
                FROM b WHERE et = 'purchase' GROUP BY user_id, t),
         fwd AS (SELECT tch.user_id, tch.t, tch.et, tch.eid,
                   cv.c_t, cv.c_id
                 FROM tch ASOF LEFT JOIN cv
                   ON tch.user_id = cv.user_id AND tch.t <= cv.c_t),
         gated AS (SELECT user_id, t, et, eid,
                     CASE WHEN c_t - t <= 21600 THEN c_id END AS conv_id
                   FROM fwd),
         pc AS (SELECT conv_id, count(*) AS n,
                  min(struct_pack(t := t, eid := eid)) AS first_p,
                  max(struct_pack(t := t, eid := eid)) AS last_p
                FROM gated WHERE conv_id IS NOT NULL GROUP BY conv_id)
         SELECT g.et AS touch_type,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(count(pc.n) AS BIGINT) AS n_attributed,
           CAST(coalesce(sum(CASE
             WHEN pc.n IS NULL THEN NULL
             WHEN pc.n = 1 THEN 1000000
             WHEN pc.n = 2 THEN 500000
             WHEN struct_pack(t := g.t, eid := g.eid) = pc.first_p
               OR struct_pack(t := g.t, eid := g.eid) = pc.last_p
               THEN 400000
             ELSE 200000 // (pc.n - 2) END), 0) AS BIGINT)
             AS credit_ppm
         FROM gated g LEFT JOIN pc ON pc.conv_id = g.conv_id
         GROUP BY g.et ORDER BY touch_type""",

    // forward ASOF to the next same-user conversion representative
    // (min event id per second), 6h gate, per-conversion count,
    // integer floor split, per-channel sums
    "q427_linear_attribution" ->
      """WITH b AS (SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS t,
             event_type AS et, event_id AS eid
           FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
         tch AS (SELECT user_id, t, et, eid FROM b
                 WHERE et IN ('click', 'view')),
         cv AS (SELECT user_id, t AS c_t, min(eid) AS c_id
                FROM b WHERE et = 'purchase' GROUP BY user_id, t),
         fwd AS (SELECT tch.user_id, tch.t, tch.et, tch.eid,
                   cv.c_t, cv.c_id
                 FROM tch ASOF LEFT JOIN cv
                   ON tch.user_id = cv.user_id AND tch.t <= cv.c_t),
         gated AS (SELECT user_id, t, et, eid,
                     CASE WHEN c_t - t <= 21600 THEN c_id END AS conv_id
                   FROM fwd),
         pc AS (SELECT conv_id, count(*) AS n FROM gated
                WHERE conv_id IS NOT NULL GROUP BY conv_id)
         SELECT g.et AS touch_type,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(count(pc.n) AS BIGINT) AS n_attributed,
           CAST(coalesce(sum(1000000 // pc.n), 0) AS BIGINT)
             AS credit_ppm
         FROM gated g LEFT JOIN pc ON pc.conv_id = g.conv_id
         GROUP BY g.et ORDER BY touch_type""",

    // q162's interval build + DuckDB's native ASOF join on eff_from
    // + the eff_to gate; zero-length versions filtered on both sides
    "q426_scd2_pit" ->
      """WITH s AS (SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS prev,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS rn
           FROM events
           WHERE ts IS NOT NULL AND event_type IN ('click', 'view')),
         ch AS (SELECT user_id, ts, event_id, event_type FROM s
                WHERE rn = 1 OR event_type IS DISTINCT FROM prev),
         iv0 AS (SELECT user_id, event_type AS attr, ts AS f,
                  lead(ts) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS t
                FROM ch),
         iv AS (SELECT * FROM iv0 WHERE t IS NULL OR t > f),
         p AS (SELECT user_id, event_id, ts FROM events
               WHERE event_type = 'purchase'),
         m AS (SELECT p.user_id, p.event_id, p.ts, iv.attr, iv.t
               FROM p ASOF LEFT JOIN iv
                 ON p.user_id = iv.user_id AND p.ts >= iv.f)
         SELECT user_id, event_id,
           CASE WHEN t IS NULL OR ts < t THEN attr END
             AS mode_at_purchase
         FROM m ORDER BY user_id, event_id""",

    // the packed probe at nProbe = 1: q423's replay with the probe
    // CTE restricted to the single nearest list
    "q425_ann_ivfpq_packed" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
             [CAST(floor(x*1000000 + 0.5) AS BIGINT)
              FOR x IN embedding::DOUBLE[]] AS q
           FROM embeddings),
         c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                       q AS cq
                FROM (SELECT * FROM e ORDER BY vec_id LIMIT 8)),
         a1 AS (SELECT e.vec_id, e.q, c.cid,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY round(list_cosine_similarity(e.v,
                      [x/1000000.0 FOR x IN c.cq]), 6) DESC, c.cid) AS rn
                FROM e CROSS JOIN c0 c),
         s1 AS (SELECT cid, d,
                  CAST(floor(sum(q[d])*1.0/count(*)) AS BIGINT) AS m
                FROM (SELECT * FROM a1 WHERE rn = 1), range(1, 65) AS t(d)
                GROUP BY cid, d),
         c1 AS (SELECT c0.cid, coalesce(l.mq, c0.cq) AS cq
                FROM c0 LEFT JOIN (SELECT cid, list(m ORDER BY d) AS mq
                                   FROM s1 GROUP BY cid) l USING (cid)),
         ac AS (SELECT e.vec_id, c.cid,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY round(list_cosine_similarity(e.v,
                      [x/1000000.0 FOR x IN c.cq]), 6) DESC, c.cid) AS rn
                FROM e CROSS JOIN c1 c),
         asg AS (SELECT vec_id AS nbr, cid AS lst FROM ac WHERE rn = 1),
         rs AS (SELECT a.nbr, a.lst,
                  [e.q[i] - c.cq[i] FOR i IN range(1, 65)] AS r
                FROM asg a JOIN e ON e.vec_id = a.nbr
                           JOIN c1 c ON c.cid = a.lst),
         pseed AS (SELECT row_number() OVER (ORDER BY nbr) - 1 AS cid, r
                   FROM (SELECT * FROM rs ORDER BY nbr LIMIT 8)),
         pc0 AS (SELECT t.j, s.cid, t2.d, s.r[t.j*8 + t2.d + 1] AS cv
                 FROM pseed s, range(0,8) t(j), range(0,8) t2(d)),
         pd1 AS (SELECT rs.nbr, c.j, c.cid,
                   sum((rs.r[c.j*8 + c.d + 1] - c.cv)
                     * (rs.r[c.j*8 + c.d + 1] - c.cv)) AS dist
                 FROM rs CROSS JOIN pc0 c GROUP BY rs.nbr, c.j, c.cid),
         pa1 AS (SELECT nbr, j, cid,
                   row_number() OVER (PARTITION BY nbr, j
                     ORDER BY dist, cid) AS rn
                 FROM pd1),
         ps1 AS (SELECT pa1.j, pa1.cid, t2.d,
                   CAST(floor(sum(rs.r[pa1.j*8 + t2.d + 1])*1.0/count(*))
                     AS BIGINT) AS mv
                 FROM pa1 JOIN rs USING (nbr), range(0,8) t2(d)
                 WHERE pa1.rn = 1
                 GROUP BY pa1.j, pa1.cid, t2.d),
         pc1 AS (SELECT pc0.j, pc0.cid, pc0.d,
                   coalesce(ps1.mv, pc0.cv) AS cv
                 FROM pc0 LEFT JOIN ps1 ON ps1.j = pc0.j
                   AND ps1.cid = pc0.cid AND ps1.d = pc0.d),
         pd2 AS (SELECT rs.nbr, c.j, c.cid,
                   sum((rs.r[c.j*8 + c.d + 1] - c.cv)
                     * (rs.r[c.j*8 + c.d + 1] - c.cv)) AS dist
                 FROM rs CROSS JOIN pc1 c GROUP BY rs.nbr, c.j, c.cid),
         enc AS (SELECT nbr, j, cid AS code
                 FROM (SELECT nbr, j, cid,
                        row_number() OVER (PARTITION BY nbr, j
                          ORDER BY dist, cid) AS rn
                       FROM pd2) WHERE rn = 1),
         n2 AS (SELECT j, cid, sum(cv*cv) AS v FROM pc1 GROUP BY j, cid),
         cn2c AS (SELECT c1.cid AS lst, t.j,
                    sum(c1.cq[t.j*8 + t2.d + 1] * c1.cq[t.j*8 + t2.d + 1])
                      AS v
                  FROM c1, range(0,8) t(j), range(0,8) t2(d)
                  GROUP BY c1.cid, t.j),
         crs AS (SELECT c1.cid AS lst, p.j, p.cid AS pcid,
                   sum(c1.cq[p.j*8 + p.d + 1] * p.cv) AS v
                 FROM c1 CROSS JOIN pc1 p GROUP BY c1.cid, p.j, p.cid),
         cnb AS (SELECT en.nbr,
                   sum(c.v + 2*x.v + n.v) AS cn2
                 FROM enc en JOIN asg a USING (nbr)
                   JOIN cn2c c ON c.lst = a.lst AND c.j = en.j
                   JOIN crs x ON x.lst = a.lst AND x.j = en.j
                     AND x.pcid = en.code
                   JOIN n2 n ON n.j = en.j AND n.cid = en.code
                 GROUP BY en.nbr),
         qn2 AS (SELECT vec_id AS qid,
                   (SELECT sum(x*x) FROM unnest(q) t(x)) AS v
                 FROM e WHERE vec_id < 10),
         dtab AS (SELECT e.vec_id AS qid, p.j, p.cid,
                    sum(e.q[p.j*8 + p.d + 1] * p.cv) AS dp
                  FROM e CROSS JOIN pc1 p
                  WHERE e.vec_id < 10
                  GROUP BY e.vec_id, p.j, p.cid),
         probes AS (SELECT vec_id AS qid, cid AS lst
                    FROM ac WHERE vec_id < 10 AND rn <= 1),
         qcd AS (SELECT p.qid, p.lst,
                   (SELECT sum(t.a * t.b) FROM (SELECT
                      unnest(e.q) AS a, unnest(c.cq) AS b) t) AS v
                 FROM probes p JOIN e ON e.vec_id = p.qid
                               JOIN c1 c ON c.cid = p.lst),
         pr AS (SELECT p.qid, p.lst, a.nbr
                FROM probes p JOIN asg a ON a.lst = p.lst
                  AND a.nbr != p.qid),
         adot AS (SELECT pr.qid, pr.nbr, sum(dt.dp) AS v
                  FROM pr JOIN enc en ON en.nbr = pr.nbr
                    JOIN dtab dt ON dt.qid = pr.qid AND dt.j = en.j
                      AND dt.cid = en.code
                  GROUP BY pr.qid, pr.nbr),
         s8 AS (SELECT pr.qid, pr.nbr,
                  CASE WHEN q2.v = 0 OR cb.cn2 <= 0 THEN 0.0
                       ELSE round(((qc.v + ad.v)*1.0) /
                         (sqrt(q2.v*1.0) * sqrt(cb.cn2*1.0)), 6)
                  END AS s8
                FROM pr JOIN qcd qc ON qc.qid = pr.qid
                    AND qc.lst = pr.lst
                  JOIN adot ad ON ad.qid = pr.qid AND ad.nbr = pr.nbr
                  JOIN qn2 q2 ON q2.qid = pr.qid
                  JOIN cnb cb ON cb.nbr = pr.nbr),
         short AS (SELECT qid, nbr FROM (SELECT qid, nbr,
                     row_number() OVER (PARTITION BY qid
                       ORDER BY s8 DESC, nbr) AS rn
                   FROM s8) WHERE rn <= 20),
         sc AS (SELECT s.qid, s.nbr,
                  round(list_cosine_similarity(eq.v, en.v), 6) AS score
                FROM short s JOIN e eq ON eq.vec_id = s.qid
                             JOIN e en ON en.vec_id = s.nbr),
         r AS (SELECT qid, nbr, score,
                 CAST(row_number() OVER (PARTITION BY qid
                   ORDER BY score DESC, nbr) AS INTEGER) AS rank
               FROM sc)
         SELECT qid, nbr, score, rank FROM r WHERE rank <= 5
         ORDER BY qid, rank""",

    // full IVF-PQ replay: q51's coarse Lloyd (one update here), route,
    // integer residuals, q419's PQ chain ON the residuals, then the
    // decomposed reconstruction cosine — numerator = centroid dot +
    // residual dot-table lookups, norm² = Σ_j (cN2 + 2·cross + n2) —
    // one rounded division, shortlist 20, exact-cosine top 5
    "q423_ann_ivfpq" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
             [CAST(floor(x*1000000 + 0.5) AS BIGINT)
              FOR x IN embedding::DOUBLE[]] AS q
           FROM embeddings),
         c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                       q AS cq
                FROM (SELECT * FROM e ORDER BY vec_id LIMIT 8)),
         a1 AS (SELECT e.vec_id, e.q, c.cid,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY round(list_cosine_similarity(e.v,
                      [x/1000000.0 FOR x IN c.cq]), 6) DESC, c.cid) AS rn
                FROM e CROSS JOIN c0 c),
         s1 AS (SELECT cid, d,
                  CAST(floor(sum(q[d])*1.0/count(*)) AS BIGINT) AS m
                FROM (SELECT * FROM a1 WHERE rn = 1), range(1, 65) AS t(d)
                GROUP BY cid, d),
         c1 AS (SELECT c0.cid, coalesce(l.mq, c0.cq) AS cq
                FROM c0 LEFT JOIN (SELECT cid, list(m ORDER BY d) AS mq
                                   FROM s1 GROUP BY cid) l USING (cid)),
         ac AS (SELECT e.vec_id, c.cid,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY round(list_cosine_similarity(e.v,
                      [x/1000000.0 FOR x IN c.cq]), 6) DESC, c.cid) AS rn
                FROM e CROSS JOIN c1 c),
         asg AS (SELECT vec_id AS nbr, cid AS lst FROM ac WHERE rn = 1),
         rs AS (SELECT a.nbr, a.lst,
                  [e.q[i] - c.cq[i] FOR i IN range(1, 65)] AS r
                FROM asg a JOIN e ON e.vec_id = a.nbr
                           JOIN c1 c ON c.cid = a.lst),
         pseed AS (SELECT row_number() OVER (ORDER BY nbr) - 1 AS cid, r
                   FROM (SELECT * FROM rs ORDER BY nbr LIMIT 8)),
         pc0 AS (SELECT t.j, s.cid, t2.d, s.r[t.j*8 + t2.d + 1] AS cv
                 FROM pseed s, range(0,8) t(j), range(0,8) t2(d)),
         pd1 AS (SELECT rs.nbr, c.j, c.cid,
                   sum((rs.r[c.j*8 + c.d + 1] - c.cv)
                     * (rs.r[c.j*8 + c.d + 1] - c.cv)) AS dist
                 FROM rs CROSS JOIN pc0 c GROUP BY rs.nbr, c.j, c.cid),
         pa1 AS (SELECT nbr, j, cid,
                   row_number() OVER (PARTITION BY nbr, j
                     ORDER BY dist, cid) AS rn
                 FROM pd1),
         ps1 AS (SELECT pa1.j, pa1.cid, t2.d,
                   CAST(floor(sum(rs.r[pa1.j*8 + t2.d + 1])*1.0/count(*))
                     AS BIGINT) AS mv
                 FROM pa1 JOIN rs USING (nbr), range(0,8) t2(d)
                 WHERE pa1.rn = 1
                 GROUP BY pa1.j, pa1.cid, t2.d),
         pc1 AS (SELECT pc0.j, pc0.cid, pc0.d,
                   coalesce(ps1.mv, pc0.cv) AS cv
                 FROM pc0 LEFT JOIN ps1 ON ps1.j = pc0.j
                   AND ps1.cid = pc0.cid AND ps1.d = pc0.d),
         pd2 AS (SELECT rs.nbr, c.j, c.cid,
                   sum((rs.r[c.j*8 + c.d + 1] - c.cv)
                     * (rs.r[c.j*8 + c.d + 1] - c.cv)) AS dist
                 FROM rs CROSS JOIN pc1 c GROUP BY rs.nbr, c.j, c.cid),
         enc AS (SELECT nbr, j, cid AS code
                 FROM (SELECT nbr, j, cid,
                        row_number() OVER (PARTITION BY nbr, j
                          ORDER BY dist, cid) AS rn
                       FROM pd2) WHERE rn = 1),
         n2 AS (SELECT j, cid, sum(cv*cv) AS v FROM pc1 GROUP BY j, cid),
         cn2c AS (SELECT c1.cid AS lst, t.j,
                    sum(c1.cq[t.j*8 + t2.d + 1] * c1.cq[t.j*8 + t2.d + 1])
                      AS v
                  FROM c1, range(0,8) t(j), range(0,8) t2(d)
                  GROUP BY c1.cid, t.j),
         crs AS (SELECT c1.cid AS lst, p.j, p.cid AS pcid,
                   sum(c1.cq[p.j*8 + p.d + 1] * p.cv) AS v
                 FROM c1 CROSS JOIN pc1 p GROUP BY c1.cid, p.j, p.cid),
         cnb AS (SELECT en.nbr,
                   sum(c.v + 2*x.v + n.v) AS cn2
                 FROM enc en JOIN asg a USING (nbr)
                   JOIN cn2c c ON c.lst = a.lst AND c.j = en.j
                   JOIN crs x ON x.lst = a.lst AND x.j = en.j
                     AND x.pcid = en.code
                   JOIN n2 n ON n.j = en.j AND n.cid = en.code
                 GROUP BY en.nbr),
         qn2 AS (SELECT vec_id AS qid,
                   (SELECT sum(x*x) FROM unnest(q) t(x)) AS v
                 FROM e WHERE vec_id < 10),
         dtab AS (SELECT e.vec_id AS qid, p.j, p.cid,
                    sum(e.q[p.j*8 + p.d + 1] * p.cv) AS dp
                  FROM e CROSS JOIN pc1 p
                  WHERE e.vec_id < 10
                  GROUP BY e.vec_id, p.j, p.cid),
         probes AS (SELECT vec_id AS qid, cid AS lst
                    FROM ac WHERE vec_id < 10 AND rn <= 2),
         qcd AS (SELECT p.qid, p.lst,
                   (SELECT sum(t.a * t.b) FROM (SELECT
                      unnest(e.q) AS a, unnest(c.cq) AS b) t) AS v
                 FROM probes p JOIN e ON e.vec_id = p.qid
                               JOIN c1 c ON c.cid = p.lst),
         pr AS (SELECT p.qid, p.lst, a.nbr
                FROM probes p JOIN asg a ON a.lst = p.lst
                  AND a.nbr != p.qid),
         adot AS (SELECT pr.qid, pr.nbr, sum(dt.dp) AS v
                  FROM pr JOIN enc en ON en.nbr = pr.nbr
                    JOIN dtab dt ON dt.qid = pr.qid AND dt.j = en.j
                      AND dt.cid = en.code
                  GROUP BY pr.qid, pr.nbr),
         s8 AS (SELECT pr.qid, pr.nbr,
                  CASE WHEN q2.v = 0 OR cb.cn2 <= 0 THEN 0.0
                       ELSE round(((qc.v + ad.v)*1.0) /
                         (sqrt(q2.v*1.0) * sqrt(cb.cn2*1.0)), 6)
                  END AS s8
                FROM pr JOIN qcd qc ON qc.qid = pr.qid
                    AND qc.lst = pr.lst
                  JOIN adot ad ON ad.qid = pr.qid AND ad.nbr = pr.nbr
                  JOIN qn2 q2 ON q2.qid = pr.qid
                  JOIN cnb cb ON cb.nbr = pr.nbr),
         short AS (SELECT qid, nbr FROM (SELECT qid, nbr,
                     row_number() OVER (PARTITION BY qid
                       ORDER BY s8 DESC, nbr) AS rn
                   FROM s8) WHERE rn <= 20),
         sc AS (SELECT s.qid, s.nbr,
                  round(list_cosine_similarity(eq.v, en.v), 6) AS score
                FROM short s JOIN e eq ON eq.vec_id = s.qid
                             JOIN e en ON en.vec_id = s.nbr),
         r AS (SELECT qid, nbr, score,
                 CAST(row_number() OVER (PARTITION BY qid
                   ORDER BY score DESC, nbr) AS INTEGER) AS rank
               FROM sc)
         SELECT qid, nbr, score, rank FROM r WHERE rank <= 5
         ORDER BY qid, rank""",

    // the lossless-union property IS the oracle: build the coarse
    // per-priority sketch directly (same hash chain as q420) — the
    // rolled-up sketch must match it hash-for-hash
    "q424_kmv_rollup" ->
      """WITH h0 AS (SELECT o_orderpriority AS g,
             list_reduce(list_prepend(CAST(7 AS BIGINT),
                 [CAST(ascii(substring(CAST(o_custkey AS VARCHAR), i, 1))
                   AS BIGINT)
                  FOR i IN range(1, length(CAST(o_custkey AS VARCHAR)) + 1)]),
               (a, c) -> (a * 31 + c) % 2147483647) * 2147483648
             + list_reduce(list_prepend(CAST(11 AS BIGINT),
                 [CAST(ascii(substring(CAST(o_custkey AS VARCHAR), i, 1))
                   AS BIGINT)
                  FOR i IN range(1, length(CAST(o_custkey AS VARCHAR)) + 1)]),
               (a, c) -> (a * 37 + c) % 2147483629) AS h62
           FROM orders),
         h AS (SELECT g,
             (((((h62 + 1) % 2147483647) + 2147483647) % 2147483647
               * 48271) % 2147483647 * 48271) % 2147483647 AS hv
           FROM h0),
         d AS (SELECT DISTINCT g, hv FROM h),
         ks AS (SELECT g, list(hv ORDER BY hv) AS ks
                FROM (SELECT g, hv, row_number() OVER
                        (PARTITION BY g ORDER BY hv) AS rn FROM d)
                WHERE rn <= 64 GROUP BY g)
         SELECT g AS o_orderpriority,
           CASE WHEN len(ks) < 64 THEN CAST(len(ks) AS BIGINT)
            ELSE CAST(floor(135291469761.0 / ks[64]) AS BIGINT)
           END AS est,
           CAST(len(ks) AS INTEGER) AS n_hashes,
           ks[len(ks)] AS max_hash
         FROM ks ORDER BY o_orderpriority""",

    // per-CELL replay of the full fixed-point color chain: mosaic RGB
    // -> floor((x·1e6 + 5e5)/1e6) YCbCr -> (exact DC-only round trip)
    // -> fixed-point inverse -> clamp; sums weight each cell by its
    // cropped pixel count. floor on doubles is exact here (|v| < 2^40)
    "q417_jpeg_color" ->
      """WITH s AS (SELECT doc_id, 9 + doc_id % 17 AS w,
                      6 + doc_id % 11 AS h FROM documents),
         cells AS (SELECT doc_id, w, h,
             unnest([{'cx': i % ((w+7)//8), 'cy': i // ((w+7)//8)}
                     FOR i IN range(((w+7)//8) * ((h+7)//8))]) AS c
           FROM s),
         v AS (SELECT doc_id, w, h, c.cx AS cx, c.cy AS cy,
             (doc_id*3 + c.cx*7 + c.cy*11) % 256 AS r0,
             (doc_id*5 + c.cx*13 + c.cy*3) % 256 AS g0,
             (doc_id*7 + c.cx + c.cy*17) % 256 AS b0,
             least(8, w - c.cx*8) AS cw,
             least(8, h - c.cy*8) AS ch
           FROM cells),
         ycc AS (SELECT *,
             greatest(0, least(255, CAST(floor(
               (299000*r0 + 587000*g0 + 114000*b0 + 500000)
                 / 1000000.0) AS BIGINT))) AS yy,
             greatest(0, least(255, CAST(floor(
               (-168736*r0 - 331264*g0 + 500000*b0 + 128000000
                + 500000) / 1000000.0) AS BIGINT))) AS cb,
             greatest(0, least(255, CAST(floor(
               (500000*r0 - 418688*g0 - 81312*b0 + 128000000
                + 500000) / 1000000.0) AS BIGINT))) AS cr
           FROM v),
         rgb AS (SELECT *,
             greatest(0, least(255, CAST(floor(
               (1000000*yy + 1402000*(cr-128) + 500000)
                 / 1000000.0) AS BIGINT))) AS r1,
             greatest(0, least(255, CAST(floor(
               (1000000*yy - 344136*(cb-128) - 714136*(cr-128)
                + 500000) / 1000000.0) AS BIGINT))) AS g1,
             greatest(0, least(255, CAST(floor(
               (1000000*yy + 1772000*(cb-128) + 500000)
                 / 1000000.0) AS BIGINT))) AS b1
           FROM ycc)
         SELECT doc_id, CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(sum(r1*cw*ch) AS BIGINT) AS sum_r,
           CAST(sum(g1*cw*ch) AS BIGINT) AS sum_g,
           CAST(sum(b1*cw*ch) AS BIGINT) AS sum_b,
           CAST(max(CASE WHEN cx = 0 AND cy = 0
                THEN r1*65536 + g1*256 + b1 END) AS BIGINT) AS first_px
         FROM rgb GROUP BY doc_id, w, h ORDER BY doc_id""",

    "q348_skyline" ->
      """WITH li AS (SELECT l_orderkey, l_linenumber,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
               AS price_cents,
             CAST(l_quantity AS BIGINT) AS qty
           FROM lineitem)
         SELECT * FROM li t
         WHERE NOT EXISTS
           (SELECT 1 FROM li o
            WHERE o.price_cents <= t.price_cents AND o.qty >= t.qty
              AND (o.price_cents < t.price_cents OR o.qty > t.qty))
         ORDER BY price_cents, qty, l_orderkey, l_linenumber""",

    // the recursive CTE replays the engine's exact zero-init fold:
    // identical IEEE double ops in identical order (a = 1/5 as the same
    // double division, base = 0·(1−a) + v·a = v·a), so no tolerance is
    // needed — the 6dp rounding is cosmetic
    "q349_ewma" ->
      """WITH RECURSIVE ev AS (
           SELECT user_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             CAST(value AS DOUBLE) AS v
           FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
         mx AS (SELECT user_id, max(rn) AS mr FROM ev GROUP BY 1),
         r AS (
           SELECT user_id, rn, v * (CAST(1 AS DOUBLE) / 5) AS e
           FROM ev WHERE rn = 1
           UNION ALL
           SELECT ev.user_id, ev.rn,
             r.e * (1 - CAST(1 AS DOUBLE) / 5)
               + ev.v * (CAST(1 AS DOUBLE) / 5)
           FROM r JOIN ev ON ev.user_id = r.user_id AND ev.rn = r.rn + 1)
         SELECT r.user_id, CAST(mx.mr AS BIGINT) AS n_events,
           round(r.e, 6) AS ewma
         FROM r JOIN mx ON r.user_id = mx.user_id AND r.rn = mx.mr
         ORDER BY r.user_id""",

    "q350_forward_fill" ->
      """WITH e AS (SELECT user_id, event_id, ts,
             CASE WHEN event_type = 'click' THEN NULL ELSE value END AS v
           FROM events WHERE ts IS NOT NULL)
         SELECT user_id, event_id,
           round(last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
             AS v_filled
         FROM e ORDER BY user_id, event_id""",

    "q351_forward_fill_bucketed" ->
      """WITH e AS (SELECT user_id, event_id, ts,
             CASE WHEN event_type = 'click' THEN NULL ELSE value END AS v
           FROM events WHERE ts IS NOT NULL)
         SELECT user_id, event_id,
           round(last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
             AS v_filled
         FROM e ORDER BY user_id, event_id""",

    // same tokenization (\s+ split, trimmed lines), same integer
    // cross-multiplied rule cuts; patterns in the Java-regex ∩ RE2
    // shared subset
    "q354_gopher_rules" ->
      """WITH d AS (SELECT doc_id, coalesce(text, '') AS t
           FROM documents),
         w AS (SELECT doc_id, t,
           list_filter(regexp_split_to_array(t, '\s+'),
                       x -> x <> '') AS ws,
           list_filter(list_transform(string_split(t, chr(10)),
                       x -> trim(x)), x -> x <> '') AS ls
           FROM d),
         c AS (SELECT doc_id, len(ws) AS nw, len(ls) AS nl,
           coalesce(list_sum(list_transform(ws,
             x -> CAST(length(x) AS BIGINT))), 0) AS sumlen,
           (length(t) - length(replace(t, '#', '')))
             + (len(regexp_split_to_array(t, '(\.\.\.|…)')) - 1) AS nsym,
           len(list_filter(ls, x -> x LIKE '•%' OR x LIKE '- %'
                                 OR x LIKE '* %')) AS nbul,
           len(list_filter(ls, x -> x LIKE '%...' OR x LIKE '%…'))
             AS nell,
           len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]')))
             AS nalpha,
           len(list_intersect(
             list_distinct(list_transform(ws, x -> lower(x))),
             ['join','hash'])) AS nstops
           FROM w)
         SELECT doc_id, CAST(nw AS BIGINT) AS n_words,
           CAST(nl AS BIGINT) AS n_lines,
           (nw >= 20 AND nw <= 100000) AS r_words,
           (nw > 0 AND 3 * nw <= sumlen AND sumlen <= 10 * nw)
             AS r_wordlen,
           (10 * nsym <= nw) AS r_symbol,
           (10 * nbul <= 9 * nl) AS r_bullet,
           (10 * nell <= 3 * nl) AS r_ellipsis,
           (5 * nalpha >= 4 * nw) AS r_alpha,
           (nstops >= 2) AS r_stops,
           ((nw >= 20 AND nw <= 100000)
            AND (nw > 0 AND 3 * nw <= sumlen AND sumlen <= 10 * nw)
            AND (10 * nsym <= nw)
            AND (10 * nbul <= 9 * nl)
            AND (10 * nell <= 3 * nl)
            AND (5 * nalpha >= 4 * nw)
            AND (nstops >= 2)) AS keep
         FROM c ORDER BY doc_id""",

    // same frame list, same sorted-median/MAD list math, 1-indexed
    // where Spark is 0-indexed; both engines run the identical double
    // interpolate/abs/compare sequence so the boolean cut agrees
    "q353_rolling_robust_z" ->
      """WITH e AS (SELECT user_id, event_id, ts, value FROM events
           WHERE ts IS NOT NULL AND value IS NOT NULL),
         w AS (SELECT user_id, event_id, value,
           list_sort(list(value) OVER (PARTITION BY user_id
             ORDER BY ts, event_id
             ROWS BETWEEN 24 PRECEDING AND CURRENT ROW)) AS l
           FROM e),
         m AS (SELECT *, CASE WHEN len(l) % 2 = 1
             THEN l[len(l) // 2 + 1]
             ELSE (l[len(l) // 2] + l[len(l) // 2 + 1]) / 2 END AS med
           FROM w),
         d AS (SELECT *,
           list_sort(list_transform(l, x -> abs(x - med))) AS dl
           FROM m),
         z AS (SELECT *, CASE WHEN len(dl) % 2 = 1
             THEN dl[len(dl) // 2 + 1]
             ELSE (dl[len(dl) // 2] + dl[len(dl) // 2 + 1]) / 2 END AS mad
           FROM d)
         SELECT user_id, event_id, round(value, 2) AS v,
           round(med, 4) AS med, round(mad, 4) AS mad,
           (2 * abs(value - med) > 7 * mad) AS is_outlier
         FROM z ORDER BY user_id, event_id""",

    // sequential replay of the two-sided integer clamp recurrence with
    // alarm-and-reset; mu is the same truncated integer mean
    "q355_cusum" ->
      """WITH RECURSIVE ev AS (
           SELECT user_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
           FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
         mu AS (SELECT user_id, max(rn) AS n,
                  CAST(sum(c) AS BIGINT) // max(rn) AS mu FROM ev GROUP BY 1),
         r AS (
           SELECT e.user_id, e.rn,
             CAST(CASE WHEN greatest(0, e.c - m.mu - 500) > 3000
               THEN 0 ELSE greatest(0, e.c - m.mu - 500) END
               AS BIGINT) AS su,
             CAST(CASE WHEN greatest(0, m.mu - e.c - 500) > 3000
               THEN 0 ELSE greatest(0, m.mu - e.c - 500) END
               AS BIGINT) AS sd,
             CAST(CASE WHEN greatest(0, e.c - m.mu - 500) > 3000
               THEN 1 ELSE 0 END AS BIGINT) AS nu,
             CAST(CASE WHEN greatest(0, m.mu - e.c - 500) > 3000
               THEN 1 ELSE 0 END AS BIGINT) AS nd
           FROM ev e JOIN mu m ON e.user_id = m.user_id
           WHERE e.rn = 1
           UNION ALL
           SELECT e.user_id, e.rn,
             CASE WHEN greatest(0, r.su + e.c - m.mu - 500) > 3000
               THEN 0 ELSE greatest(0, r.su + e.c - m.mu - 500) END,
             CASE WHEN greatest(0, r.sd + m.mu - e.c - 500) > 3000
               THEN 0 ELSE greatest(0, r.sd + m.mu - e.c - 500) END,
             r.nu + CASE WHEN greatest(0, r.su + e.c - m.mu - 500)
               > 3000 THEN 1 ELSE 0 END,
             r.nd + CASE WHEN greatest(0, r.sd + m.mu - e.c - 500)
               > 3000 THEN 1 ELSE 0 END
           FROM r JOIN ev e ON e.user_id = r.user_id
                           AND e.rn = r.rn + 1
                  JOIN mu m ON m.user_id = r.user_id)
         SELECT r.user_id, CAST(m.n AS BIGINT) AS n_events,
           m.mu AS mu_cents, r.nu AS n_up_alarms, r.nd AS n_down_alarms,
           r.su AS final_s_up, r.sd AS final_s_dn
         FROM r JOIN mu m ON r.user_id = m.user_id AND r.rn = m.n
         ORDER BY r.user_id""",

    // sequential replay of the integer clamp recurrence; the base case
    // is the engine's "bucket starts full" first event (cap >= cost is
    // a require, so it is always admitted)
    "q352_token_bucket" ->
      """WITH RECURSIVE ev AS (
           SELECT user_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             CAST(floor(epoch(ts)) AS BIGINT) AS s
           FROM events WHERE ts IS NOT NULL),
         mx AS (SELECT user_id, max(rn) AS mr FROM ev GROUP BY 1),
         r AS (
           SELECT user_id, rn, s,
             CAST(2000000 AS BIGINT) AS tok, CAST(1 AS BIGINT) AS adm
           FROM ev WHERE rn = 1
           UNION ALL
           SELECT ev.user_id, ev.rn, ev.s,
             CASE WHEN least(3000000, r.tok + (ev.s - r.s) * 100)
                       >= 1000000
                  THEN least(3000000, r.tok + (ev.s - r.s) * 100)
                       - 1000000
                  ELSE least(3000000, r.tok + (ev.s - r.s) * 100) END,
             r.adm + CASE WHEN least(3000000,
                                     r.tok + (ev.s - r.s) * 100)
                               >= 1000000 THEN 1 ELSE 0 END
           FROM r JOIN ev ON ev.user_id = r.user_id
                         AND ev.rn = r.rn + 1)
         SELECT r.user_id, CAST(mx.mr AS BIGINT) AS n_events,
           r.adm AS n_admitted,
           CAST(mx.mr AS BIGINT) - r.adm AS n_throttled,
           r.tok AS final_tokens
         FROM r JOIN mx ON r.user_id = mx.user_id AND r.rn = mx.mr
         ORDER BY r.user_id""",

    "q346_pseudonymize" ->
      """SELECT sha256('graft-r5' || CAST(user_id AS VARCHAR)) AS pseudo,
           count(*) AS n_events
         FROM events GROUP BY 1 ORDER BY 1""",

    // column-wise: hash each cell (null -> chr(2) marker), then fold
    // the per-column components across the row with the same
    // recurrences — the exact arithmetic of Relational.tableChecksum
    "q347_table_checksum" ->
      """WITH c AS (SELECT
             [coalesce(CAST(doc_id AS VARCHAR), chr(2)),
              coalesce(lang, chr(2)),
              coalesce(CAST(n_chars AS VARCHAR), chr(2)),
              coalesce(source, chr(2)),
              coalesce(text, chr(2))] AS cells
           FROM documents),
         h AS (SELECT
             [list_reduce(list_prepend(CAST(7 AS BIGINT),
                [CAST(ascii(s[i]) AS BIGINT)
                 FOR i IN range(1, length(s)+1)]),
                (a, x) -> (a*31+x) % 2147483647) FOR s IN cells] AS h1s,
             [list_reduce(list_prepend(CAST(11 AS BIGINT),
                [CAST(ascii(s[i]) AS BIGINT)
                 FOR i IN range(1, length(s)+1)]),
                (a, x) -> (a*37+x) % 2147483629) FOR s IN cells] AS h2s
           FROM c),
         f AS (SELECT
             list_reduce(list_prepend(CAST(7 AS BIGINT), h1s),
               (a, x) -> (a*31+x) % 2147483647) AS r1,
             list_reduce(list_prepend(CAST(11 AS BIGINT), h2s),
               (a, x) -> (a*37+x) % 2147483629) AS r2
           FROM h)
         SELECT count(*) AS n_rows,
           CAST(sum(r1) AS BIGINT) AS sum_h1,
           CAST(sum(r2) AS BIGINT) AS sum_h2
         FROM f""",

    "q345_ancestors" ->
      """WITH RECURSIVE anc AS (
           SELECT p_partkey AS node, p_partkey // 10 AS anc,
             CAST(1 AS BIGINT) AS depth
           FROM part WHERE p_partkey >= 10
           UNION
           SELECT a.node, p.p_partkey // 10 AS anc, a.depth + 1
           FROM anc a JOIN part p ON a.anc = p.p_partkey
           WHERE p.p_partkey >= 10 AND a.depth < 6)
         SELECT node, anc, depth FROM anc
         WHERE node <> anc
         ORDER BY node, depth""",

    "q344_span_mask" ->
      """WITH d AS (SELECT doc_id,
             len(list_filter(split(text, ' '), s -> s <> '')) AS n
           FROM documents),
         s AS (SELECT doc_id, n,
                 least((n * 3) // 60, n // 3) AS n_spans FROM d),
         f AS (SELECT doc_id, n_spans, n // n_spans AS stratum
               FROM s WHERE n_spans >= 1),
         e AS (SELECT doc_id, u.k AS span_idx, u.st AS start_tok FROM
           (SELECT doc_id,
              [{'k': k, 'st': k * stratum +
                 ((((doc_id*131 + k + 8) % 2147483647) * 48271
                    % 2147483647) * 48271 % 2147483647)
                   % (stratum - 2)}
               FOR k IN range(n_spans)] AS z
            FROM f),
           LATERAL (SELECT unnest(z, recursive := false) AS u))
         SELECT doc_id AS id, span_idx, start_tok,
           start_tok + 3 AS end_tok
         FROM e ORDER BY id, span_idx""",

    "q343_boilerplate" ->
      """WITH ex AS (SELECT doc_id, i AS pos, seg FROM
           (SELECT doc_id,
              [{'i': i, 's': l[i+1]} FOR i IN range(len(l))] AS z
            FROM (SELECT doc_id,
                    list_filter(split(text, ' '), s -> s <> '') AS l
                  FROM documents)),
           LATERAL (SELECT unnest(z, recursive := false) AS u),
           LATERAL (SELECT u.i AS i, u.s AS seg)),
         nd AS (SELECT count(*) AS n_docs FROM documents),
         boiler AS (SELECT seg FROM
             (SELECT seg, count(DISTINCT doc_id) AS df_cnt FROM ex
              GROUP BY 1), nd
           WHERE df_cnt * 2 > n_docs * 1),
         surv AS (SELECT * FROM ex
                  WHERE seg NOT IN (SELECT seg FROM boiler)),
         reb AS (SELECT doc_id,
                   string_agg(seg, ' ' ORDER BY pos) AS text_clean,
                   count(*) AS n_kept
                 FROM surv GROUP BY 1),
         tot AS (SELECT doc_id, count(*) AS n_segs FROM ex GROUP BY 1)
         SELECT d.doc_id AS id,
           coalesce(reb.text_clean, '') AS text_clean,
           coalesce(reb.n_kept, 0) AS n_kept,
           coalesce(tot.n_segs, 0) - coalesce(reb.n_kept, 0)
             AS n_dropped
         FROM documents d
           LEFT JOIN reb ON d.doc_id = reb.doc_id
           LEFT JOIN tot ON d.doc_id = tot.doc_id
         ORDER BY id""",

    "q302_wav_resample" ->
      """WITH s AS (SELECT doc_id, 20 + (doc_id % 50) AS n FROM documents),
         e AS (SELECT doc_id, n,
                 [abs(((doc_id + 1) * 7919 + i * 104729) % 65521 - 32760)
                  FOR i IN range(n) IF i % 3 = 0] AS a
               FROM s)
         SELECT doc_id, CAST(8000 // 3 AS INTEGER) AS sample_rate,
           CAST(1 AS INTEGER) AS channels, CAST(16 AS INTEGER) AS bits,
           CAST(len(a) AS BIGINT) AS n_samples,
           CAST(list_sum(a) AS BIGINT) AS sum_abs,
           CAST(list_max(a) AS BIGINT) AS peak
         FROM e ORDER BY doc_id""",

    "q301_bmp_resize" ->
      """WITH s AS (SELECT doc_id, 8 + doc_id % 9 AS w,
                      5 + doc_id % 7 AS h FROM documents),
         e AS (SELECT doc_id, w, h,
           [(doc_id*3 + ((i % 6) * w // 6)*7
                       + ((i // 6) * h // 4)*11) % 256
              FOR i IN range(24)] AS rs,
           [(doc_id*5 + ((i % 6) * w // 6)*13
                       + ((i // 6) * h // 4)*3) % 256
              FOR i IN range(24)] AS gs,
           [(doc_id*7 + ((i % 6) * w // 6)
                       + ((i // 6) * h // 4)*17) % 256
              FOR i IN range(24)] AS bs
         FROM s)
         SELECT doc_id, CAST(6 AS INTEGER) AS width,
           CAST(4 AS INTEGER) AS height,
           CAST(list_sum(rs) AS BIGINT) AS sum_r,
           CAST(list_sum(gs) AS BIGINT) AS sum_g,
           CAST(list_sum(bs) AS BIGINT) AS sum_b,
           CAST((doc_id*3 % 256) * 65536 + (doc_id*5 % 256) * 256 +
                (doc_id*7 % 256) AS BIGINT) AS first_px
         FROM e ORDER BY doc_id""",

    // q24's replay + the label anti-filter before ranking
    "q249_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv,
                      vec_id % 5 AS ql
                    FROM embeddings WHERE vec_id < 10),
            e AS (SELECT vec_id AS nbr, embedding::DOUBLE[] AS v,
                      vec_id % 5 AS nl
                    FROM embeddings),
            sc AS (SELECT qid, nbr, nl,
                     round(list_cosine_similarity(qv, v), 6) AS score
                   FROM q, e WHERE nbr != qid AND nl != ql),
            r AS (SELECT qid, nbr, nl, score,
                    CAST(row_number() OVER
                      (PARTITION BY qid ORDER BY score DESC, nbr)
                      AS INTEGER) AS rank
                  FROM sc)
         SELECT qid, nbr, nl AS nbr_label, score, rank
         FROM r WHERE rank <= 5 ORDER BY qid, rank""",

    // parity-split all-pairs replay of the symdiff <= 1 screen
    "q250_deletion_incremental" ->
      """WITH tkn AS (SELECT doc_id,
                 list_sort(list_distinct(
                   [x FOR x IN string_split(text, ' ') IF x <> ''])) AS ws
               FROM documents),
         s AS (SELECT doc_id, ws, len(ws) AS n FROM tkn WHERE len(ws) > 0)
         SELECT a.doc_id AS left_id, b.doc_id AS right_id,
           CAST(a.n + b.n - 2 * len(list_intersect(a.ws, b.ws))
                AS INTEGER) AS symdiff
         FROM s a JOIN s b
           ON a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
         WHERE a.n + b.n - 2 * len(list_intersect(a.ws, b.ws)) <= 1
         ORDER BY 1, 2""",

    // bounded k-core peel replayed as a generated CTE chain (4 rounds,
    // k=80) — fixed-round semantics make this exact at any SF
    "q263_kcore" -> kcoreSql(k = 80, rounds = 4),

    // CDC: identical per-token folds, gram folds, boundary rule, and
    // span reassembly.
    "q231_content_chunks" ->
      """WITH t AS (SELECT doc_id, [x FOR x IN string_split(text, ' ')
                      IF x <> ''] AS ts FROM documents),
         t2 AS (SELECT doc_id,
                  [list_reduce(list_prepend(CAST(7 AS BIGINT),
                     [CAST(ascii(substring(tok, i, 1)) AS BIGINT)
                      FOR i IN range(1, length(tok) + 1)]),
                    (a, c) -> (a * 31 + c) % 2147483647)
                   FOR tok IN ts] AS th
                FROM t WHERE len(ts) > 0),
         e0 AS (SELECT doc_id, th,
                  CASE WHEN len(th) >= 4 THEN
                    [e FOR e IN range(4, len(th) + 1)
                     IF list_reduce(list_prepend(CAST(7 AS BIGINT),
                          th[e-3:e]),
                          (a, h) -> (a * 31 + h) % 2147483647)
                        % 16 = 0]
                  ELSE [] END AS ends
                FROM t2),
         -- order-stable tail append (list_distinct would REORDER)
         e AS (SELECT doc_id, th,
                 CASE WHEN len(ends) > 0 AND ends[len(ends)] = len(th)
                      THEN ends ELSE list_append(ends, len(th)) END
                   AS e2
               FROM e0),
         sp AS (SELECT doc_id, th,
                  unnest([{'idx': j,
                    'cf': (CASE WHEN j = 1 THEN 0 ELSE e2[j-1] END) + 1,
                    'ct': e2[j]}
                    FOR j IN range(1, len(e2) + 1)]) AS c
                FROM e)
         SELECT doc_id, CAST(c.idx AS INTEGER) AS chunk_idx,
           CAST(c.cf AS INTEGER) AS tok_from,
           CAST(c.ct AS INTEGER) AS tok_to,
           CAST(c.ct - c.cf + 1 AS INTEGER) AS n_toks,
           list_reduce(list_prepend(CAST(7 AS BIGINT), th[c.cf:c.ct]),
             (a, h) -> (a * 31 + h) % 2147483647) AS chunk_hash
         FROM sp ORDER BY doc_id, chunk_idx""",

    // Active users: distinct (user, day) frame, bounded cover
    // explode, day spine with zeros.
    "q229_active_users" ->
      """WITH act AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE)
                        AS d
                      FROM events
                      WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         dau AS (SELECT d, count(*) AS dau FROM act GROUP BY 1),
         cov AS (SELECT cd, count(*) AS wau FROM (
                   SELECT DISTINCT u, d + CAST(x AS INTEGER) AS cd
                   FROM act CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4,
                     5, 6]) AS x)) GROUP BY 1),
         spine AS (SELECT d0 + CAST(unnest(generate_series(0,
                      date_diff('day', d0, d1))) AS INTEGER) AS d
                   FROM (SELECT min(d) AS d0, max(d) AS d1 FROM act))
         SELECT strftime(s.d, '%Y-%m-%d') AS day,
           coalesce(dau.dau, 0) AS dau, coalesce(cov.wau, 0) AS wau,
           CASE WHEN coalesce(cov.wau, 0) = 0 THEN 0
                ELSE CAST((1000 * coalesce(dau.dau, 0))
                     // coalesce(cov.wau, 0) AS BIGINT) END
             AS stickiness_permille
         FROM spine s LEFT JOIN dau ON s.d = dau.d
                      LEFT JOIN cov ON s.d = cov.cd
         ORDER BY day""",

    // Survival: identical life table, log-space cumulative curve,
    // same -99e6 curve-ended sentinel.
    "q230_survival" ->
      """WITH c AS (SELECT user_id, ts, event_type FROM events
                    WHERE ts IS NOT NULL),
         st AS (SELECT user_id AS u, min(CAST(ts AS DATE)) AS t0
                FROM c WHERE event_type = 'signup' GROUP BY 1),
         en AS (SELECT user_id AS u, min(CAST(ts AS DATE)) AS te
                FROM c WHERE event_type = 'purchase' GROUP BY 1),
         hz AS (SELECT max(CAST(ts AS DATE)) AS h FROM c),
         sub AS (SELECT st.u,
                   (en.te IS NOT NULL AND en.te >= st.t0) AS conv,
                   CAST(CASE WHEN en.te IS NOT NULL AND en.te >= st.t0
                        THEN date_diff('day', st.t0, en.te)
                        ELSE date_diff('day', st.t0, hz.h) END
                     AS BIGINT) AS t
                 FROM st LEFT JOIN en ON st.u = en.u CROSS JOIN hz),
         tt AS (SELECT count(*) AS n_total FROM sub),
         days AS (SELECT t AS t_days,
                    CAST(sum(CASE WHEN conv THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_events,
                    CAST(sum(CASE WHEN conv THEN 0 ELSE 1 END)
                         AS BIGINT) AS n_censored
                  FROM sub GROUP BY 1),
         rk AS (SELECT days.*, tt.n_total,
                  CAST(coalesce(sum(n_events + n_censored) OVER (
                    ORDER BY t_days ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS BIGINT) AS cum
                FROM days CROSS JOIN tt),
         tm AS (SELECT t_days, n_events, n_censored,
                  (n_total - cum) AS n_risk,
                  CASE WHEN n_events = 0 THEN 0
                       WHEN n_events >= n_total - cum THEN -99000000
                       ELSE CAST(floor(ln(1.0 - CAST(n_events AS DOUBLE)
                              / CAST(n_total - cum AS DOUBLE))
                            * 1000000.0 + 0.5) AS BIGINT)
                  END AS term
                FROM rk)
         SELECT t_days, n_risk, n_events, n_censored,
           CAST(sum(term) OVER (ORDER BY t_days
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ln_surv_fp
         FROM tm ORDER BY t_days""",

    // Sorted neighborhood: rank window + rank-distance join, same
    // levenshtein (the engines agree — q145).
    "q227_sorted_neighborhood" ->
      """WITH b AS (SELECT DISTINCT p_partkey AS id, p_name AS k
                    FROM part WHERE p_name IS NOT NULL),
         r AS (SELECT id, k,
                 row_number() OVER (ORDER BY k, id) - 1 AS rnk FROM b)
         SELECT a.id AS id1, c.id AS id2, a.k AS k1, c.k AS k2,
           CAST(levenshtein(a.k, c.k) AS INTEGER) AS dist
         FROM r a JOIN r c
           ON c.rnk > a.rnk AND c.rnk - a.rnk <= 5
         WHERE levenshtein(a.k, c.k) <= 8
         ORDER BY id1, id2""",

    // Associations: q197's session chain, distinct memberships,
    // within-session pair join, shared lift expression.
    "q228_associations" ->
      """WITH e AS (SELECT user_id, ts, event_id, event_type
                    FROM events
                    WHERE ts IS NOT NULL AND user_id IS NOT NULL),
         l AS (SELECT *,
                 CASE WHEN lag(ts) OVER w IS NULL THEN 1
                      WHEN date_diff('second', lag(ts) OVER w, ts)
                           > 1800 THEN 1 ELSE 0 END AS nw
               FROM e
               WINDOW w AS (PARTITION BY user_id
                            ORDER BY ts, event_id)),
         s AS (SELECT user_id AS u, event_type AS t,
                 sum(nw) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
               FROM l),
         m AS (SELECT DISTINCT u, sid, t FROM s),
         ns AS (SELECT count(*) AS ns FROM
                  (SELECT DISTINCT u, sid FROM m)),
         it AS (SELECT t, count(*) AS n FROM m GROUP BY 1),
         pr AS (SELECT a.t AS a, c.t AS b, count(*) AS n_ab
                FROM m a JOIN m c ON a.u = c.u AND a.sid = c.sid
                  AND a.t < c.t
                GROUP BY 1, 2 HAVING count(*) >= 5)
         SELECT pr.a, pr.b, n_ab,
           CAST((1000 * n_ab) // ia.n AS BIGINT) AS conf_ab_permille,
           CAST(floor(CAST(n_ab AS DOUBLE) * CAST(ns.ns AS DOUBLE)
                / (CAST(ia.n AS DOUBLE) * CAST(ib.n AS DOUBLE))
                * 1000000.0 + 0.5) AS BIGINT) AS lift_fp
         FROM pr JOIN it ia ON pr.a = ia.t
                 JOIN it ib ON pr.b = ib.t
                 CROSS JOIN ns
         ORDER BY pr.a, pr.b""",

    // Attrition: q199's gate chain, one count per stage.
    "q226_attrition" ->
      """WITH g1 AS (SELECT doc_id, text FROM documents
             WHERE NOT coalesce(len(regexp_extract_all(text,
               '\b(?:slow query|merge batch)\b')) > 0, TRUE)),
         tk AS (SELECT doc_id, text, string_split(text, ' ') AS ws
                FROM g1),
         g2 AS (SELECT doc_id, text, ws FROM tk
                WHERE CAST(floor((len(list_distinct(ws)) * 1.0 / len(ws)
                    * 0.5
                  + least(len(ws) / 100.0, 1.0) * 0.3
                  + len(list_filter(ws, t -> t IN
                      ('the','a','of','and','to','in'))) * 1.0
                    / len(ws) * 0.2) * 10000.0 + 0.5) AS BIGINT)
                  >= 4000),
         sh AS (SELECT doc_id, unnest(list_distinct(
                  [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                   FOR i IN range(1, len(ws) - 1)])) AS s FROM g2),
         tot AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         nov AS (SELECT doc_id, count(*) AS novel FROM (
                   SELECT s, min(doc_id) AS doc_id FROM sh GROUP BY 1)
                 GROUP BY 1),
         g3 AS (SELECT g2.doc_id FROM g2
                LEFT JOIN tot ON g2.doc_id = tot.doc_id
                LEFT JOIN nov ON g2.doc_id = nov.doc_id
                WHERE CASE WHEN coalesce(tot.n_sh, 0) = 0 THEN 0
                           ELSE (1000 * coalesce(nov.novel, 0))
                                // coalesce(tot.n_sh, 0) END >= 400)
         SELECT * FROM (
           SELECT 0 AS stage_idx, 'input' AS stage, count(*) AS n_rows
           FROM documents
           UNION ALL SELECT 1, 'blocklist', count(*) FROM g1
           UNION ALL SELECT 2, 'quality', count(*) FROM g2
           UNION ALL SELECT 3, 'novelty', count(*) FROM g3)
         ORDER BY stage_idx""",

    // PSI: same smoothed shares, one shared float term per bin.
    "q223_psi_drift" ->
      """WITH tkn AS (SELECT doc_id, string_split(text, ' ') AS ws
                      FROM documents),
         qq AS (SELECT doc_id,
                 CAST(floor((len(list_distinct(ws)) * 1.0 / len(ws)
                     * 0.5
                   + least(len(ws) / 100.0, 1.0) * 0.3
                   + len(list_filter(ws, t -> t IN
                       ('the','a','of','and','to','in'))) * 1.0
                     / len(ws) * 0.2) * 10000.0 + 0.5) AS BIGINT) AS q
               FROM tkn),
         ob AS (SELECT q // 1000 AS bin, count(*) AS n FROM qq
                WHERE doc_id % 3 != 0 GROUP BY 1),
         nb AS (SELECT q // 1000 AS bin, count(*) AS n FROM qq
                WHERE doc_id % 7 != 0 GROUP BY 1),
         j AS (SELECT coalesce(ob.bin, nb.bin) AS bin,
                 coalesce(ob.n, 0) AS n_base, coalesce(nb.n, 0) AS n_cur
               FROM ob FULL JOIN nb ON ob.bin = nb.bin),
         t AS (SELECT CAST(sum(n_base) AS BIGINT) AS tb,
                 CAST(sum(n_cur) AS BIGINT) AS tc,
                 count(*) AS nbins FROM j)
         SELECT bin, n_base, n_cur,
           CAST(floor(((CAST(n_base AS DOUBLE) + 1.0)
                       / (CAST(tb AS DOUBLE) + CAST(nbins AS DOUBLE))
                      - (CAST(n_cur AS DOUBLE) + 1.0)
                       / (CAST(tc AS DOUBLE) + CAST(nbins AS DOUBLE)))
                     * ln(((CAST(n_base AS DOUBLE) + 1.0)
                       / (CAST(tb AS DOUBLE) + CAST(nbins AS DOUBLE)))
                       / ((CAST(n_cur AS DOUBLE) + 1.0)
                       / (CAST(tc AS DOUBLE) + CAST(nbins AS DOUBLE))))
                     * 1000000.0 + 0.5) AS BIGINT) AS psi_term_fp
         FROM j CROSS JOIN t ORDER BY bin""",

    // Chi-square: integer-lifted (oN - rc)^2 / (rcN) per cell,
    // micro-quantized, summed per group.
    "q224_chi_square" ->
      """WITH cells AS (SELECT source AS g, lang AS c, count(*) AS o
               FROM documents
               WHERE source IS NOT NULL AND lang IS NOT NULL
               GROUP BY 1, 2),
         r AS (SELECT g, CAST(sum(o) AS BIGINT) AS r
               FROM cells GROUP BY 1),
         cl AS (SELECT c, CAST(sum(o) AS BIGINT) AS cc
                FROM cells GROUP BY 1),
         n AS (SELECT CAST(sum(o) AS BIGINT) AS nn FROM cells),
         t AS (SELECT cells.g, o,
                 CAST(floor((CAST(o AS DOUBLE) * CAST(nn AS DOUBLE)
                        - CAST(r.r AS DOUBLE) * CAST(cl.cc AS DOUBLE))
                      * (CAST(o AS DOUBLE) * CAST(nn AS DOUBLE)
                        - CAST(r.r AS DOUBLE) * CAST(cl.cc AS DOUBLE))
                      / (CAST(r.r AS DOUBLE) * CAST(cl.cc AS DOUBLE)
                         * CAST(nn AS DOUBLE))
                      * 1000000.0 + 0.5) AS BIGINT) AS t
               FROM cells JOIN r ON cells.g = r.g
                          JOIN cl ON cells.c = cl.c
                          CROSS JOIN n)
         SELECT g AS "group", CAST(sum(o) AS BIGINT) AS n_rows,
           CAST(sum(t) AS BIGINT) AS chi2_fp
         FROM t GROUP BY 1 ORDER BY 1""",

    // Gini: ascending rank formula over the strata frame, exact
    // rank-weighted sum, one shared float expression.
    "q225_gini" ->
      """WITH b AS (SELECT source AS g,
                 CAST(sum(length(text)) AS BIGINT) AS x
               FROM documents GROUP BY 1),
         r AS (SELECT g, x, row_number() OVER (ORDER BY x, g) AS i
               FROM b)
         SELECT count(*) AS n_groups, CAST(sum(x) AS BIGINT) AS total,
           CAST(floor((2.0 * CAST(sum(i * x) AS DOUBLE)
                       / (CAST(count(*) AS DOUBLE)
                          * CAST(sum(x) AS DOUBLE))
                      - (CAST(count(*) AS DOUBLE) + 1.0)
                        / CAST(count(*) AS DOUBLE))
                     * 1000000.0 + 0.5) AS BIGINT) AS gini_fp
         FROM r""",

    // Star flatten: the same 3-dim join chain.
    "q220_star_flatten" ->
      """SELECT r_name AS region, n_name AS nation,
         count(*) AS n_orders,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS cents
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1, 2 ORDER BY 1, 2""",

    // Bounce rate: q197's session frame, single-event share.
    "q221_bounce_rate" ->
      """WITH e AS (SELECT user_id, ts, event_id FROM events
                    WHERE ts IS NOT NULL AND user_id IS NOT NULL),
         l AS (SELECT *,
                 CASE WHEN lag(ts) OVER w IS NULL THEN 1
                      WHEN date_diff('second', lag(ts) OVER w, ts)
                           > 1800 THEN 1 ELSE 0 END AS nw
               FROM e
               WINDOW w AS (PARTITION BY user_id
                            ORDER BY ts, event_id)),
         s AS (SELECT user_id,
                 sum(nw) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
               FROM l),
         g AS (SELECT user_id, session_id, count(*) AS n_events
               FROM s GROUP BY 1, 2)
         SELECT count(*) AS n_sessions,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_bounces,
           CAST((1000 * sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END))
                // count(*) AS BIGINT) AS bounce_permille
         FROM g""",

    // Ratio to parent: child and parent aggregates joined.
    "q222_ratio_to_parent" ->
      """WITH flat AS (SELECT r_name AS region, n_name AS nation,
                 CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                   AS cents
               FROM orders
               JOIN customer ON o_custkey = c_custkey
               JOIN nation ON c_nationkey = n_nationkey
               JOIN region ON n_regionkey = r_regionkey),
         bn AS (SELECT region, nation, CAST(sum(cents) AS BIGINT)
                  AS cents FROM flat GROUP BY 1, 2),
         br AS (SELECT region, CAST(sum(cents) AS BIGINT)
                  AS region_cents FROM bn GROUP BY 1)
         SELECT bn.region, bn.nation, bn.cents, br.region_cents,
           CAST((1000 * bn.cents) // br.region_cents AS BIGINT)
             AS share_permille
         FROM bn JOIN br ON bn.region = br.region
         ORDER BY bn.region, bn.nation""",

    // Skyline: q26's quality + q196's novelty, per-x maxima, strict-
    // prefix max, identical dominance predicate.
    "q219_skyline" ->
      """WITH tkn AS (SELECT doc_id, string_split(text, ' ') AS ws
                      FROM documents),
         q AS (SELECT doc_id,
                 CAST(floor((len(list_distinct(ws)) * 1.0 / len(ws)
                     * 0.5
                   + least(len(ws) / 100.0, 1.0) * 0.3
                   + len(list_filter(ws, t -> t IN
                       ('the','a','of','and','to','in'))) * 1.0
                     / len(ws) * 0.2) * 10000.0 + 0.5) AS BIGINT) AS x
               FROM tkn),
         sh AS (SELECT doc_id, unnest(list_distinct(
                  [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                   FOR i IN range(1, len(ws) - 1)])) AS s FROM tkn),
         nov AS (SELECT doc_id, count(*) AS novel FROM (
                   SELECT s, min(doc_id) AS doc_id FROM sh GROUP BY 1)
                 GROUP BY 1),
         b AS (SELECT q.doc_id AS id, q.x,
                 coalesce(nov.novel, 0) AS y
               FROM q LEFT JOIN nov ON q.doc_id = nov.doc_id),
         px AS (SELECT x, max(y) AS my FROM b GROUP BY 1),
         pm AS (SELECT x, my,
                  max(my) OVER (ORDER BY x DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS pmax
                FROM px)
         SELECT b.id AS doc_id, b.x AS quality_x1e4, b.y AS novel
         FROM b JOIN pm ON b.x = pm.x
         WHERE NOT (coalesce(pm.pmax >= b.y, FALSE) OR pm.my > b.y)
         ORDER BY doc_id""",

    // Pareto: inclusive cumulative value window, identical integer
    // cut comparisons, class census.
    "q208_pareto" ->
      """WITH base AS (SELECT l_partkey AS e,
                 CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5)
                      AS BIGINT)) AS BIGINT) AS v
               FROM lineitem GROUP BY 1),
         tt AS (SELECT CAST(sum(v) AS BIGINT) AS vt FROM base),
         r AS (SELECT e, v,
                 CAST(sum(v) OVER (ORDER BY v DESC, e
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
               FROM base),
         cl AS (SELECT v,
                 CASE WHEN cum * 1000 <= 800 * vt THEN 'A'
                      WHEN cum * 1000 <= 950 * vt THEN 'B'
                      ELSE 'C' END AS cls
               FROM r CROSS JOIN tt)
         SELECT cls, count(*) AS n_entities,
           CAST(sum(v) AS BIGINT) AS value_total,
           CAST((1000 * sum(v)) // (SELECT vt FROM tt) AS BIGINT)
             AS share_permille
         FROM cl GROUP BY 1 ORDER BY cls""",

    // Column profile: per-column conditional sums + exact distincts,
    // unpivoted via UNION ALL.
    "q209_column_profile" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
                      strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s
                    FROM events)
         SELECT * FROM (
           SELECT 'event_id' AS "column", count(*) AS n_rows,
             CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_null,
             count(DISTINCT event_id) AS n_distinct FROM e
           UNION ALL
           SELECT 'user_id', count(*),
             CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT),
             count(DISTINCT user_id) FROM e
           UNION ALL
           SELECT 'event_type', count(*),
             CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT),
             count(DISTINCT event_type) FROM e
           UNION ALL
           SELECT 'ts_s', count(*),
             CAST(sum(CASE WHEN ts_s IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT),
             count(DISTINCT ts_s) FROM e)
         ORDER BY "column"""",

    // Histogram: identical sign-safe floor division, generated spine,
    // explicit zeros.
    "q210_histogram" ->
      """WITH b AS (SELECT (v - ((v % 5000000 + 5000000) % 5000000))
                      // 5000000 AS bin
                    FROM (SELECT CAST(floor(o_totalprice * 100 + 0.5)
                            AS BIGINT) AS v FROM orders)
                    WHERE v IS NOT NULL),
         c AS (SELECT bin, count(*) AS n FROM b GROUP BY 1),
         s AS (SELECT unnest(generate_series(b0, b1)) AS bin
               FROM (SELECT min(bin) AS b0, max(bin) AS b1 FROM b)
               WHERE b0 IS NOT NULL)
         SELECT s.bin, s.bin * 5000000 AS lo,
           (s.bin + 1) * 5000000 - 1 AS hi, coalesce(c.n, 0) AS n
         FROM s LEFT JOIN c ON s.bin = c.bin
         ORDER BY s.bin""",

    // Benford: decimal-string leading digit, shared float shares.
    "q206_benford" ->
      """WITH d AS (SELECT CAST(substring(CAST(v AS VARCHAR), 1, 1)
                      AS INTEGER) AS digit
                    FROM (SELECT CAST(floor(o_totalprice * 100 + 0.5)
                            AS BIGINT) AS v FROM orders)
                    WHERE v > 0),
         c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM c),
         x AS (SELECT digit, n,
                 CAST(floor(CAST(n AS DOUBLE) / CAST(t AS DOUBLE)
                      * 1000000.0 + 0.5) AS BIGINT) AS obs_fp,
                 CAST(floor(ln(1.0 + 1.0 / digit) / ln(10.0)
                      * 1000000.0 + 0.5) AS BIGINT) AS benford_fp
               FROM c CROSS JOIN t)
         SELECT digit, n, obs_fp, benford_fp,
                abs(obs_fp - benford_fp) AS dev_fp
         FROM x ORDER BY digit""",

    // RFM: per-entity reduce, three ranked tier cuts with the
    // identical integer formula, segment census.
    "q207_rfm_segments" ->
      """WITH base AS (SELECT o_custkey AS e,
                 max(CAST(date_diff('day', DATE '1970-01-01',
                     o_orderdate) AS BIGINT)) AS r,
                 count(*) AS f,
                 CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
                      AS BIGINT)) AS BIGINT) AS m
               FROM orders GROUP BY 1),
         nn AS (SELECT count(*) AS nt FROM base),
         t1 AS (SELECT base.*, nt,
                  CAST(((row_number() OVER (ORDER BY r, e)) - 1) * 3
                       // nt + 1 AS INTEGER) AS r_bucket
                FROM base CROSS JOIN nn),
         t2 AS (SELECT t1.*,
                  CAST(((row_number() OVER (ORDER BY f, e)) - 1) * 3
                       // nt + 1 AS INTEGER) AS f_bucket
                FROM t1),
         t3 AS (SELECT t2.*,
                  CAST(((row_number() OVER (ORDER BY m, e)) - 1) * 3
                       // nt + 1 AS INTEGER) AS m_bucket
                FROM t2)
         SELECT r_bucket, f_bucket, m_bucket, count(*) AS n_entities
         FROM t3 GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",

    // Dedup curve: q21's pair CTEs, exact integer decile buckets,
    // cumulative over the tiny histogram.
    "q204_dedup_curve" ->
      """WITH tkn AS (SELECT doc_id, string_split(text, ' ') AS ws
                      FROM documents),
         sh AS (SELECT doc_id, list_distinct(
                  [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                   FOR i IN range(1, len(ws) - 1)]) AS shingles
                FROM tkn),
         ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s
                FROM sh),
         pairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
                     count(*) AS co, any_value(a.n) AS na,
                     any_value(b.n) AS nb
                   FROM ex a JOIN ex b
                     ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         bk AS (SELECT CAST((10 * co) // (na + nb - co) AS INTEGER)
                  AS tau_bucket FROM pairs),
         h AS (SELECT tau_bucket, count(*) AS n_pairs FROM bk
               WHERE tau_bucket >= 0 GROUP BY 1)
         SELECT tau_bucket, n_pairs,
           CAST(sum(n_pairs) OVER (ORDER BY tau_bucket DESC
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_cum
         FROM h ORDER BY tau_bucket DESC""",

    // Shard entropy: q90's shard assignment + per-term-quantized
    // entropy estimator.
    "q205_shard_entropy" ->
      """WITH h AS (SELECT doc_id, source,
           (((((((doc_id + 1) % 2147483647) + 2147483647) % 2147483647)
              * 48271) % 2147483647) * 48271) % 2147483647 AS hv
         FROM documents),
         r AS (SELECT doc_id, source,
                 row_number() OVER (ORDER BY hv, doc_id) - 1 AS pos
               FROM h),
         a AS (SELECT pos % 8 AS shard, source FROM r),
         c AS (SELECT shard, source, count(*) AS n FROM a GROUP BY 1, 2),
         g AS (SELECT shard, CAST(sum(n) AS BIGINT) AS n_rows,
                 count(*) AS n_sources,
                 CAST(sum(CAST(floor(n * ln(n) * 1000000.0 + 0.5)
                      AS BIGINT)) AS BIGINT) AS clnc
               FROM c GROUP BY 1)
         SELECT shard, n_rows, n_sources,
           CAST(floor(ln(n_rows) * 1000000.0 + 0.5) AS BIGINT)
             - (clnc // n_rows) AS entropy_fp
         FROM g ORDER BY shard""",

    // Frequent paths: q197's session chain + a path count.
    "q200_frequent_paths" ->
      """WITH e AS (SELECT user_id, ts, event_id, event_type
                    FROM events
                    WHERE ts IS NOT NULL AND user_id IS NOT NULL),
         l AS (SELECT *,
                 CASE WHEN lag(ts) OVER w IS NULL THEN 1
                      WHEN date_diff('second', lag(ts) OVER w, ts)
                           > 1800 THEN 1 ELSE 0 END AS nw
               FROM e
               WINDOW w AS (PARTITION BY user_id
                            ORDER BY ts, event_id)),
         s AS (SELECT user_id, ts, event_id, event_type,
                 sum(nw) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
               FROM l),
         p AS (SELECT user_id, session_id,
                 string_agg(event_type, '>' ORDER BY ts, event_id)
                   AS path
               FROM s GROUP BY 1, 2)
         SELECT path, count(*) AS n_sessions FROM p
         GROUP BY 1 ORDER BY n_sessions DESC, path LIMIT 20""",

    // Markov accuracy: q130's lagged pair stream, argmax with the
    // smallest-type tie rule, one model join.
    "q201_markov_accuracy" ->
      """WITH x AS (SELECT event_type AS to_type,
                 lag(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS from_type
               FROM events WHERE ts IS NOT NULL),
         p AS (SELECT from_type, to_type FROM x
               WHERE from_type IS NOT NULL),
         t AS (SELECT from_type, to_type, count(*) AS n
               FROM p GROUP BY 1, 2),
         b AS (SELECT from_type, max(n) AS n FROM t GROUP BY 1),
         m AS (SELECT t.from_type, min(t.to_type) AS predicted
               FROM t JOIN b ON t.from_type = b.from_type AND t.n = b.n
               GROUP BY 1)
         SELECT p.from_type, m.predicted, count(*) AS n_pairs,
           CAST(sum(CASE WHEN p.to_type = m.predicted THEN 1 ELSE 0
                    END) AS BIGINT) AS n_correct,
           CAST((1000 * sum(CASE WHEN p.to_type = m.predicted THEN 1
                            ELSE 0 END)) // count(*) AS BIGINT)
             AS acc_permille
         FROM p JOIN m ON p.from_type = m.from_type
         GROUP BY 1, 2 ORDER BY 1""",

    // Conversion delay: q128's two funnel CTEs + whole-day buckets.
    "q202_conversion_delay" ->
      """WITH e AS (SELECT user_id, ts, event_type FROM events
                    WHERE ts IS NOT NULL),
         s1 AS (SELECT user_id, min(ts) AS t1 FROM e
                WHERE event_type = 'signup' GROUP BY 1),
         s2 AS (SELECT s1.user_id, s1.t1,
                  min(CASE WHEN e.ts > s1.t1 THEN e.ts END) AS t2
                FROM s1 LEFT JOIN e ON e.user_id = s1.user_id
                  AND e.event_type = 'purchase'
                GROUP BY 1, 2)
         SELECT date_diff('second', t1, t2) // 86400 AS delay_days,
                count(*) AS n_users
         FROM s2 WHERE t2 IS NOT NULL
         GROUP BY 1 ORDER BY 1""",

    // Policy funnel: the three gates replayed in sequence — novelty is
    // computed over the SURVIVORS of the first two gates, like the
    // Pipeline's lineage does.
    "q199_pipeline_policy" ->
      """WITH g1 AS (SELECT doc_id, source, text FROM documents
             WHERE NOT coalesce(len(regexp_extract_all(text,
               '\b(?:slow query|merge batch)\b')) > 0, TRUE)),
         tk AS (SELECT doc_id, source, text,
                  string_split(text, ' ') AS ws FROM g1),
         g2 AS (SELECT doc_id, source, text, ws FROM tk
                WHERE CAST(floor((len(list_distinct(ws)) * 1.0 / len(ws)
                    * 0.5
                  + least(len(ws) / 100.0, 1.0) * 0.3
                  + len(list_filter(ws, t -> t IN
                      ('the','a','of','and','to','in'))) * 1.0
                    / len(ws) * 0.2) * 10000.0 + 0.5) AS BIGINT)
                  >= 4000),
         sh AS (SELECT doc_id, unnest(list_distinct(
                  [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                   FOR i IN range(1, len(ws) - 1)])) AS s FROM g2),
         tot AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         nov AS (SELECT doc_id, count(*) AS novel FROM (
                   SELECT s, min(doc_id) AS doc_id FROM sh GROUP BY 1)
                 GROUP BY 1),
         keep AS (SELECT g2.doc_id FROM g2
                  LEFT JOIN tot ON g2.doc_id = tot.doc_id
                  LEFT JOIN nov ON g2.doc_id = nov.doc_id
                  WHERE CASE WHEN coalesce(tot.n_sh, 0) = 0 THEN 0
                             ELSE (1000 * coalesce(nov.novel, 0))
                                  // coalesce(tot.n_sh, 0) END >= 400)
         SELECT g2.doc_id, g2.source FROM g2
         JOIN keep ON g2.doc_id = keep.doc_id
         ORDER BY g2.doc_id""",

    // Novelty: keep-first on the shingle key, counts by winning doc,
    // zeros via left joins.
    "q196_coverage_novelty" ->
      """WITH tkn AS (SELECT doc_id, string_split(text, ' ') AS ws
                      FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct(
                  [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                   FOR i IN range(1, len(ws) - 1)])) AS s
                FROM tkn),
         tot AS (SELECT doc_id, count(*) AS n_shingles
                 FROM sh GROUP BY 1),
         nov AS (SELECT doc_id, count(*) AS novel FROM (
                   SELECT s, min(doc_id) AS doc_id FROM sh GROUP BY 1)
                 GROUP BY 1)
         SELECT d.doc_id,
           coalesce(tot.n_shingles, 0) AS n_shingles,
           coalesce(nov.novel, 0) AS novel,
           CASE WHEN coalesce(tot.n_shingles, 0) = 0 THEN 0
                ELSE CAST((1000 * coalesce(nov.novel, 0))
                          // coalesce(tot.n_shingles, 0) AS BIGINT)
           END AS novelty_permille
         FROM documents d
         LEFT JOIN tot ON d.doc_id = tot.doc_id
         LEFT JOIN nov ON d.doc_id = nov.doc_id
         ORDER BY d.doc_id""",

    // Session paths: identical gap rule (q31's), (ts, event_id) total
    // order on both the boundary window and the path string_agg.
    "q197_session_paths" ->
      """WITH e AS (SELECT user_id, ts, event_id, event_type
                    FROM events
                    WHERE ts IS NOT NULL AND user_id IS NOT NULL),
         l AS (SELECT *,
                 CASE WHEN lag(ts) OVER w IS NULL THEN 1
                      WHEN date_diff('second', lag(ts) OVER w, ts)
                           > 1800 THEN 1 ELSE 0 END AS nw
               FROM e
               WINDOW w AS (PARTITION BY user_id
                            ORDER BY ts, event_id)),
         s AS (SELECT user_id, ts, event_id, event_type,
                 sum(nw) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
               FROM l)
         SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS t0,
           count(*) AS n_events,
           string_agg(event_type, '>' ORDER BY ts, event_id) AS path
         FROM s GROUP BY 1, 2 ORDER BY 1, 2""",

    // K-anonymity: class-count frame then a scalar class aggregate.
    "q198_k_anonymity" ->
      """WITH c AS (SELECT count(*) AS n FROM orders
                    GROUP BY o_orderpriority, o_orderstatus,
                             strftime(o_orderdate, '%Y-%m-%d'))
         SELECT CAST(sum(n) AS BIGINT) AS n_rows,
           count(*) AS n_classes,
           CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
             AS n_rows_at_risk,
           CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_classes_at_risk,
           CAST((1000 * sum(CASE WHEN n < 5 THEN n ELSE 0 END))
                // sum(n) AS BIGINT) AS risk_permille
         FROM c""",

    // Source overlap: q21's shingle CTEs lifted to the stratum level,
    // inclusion-exclusion union, shared float division.
    "q194_source_overlap" ->
      """WITH tkn AS (SELECT source, string_split(text, ' ') AS ws
                      FROM documents),
         shl AS (SELECT source, unnest(list_distinct(
                   [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                    FOR i IN range(1, len(ws) - 1)])) AS s
                 FROM tkn),
         sh AS (SELECT DISTINCT source AS src, s FROM shl),
         sz AS (SELECT src, count(*) AS nsh FROM sh GROUP BY 1),
         it AS (SELECT a.src AS src_a, b.src AS src_b,
                  count(*) AS inter
                FROM sh a JOIN sh b ON a.s = b.s AND a.src < b.src
                GROUP BY 1, 2)
         SELECT src_a, src_b, inter,
           (na.nsh + nb.nsh - inter) AS uni,
           CAST(floor(CAST(inter AS DOUBLE)
                      / CAST(na.nsh + nb.nsh - inter AS DOUBLE)
                      * 10000.0 + 0.5) AS BIGINT) AS jaccard_x1e4
         FROM it JOIN sz na ON it.src_a = na.src
                 JOIN sz nb ON it.src_b = nb.src
         ORDER BY src_a, src_b""",

    // Blocklist: identical alternation regexes, non-overlapping
    // match counts (q76's regexp_extract_all idiom).
    "q195_blocklist" ->
      """SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '\b(?:slow query|merge batch)\b')) AS INTEGER)
             AS n_latency,
           CAST(len(regexp_extract_all(text,
             '\b(?:table window|a row)\b')) AS INTEGER) AS n_layout,
           (len(regexp_extract_all(text,
              '\b(?:slow query|merge batch)\b')) > 0
            OR len(regexp_extract_all(text,
              '\b(?:table window|a row)\b')) > 0) AS blocked
         FROM documents ORDER BY doc_id""",

    // Revenue trend: same epoch-day x axis, exact HUGEINT sufficient
    // statistics, shared closed-form float expression (q170's shape).
    "q191_revenue_trend" ->
      """WITH b AS (SELECT o_orderpriority AS g,
                 CAST(date_diff('day', DATE '1970-01-01', o_orderdate)
                      AS BIGINT) AS x,
                 CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS y
               FROM orders),
         ag AS (SELECT g, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                  sum(x * y) AS sxy, sum(x * x) AS sxx
                FROM b GROUP BY 1),
         sl AS (SELECT g, n, CAST(n AS DOUBLE) AS nd,
                  CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
                  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    AS slope_raw
                FROM ag
                WHERE n >= 2
                  AND CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0)
         SELECT g AS o_orderpriority, n AS n_points,
                round(slope_raw, 6) AS slope,
                round((syd - slope_raw * sxd) / nd, 6) AS intercept
         FROM sl ORDER BY 1""",

    // Orphans: left join against distinct signup users; null-safe
    // (null user never matches → orphan).
    "q192_orphan_audit" ->
      """WITH p AS (SELECT DISTINCT user_id AS pk FROM events
                    WHERE event_type = 'signup'),
         c AS (SELECT event_type AS g, user_id AS ck FROM events
               WHERE event_type <> 'signup')
         SELECT g AS event_type, count(*) AS n_rows,
           CAST(sum(CASE WHEN pk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_orphans,
           CAST((1000 * sum(CASE WHEN pk IS NULL THEN 1 ELSE 0 END))
                // count(*) AS BIGINT) AS orphan_permille
         FROM c LEFT JOIN p ON c.ck = p.pk
         GROUP BY 1 ORDER BY 1""",

    // WITH TIES: rank() <= k replayed verbatim.
    "q193_topk_ties" ->
      """WITH b AS (SELECT o_orderkey, o_orderpriority,
                 CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                   AS cents
               FROM orders),
         r AS (SELECT o_orderkey, o_orderpriority, cents,
                 rank() OVER (PARTITION BY o_orderpriority
                              ORDER BY cents DESC) AS rnk
               FROM b)
         SELECT o_orderkey, o_orderpriority, cents, CAST(rnk AS INTEGER) AS rnk
         FROM r WHERE rnk <= 3
         ORDER BY o_orderpriority, rnk, o_orderkey""",

    // Burstiness: identical integer sufficient statistics, one shared
    // float division, 1e-4 floor.
    "q190_burstiness" ->
      """WITH tc AS (SELECT d, tok, count(*) AS c FROM (
             SELECT doc_id AS d, unnest(string_split(text, ' ')) AS tok
             FROM documents) WHERE tok <> '' GROUP BY 1, 2),
         st AS (SELECT tok, count(*) AS df_docs,
                  CAST(sum(c) AS BIGINT) AS sc,
                  CAST(sum(c * c) AS BIGINT) AS sc2
                FROM tc GROUP BY 1 HAVING sc >= 20),
         nd AS (SELECT count(DISTINCT doc_id) AS nd FROM documents)
         SELECT tok AS term, df_docs, sc AS total_cnt,
           CAST(floor(CAST(nd * sc2 - sc * sc AS DOUBLE)
                      / CAST((nd - 1) * sc AS DOUBLE)
                      * 10000.0 + 0.5) AS BIGINT) AS vmr_x1e4
         FROM st CROSS JOIN nd
         ORDER BY vmr_x1e4 DESC, term LIMIT 40""",

    // Cube: GROUP BY CUBE with the q33 null-marker convention.
    "q188_cube" ->
      """SELECT coalesce(o_orderstatus, '(all)') AS st,
                coalesce(o_orderpriority, '(all)') AS pr,
                count(*) AS n,
                CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                     AS BIGINT) AS cents
         FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
         ORDER BY 1, 2""",

    // Hourly anomaly: q173's dense spine feeding q167's median/MAD
    // screen, hour index = epoch hours.
    "q189_hourly_anomaly" ->
      """WITH base AS (SELECT event_type AS key,
                         date_trunc('hour', ts) AS h
                       FROM events
                       WHERE ts IS NOT NULL AND event_type IS NOT NULL),
         counts AS (SELECT key, h, count(*) AS n FROM base GROUP BY 1, 2),
         spine AS (SELECT unnest(generate_series(h0, h1,
                            INTERVAL 1 HOUR)) AS h
                   FROM (SELECT min(h) AS h0, max(h) AS h1 FROM base)
                   WHERE h0 IS NOT NULL),
         b AS (SELECT k.key AS g, epoch_ms(s.h) // 3600000 AS id,
                 coalesce(c.n, 0) AS v
               FROM (SELECT DISTINCT key FROM counts) k
               CROSS JOIN spine s
               LEFT JOIN counts c ON c.key = k.key AND c.h = s.h),
         r AS (SELECT id, g, v,
                 count(*) OVER (PARTITION BY g) AS n,
                 row_number() OVER (PARTITION BY g ORDER BY v, id) AS rn
               FROM b),
         med AS (SELECT g, v AS med FROM r WHERE rn = (n + 1) // 2),
         p05 AS (SELECT g, v AS p05 FROM r
                 WHERE rn = greatest(1, (5 * n) // 100)),
         p95 AS (SELECT g, v AS p95 FROM r
                 WHERE rn = greatest(1, (95 * n) // 100)),
         d AS (SELECT b.id, b.g, b.v, abs(b.v - med.med) AS dev
               FROM b JOIN med ON b.g = med.g),
         dr AS (SELECT id, g, v, dev,
                 count(*) OVER (PARTITION BY g) AS n,
                 row_number() OVER (PARTITION BY g ORDER BY dev, id)
                   AS rn
               FROM d),
         mad AS (SELECT g, dev AS mad FROM dr WHERE rn = (n + 1) // 2)
         SELECT d.g AS event_type, d.id AS hour_id, d.v AS n,
           least(greatest(d.v, p05.p05), p95.p95) AS v_wins
         FROM d JOIN mad ON d.g = mad.g
                JOIN p05 ON d.g = p05.g JOIN p95 ON d.g = p95.g
         WHERE d.dev * 10 > mad.mad * 35
         ORDER BY event_type, hour_id""",

    // Decayed activity: identical literal weight table indexed by age.
    "q187_decayed_activity" ->
      """WITH a AS (SELECT max(CAST(ts AS DATE)) AS d_max FROM events
                    WHERE ts IS NOT NULL),
         e AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events
               WHERE user_id IS NOT NULL),
         w AS (SELECT user_id,
                 CASE WHEN day IS NOT NULL
                       AND CAST(date_diff('day', day, d_max) AS INTEGER)
                           BETWEEN 0 AND 10
                      THEN [1024, 512, 256, 128, 64, 32, 16, 8, 4, 2, 1]
                        [CAST(date_diff('day', day, d_max) AS INTEGER)
                         + 1]
                      ELSE 0 END AS wt
               FROM e CROSS JOIN a)
         SELECT user_id, CAST(sum(wt) AS BIGINT) AS score,
           CAST(sum(CASE WHEN wt > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_recent,
           count(*) AS n_total
         FROM w GROUP BY 1 ORDER BY 1""",

    // Quantile normalization: window ranks tie-broken by id, the same
    // integer target-rank formula, one rank-key join.
    "q186_quantile_norm" ->
      """WITH tkn AS (SELECT doc_id, source,
                        string_split(text, ' ') AS ws
                      FROM documents),
         b AS (SELECT doc_id AS id, source AS grp,
                 CAST(floor((len(list_distinct(ws)) * 1.0 / len(ws) * 0.5
                   + least(len(ws) / 100.0, 1.0) * 0.3
                   + len(list_filter(ws, t -> t IN
                       ('the','a','of','and','to','in'))) * 1.0
                     / len(ws) * 0.2) * 10000.0 + 0.5) AS BIGINT) AS v
               FROM tkn),
         l AS (SELECT id, grp, v,
                 row_number() OVER (PARTITION BY grp ORDER BY v, id)
                   AS r,
                 count(*) OVER (PARTITION BY grp) AS ng
               FROM b),
         g AS (SELECT v AS v_norm,
                 row_number() OVER (ORDER BY v, id) AS grank FROM b),
         tot AS (SELECT count(*) AS n FROM b)
         SELECT l.id AS doc_id, l.grp AS source, l.v, g.v_norm
         FROM l CROSS JOIN tot
         JOIN g ON ((l.r - 1) * tot.n) // l.ng + 1 = g.grank
         ORDER BY doc_id""",

    // Keyness: identical conditional-sum counts, identical float
    // expression over exact integer casts, micro-unit floor.
    "q185_keyness_g2" ->
      """WITH tk AS (SELECT (source = 'src0') AS tgt, tok FROM (
             SELECT source, unnest(string_split(text, ' ')) AS tok
             FROM documents) WHERE tok <> ''),
         c AS (SELECT tok,
                 CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT)
                   AS a,
                 CAST(sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS BIGINT)
                   AS b
               FROM tk GROUP BY 1 HAVING a + b >= 5),
         t AS (SELECT CAST(sum(a) AS BIGINT) AS at,
                      CAST(sum(b) AS BIGINT) AS bt FROM c)
         SELECT tok AS term, a AS tgt_cnt, b AS ref_cnt,
           CAST(floor(2.0 * (
             (CASE WHEN a = 0 THEN 0.0
                   ELSE CAST(a AS DOUBLE) *
                     ln((CAST(a AS DOUBLE) * CAST(at + bt AS DOUBLE))
                        / (CAST(at AS DOUBLE) * CAST(a + b AS DOUBLE)))
              END)
             + (CASE WHEN b = 0 THEN 0.0
                     ELSE CAST(b AS DOUBLE) *
                       ln((CAST(b AS DOUBLE) * CAST(at + bt AS DOUBLE))
                          / (CAST(bt AS DOUBLE) * CAST(a + b AS DOUBLE)))
                END)) * 1000000.0 + 0.5) AS BIGINT) AS g2_fp,
           (a * bt > b * at) AS overused
         FROM c CROSS JOIN t
         ORDER BY g2_fp DESC, term LIMIT 40""",

    // Islands: same day - row_number() grouping (DATE - INTEGER is a
    // DATE in both engines).
    "q184_islands" ->
      """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                    FROM events
                    WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         g AS (SELECT user_id, day,
                 day - CAST(row_number() OVER (PARTITION BY user_id
                                               ORDER BY day) AS INTEGER)
                   AS grp
               FROM d)
         SELECT user_id,
           strftime(min(day), '%Y-%m-%d') AS island_start,
           strftime(max(day), '%Y-%m-%d') AS island_end,
           count(*) AS n_days
         FROM g GROUP BY user_id, grp
         ORDER BY user_id, island_start""",

    // PPMI similarity: the oracle replays pair formation at both
    // offsets, the symmetrized counts, micro-unit PPMI, HUGEINT
    // dots/norms, and the shared final float expression.
    "q175_ppmi_similarity" ->
      """WITH t AS (SELECT [x FOR x IN string_split(text, ' ')
                            IF x <> ''] AS ts FROM documents),
         p1 AS (SELECT unnest([[ts[i], ts[i+1]]
                              FOR i IN range(1, len(ts))]) AS p
                FROM t WHERE len(ts) >= 2),
         p2 AS (SELECT unnest([[ts[i], ts[i+2]]
                              FOR i IN range(1, len(ts) - 1)]) AS p
                FROM t WHERE len(ts) >= 3),
         fwd AS (SELECT p[1] AS a, p[2] AS b FROM p1
                 UNION ALL SELECT p[1] AS a, p[2] AS b FROM p2),
         sym AS (SELECT a, b FROM fwd UNION ALL SELECT b AS a, a AS b
                 FROM fwd),
         cc AS (SELECT a, b, count(*) AS ctc FROM sym GROUP BY 1, 2),
         ct AS (SELECT a, CAST(sum(ctc) AS BIGINT) AS ctm
                FROM cc GROUP BY 1),
         nn AS (SELECT CAST(sum(ctc) AS BIGINT) AS nn FROM cc),
         pp AS (SELECT cc.a, cc.b,
                  CAST(floor(ln((ctc * nn) * 1.0 / (ca.ctm * cb.ctm))
                             * 1000000.0 + 0.5) AS BIGINT) AS w
                FROM cc JOIN ct ca ON cc.a = ca.a
                        JOIN ct cb ON cc.b = cb.a
                        CROSS JOIN nn
                WHERE ctc >= 10),
         ppf AS (SELECT * FROM pp WHERE w > 0),
         nrm AS (SELECT a, sum(w * w) AS nsq FROM ppf GROUP BY 1),
         dots AS (SELECT l.a AS t1, r.a AS t2, sum(l.w * r.w) AS dot
                  FROM ppf l JOIN ppf r ON l.b = r.b AND l.a < r.a
                  GROUP BY 1, 2)
         SELECT t1, t2,
           round(CAST(dot AS DOUBLE)
                 / (sqrt(CAST(n1.nsq AS DOUBLE))
                    * sqrt(CAST(n2.nsq AS DOUBLE))), 6) AS sim
         FROM dots JOIN nrm n1 ON dots.t1 = n1.a
                   JOIN nrm n2 ON dots.t2 = n2.a
         ORDER BY sim DESC, t1, t2 LIMIT 30""",

    // Lift table: the oracle replays the q26 quality formula, the
    // md5-group dup flag, the 0-based rank and the identical integer
    // bin cut and permille.
    "q174_lift_table" ->
      """WITH tkn AS (SELECT doc_id, text, string_split(text, ' ') AS ws
                      FROM documents),
         q AS (SELECT doc_id,
                 CAST(floor((len(list_distinct(ws)) * 1.0 / len(ws) * 0.5
                   + least(len(ws) / 100.0, 1.0) * 0.3
                   + len(list_filter(ws, t -> t IN
                       ('the','a','of','and','to','in'))) * 1.0
                     / len(ws) * 0.2) * 10000.0 + 0.5) AS BIGINT) AS s,
                 text
               FROM tkn),
         dg AS (SELECT md5(text) AS g, count(*) AS dn
                FROM documents GROUP BY 1),
         b AS (SELECT q.doc_id AS id, q.s,
                 (dg.dn > 1) AS f
               FROM q JOIN dg ON md5(q.text) = dg.g),
         r AS (SELECT id, s, f,
                 row_number() OVER (ORDER BY s DESC, id) - 1 AS rnk,
                 count(*) OVER () AS n FROM b),
         d AS (SELECT CAST((rnk * 10) // n + 1 AS INTEGER) AS bucket, f
               FROM r)
         SELECT bucket, count(*) AS n_rows,
           CAST(sum(CASE WHEN f THEN 1 ELSE 0 END) AS BIGINT) AS n_flag,
           CAST((1000 * sum(CASE WHEN f THEN 1 ELSE 0 END))
                // count(*) AS BIGINT) AS flag_permille
         FROM d GROUP BY 1 ORDER BY bucket""",

    // Gap fill: generate_series spine (inclusive both ends, same as
    // Spark sequence) x distinct keys, left-joined counts.
    "q173_gap_fill" ->
      """WITH base AS (SELECT event_type AS key,
                         date_trunc('hour', ts) AS h
                       FROM events
                       WHERE ts IS NOT NULL AND event_type IS NOT NULL),
         counts AS (SELECT key, h, count(*) AS n FROM base GROUP BY 1, 2),
         spine AS (SELECT unnest(generate_series(h0, h1,
                            INTERVAL 1 HOUR)) AS h
                   FROM (SELECT min(h) AS h0, max(h) AS h1 FROM base)
                   WHERE h0 IS NOT NULL),
         keys AS (SELECT DISTINCT key FROM counts)
         SELECT k.key AS event_type,
                strftime(s.h, '%Y-%m-%d %H:%M:%S') AS h,
                coalesce(c.n, 0) AS n
         FROM keys k CROSS JOIN spine s
         LEFT JOIN counts c ON c.key = k.key AND c.h = s.h
         ORDER BY event_type, h""",

    // Attribution: the oracle picks each conversion's winner by
    // (ts DESC, event_id DESC) — identical to the engine's
    // dedup-then-asof (struct-max at equal time, latest-at-or-before).
    "q172_attribution" ->
      """WITH conv AS (SELECT event_id AS conv_id, user_id,
                         ts AS conv_ts
                       FROM events
                       WHERE event_type = 'purchase' AND ts IS NOT NULL)
         SELECT c.conv_id, c.user_id,
           strftime(c.conv_ts, '%Y-%m-%d %H:%M:%S.%f') AS conv_ts,
           CASE WHEN date_diff('second', t.touch_ts, c.conv_ts)
                     <= 172800 THEN t.touch_id END AS touch_id,
           CASE WHEN date_diff('second', t.touch_ts, c.conv_ts)
                     <= 172800 THEN t.touch_type END AS touch_type,
           CASE WHEN date_diff('second', t.touch_ts, c.conv_ts)
                     <= 172800
                THEN strftime(t.touch_ts, '%Y-%m-%d %H:%M:%S.%f')
           END AS touch_ts
         FROM conv c LEFT JOIN LATERAL (
           SELECT e.event_id AS touch_id, e.event_type AS touch_type,
                  e.ts AS touch_ts
           FROM events e
           WHERE e.user_id = c.user_id
             AND e.event_type IN ('view', 'click')
             AND e.ts IS NOT NULL AND e.ts <= c.conv_ts
           ORDER BY e.ts DESC, e.event_id DESC LIMIT 1) t ON TRUE
         ORDER BY conv_id""",

    // Count-Min: the oracle rebuilds the identical grid — same two
    // char-fold hashes (seeds 7/11), same double-hashed buckets, sums
    // exact — then replays the min-over-rows probe.
    "q171_count_min" ->
      """WITH occ AS (SELECT source, tok FROM (
             SELECT source, unnest(string_split(text, ' ')) AS tok
             FROM documents) WHERE tok <> ''),
         tc AS (SELECT source, tok, count(*) AS cnt
                FROM occ GROUP BY 1, 2),
         vh AS (SELECT tok,
                  list_reduce(list_prepend(CAST(7 AS BIGINT),
                      [CAST(ascii(substring(tok, i, 1)) AS BIGINT)
                       FOR i IN range(1, length(tok) + 1)]),
                    (a, c) -> (a * 31 + c) % 2147483647) AS h1,
                  list_reduce(list_prepend(CAST(11 AS BIGINT),
                      [CAST(ascii(substring(tok, i, 1)) AS BIGINT)
                       FOR i IN range(1, length(tok) + 1)]),
                    (a, c) -> (a * 31 + c) % 2147483647) AS h2
                FROM (SELECT DISTINCT tok FROM tc)),
         rows_ AS (SELECT unnest([0, 1, 2]) AS row),
         grid AS (SELECT source, row,
                    CAST((h1 + row * h2) % 2147483647 % 32 AS INTEGER)
                      AS bucket,
                    CAST(sum(cnt) AS BIGINT) AS c
                  FROM tc JOIN vh USING (tok) CROSS JOIN rows_
                  GROUP BY 1, 2, 3),
         pk AS (SELECT unnest(['table', 'row', 'spark', 'hash',
                               'merge', 'quantum']) AS tok),
         ph AS (SELECT tok,
                  list_reduce(list_prepend(CAST(7 AS BIGINT),
                      [CAST(ascii(substring(tok, i, 1)) AS BIGINT)
                       FOR i IN range(1, length(tok) + 1)]),
                    (a, c) -> (a * 31 + c) % 2147483647) AS h1,
                  list_reduce(list_prepend(CAST(11 AS BIGINT),
                      [CAST(ascii(substring(tok, i, 1)) AS BIGINT)
                       FOR i IN range(1, length(tok) + 1)]),
                    (a, c) -> (a * 31 + c) % 2147483647) AS h2
                FROM pk),
         pc AS (SELECT s.source, p.tok, r.row,
                  CAST((p.h1 + r.row * p.h2) % 2147483647 % 32
                       AS INTEGER) AS bucket
                FROM (SELECT DISTINCT source FROM occ) s
                CROSS JOIN ph p CROSS JOIN rows_ r),
         est AS (SELECT pc.source, pc.tok,
                   min(coalesce(g.c, 0)) AS cm_est
                 FROM pc LEFT JOIN grid g
                   ON pc.source = g.source AND pc.row = g.row
                      AND pc.bucket = g.bucket
                 GROUP BY 1, 2)
         SELECT est.source, est.tok AS token, cm_est,
                coalesce(tc.cnt, 0) AS exact_cnt
         FROM est LEFT JOIN tc
           ON est.source = tc.source AND est.tok = tc.tok
         ORDER BY est.source, token""",

    // Zipf fit: the oracle replays the identical vocab ranking and
    // integer sufficient statistics; sum(BIGINT) -> HUGEINT is exact,
    // and the closed-form slope/intercept shares the Spark side's
    // float expression structure over correctly-rounded casts.
    "q170_zipf_fit" ->
      """WITH tk AS (SELECT lang, unnest(string_split(text, ' ')) AS tok
               FROM documents),
         tf AS (SELECT lang AS stratum, tok, count(*) AS freq
                FROM tk WHERE tok <> '' GROUP BY 1, 2),
         rk AS (SELECT stratum, freq,
                  row_number() OVER (PARTITION BY stratum
                                     ORDER BY freq DESC, tok) AS rank
                FROM tf WHERE freq >= 2),
         fp AS (SELECT stratum,
                  CAST(floor(ln(rank) * 1000000.0 + 0.5) AS BIGINT) AS x,
                  CAST(floor(ln(freq) * 1000000.0 + 0.5) AS BIGINT) AS y
                FROM rk),
         ag AS (SELECT stratum, count(*) AS n_types,
                  sum(x) AS sx, sum(y) AS sy,
                  sum(x * y) AS sxy, sum(x * x) AS sxx
                FROM fp GROUP BY 1),
         sl AS (SELECT stratum, n_types,
                  CAST(n_types AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
                  CAST(sy AS DOUBLE) AS syd,
                  (CAST(n_types AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / (CAST(n_types AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope_raw
                FROM ag
                WHERE n_types >= 2
                  AND CAST(n_types AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0)
         SELECT stratum, n_types, round(slope_raw, 6) AS slope,
                round((syd - slope_raw * sxd) / nd, 6) AS intercept
         FROM sl ORDER BY stratum""",

    "q106_bigram_nll" ->
      """WITH t AS (SELECT doc_id,
             [x FOR x IN string_split(text, ' ') IF x <> ''] AS ts
           FROM documents),
         b AS (SELECT doc_id,
                 unnest([ts[i] || ' ' || ts[i+1]
                         FOR i IN range(1, len(ts))]) AS bg
               FROM t WHERE len(ts) >= 2),
         bc AS (SELECT bg, count(*) AS c12 FROM b GROUP BY 1),
         cc AS (SELECT string_split(bg, ' ')[1] AS w1, count(*) AS ctx
                FROM b GROUP BY 1),
         vv AS (SELECT count(DISTINCT tok) AS v FROM (
                  SELECT unnest(string_split(text, ' ')) AS tok
                  FROM documents) WHERE tok <> '')
         SELECT doc_id, count(*) AS n_bigrams,
                round(avg(ln((ctx + v) * 1.0 / (c12 + 1))), 6) AS nll2
         FROM b JOIN bc USING (bg)
              JOIN cc ON string_split(b.bg, ' ')[1] = cc.w1
              CROSS JOIN vv
         GROUP BY doc_id ORDER BY doc_id""",

    // Funnel v3: q108's DSIR chain gates survivors, then exact jaccard
    // pairs (the q21 oracle shape, restricted to survivors) drop the
    // higher id of each near-dup pair.
    "q110_funnel_dsir" ->
      """WITH tk AS (SELECT doc_id, source, tok
                FROM (SELECT doc_id, source,
                        unnest(string_split(text, ' ')) AS tok
                      FROM documents)
                WHERE tok <> ''),
         cr AS (SELECT tok, count(*) AS c FROM tk GROUP BY 1),
         ct AS (SELECT tok, count(*) AS c FROM tk
                WHERE source = 'src0' GROUP BY 1),
         m0 AS (SELECT coalesce(cr.tok, ct.tok) AS tok,
                  coalesce(cr.c, 0) AS cr, coalesce(ct.c, 0) AS ct
                FROM cr FULL JOIN ct ON cr.tok = ct.tok),
         hb AS (SELECT tok, cr, ct,
                  list_reduce(list_prepend(CAST(7 AS BIGINT),
                      [CAST(ascii(substring(tok, i, 1)) AS BIGINT)
                       FOR i IN range(1, length(tok) + 1)]),
                    (a, c) -> (a * 31 + c) % 2147483647) % 256 AS b
                FROM m0),
         bc AS (SELECT b, CAST(sum(cr) AS BIGINT) AS crb,
                       CAST(sum(ct) AS BIGINT) AS ctb
                FROM hb GROUP BY 1),
         s AS (SELECT CAST(sum(crb) AS BIGINT) AS tr,
                      CAST(sum(ctb) AS BIGINT) AS tt FROM bc),
         bm AS (SELECT b,
                  CAST(round((ln((ctb + 1.0) / (tt + 256))
                            - ln((crb + 1.0) / (tr + 256))) * 1000000)
                    AS BIGINT) AS lo
                FROM bc, s),
         tm AS (SELECT tok, lo FROM hb JOIN bm USING (b)),
         scd AS (SELECT doc_id, CAST(sum(lo) AS BIGINT) AS w,
                        count(*) AS n
                 FROM tk JOIN tm USING (tok) GROUP BY doc_id),
         surv AS (SELECT d.doc_id, d.source, d.text
                  FROM documents d JOIN scd USING (doc_id)
                  WHERE scd.w >= -140000 * scd.n),
         tkn AS (SELECT doc_id, string_split(text, ' ') AS ws FROM surv),
         sh AS (SELECT doc_id, list_distinct(
                  [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                   FOR i IN range(1, len(ws)-1)]) AS shingles FROM tkn),
         ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s
                FROM sh),
         p AS (SELECT id1, id2 FROM (
                 SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS co,
                        any_value(a.n) AS na, any_value(b.n) AS nb
                 FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
                 GROUP BY 1, 2)
               WHERE co*1.0/(na+nb-co) >= 0.6)
         SELECT sv.doc_id, sv.source FROM surv sv
         WHERE sv.doc_id NOT IN (SELECT id2 FROM p)
         ORDER BY doc_id""",

    // Projected ANN: q113's sign/projection CTEs, then q24's exact
    // ranking shape over the 16-dim vectors.
    "q131_funnel_guarded" ->
      """WITH RECURSIVE
         tkn AS (SELECT doc_id, string_split(text,' ') AS ws
                 FROM documents),
         ql AS (SELECT doc_id FROM (
                  SELECT doc_id,
                    CAST(floor((len(list_distinct(ws))*1.0/len(ws)*0.5
                      + least(len(ws)/100.0, 1.0)*0.3
                      + len(list_filter(ws, t -> t IN ('the','a','of','and','to','in')))*1.0/len(ws)*0.2)
                      *10000.0 + 0.5) AS BIGINT) AS q
                  FROM tkn)
                WHERE q >= 4500),
         pool AS (SELECT t.doc_id, t.ws FROM tkn t JOIN ql USING (doc_id)),
         pk AS (SELECT doc_id,
                  [CAST(31*length(w) + ascii(substr(w,1,1)) AS BIGINT)
                   FOR w IN ws] AS ps
                FROM pool),
         gg AS (SELECT doc_id,
                  unnest(range(1, len(ps) - 1)) AS pos,
                  unnest([((((7*31 + ps[i]) % 2147483647) * 31 + ps[i+1])
                           % 2147483647 * 31 + ps[i+2]) % 2147483647
                          FOR i IN range(1, len(ps) - 1)]) AS h
                FROM pk WHERE len(ps) >= 3),
         wmin AS (SELECT doc_id, pos,
                    min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                      AS fp,
                    max(pos) OVER (PARTITION BY doc_id) AS mx
                  FROM gg),
         fps AS (SELECT DISTINCT doc_id, fp FROM wmin
                 WHERE pos <= greatest(mx - 3, 1)),
         hot AS (SELECT fp, count(*) AS c FROM fps GROUP BY 1),
         kf AS (SELECT f.doc_id, f.fp FROM fps f
                JOIN hot USING (fp) WHERE hot.c <= 20),
         cont AS (SELECT DISTINCT id2 AS doc_id FROM (
                    SELECT a.doc_id AS id1, b.doc_id AS id2,
                           count(*) AS shared
                    FROM kf a JOIN kf b
                      ON a.fp = b.fp AND a.doc_id < b.doc_id
                    GROUP BY 1, 2 HAVING count(*) >= 3)),
         surv AS (SELECT * FROM pool
                  WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
         sh AS (SELECT doc_id, list_distinct(
                  [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                   FOR i IN range(1, len(ws)-1)]) AS shingles FROM surv),
         ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s
                FROM sh),
         pr AS (SELECT id1, id2 FROM (
                  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS co,
                         any_value(a.n) AS na, any_value(b.n) AS nb
                  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
                WHERE co*1.0/(na+nb-co) >= 0.6),
         e AS (SELECT id1 AS a, id2 AS b FROM pr
               UNION SELECT id2, id1 FROM pr),
         reach(a, b) AS (
           SELECT DISTINCT a, a FROM e
           UNION
           SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
         comp AS (SELECT a AS id, min(b) AS comp FROM reach GROUP BY 1)
         SELECT s.doc_id,
           CASE WHEN hv < 1717986917 THEN 'train'
                WHEN hv < 1932735282 THEN 'val'
                ELSE 'test' END AS split
         FROM (SELECT surv.doc_id,
                 (((((((coalesce(c.comp, surv.doc_id) + 1) % 2147483647)
                      + 2147483647) % 2147483647)
                    * 48271) % 2147483647) * 48271) % 2147483647 AS hv
               FROM surv LEFT JOIN comp c ON surv.doc_id = c.id) s
         ORDER BY s.doc_id""",

    "q130_transitions" ->
      """WITH x AS (SELECT event_type AS to_type,
             lag(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS from_type
           FROM events WHERE ts IS NOT NULL)
         SELECT from_type, to_type, count(*) AS n FROM x
         WHERE from_type IS NOT NULL
         GROUP BY 1, 2 ORDER BY 1, 2""",

    "q128_funnel" ->
      """WITH e AS (SELECT user_id, ts, event_type FROM events
                    WHERE ts IS NOT NULL),
         s1 AS (SELECT user_id, min(ts) AS t1 FROM e
                WHERE event_type = 'signup' GROUP BY 1),
         s2 AS (SELECT s1.user_id, s1.t1,
                  min(CASE WHEN e.ts > s1.t1 THEN e.ts END) AS t2
                FROM s1 LEFT JOIN e ON e.user_id = s1.user_id
                  AND e.event_type = 'view'
                GROUP BY 1, 2),
         s3 AS (SELECT s2.user_id, s2.t1, s2.t2,
                  min(CASE WHEN e.ts > s2.t2 THEN e.ts END) AS t3
                FROM s2 LEFT JOIN e ON e.user_id = s2.user_id
                  AND e.event_type = 'click'
                GROUP BY 1, 2, 3),
         s4 AS (SELECT s3.user_id, s3.t1, s3.t2, s3.t3,
                  min(CASE WHEN e.ts > s3.t3 THEN e.ts END) AS t4
                FROM s3 LEFT JOIN e ON e.user_id = s3.user_id
                  AND e.event_type = 'purchase'
                GROUP BY 1, 2, 3, 4)
         SELECT user_id,
           strftime(t1, '%Y-%m-%d %H:%M:%S.%f') AS t1,
           strftime(t2, '%Y-%m-%d %H:%M:%S.%f') AS t2,
           strftime(t3, '%Y-%m-%d %H:%M:%S.%f') AS t3,
           strftime(t4, '%Y-%m-%d %H:%M:%S.%f') AS t4
         FROM s4 ORDER BY user_id""",

    "q129_retention" ->
      """WITH c AS (SELECT user_id, date_trunc('day', min(ts))
                      AS cohort_day
                    FROM events WHERE ts IS NOT NULL GROUP BY 1),
         a AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day
               FROM events WHERE ts IS NOT NULL)
         SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day,
           CAST(date_diff('day', c.cohort_day, a.day) AS INTEGER)
             AS day_offset,
           count(*) AS n_users
         FROM a JOIN c USING (user_id)
         GROUP BY 1, 2 ORDER BY 1, 2""",

    "q127_top_pc" ->
      (topPcCteSql + """
         SELECT CAST(j AS INTEGER) AS j, CAST(v AS BIGINT) AS v
         FROM v2 ORDER BY j"""),

    // Two deflated components: q127's chain through v2, then the
    // fixed-point deflation (ds = floor(dot/1e6), cʲ −= floor(ds·vʲ /
    // (⟨v,v⟩//1e6)) — every product double-exact) and the same
    // two-iteration loop on the residual frame.
    "q487_top_pcs" ->
      (topPc2CteSql + """
       SELECT CAST(1 AS INTEGER) AS comp, CAST(j AS INTEGER) AS j,
         CAST(v AS BIGINT) AS v FROM v2
       UNION ALL
       SELECT CAST(2 AS INTEGER), CAST(j AS INTEGER),
         CAST(v AS BIGINT) FROM w2
       ORDER BY comp, j"""),

    // Denoised ANN v2: the q487 trainer chain, u1/u2 normalized
    // against exact integer sums, both projections removed in comp
    // order, then the q157 cosine tail (scores rounded 1e-6).
    "q489_ann_denoised2" ->
      (topPc2CteSql + """,
       sq1 AS (SELECT sum(v*v) AS ss FROM v2),
       u1 AS (SELECT j, CASE WHEN sq1.ss = 0 THEN 0.0
                ELSE v / sqrt(CAST(sq1.ss AS DOUBLE)) END AS u
              FROM v2 CROSS JOIN sq1),
       lfx AS MATERIALIZED (SELECT vec_id, unnest(ev) AS x,
                 unnest(range(1, len(ev)+1)) AS j FROM e),
       p1 AS (SELECT vec_id, sum(x * u) AS proj
              FROM lfx JOIN u1 USING (j) GROUP BY 1),
       r1 AS MATERIALIZED (SELECT lfx.vec_id, lfx.j, lfx.x - p1.proj * u1.u AS x
              FROM lfx JOIN u1 USING (j) JOIN p1 USING (vec_id)),
       sq2 AS (SELECT sum(v*v) AS ss FROM w2),
       u2 AS (SELECT j, CASE WHEN sq2.ss = 0 THEN 0.0
                ELSE v / sqrt(CAST(sq2.ss AS DOUBLE)) END AS u
              FROM w2 CROSS JOIN sq2),
       p2 AS (SELECT vec_id, sum(x * u) AS proj
              FROM r1 JOIN u2 USING (j) GROUP BY 1),
       rr AS MATERIALIZED (SELECT r1.vec_id, r1.j, r1.x - p2.proj * u2.u AS r
              FROM r1 JOIN u2 USING (j) JOIN p2 USING (vec_id)),
       nmv AS (SELECT vec_id, sqrt(sum(r*r)) AS nrm FROM rr GROUP BY 1),
       sc0 AS (SELECT a.vec_id AS qid, b.vec_id AS nbr,
                 sum(a.r * b.r) AS dp
               FROM rr a JOIN rr b ON a.j = b.j
               WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id
               GROUP BY 1, 2),
       sc AS (SELECT qid, nbr,
                round(CASE WHEN qa.nrm * qb.nrm = 0 THEN 0.0
                      ELSE dp / (qa.nrm * qb.nrm) END, 6) AS score
              FROM sc0 JOIN nmv qa ON qa.vec_id = sc0.qid
                   JOIN nmv qb ON qb.vec_id = sc0.nbr),
       rk AS (SELECT qid, nbr, score,
                CAST(row_number() OVER (PARTITION BY qid
                  ORDER BY score DESC, nbr) AS INTEGER) AS rank
              FROM sc)
       SELECT qid, nbr, score, rank FROM rk WHERE rank <= 5
       ORDER BY qid, rank"""),

    "q157_ann_denoised" ->
      (topPcCteSql + """,
         sq AS (SELECT sum(v*v) AS ss FROM v2),
         u AS (SELECT j, CASE WHEN sq.ss = 0 THEN 0.0
                 ELSE v / sqrt(CAST(sq.ss AS DOUBLE)) END AS u
               FROM v2 CROSS JOIN sq),
         lfx AS (SELECT vec_id, unnest(ev) AS x,
                   unnest(range(1, len(ev)+1)) AS j FROM e),
         pj AS (SELECT vec_id, sum(x * u) AS proj
                FROM lfx JOIN u USING (j) GROUP BY 1),
         rr AS (SELECT lfx.vec_id, lfx.j, lfx.x - pj.proj * u.u AS r
                FROM lfx JOIN u USING (j) JOIN pj USING (vec_id)),
         nmv AS (SELECT vec_id, sqrt(sum(r*r)) AS nrm FROM rr GROUP BY 1),
         sc0 AS (SELECT a.vec_id AS qid, b.vec_id AS nbr,
                   sum(a.r * b.r) AS dp
                 FROM rr a JOIN rr b ON a.j = b.j
                 WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id
                 GROUP BY 1, 2),
         sc AS (SELECT qid, nbr,
                  round(CASE WHEN qa.nrm * qb.nrm = 0 THEN 0.0
                        ELSE dp / (qa.nrm * qb.nrm) END, 6) AS score
                FROM sc0 JOIN nmv qa ON qa.vec_id = sc0.qid
                     JOIN nmv qb ON qb.vec_id = sc0.nbr),
         rk AS (SELECT qid, nbr, score,
                  CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY score DESC, nbr) AS INTEGER) AS rank
                FROM sc)
         SELECT qid, nbr, score, rank FROM rk WHERE rank <= 5
         ORDER BY qid, rank"""),

    "q126_bm25" ->
      """WITH q(qid, qtext) AS (VALUES
           (CAST(1 AS BIGINT), 'spark hash join'),
           (2, 'window sort table'), (3, 'fast merge batch')),
         qt AS (SELECT qid,
                  unnest(list_distinct(string_split(qtext,' '))) AS term
                FROM q),
         tk AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
         lens AS (SELECT doc_id, len(ws) AS dl FROM tk),
         terms AS (SELECT doc_id, t AS term FROM (
             SELECT doc_id, unnest(ws) AS t FROM tk) WHERE t <> ''),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
         dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         stats AS (SELECT count(*) AS n_docs, sum(dl) AS total_dl FROM lens),
         scored AS (SELECT qt.qid, tf.doc_id,
             round(sum(
               ln(1.0 + ((stats.n_docs - dfreq.df) + 0.5)
                        / (dfreq.df + 0.5))
               * (tf.tf * (1.2 + 1.0)
                  / (tf.tf + 1.2 * ((1.0 - 0.75)
                     + 0.75 * (lens.dl * stats.n_docs
                               / stats.total_dl))))), 6) AS score
           FROM tf JOIN qt USING(term) JOIN dfreq USING(term)
                JOIN lens ON tf.doc_id = lens.doc_id CROSS JOIN stats
           GROUP BY 1, 2),
         r AS (SELECT qid, doc_id, score,
                 CAST(row_number() OVER (PARTITION BY qid
                   ORDER BY score DESC, doc_id) AS INTEGER) AS rank
               FROM scored)
         SELECT qid, doc_id, score, rank FROM r
         WHERE rank <= 10 ORDER BY qid, rank""",

    "q125_containment_pairs" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
         p AS (SELECT doc_id,
                 [CAST(31*length(w) + ascii(substr(w,1,1)) AS BIGINT)
                  FOR w IN ws] AS ps
               FROM t),
         g AS (SELECT doc_id,
                 unnest(range(1, len(ps) - 1)) AS pos,
                 unnest([((((7*31 + ps[i]) % 2147483647) * 31 + ps[i+1])
                          % 2147483647 * 31 + ps[i+2]) % 2147483647
                         FOR i IN range(1, len(ps) - 1)]) AS h
               FROM p WHERE len(ps) >= 3),
         wmin AS (SELECT doc_id, pos,
                    min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                      AS fp,
                    max(pos) OVER (PARTITION BY doc_id) AS mx
                  FROM g),
         fps AS (SELECT DISTINCT doc_id, fp FROM wmin
                 WHERE pos <= greatest(mx - 3, 1)),
         hot AS (SELECT fp, count(*) AS c FROM fps GROUP BY 1),
         kept AS (SELECT f.doc_id, f.fp FROM fps f
                  JOIN hot USING(fp) WHERE hot.c <= 20)
         SELECT a.doc_id AS id1, b.doc_id AS id2,
                count(*) AS shared
         FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
         GROUP BY 1, 2 HAVING count(*) >= 3
         ORDER BY 1, 2""",

    "q123_winnow_fingerprints" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
         p AS (SELECT doc_id,
                 [CAST(31*length(w) + ascii(substr(w,1,1)) AS BIGINT)
                  FOR w IN ws] AS ps
               FROM t),
         g AS (SELECT doc_id,
                 unnest(range(1, len(ps) - 1)) AS pos,
                 unnest([((((7*31 + ps[i]) % 2147483647) * 31 + ps[i+1])
                          % 2147483647 * 31 + ps[i+2]) % 2147483647
                         FOR i IN range(1, len(ps) - 1)]) AS h
               FROM p WHERE len(ps) >= 3),
         wmin AS (SELECT doc_id, pos,
                    min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                      AS fp,
                    max(pos) OVER (PARTITION BY doc_id) AS mx
                  FROM g)
         SELECT DISTINCT doc_id, fp FROM wmin
         WHERE pos <= greatest(mx - 3, 1)
         ORDER BY 1, 2""",

    "q124_split_leakage_safe" ->
      (dedupGroupsSql + """
         SELECT d.doc_id,
           CASE WHEN hv < 1717986917 THEN 'train'
                WHEN hv < 1932735282 THEN 'val'
                ELSE 'test' END AS split
         FROM (SELECT doc_id,
                 (((((((coalesce(c.comp, doc_id) + 1) % 2147483647)
                      + 2147483647) % 2147483647)
                    * 48271) % 2147483647) * 48271) % 2147483647 AS hv
               FROM documents LEFT JOIN comp c ON documents.doc_id = c.id) d
         ORDER BY d.doc_id"""),

    "q168_kfold_leakage_safe" ->
      (dedupGroupsSql + """
         SELECT d.doc_id, hv % 5 AS fold
         FROM (SELECT doc_id,
                 (((((((coalesce(c.comp, doc_id) + 1) % 2147483647)
                      + 2147483647) % 2147483647)
                    * 48271) % 2147483647) * 48271) % 2147483647 AS hv
               FROM documents LEFT JOIN comp c ON documents.doc_id = c.id) d
         ORDER BY d.doc_id"""),

    "q114_ann_projected" ->
      """WITH sg AS (SELECT j, i,
             1 - 2 * (xor(h4, h4 // 65536) % 2) AS sgn
           FROM (SELECT j, i,
                   CAST((CAST(xor(h2, h2 // 8192) AS HUGEINT)
                         * 3266489909) % 4294967296 AS BIGINT) AS h4
                 FROM (SELECT j, i,
                         CAST((CAST(xor(x, x // 65536) AS HUGEINT)
                               * 2246822507) % 4294967296 AS BIGINT) AS h2
                       FROM (SELECT j, i, i*16 + j AS x
                             FROM range(0, 16) t1(j),
                                  range(0, 64) t2(i))))),
         sm AS (SELECT list(row ORDER BY j) AS s FROM (
                  SELECT j, list(sgn ORDER BY i) AS row
                  FROM sg GROUP BY j)),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         pr AS (SELECT vec_id,
                  [round(list_sum(
                     [v[i+1] * s[j+1][i+1] FOR i IN range(0, 64)])
                   * (1.0/sqrt(16.0)), 6)
                   FOR j IN range(0, 16)] AS pv
                FROM e, sm),
         q AS (SELECT vec_id AS qid, pv AS qv FROM pr WHERE vec_id < 10),
         sc AS (SELECT qid, vec_id AS nbr,
                  round(list_cosine_similarity(qv, pv), 6) AS score
                FROM q, pr WHERE vec_id != qid),
         r AS (SELECT qid, nbr, score,
                 CAST(row_number() OVER
                   (PARTITION BY qid ORDER BY score DESC, nbr)
                   AS INTEGER) AS rank
               FROM sc)
         SELECT qid, nbr, score, rank FROM r WHERE rank <= 5
         ORDER BY qid, rank""",

    // JL projection: the murmur fmix32 finalizer replayed in integer
    // SQL (xor / floor-div / HUGEINT multiply mod 2^32) builds the
    // identical ±1 matrix, ordered lists keep the summation sequence.
    "q113_jl_project" ->
      """WITH sg AS (SELECT j, i,
             1 - 2 * (xor(h4, h4 // 65536) % 2) AS sgn
           FROM (SELECT j, i,
                   CAST((CAST(xor(h2, h2 // 8192) AS HUGEINT)
                         * 3266489909) % 4294967296 AS BIGINT) AS h4
                 FROM (SELECT j, i,
                         CAST((CAST(xor(x, x // 65536) AS HUGEINT)
                               * 2246822507) % 4294967296 AS BIGINT) AS h2
                       FROM (SELECT j, i, i*16 + j AS x
                             FROM range(0, 16) t1(j),
                                  range(0, 64) t2(i))))),
         sm AS (SELECT list(row ORDER BY j) AS s FROM (
                  SELECT j, list(sgn ORDER BY i) AS row
                  FROM sg GROUP BY j)),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
         SELECT vec_id, CAST(j AS INTEGER) AS j, p FROM (
           SELECT vec_id,
             unnest(range(0, 16)) AS j,
             unnest([round(list_sum(
                 [v[i+1] * s[j+1][i+1] FOR i IN range(0, 64)])
               * (1.0/sqrt(16.0)), 6)
               FOR j IN range(0, 16)]) AS p
           FROM e, sm)
         ORDER BY vec_id, j""",

    // Exact-regime frequent items: plain counts + per-source rank.
    "q112_heavy_hitters" ->
      """WITH tk AS (SELECT source, tok FROM (
             SELECT source, unnest(string_split(text, ' ')) AS tok
             FROM documents) WHERE tok <> ''),
         c AS (SELECT source, tok, count(*) AS cnt
               FROM tk GROUP BY 1, 2),
         r AS (SELECT source, tok, cnt,
                 row_number() OVER (PARTITION BY source
                   ORDER BY cnt DESC, tok) AS rn
               FROM c)
         SELECT source, tok AS item, cnt AS cnt_est,
                CAST(0 AS BIGINT) AS err
         FROM r WHERE rn <= 5
         ORDER BY source, cnt_est DESC, item""",

    // Matrix: q59's gram shape with the suite label carried through.
    "q111_contamination_matrix" ->
      """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws
                    FROM documents),
         g AS (SELECT doc_id, source,
                 array_to_string(list_slice(ws, pos, pos+3), ' ') AS ng
               FROM w, unnest(range(1, len(ws)-4+2)) AS t(pos)),
         ev AS (SELECT DISTINCT source AS suite, ng FROM g
                WHERE source IN ('src0', 'src1'))
         SELECT g.doc_id, ev.suite, count(DISTINCT g.ng) AS hits
         FROM g JOIN ev USING (ng)
         WHERE g.source NOT IN ('src0', 'src1')
         GROUP BY 1, 2 ORDER BY 1, 2""",

    // Health report: q26's quality formula, integer sums per source.
    "q109_corpus_report" ->
      """WITH c AS (SELECT source, lang, text, n_chars,
           CAST(floor((len(list_distinct(ws))*1.0/len(ws)*0.5
             + least(len(ws)/100.0, 1.0)*0.3
             + len(list_filter(ws, t -> t IN
                 ('the','a','of','and','to','in')))*1.0/len(ws)*0.2)
             *10000.0 + 0.5) AS BIGINT) AS q
           FROM (SELECT source, lang, text, n_chars,
                   string_split(text, ' ') AS ws FROM documents))
         SELECT source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_chars,
           count(DISTINCT lang) AS n_langs,
           count(DISTINCT text) AS n_unique_texts,
           CAST(sum(q) AS BIGINT) AS quality_x1e4_sum
         FROM c GROUP BY source ORDER BY source""",

    // DSIR: identical char-fold hash (list_reduce) over the vocab,
    // per-bucket smoothed log ratios, integer micro-unit sums.
    "q108_dsir_weights" ->
      """WITH tk AS (SELECT doc_id, source, tok
                FROM (SELECT doc_id, source,
                        unnest(string_split(text, ' ')) AS tok
                      FROM documents)
                WHERE tok <> ''),
         cr AS (SELECT tok, count(*) AS c FROM tk GROUP BY 1),
         ct AS (SELECT tok, count(*) AS c FROM tk
                WHERE source = 'src0' GROUP BY 1),
         m0 AS (SELECT coalesce(cr.tok, ct.tok) AS tok,
                  coalesce(cr.c, 0) AS cr, coalesce(ct.c, 0) AS ct
                FROM cr FULL JOIN ct ON cr.tok = ct.tok),
         hb AS (SELECT tok, cr, ct,
                  list_reduce(list_prepend(CAST(7 AS BIGINT),
                      [CAST(ascii(substring(tok, i, 1)) AS BIGINT)
                       FOR i IN range(1, length(tok) + 1)]),
                    (a, c) -> (a * 31 + c) % 2147483647) % 256 AS b
                FROM m0),
         bc AS (SELECT b, CAST(sum(cr) AS BIGINT) AS crb,
                       CAST(sum(ct) AS BIGINT) AS ctb
                FROM hb GROUP BY 1),
         s AS (SELECT CAST(sum(crb) AS BIGINT) AS tr,
                      CAST(sum(ctb) AS BIGINT) AS tt FROM bc),
         bm AS (SELECT b,
                  CAST(round((ln((ctb + 1.0) / (tt + 256))
                            - ln((crb + 1.0) / (tr + 256))) * 1000000)
                    AS BIGINT) AS lo
                FROM bc, s),
         tm AS (SELECT tok, lo FROM hb JOIN bm USING (b))
         SELECT doc_id, CAST(sum(lo) AS BIGINT) AS w_micro_sum,
                count(*) AS n_tokens
         FROM tk JOIN tm USING (tok)
         GROUP BY doc_id ORDER BY doc_id""",

    // Prototypicality: q51's fixed-point Lloyd chain (c0->c2), then
    // cosine-to-assigned-centroid score and per-cluster rank.
    "q107_prototypes" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
             [CAST(floor(x*1000000 + 0.5) AS BIGINT)
              FOR x IN embedding::DOUBLE[]] AS q
           FROM embeddings),
         c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                       q AS cq
                FROM (SELECT * FROM e ORDER BY vec_id LIMIT 8)),
         a1 AS (SELECT e.vec_id, e.q, c.cid,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY round(list_cosine_similarity(e.v,
                      [x/1000000.0 FOR x IN c.cq]), 6) DESC, c.cid) AS rn
                FROM e CROSS JOIN c0 c),
         s1 AS (SELECT cid, d,
                  CAST(floor(sum(q[d])*1.0/count(*)) AS BIGINT) AS m
                FROM (SELECT * FROM a1 WHERE rn = 1), range(1, 65) AS t(d)
                GROUP BY cid, d),
         c1 AS (SELECT c0.cid, coalesce(l.mq, c0.cq) AS cq
                FROM c0 LEFT JOIN (SELECT cid, list(m ORDER BY d) AS mq
                                   FROM s1 GROUP BY cid) l USING (cid)),
         a2 AS (SELECT e.vec_id, e.q, c.cid,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY round(list_cosine_similarity(e.v,
                      [x/1000000.0 FOR x IN c.cq]), 6) DESC, c.cid) AS rn
                FROM e CROSS JOIN c1 c),
         s2 AS (SELECT cid, d,
                  CAST(floor(sum(q[d])*1.0/count(*)) AS BIGINT) AS m
                FROM (SELECT * FROM a2 WHERE rn = 1), range(1, 65) AS t(d)
                GROUP BY cid, d),
         c2 AS (SELECT c1.cid, coalesce(l.mq, c1.cq) AS cq
                FROM c1 LEFT JOIN (SELECT cid, list(m ORDER BY d) AS mq
                                   FROM s2 GROUP BY cid) l USING (cid)),
         ac AS (SELECT e.vec_id, c.cid,
                  round(list_cosine_similarity(e.v,
                    [x/1000000.0 FOR x IN c.cq]), 6) AS s,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY round(list_cosine_similarity(e.v,
                      [x/1000000.0 FOR x IN c.cq]), 6) DESC, c.cid) AS rn
                FROM e CROSS JOIN c2 c),
         r AS (SELECT vec_id, cid, s AS proto_score,
                 row_number() OVER (PARTITION BY cid
                   ORDER BY s DESC, vec_id) - 1 AS pos,
                 count(*) OVER (PARTITION BY cid) AS n
               FROM ac WHERE rn = 1)
         SELECT vec_id, CAST(cid AS INTEGER) AS cid, proto_score,
                pos >= CAST(floor(n * 0.2) AS BIGINT) AS keep
         FROM r ORDER BY vec_id""",

    // Curriculum shards: global positions in (quality, id) order,
    // dealt round-robin over 8 shards.
    "q104_curriculum_shards" ->
      """WITH tkn AS (SELECT doc_id, string_split(text,' ') AS ws
                      FROM documents),
         c AS (SELECT doc_id,
           CAST(floor((len(list_distinct(ws))*1.0/len(ws)*0.5
             + least(len(ws)/100.0, 1.0)*0.3
             + len(list_filter(ws, t -> t IN
                 ('the','a','of','and','to','in')))*1.0/len(ws)*0.2)
             *10000.0 + 0.5) AS BIGINT) AS q
          FROM tkn),
         r AS (SELECT doc_id,
                 row_number() OVER (ORDER BY q, doc_id) - 1 AS pos
               FROM c)
         SELECT doc_id, pos % 8 AS shard, pos // 8 AS pos_in_shard
         FROM r ORDER BY doc_id""",

    // Domain cap: q26's quality formula, row_number per source.
    "q103_source_cap" ->
      """WITH tkn AS (SELECT doc_id, source, string_split(text,' ') AS ws
                      FROM documents),
         c AS (SELECT doc_id, source,
           CAST(floor((len(list_distinct(ws))*1.0/len(ws)*0.5
             + least(len(ws)/100.0, 1.0)*0.3
             + len(list_filter(ws, t -> t IN
                 ('the','a','of','and','to','in')))*1.0/len(ws)*0.2)
             *10000.0 + 0.5) AS BIGINT) AS quality_x1e4
          FROM tkn),
         r AS (SELECT doc_id, source, quality_x1e4,
                 CAST(row_number() OVER (PARTITION BY source
                   ORDER BY quality_x1e4 DESC, doc_id) AS INTEGER) AS rnk
               FROM c)
         SELECT doc_id, source, quality_x1e4, rnk FROM r
         WHERE rnk <= 5 ORDER BY doc_id""",

    // Funnel v2: q97's NB gate (lo_sum >= 0) -> q56-style components
    // over the SURVIVORS only -> q95's keep-longest rule.
    "q102_funnel_seeded" ->
      """WITH RECURSIVE
         w AS (SELECT doc_id, source, n_chars, string_split(text,' ') AS ws
               FROM documents),
         tk AS (SELECT doc_id, source, tok
                FROM (SELECT doc_id, source, unnest(ws) AS tok FROM w)
                WHERE tok != ''),
         cp AS (SELECT tok, count(*) AS c FROM tk
                WHERE source = 'src0' GROUP BY 1),
         cn AS (SELECT tok, count(*) AS c FROM tk
                WHERE source != 'src0' GROUP BY 1),
         m0 AS (SELECT coalesce(cp.tok, cn.tok) AS tok,
                  coalesce(cp.c, 0) AS cp, coalesce(cn.c, 0) AS cn
                FROM cp FULL JOIN cn ON cp.tok = cn.tok),
         st AS (SELECT sum(cp) AS np, sum(cn) AS nn, count(*) AS v
                FROM m0),
         m AS (SELECT tok,
                 CAST(round((ln((cp + 1.0) / (np + v))
                           - ln((cn + 1.0) / (nn + v))) * 1000000)
                   AS BIGINT) AS lo
               FROM m0, st),
         keep AS (SELECT doc_id FROM tk JOIN m USING (tok)
                  GROUP BY 1 HAVING CAST(sum(lo) AS BIGINT) >= 0),
         sh AS (SELECT w.doc_id, list_distinct(
                  [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                   FOR i IN range(1, len(ws)-1)]) AS shingles
                FROM w JOIN keep USING (doc_id)),
         ex AS (SELECT doc_id, len(shingles) AS nsh, unnest(shingles) AS sg
                FROM sh),
         p AS (SELECT id1, id2 FROM (
                 SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS co,
                        any_value(a.nsh) AS na, any_value(b.nsh) AS nb
                 FROM ex a JOIN ex b ON a.sg = b.sg AND a.doc_id < b.doc_id
                 GROUP BY 1, 2)
               WHERE co*1.0/(na+nb-co) >= 0.6),
         e AS (SELECT id1 AS a, id2 AS b FROM p
               UNION SELECT id2, id1 FROM p),
         reach(a, b) AS (
           SELECT DISTINCT a, a FROM e
           UNION
           SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
         comp AS (SELECT a AS id, min(b) AS comp FROM reach GROUP BY 1)
         SELECT doc_id, source FROM (
           SELECT d.doc_id, d.source,
             row_number() OVER (PARTITION BY coalesce(c.comp, d.doc_id)
               ORDER BY d.n_chars DESC, d.doc_id) AS rn
           FROM documents d JOIN keep USING (doc_id)
           LEFT JOIN comp c ON d.doc_id = c.id)
         WHERE rn = 1 ORDER BY doc_id""",

    // HTML extraction replayed in closed form: the synth page's
    // survivors are the h1 ('Doc & id'), every >= 5-char normalized
    // 100-char text slice, and the inline-anchor paragraph; nav and
    // footer fail the 1/3 link-density test, 1..4-char slice tails
    // drop short, whitespace-only slices are ignored. Counts and
    // character totals follow from the same structure.
    "q483_html_extract" ->
      """WITH d0 AS (SELECT doc_id, coalesce(text, '') AS tx,
                CAST(doc_id AS VARCHAR) AS ids FROM documents),
         ch AS (SELECT doc_id, i,
                  trim(regexp_replace(substr(tx, CAST(i*100 + 1 AS INT),
                       100), '[ \t\n\r]+', ' ', 'g')) AS c
                FROM (SELECT doc_id, tx,
                        unnest(range(0, (len(tx) + 99) // 100)) AS i
                      FROM d0 WHERE len(tx) > 0)),
         agg AS (SELECT doc_id,
                   string_agg(CASE WHEN len(c) >= 5 THEN c END,
                     chr(10) ORDER BY i) AS body,
                   count(*) FILTER (WHERE len(c) >= 5) AS kc,
                   count(*) FILTER (WHERE len(c) BETWEEN 1 AND 4)
                     AS dc,
                   sum(len(c)) AS sumlen
                 FROM ch GROUP BY 1)
         SELECT d0.doc_id,
           concat_ws(chr(10), 'Doc & ' || ids, body,
             'See ref ' || ids || ' ' || chr(8212) ||
             ' plus the longer article details here.') AS main_text,
           CAST(2 + coalesce(kc, 0) AS BIGINT) AS n_kept,
           CAST(2 + coalesce(dc, 0) AS BIGINT) AS n_dropped,
           CAST(29 + len(ids) AS BIGINT) AS anchor_chars,
           CAST(89 + 2*len(ids) + coalesce(sumlen, 0) AS BIGINT)
             AS text_chars
         FROM d0 LEFT JOIN agg USING (doc_id) ORDER BY doc_id""",

    // WARC demux replayed in closed form: the synth HTML page is
    // reconstructed byte-for-byte in SQL (entity-encoded slices
    // between the fixed fragments), so content_length = 44 HTTP
    // header bytes + page length; warcinfo records carry the fixed
    // 22-byte info body; rec_idx is the warcinfo-first record order.
    "q484_warc_demux" ->
      """WITH d0 AS (SELECT doc_id, coalesce(text, '') AS tx,
                CAST(doc_id AS VARCHAR) AS ids FROM documents),
         ch AS (SELECT doc_id, i,
                  replace(replace(replace(replace(replace(
                    substr(tx, CAST(i*100 + 1 AS INT), 100),
                    '&', '&amp;'), '<', '&lt;'), '>', '&gt;'),
                    '"', '&quot;'), '''', '&#39;') AS c
                FROM (SELECT doc_id, tx,
                        unnest(range(0, (len(tx) + 99) // 100)) AS i
                      FROM d0 WHERE len(tx) > 0)),
         pg AS (SELECT doc_id,
                  string_agg('<p>' || c || '</p>', '' ORDER BY i)
                    AS paras
                FROM ch GROUP BY 1),
         hx AS (SELECT d0.doc_id, ids, doc_id // 20 AS file_id,
                  '<!DOCTYPE html><html><head><title>t</title>' ||
                  '<style>p{c:red}</style>' ||
                  '<script>if(1<2){var x="</p>";}</script></head>' ||
                  '<body><!-- <p>not content</p> -->' ||
                  '<nav><a href="/">Home</a> <a href="/a">Tags</a> ' ||
                  '<a href="/b">About</a></nav><h1>Doc &amp; ' || ids ||
                  '</h1>' || coalesce(paras, '') ||
                  '<p>See <a href="/r">ref ' || ids ||
                  '</a> &#8212; plus the longer article details here.' ||
                  '</p><footer><a href="/p">Privacy</a> ' ||
                  '<a href="/t">Terms</a> &copy; 2026</footer>' ||
                  '</body></html>' AS html
                FROM d0 LEFT JOIN pg USING (doc_id)),
         resp AS (SELECT file_id,
                    CAST(row_number() OVER (PARTITION BY file_id
                      ORDER BY doc_id) AS INT) AS rec_idx,
                    'response' AS warc_type,
                    'http://example.org/doc/' || ids AS uri,
                    CAST(44 + len(html) AS BIGINT) AS content_length,
                    CAST(200 AS INT) AS http_status,
                    CAST(len(html) AS BIGINT) AS body_chars
                  FROM hx),
         info AS (SELECT DISTINCT file_id, CAST(0 AS INT) AS rec_idx,
                    'warcinfo' AS warc_type, CAST(NULL AS VARCHAR)
                      AS uri,
                    CAST(22 AS BIGINT) AS content_length,
                    CAST(NULL AS INT) AS http_status,
                    CAST(NULL AS BIGINT) AS body_chars
                  FROM hx)
         SELECT * FROM info UNION ALL SELECT * FROM resp
         ORDER BY file_id, rec_idx""",

    // The WARC → HTML funnel is q483's extraction keyed by URI:
    // identical reconstruction, container and transport transparent.
    "q485_warc_funnel" ->
      """WITH d0 AS (SELECT doc_id, coalesce(text, '') AS tx,
                CAST(doc_id AS VARCHAR) AS ids FROM documents),
         ch AS (SELECT doc_id, i,
                  trim(regexp_replace(substr(tx, CAST(i*100 + 1 AS INT),
                       100), '[ \t\n\r]+', ' ', 'g')) AS c
                FROM (SELECT doc_id, tx,
                        unnest(range(0, (len(tx) + 99) // 100)) AS i
                      FROM d0 WHERE len(tx) > 0)),
         agg AS (SELECT doc_id,
                   string_agg(CASE WHEN len(c) >= 5 THEN c END,
                     chr(10) ORDER BY i) AS body,
                   count(*) FILTER (WHERE len(c) >= 5) AS kc
                 FROM ch GROUP BY 1)
         SELECT d0.doc_id,
           concat_ws(chr(10), 'Doc & ' || ids, body,
             'See ref ' || ids || ' ' || chr(8212) ||
             ' plus the longer article details here.') AS main_text,
           CAST(2 + coalesce(kc, 0) AS BIGINT) AS n_kept
         FROM d0 LEFT JOIN agg USING (doc_id) ORDER BY doc_id""",

    // Crawl funnel: q485's reconstructed extraction fed through the
    // q26/q453 quality formula (distinct-ratio 0.5 + length 0.3 +
    // stopword 0.2, x1e4 fixed point) — both engines tokenize on
    // single spaces, so the newline-joined blocks gate identically.
    "q486_funnel_crawl" ->
      """WITH d0 AS (SELECT doc_id, coalesce(text, '') AS tx,
                CAST(doc_id AS VARCHAR) AS ids FROM documents),
         ch AS (SELECT doc_id, i,
                  trim(regexp_replace(substr(tx, CAST(i*100 + 1 AS INT),
                       100), '[ \t\n\r]+', ' ', 'g')) AS c
                FROM (SELECT doc_id, tx,
                        unnest(range(0, (len(tx) + 99) // 100)) AS i
                      FROM d0 WHERE len(tx) > 0)),
         agg AS (SELECT doc_id,
                   string_agg(CASE WHEN len(c) >= 5 THEN c END,
                     chr(10) ORDER BY i) AS body
                 FROM ch GROUP BY 1),
         mt AS (SELECT d0.doc_id,
                  concat_ws(chr(10), 'Doc & ' || ids, body,
                    'See ref ' || ids || ' ' || chr(8212) ||
                    ' plus the longer article details here.')
                    AS main_text
                FROM d0 LEFT JOIN agg USING (doc_id)),
         tkn AS (SELECT doc_id, main_text,
                   string_split(main_text, ' ') AS ws FROM mt),
         ql AS (SELECT doc_id FROM (
                  SELECT doc_id,
                    CAST(floor((len(list_distinct(ws))*1.0/len(ws)*0.5
                      + least(len(ws)/100.0, 1.0)*0.3
                      + len(list_filter(ws, t -> t IN
                          ('the','a','of','and','to','in')))
                          *1.0/len(ws)*0.2)
                      *10000.0 + 0.5) AS BIGINT) AS q
                  FROM tkn)
                WHERE q >= 5200)
         SELECT doc_id, CAST(len(main_text) AS BIGINT) AS n_chars
         FROM tkn JOIN ql USING (doc_id) ORDER BY doc_id""",

    // Exact ROC-AUC of the NB seed classifier: doubled Mann-Whitney
    // rank sum (average-rank ties), half-up micro division — every
    // value an exact integer on both engines.
    "q479_roc_auc" ->
      (nbEvalCte + """,
       r AS (SELECT s, n, p,
               coalesce(sum(n) OVER (ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS nb
             FROM g),
       a AS (SELECT sum(p) AS np, sum(n - p) AS nn,
               sum(p * (2*nb + n + 1)) AS rs2 FROM r)
       SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
         CAST(rs2 - np*(np + 1) AS BIGINT) AS auc_num2,
         CAST(2*np*nn AS BIGINT) AS auc_den,
         CAST(((rs2 - np*(np + 1)) * 1000000 + np*nn) // (2*np*nn)
           AS BIGINT) AS auc_micro
       FROM a"""),

    // Step PR-AUC: per-threshold ΔTP·Precision terms, each micro-
    // rounded half-up before the exact integer sum.
    "q480_pr_auc" ->
      (nbEvalCte + """,
       r AS (SELECT s, n, p,
               coalesce(sum(n) OVER (ORDER BY s DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS nb,
               coalesce(sum(p) OVER (ORDER BY s DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS pb
             FROM g),
       tot AS (SELECT sum(p) AS np, sum(n - p) AS nn FROM g),
       t AS (SELECT p, pb + p AS tp, nb + n AS pp FROM r)
       SELECT CAST(any_value(np) AS BIGINT) AS n_pos,
              CAST(any_value(nn) AS BIGINT) AS n_neg,
              count(*) AS n_thresholds,
              CAST(sum((p * tp * 2000000 + pp * np) // (pp * np * 2))
                AS BIGINT) AS pr_auc_micro
       FROM t, tot"""),

    // Full PR curve: one row per distinct threshold, exact suffix
    // counts, half-up micro precision/recall.
    "q481_pr_curve" ->
      (nbEvalCte + """,
       r AS (SELECT s, n, p,
               coalesce(sum(n) OVER (ORDER BY s DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS nb,
               coalesce(sum(p) OVER (ORDER BY s DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS pb
             FROM g),
       tot AS (SELECT sum(p) AS np FROM g),
       t AS (SELECT s, n, p, pb + p AS tp, nb + n AS pp FROM r)
       SELECT s AS threshold, n, CAST(p AS BIGINT) AS p,
         CAST(tp AS BIGINT) AS tp, CAST(pp AS BIGINT) AS pp,
         CAST((tp * 2000000 + pp) // (pp * 2) AS BIGINT) AS prec_micro,
         CAST((tp * 2000000 + np) // (np * 2) AS BIGINT) AS rec_micro
       FROM t, tot ORDER BY threshold"""),

    // Per-source AUC: the q479 rank statistics PARTITIONed by source,
    // gold = n_chars >= 300; one-class groups yield NULL auc.
    "q491_auc_by_source" ->
      """WITH w AS (SELECT doc_id, source, n_chars,
                string_split(text, ' ') AS ws FROM documents),
       tk AS (SELECT doc_id, source, n_chars, tok
              FROM (SELECT doc_id, source, n_chars, unnest(ws) AS tok
                    FROM w)
              WHERE tok != ''),
       cp AS (SELECT tok, count(*) AS c FROM tk
              WHERE source = 'src0' GROUP BY 1),
       cn AS (SELECT tok, count(*) AS c FROM tk
              WHERE source != 'src0' GROUP BY 1),
       m0 AS (SELECT coalesce(cp.tok, cn.tok) AS tok,
                coalesce(cp.c, 0) AS cp, coalesce(cn.c, 0) AS cn
              FROM cp FULL JOIN cn ON cp.tok = cn.tok),
       st AS (SELECT sum(cp) AS np0, sum(cn) AS nn0, count(*) AS v
              FROM m0),
       m AS (SELECT tok,
               CAST(round((ln((cp + 1.0) / (np0 + v))
                         - ln((cn + 1.0) / (nn0 + v))) * 1000000)
                 AS BIGINT) AS lo
             FROM m0, st),
       sc AS (SELECT tk.doc_id, any_value(source) AS g,
                max(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END) AS y,
                (CAST(sum(lo) AS BIGINT) + 100000000 * count(*))
                  // count(*) AS s
              FROM tk JOIN m USING (tok) GROUP BY 1),
       g2 AS (SELECT g, s, count(*) AS n, sum(y) AS p FROM sc
              GROUP BY 1, 2),
       r AS (SELECT g, s, n, p,
               coalesce(sum(n) OVER (PARTITION BY g ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS nb
             FROM g2),
       a AS (SELECT g, sum(p) AS np, sum(n - p) AS nn,
               sum(p * (2*nb + n + 1)) AS rs2 FROM r GROUP BY g)
       SELECT g AS source, CAST(np AS BIGINT) AS n_pos,
         CAST(nn AS BIGINT) AS n_neg,
         CAST(rs2 - np*(np + 1) AS BIGINT) AS auc_num2,
         CAST(2*np*nn AS BIGINT) AS auc_den,
         CASE WHEN np = 0 OR nn = 0 THEN NULL
              ELSE CAST(((rs2 - np*(np + 1)) * 1000000 + np*nn)
                // (2*np*nn) AS BIGINT) END AS auc_micro
       FROM a ORDER BY source""",

    // Best-F1 cut: the q481 curve plus the half-up micro F1, argmax
    // by (f1, threshold) — higher threshold wins rounding ties.
    "q488_best_f1" ->
      (nbEvalCte + """,
       r AS (SELECT s, n, p,
               coalesce(sum(n) OVER (ORDER BY s DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS nb,
               coalesce(sum(p) OVER (ORDER BY s DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS pb
             FROM g),
       tot AS (SELECT sum(p) AS np FROM g),
       t AS (SELECT s, pb + p AS tp, nb + n AS pp FROM r)
       SELECT s AS threshold, CAST(tp AS BIGINT) AS tp,
         CAST(pp AS BIGINT) AS pp,
         CAST((tp * 4000000 + pp + np) // ((pp + np) * 2) AS BIGINT)
           AS f1_micro,
         CAST((tp * 2000000 + pp) // (pp * 2) AS BIGINT) AS prec_micro,
         CAST((tp * 2000000 + np) // (np * 2) AS BIGINT) AS rec_micro
       FROM t, tot
       ORDER BY f1_micro DESC, threshold DESC LIMIT 1"""),

    // Reliability bins: equal-width integer score bins, exact shifted
    // sums, half-up micro positive rate.
    "q482_calibration" ->
      (nbEvalCte + """,
       mm AS (SELECT min(s) AS lo, max(s) AS hi FROM sc),
       b AS (SELECT ((s - lo) * 10) // (hi - lo + 1) AS bin,
                    s - lo AS shift, y FROM sc, mm)
       SELECT bin, count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
         CAST(sum(shift) AS BIGINT) AS sum_shift,
         CAST((sum(y) * 2000000 + count(*)) // (count(*) * 2) AS BIGINT)
           AS pos_rate_micro
       FROM b GROUP BY 1 ORDER BY bin"""),

    // Naive Bayes: add-one-smoothed unigram log-odds over the union
    // vocab (src0 = positive), quantized to integer micro-units, then
    // mean per doc. ln() on identical double ratios both sides.
    "q97_nb_quality" ->
      """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws
                    FROM documents),
         tk AS (SELECT doc_id, source, tok
                FROM (SELECT doc_id, source, unnest(ws) AS tok FROM w)
                WHERE tok != ''),
         cp AS (SELECT tok, count(*) AS c FROM tk
                WHERE source = 'src0' GROUP BY 1),
         cn AS (SELECT tok, count(*) AS c FROM tk
                WHERE source != 'src0' GROUP BY 1),
         m0 AS (SELECT coalesce(cp.tok, cn.tok) AS tok,
                  coalesce(cp.c, 0) AS cp, coalesce(cn.c, 0) AS cn
                FROM cp FULL JOIN cn ON cp.tok = cn.tok),
         s AS (SELECT sum(cp) AS np, sum(cn) AS nn, count(*) AS v
               FROM m0),
         m AS (SELECT tok,
                 CAST(round((ln((cp + 1.0) / (np + v))
                           - ln((cn + 1.0) / (nn + v))) * 1000000)
                   AS BIGINT) AS lo
               FROM m0, s)
         SELECT doc_id,
           CAST(sum(lo) AS BIGINT) AS lo_micro_sum,
           count(*) AS n_tokens
         FROM tk JOIN m USING (tok)
         GROUP BY 1 ORDER BY 1""",

    // Token-budget head: running token total per source in (hash, id)
    // order; row kept iff its inclusive running total fits the
    // source's budget (even-numbered sources 800, odd 1200).
    "q96_token_budget" ->
      """WITH t AS (SELECT doc_id, source,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
           (((((((doc_id + 1) % 2147483647) + 2147483647) % 2147483647)
              * 48271) % 2147483647) * 48271) % 2147483647 AS hv
         FROM documents),
         c AS (SELECT *, sum(n_tok) OVER (PARTITION BY source
                 ORDER BY hv, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
               FROM t)
         SELECT doc_id, source, n_tok FROM c
         WHERE cum <= CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
                           THEN 800 ELSE 1200 END
         ORDER BY doc_id""",

    // Epoch upsampling at 2.5: epochs 0,1 always kept; epoch 2 kept
    // when the MINSTD hash (seed 1000003*3 = 3000009, +1 offset) is
    // below floor(0.5 * (2^31-1)).
    "q92_epoch_upsample" ->
      """WITH c AS (SELECT doc_id, unnest(range(0, 3)) AS epoch
                    FROM documents),
         h AS (SELECT doc_id, epoch,
                 (((((((doc_id + 3000010) % 2147483647) + 2147483647)
                    % 2147483647) * 48271) % 2147483647) * 48271)
                 % 2147483647 AS hv
               FROM c)
         SELECT doc_id, epoch FROM h
         WHERE epoch < 2 OR hv < 1073741823
         ORDER BY doc_id, epoch""",
    "q56_dedup_groups" ->
      (dedupGroupsSql + "\n       SELECT id, comp FROM comp ORDER BY 1"),
    "q57_dedup_keep_one" ->
      (dedupGroupsSql + """
       SELECT doc_id, source FROM documents
       WHERE doc_id NOT IN (SELECT id FROM comp WHERE id != comp)
       ORDER BY 1"""),
    "q58_dedup_paragraphs" ->
      """WITH tkn AS (SELECT doc_id, string_split(text, 'table') AS ps
                      FROM documents),
         ex AS (SELECT doc_id, unnest(range(1, len(ps)+1)) AS pos, ps
                FROM tkn),
         e2 AS (SELECT doc_id, pos, ps[pos] AS para FROM ex),
         r AS (SELECT doc_id, pos, para,
                 row_number() OVER (PARTITION BY para
                                    ORDER BY doc_id, pos) AS rn
               FROM e2),
         k AS (SELECT doc_id,
                 string_agg(para, 'table' ORDER BY pos) AS text_deduped
               FROM r WHERE rn = 1 GROUP BY doc_id)
         SELECT d.doc_id, coalesce(k.text_deduped, '') AS text_deduped
         FROM documents d LEFT JOIN k USING (doc_id) ORDER BY 1""",
    "q59_decontaminate" ->
      """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws
                    FROM documents),
         g AS (SELECT doc_id, source,
                 array_to_string(list_slice(ws, pos, pos+3), ' ') AS ng
               FROM w, unnest(range(1, len(ws)-4+2)) AS t(pos)),
         ev AS (SELECT DISTINCT ng FROM g WHERE source = 'src0')
         SELECT g.doc_id, count(DISTINCT g.ng) AS hits
         FROM g JOIN ev USING (ng) WHERE g.source != 'src0'
         GROUP BY 1 ORDER BY 1""",
    // the bloom path must produce EXACTLY the q59 answer — same oracle
    "q78_decontaminate_bloom" ->
      """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws
                    FROM documents),
         g AS (SELECT doc_id, source,
                 array_to_string(list_slice(ws, pos, pos+3), ' ') AS ng
               FROM w, unnest(range(1, len(ws)-4+2)) AS t(pos)),
         ev AS (SELECT DISTINCT ng FROM g WHERE source = 'src0')
         SELECT g.doc_id, count(DISTINCT g.ng) AS hits
         FROM g JOIN ev USING (ng) WHERE g.source != 'src0'
         GROUP BY 1 ORDER BY 1""",
    // replays quantization (floor(x*127/ma + 0.5)), quantized shortlist
    // of 4k by (round(c8,6) desc, nbr), exact-cosine rescore of the
    // shortlist — every arithmetic step bit-reproducible cross-engine
    "q79_ann_quantized" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         x AS (SELECT vec_id, v,
                 list_max(list_transform(v, a -> abs(a))) AS ma FROM e),
         q8 AS (SELECT vec_id, v,
                 CASE WHEN ma = 0 THEN list_transform(v, a -> 0.0)
                      ELSE list_transform(v, a -> floor(a * 127.0 / ma + 0.5))
                 END AS v8 FROM x),
         qq AS (SELECT vec_id AS qid, v AS qv, v8 AS q8v FROM q8
                WHERE vec_id < 10),
         cc AS (SELECT vec_id AS nbr, v, v8 FROM q8),
         s8 AS (SELECT qid, nbr, qv, v,
                  CASE WHEN sqrt(list_dot_product(q8v, q8v)) *
                            sqrt(list_dot_product(v8, v8)) = 0 THEN 0.0
                       ELSE list_dot_product(q8v, v8) /
                            (sqrt(list_dot_product(q8v, q8v)) *
                             sqrt(list_dot_product(v8, v8))) END AS c8
                FROM qq, cc WHERE nbr != qid),
         sh AS (SELECT qid, nbr, qv, v,
                  row_number() OVER (PARTITION BY qid
                    ORDER BY round(c8, 6) DESC, nbr) AS rn FROM s8),
         re AS (SELECT qid, nbr,
                  round(CASE WHEN sqrt(list_dot_product(qv, qv)) *
                                  sqrt(list_dot_product(v, v)) = 0 THEN 0.0
                             ELSE list_dot_product(qv, v) /
                                  (sqrt(list_dot_product(qv, qv)) *
                                   sqrt(list_dot_product(v, v))) END, 6)
                    AS score
                FROM sh WHERE rn <= 20),
         r AS (SELECT qid, nbr, score,
                 CAST(row_number() OVER (PARTITION BY qid
                   ORDER BY score DESC, nbr) AS INTEGER) AS rank FROM re)
         SELECT qid, nbr, score, rank FROM r WHERE rank <= 5
         ORDER BY qid, rank""",
    "q24_ann_topk" ->
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
                    FROM embeddings WHERE vec_id < 10),
            e AS (SELECT vec_id AS nbr, embedding::DOUBLE[] AS v
                    FROM embeddings),
            sc AS (SELECT qid, nbr,
                     round(list_cosine_similarity(qv, v), 6) AS score
                   FROM q, e WHERE nbr != qid),
            r AS (SELECT qid, nbr, score,
                    CAST(row_number() OVER
                      (PARTITION BY qid ORDER BY score DESC, nbr)
                      AS INTEGER) AS rank
                  FROM sc)
         SELECT qid, nbr, score, rank FROM r WHERE rank <= 5
         ORDER BY qid, rank""",
    "q13_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
         ORDER BY 1, 2""",
    "q34_token_count" ->
      """SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
         CAST(len(regexp_extract_all(text,
           '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s'']+'))
           AS INTEGER) AS bpe_tokens
         FROM documents ORDER BY doc_id""",

    "q72_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
         g2 AS (SELECT doc_id,
                  unnest([ws[i] || ' ' || ws[i+1] FOR i IN range(1, len(ws))]) AS g
                FROM t),
         g3 AS (SELECT doc_id,
                  unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                          FOR i IN range(1, len(ws)-1)]) AS g
                FROM t),
         s2 AS (SELECT doc_id, max(c*l) AS best, sum(c*l) AS tot, sum(l) AS dist
                FROM (SELECT doc_id, g, count(*) AS c, length(g) AS l
                      FROM g2 GROUP BY 1, 2) GROUP BY 1),
         s3 AS (SELECT doc_id, max(c*l) AS best, sum(c*l) AS tot, sum(l) AS dist
                FROM (SELECT doc_id, g, count(*) AS c, length(g) AS l
                      FROM g3 GROUP BY 1, 2) GROUP BY 1)
         SELECT t.doc_id,
           CAST(len(t.ws) AS INTEGER) AS n_tokens,
           CAST(coalesce(floor(s2.best*1.0/s2.tot*10000 + 0.5), 0) AS BIGINT) AS top2_x1e4,
           CAST(coalesce(floor((s2.tot-s2.dist)*1.0/s2.tot*10000 + 0.5), 0) AS BIGINT) AS dup2_x1e4,
           CAST(coalesce(floor(s3.best*1.0/s3.tot*10000 + 0.5), 0) AS BIGINT) AS top3_x1e4,
           CAST(coalesce(floor((s3.tot-s3.dist)*1.0/s3.tot*10000 + 0.5), 0) AS BIGINT) AS dup3_x1e4
         FROM t LEFT JOIN s2 USING(doc_id) LEFT JOIN s3 USING(doc_id)
         ORDER BY doc_id""",

    // double-round MINSTD (see Sampling.idHash); thresholds
    // floor(0.8*(2^31-1)) and floor(0.9*(2^31-1)) (the last split takes
    // the full remainder up to 2^31-1).
    "q73_hash_split" ->
      """WITH h AS (SELECT doc_id,
           (((((((doc_id + 1) % 2147483647) + 2147483647) % 2147483647)
              * 48271) % 2147483647) * 48271) % 2147483647 AS hv
         FROM documents)
         SELECT doc_id,
           CASE WHEN hv < 1717986917 THEN 'train'
                WHEN hv < 1932735282 THEN 'val'
                ELSE 'test' END AS split
         FROM h ORDER BY doc_id""",

    // per-source seed offsets 1000003*(i+1) (+1 hash offset); rates
    // 1.0 / 0.5 / 0.25 -> thresholds 2147483647 / 1073741823 / 536870911
    "q74_mix_corpora" ->
      """WITH k AS (SELECT doc_id, source,
           ((((((doc_id + CASE source WHEN 'src0' THEN 1000004
                                      WHEN 'src1' THEN 2000007
                                      ELSE 3000010 END)
                % 2147483647 + 2147483647) % 2147483647) * 48271)
              % 2147483647) * 48271) % 2147483647 AS hv
         FROM documents WHERE source IN ('src0','src1','src2'))
         SELECT doc_id, source AS mix_source FROM k
         WHERE (source = 'src0' AND hv < 2147483647)
            OR (source = 'src1' AND hv < 1073741823)
            OR (source = 'src2' AND hv < 536870911)
         ORDER BY doc_id""",
    // per-stratum seeds 1000003*(i+1) (+1 hash offset) over the ordered
    // rate list (en,de,fr,es,zh); thresholds floor(rate * (2^31-1))
    "q75_stratified_sample" ->
      """WITH h AS (SELECT doc_id, lang,
           CASE lang WHEN 'en' THEN 1000004 WHEN 'de' THEN 2000007
                     WHEN 'fr' THEN 3000010 WHEN 'es' THEN 4000013
                     WHEN 'zh' THEN 5000016 ELSE 1 END AS sd
         FROM documents)
         SELECT doc_id, lang FROM (
           SELECT doc_id, lang,
             ((((((doc_id + sd) % 2147483647 + 2147483647) % 2147483647)
                * 48271) % 2147483647) * 48271) % 2147483647 AS hv
           FROM h)
         WHERE (lang = 'en' AND hv < 1073741823)
            OR (lang = 'de' AND hv < 2147483647)
            OR (lang = 'fr' AND hv < 536870911)
            OR (lang = 'es' AND hv < 214748364)
            OR (lang = 'zh' AND hv < 107374182)
         ORDER BY doc_id""",

    // same injected dirt, same RE2-subset regexes, same email->ip->num
    // replacement order; counts taken on each stage's input
    "q76_pii_redact" ->
      """WITH dirty AS (SELECT doc_id, text
           || CASE WHEN doc_id % 3 = 0 THEN ' contact u' ||
                CAST(doc_id AS VARCHAR) || '@ex' ||
                CAST(doc_id % 7 AS VARCHAR) || '.org now' ELSE '' END
           || CASE WHEN doc_id % 3 = 1 THEN ' from 10.' ||
                CAST(doc_id % 200 AS VARCHAR) || '.0.1 host' ELSE '' END
           || CASE WHEN doc_id % 4 = 0 THEN ' acct 90011223' ||
                CAST(doc_id % 10 AS VARCHAR) || '4' ELSE '' END AS d
         FROM documents),
         s1 AS (SELECT doc_id,
           CAST(len(regexp_extract_all(d,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER)
             AS n_email,
           regexp_replace(d, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
             '<EMAIL>', 'g') AS t1
         FROM dirty),
         s2 AS (SELECT doc_id, n_email,
           CAST(len(regexp_extract_all(t1,
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INTEGER) AS n_ip,
           regexp_replace(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
             '<IP>', 'g') AS t2
         FROM s1)
         SELECT doc_id,
           regexp_replace(t2, '\b\d{9,}\b', '<NUM>', 'g') AS clean_text,
           n_email, n_ip,
           CAST(len(regexp_extract_all(t2, '\b\d{9,}\b')) AS INTEGER) AS n_num
         FROM s2 ORDER BY doc_id""",

    // exact scalar profile: Spark's `percentile` and DuckDB's
    // quantile_cont share the linear-interpolation definition, so the
    // rounded values hash-match
    "q80_sketch_profile" ->
      """SELECT l_returnflag, count(*) AS n,
           count(DISTINCT l_extendedprice) AS n_distinct,
           round(quantile_cont(CAST(floor(l_extendedprice*100 + 0.5)
             AS BIGINT), 0.25) / 100.0, 2) AS q25,
           round(quantile_cont(CAST(floor(l_extendedprice*100 + 0.5)
             AS BIGINT), 0.50) / 100.0, 2) AS q50,
           round(quantile_cont(CAST(floor(l_extendedprice*100 + 0.5)
             AS BIGINT), 0.75) / 100.0, 2) AS q75
         FROM lineitem GROUP BY 1 ORDER BY 1""",

    // replay: starts = [0] when n <= 40 else [0, 30, 60, ...] up to
    // (n-40+29)//30 * 30; chunk = slice(ws, start+1, start+40)
    "q81_chunk_windows" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents),
         s AS (SELECT doc_id, ws, len(ws) AS n FROM w),
         st AS (SELECT doc_id, ws, n,
                  CASE WHEN n <= 40 THEN [0]
                       ELSE list_transform(
                         range(0, (n - 40 + 29) // 30 + 1), i -> i * 30)
                  END AS starts
                FROM s),
         e AS (SELECT doc_id, ws, n, u.cid AS chunk_id, u.st AS start
               FROM st, unnest(list_transform(
                 range(1, len(starts) + 1),
                 i -> {'cid': i - 1, 'st': starts[i]})) AS t(u))
         SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
           array_to_string(list_slice(ws, start + 1, start + 40), ' ')
             AS chunk_text,
           CAST(least(40, n - start) AS INTEGER) AS chunk_tokens
         FROM e ORDER BY doc_id, chunk_id""",

    // replay: exclusive prefix sum of token counts in doc_id order,
    // each doc exploded into its overlapping 256-token sequences
    "q82_pack_sequences" ->
      """WITH d AS (SELECT doc_id, len(string_split(text, ' ')) AS n
                    FROM documents
                    WHERE len(string_split(text, ' ')) > 0),
         o AS (SELECT doc_id, n,
                 CAST(sum(n) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n
                   AS BIGINT) AS off
               FROM d),
         e AS (SELECT doc_id, n, off,
                 unnest(range(off // 256, (off + n - 1) // 256 + 1))
                   AS seq_id
               FROM o)
         SELECT seq_id, doc_id,
           greatest(0, seq_id * 256 - off) AS tok_from,
           least(n, (seq_id + 1) * 256 - off) AS tok_to
         FROM e ORDER BY seq_id, doc_id""",

    "q77_unigram_nll" ->
      """WITH tok AS (SELECT doc_id, t AS tok FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS t
             FROM documents) WHERE t <> ''),
         freq AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY 1),
         tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS tot FROM freq)
         SELECT doc_id, count(*) AS n_tokens,
                round(avg(ln(tot / cnt)), 6) AS nll
         FROM tok JOIN freq USING (tok) CROSS JOIN tot
         GROUP BY doc_id ORDER BY doc_id""",

    "q25_langid" ->
      """WITH tkn AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
         sc AS (SELECT doc_id,
           CAST(len(list_filter(ws, t -> t IN ('the','a','of','and','to','in'))) AS INTEGER) AS s_en,
           CAST(len(list_filter(ws, t -> t IN ('der','die','das','und','ist'))) AS INTEGER) AS s_de,
           CAST(len(list_filter(ws, t -> t IN ('le','la','les','et','est'))) AS INTEGER) AS s_fr,
           CAST(len(list_filter(ws, t -> t IN ('el','los','las','y','es'))) AS INTEGER) AS s_es
          FROM tkn)
         SELECT doc_id,
           CASE WHEN greatest(s_en,s_de,s_fr,s_es) IS NULL THEN NULL
                WHEN greatest(s_en,s_de,s_fr,s_es) = 0 THEN 'unknown'
                WHEN s_en = greatest(s_en,s_de,s_fr,s_es) THEN 'en'
                WHEN s_de = greatest(s_en,s_de,s_fr,s_es) THEN 'de'
                WHEN s_fr = greatest(s_en,s_de,s_fr,s_es) THEN 'fr'
                WHEN s_es = greatest(s_en,s_de,s_fr,s_es) THEN 'es'
                ELSE 'unknown' END AS pred_lang,
           s_en, s_de, s_fr, s_es
         FROM sc ORDER BY doc_id""",
    "q26_quality" ->
      """WITH tkn AS (SELECT doc_id, text, string_split(text,' ') AS ws
                      FROM documents),
         c AS (SELECT doc_id,
           CAST(len(ws) AS INTEGER) AS n_tokens,
           CAST(length(text) AS INTEGER) AS n_chars,
           len(list_distinct(ws))*1.0/len(ws) AS uniq,
           len(list_filter(ws, t -> t IN ('the','a','of','and','to','in')))*1.0/len(ws) AS stop,
           least(len(ws)/100.0, 1.0) AS lenf
          FROM tkn)
         SELECT doc_id, n_tokens, n_chars,
           CAST(floor(uniq*10000.0 + 0.5) AS BIGINT) AS uniq_x1e4,
           CAST(floor(stop*10000.0 + 0.5) AS BIGINT) AS stop_x1e4,
           CAST(floor((uniq*0.5 + lenf*0.3 + stop*0.2)*10000.0 + 0.5) AS BIGINT)
             AS quality_x1e4
         FROM c ORDER BY doc_id""",
    "q27_fingerprint" ->
      """SELECT doc_id,
         list_reduce(
           list_prepend(CAST(7 AS BIGINT),
             [CAST(31*length(t) + ascii(substr(t,1,1)) AS BIGINT)
              FOR t IN string_split(text,' ')]),
           (acc, x) -> (acc*31 + x) % 2147483647) AS fp
         FROM documents ORDER BY 1""",
    "q28_embedding_pairs" -> embeddingPairsSql,
    "q49_embedding_pairs_lsh" -> embeddingPairsSql,
    "q29_token_freq" ->
      """SELECT w AS token, count(*) AS freq
         FROM (SELECT unnest(string_split(text,' ')) AS w FROM documents)
         GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 50""",
    "q30_window_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
           AS window_start,
         event_type, count(*) AS n, round(sum(value), 2) AS sum_value
         FROM events WHERE ts IS NOT NULL GROUP BY 1, 2 ORDER BY 1, 2""",
    "q31_sessions" -> sessionsSql,
    "q53_sessions_bucketed" -> sessionsSql,
    "q37_asof_join" -> asofSql,
    "q54_asof_bucketed" -> asofSql,
    // identical parenthesization on the probability so the doubles
    // match bit-for-bit before ln/avg/round
    "q279_kn_nll" ->
      """WITH t AS (SELECT doc_id,
             [x FOR x IN string_split(text, ' ') IF x <> ''] AS ts
           FROM documents),
         b AS (SELECT doc_id,
                 unnest([ts[i] || ' ' || ts[i+1]
                         FOR i IN range(1, len(ts))]) AS bg
               FROM t WHERE len(ts) >= 2),
         bc AS (SELECT bg, count(*) AS c12 FROM b GROUP BY 1),
         w1a AS (SELECT string_split(bg, ' ')[1] AS w1,
                   sum(c12) AS ctx, count(*) AS nf
                 FROM bc GROUP BY 1),
         w2a AS (SELECT string_split(bg, ' ')[2] AS w2, count(*) AS np
                 FROM bc GROUP BY 1),
         tt AS (SELECT count(*) AS tt FROM bc),
         m AS (SELECT bg, c12, ctx, nf, np
               FROM bc JOIN w1a ON string_split(bc.bg, ' ')[1] = w1a.w1
                       JOIN w2a ON string_split(bc.bg, ' ')[2] = w2a.w2)
         SELECT doc_id, count(*) AS n_bigrams,
           round(avg(-ln((c12 - 0.75) / ctx +
                         0.75 * nf / ctx * (np * 1.0 / tt))), 6)
             AS kn_nll
         FROM b JOIN m USING (bg) CROSS JOIN tt
         GROUP BY doc_id ORDER BY doc_id""",

    // line-rule replay: same split, trim, terminal-regex, word-count,
    // and blocker logic in DuckDB list comprehensions
    "q278_c4_screen" ->
      """WITH s AS (SELECT doc_id, text,
             [x FOR x IN string_split(text, 'table')
              IF trim(x) <> ''] AS segs
           FROM documents),
         k AS (SELECT doc_id, text, segs,
             [x FOR x IN segs
              IF regexp_matches(trim(x), '(join|scan|merge)\s*$')
                 AND len([w FOR w IN string_split(trim(x), ' ')
                          IF w <> '']) >= 5
                 AND NOT contains(lower(x), 'slow')] AS kept
           FROM s),
         f AS (SELECT doc_id,
             CAST(len(segs) AS INTEGER) AS n_segments,
             CAST(len(kept) AS INTEGER) AS n_kept,
             (NOT (contains(lower(text), 'lorem ipsum')
                   OR contains(lower(text), '{')))
               AND len(kept) >= 2 AS keep,
             array_to_string(kept, 'table') AS ct
           FROM k)
         SELECT doc_id, n_segments, n_kept, keep,
           CASE WHEN keep THEN ct END AS clean_text
         FROM f ORDER BY doc_id""",

    // MERGE-semantics replay: updated keys take change rows, tombstoned
    // keys vanish, the new key inserts
    "q276_upsert" ->
      """WITH base AS (SELECT p_partkey, p_name,
             CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)
               AS price_cents FROM part),
         upd AS (SELECT p_partkey, p_name, price_cents + 999 AS price_cents
                 FROM base WHERE p_partkey % 7 = 0),
         ins AS (SELECT CAST(99999999 AS BIGINT) AS p_partkey,
                   'brand new part' AS p_name,
                   CAST(123 AS BIGINT) AS price_cents)
         SELECT coalesce(u.p_partkey, b.p_partkey) AS p_partkey,
                coalesce(u.p_name, b.p_name) AS p_name,
                coalesce(u.price_cents, b.price_cents) AS price_cents
         FROM base b FULL OUTER JOIN upd u USING (p_partkey)
         WHERE b.p_partkey IS NULL OR b.p_partkey % 11 <> 0
         UNION ALL SELECT * FROM ins
         ORDER BY 1""",

    // lead() over the identical (ts, event_id) per-user order
    "q277_scd2" ->
      """SELECT user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
           event_type,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_cents,
           strftime(lead(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id),
                    '%Y-%m-%d %H:%M:%S') AS valid_to
         FROM events WHERE ts IS NOT NULL
         ORDER BY user_id, valid_from, event_type, value_cents""",

    // arithmetic replay of the sampled frames only (stride 2): the
    // oracle never sees the container bytes — agreement proves the
    // index walk slices exactly the frames the formulas predict
    "q275_video_sample" ->
      """WITH s AS (SELECT doc_id, 2 + doc_id % 4 AS n,
                      6 + doc_id % 5 AS w, 4 + doc_id % 5 AS h
                    FROM documents),
         f AS (SELECT doc_id, n, w, h, unnest([x FOR x IN range(n)
                 IF x % 2 = 0]) AS fi
               FROM s),
         e AS (SELECT doc_id, n, w, h, fi,
                 doc_id * 31 + fi * 7 AS fid FROM f)
         SELECT doc_id, CAST(n AS INTEGER) AS n_frames,
           CAST(fi AS INTEGER) AS frame_idx,
           CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
           CAST(list_sum([(fid*3 + (i % w)*7 + (i // w)*11) % 256
                          FOR i IN range(w*h)]) AS BIGINT) AS sum_r,
           CAST(list_sum([(fid*5 + (i % w)*13 + (i // w)*3) % 256
                          FOR i IN range(w*h)]) AS BIGINT) AS sum_g,
           CAST(list_sum([(fid*7 + (i % w) + (i // w)*17) % 256
                          FOR i IN range(w*h)]) AS BIGINT) AS sum_b
         FROM e ORDER BY doc_id, frame_idx""",

    "q273_tpch_q18" ->
      """SELECT c_name, c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
             AS totalprice_cents,
           CAST(sum(l_quantity) AS BIGINT) AS sum_qty
         FROM customer
           JOIN orders ON c_custkey = o_custkey
           JOIN lineitem ON o_orderkey = l_orderkey
         WHERE o_orderkey IN
           (SELECT l_orderkey FROM lineitem
            GROUP BY 1 HAVING sum(l_quantity) > 250)
         GROUP BY 1, 2, 3, 4, 5
         ORDER BY totalprice_cents DESC, o_orderkey LIMIT 20""",

    "q274_tpch_q22" ->
      """WITH c AS (SELECT c_custkey, c_nationkey,
             CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
           FROM customer),
         t AS (SELECT sum(bal_cents) // count(*) AS avg_cents
               FROM c WHERE bal_cents > 0),
         rich AS (SELECT c.* FROM c CROSS JOIN t
                  WHERE bal_cents > avg_cents
                    AND NOT EXISTS
                      (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey
                         AND o_orderdate >= TIMESTAMP '2000-01-01'))
         SELECT n_name, count(*) AS numcust,
           CAST(sum(bal_cents) AS BIGINT) AS totacctbal_cents
         FROM rich JOIN nation ON c_nationkey = n_nationkey
         GROUP BY 1 ORDER BY 1""",

    "q280_tpch_q2" ->
      """WITH li AS (SELECT l_partkey, l_suppkey,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
               AS price_cents
           FROM lineitem),
         mn AS (SELECT l_partkey AS mpk, min(price_cents) AS min_cents
                FROM li GROUP BY 1),
         best AS (SELECT DISTINCT l_partkey, l_suppkey, price_cents
                  FROM li JOIN mn
                    ON l_partkey = mpk AND price_cents = min_cents)
         SELECT CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT)
                  AS s_acctbal_cents,
                s_name, n_name, p_partkey, p_name, price_cents
         FROM best
           JOIN part ON l_partkey = p_partkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
         WHERE p_type = 'LARGE' AND p_size <= 10
         ORDER BY s_acctbal_cents DESC, s_name, p_partkey LIMIT 100""",

    "q281_tpch_q4" ->
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders o
         WHERE o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1996-04-01'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o.o_orderkey
                         AND l_shipdate > o.o_orderdate
                                          + INTERVAL 60 DAY)
         GROUP BY 1 ORDER BY 1""",

    "q282_tpch_q11" ->
      """WITH pp AS (SELECT l_partkey,
             CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount)
               * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
           FROM lineitem GROUP BY 1)
         SELECT l_partkey, value_cents FROM pp
         WHERE value_cents * (SELECT count(*) FROM pp) * 2 >
           (SELECT CAST(sum(value_cents) AS BIGINT) FROM pp) * 3
         ORDER BY value_cents DESC, l_partkey""",

    "q283_tpch_q15" ->
      """WITH rev AS (SELECT l_suppkey,
             CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount)
               * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS total_revenue_cents
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate < TIMESTAMP '1996-04-01'
           GROUP BY 1)
         SELECT s_suppkey, s_name, total_revenue_cents
         FROM rev JOIN supplier ON l_suppkey = s_suppkey
         WHERE total_revenue_cents =
           (SELECT max(total_revenue_cents) FROM rev)
         ORDER BY s_suppkey""",

    "q284_tpch_q16" ->
      """SELECT p_brand, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE p_type <> 'PROMO' AND p_brand <> 'Brand#1'
           AND l_suppkey NOT IN
             (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         GROUP BY 1, 2
         ORDER BY supplier_cnt DESC, p_brand, p_size LIMIT 100""",

    "q285_tpch_q17" ->
      """WITH pp AS (SELECT l_partkey AS pk,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             count(*) AS cnt
           FROM lineitem GROUP BY 1)
         SELECT CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5)
                  AS BIGINT)) AS BIGINT) AS total_cents,
                count(*) AS n_items
         FROM lineitem
           JOIN part ON l_partkey = p_partkey
           JOIN pp ON l_partkey = pk
         WHERE p_brand = 'Brand#2'
           AND CAST(l_quantity AS BIGINT) * 5 * cnt < sum_qty""",

    "q286_tpch_q20" ->
      """WITH li AS (SELECT l_suppkey, l_partkey,
             CAST(l_quantity AS BIGINT) AS qty
           FROM lineitem
           WHERE l_partkey IN
             (SELECT p_partkey FROM part WHERE p_name LIKE '%red%')),
         sp AS (SELECT l_suppkey, l_partkey,
                  CAST(sum(qty) AS BIGINT) AS sp_qty
                FROM li GROUP BY 1, 2),
         p AS (SELECT l_partkey AS pk, CAST(sum(qty) AS BIGINT) AS p_qty,
                 count(DISTINCT l_suppkey) AS ns
               FROM li GROUP BY 1)
         SELECT s_name, n_name
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
         WHERE s_suppkey IN
           (SELECT l_suppkey FROM sp JOIN p ON l_partkey = pk
            WHERE sp_qty * ns > p_qty * 3)
         ORDER BY s_name""",

    "q287_tpch_q21" ->
      """WITH pos AS (SELECT l_orderkey, l_suppkey,
             max(l_shipdate) AS supp_last
           FROM lineitem GROUP BY 1, 2),
         po AS (SELECT l_orderkey AS ok, count(*) AS nsupp,
                  max(supp_last) AS ord_last
                FROM pos GROUP BY 1),
         att AS (SELECT pos.l_orderkey, pos.l_suppkey, nsupp,
                   count(*) OVER (PARTITION BY pos.l_orderkey)
                     AS n_attain
                 FROM pos JOIN po
                   ON pos.l_orderkey = ok AND supp_last = ord_last)
         SELECT s_name, count(*) AS numwait
         FROM att JOIN supplier ON l_suppkey = s_suppkey
         WHERE nsupp >= 2 AND n_attain = 1
         GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 20""",

    "q288_tpch_q7" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INTEGER) AS l_year,
           CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount)
             * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
         FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation cn ON c_nationkey = cn.n_nationkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation sn ON s_nationkey = sn.n_nationkey
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1998-01-01'
           AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2') OR
                (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
         GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",

    "q289_tpch_q8" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
           CAST(sum(CASE WHEN sn.n_name = 'NATION_7'
             THEN CAST(floor(l_extendedprice * (1.0 - l_discount)
               * 100 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT)
             AS nation_cents,
           CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount)
             * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
         FROM lineitem
           JOIN part ON l_partkey = p_partkey
           JOIN orders ON l_orderkey = o_orderkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation sn ON s_nationkey = sn.n_nationkey
         WHERE p_type = 'ECONOMY'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1998-01-01'
           AND o_custkey IN
             (SELECT c_custkey FROM customer
                JOIN nation ON c_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
              WHERE r_name = 'ASIA')
         GROUP BY 1 ORDER BY 1""",

    "q290_tpch_q14" ->
      """SELECT strftime(l_shipdate, '%Y-%m') AS month,
           CAST(sum(CASE WHEN p_type = 'PROMO'
             THEN CAST(floor(l_extendedprice * (1.0 - l_discount)
               * 100 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT)
             AS promo_cents,
           CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount)
             * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_shipdate >= TIMESTAMP '1997-01-01'
           AND l_shipdate < TIMESTAMP '1998-01-01'
         GROUP BY 1 ORDER BY 1""",

    "q291_tpch_q19" ->
      """SELECT CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount)
             * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents,
           count(*) AS n_items
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
                AND l_quantity BETWEEN 1 AND 11)
            OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
                AND l_quantity BETWEEN 10 AND 20)
            OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
                AND l_quantity BETWEEN 20 AND 30)""",

    "q292_lpa_communities" -> lpaSql(rounds = 3),

    "q293_skew_report" ->
      """WITH c AS (SELECT user_id AS k, count(*) AS cnt
                    FROM events GROUP BY 1)
         SELECT count(*) AS n_keys,
           CAST(sum(cnt) AS BIGINT) AS total_rows,
           max(cnt) AS max_cnt,
           quantile_cont(cnt, 0.5) AS p50_cnt,
           quantile_cont(cnt, 0.9) AS p90_cnt,
           quantile_cont(cnt, 0.99) AS p99_cnt,
           max(cnt) * 1000000 // CAST(sum(cnt) AS BIGINT) AS top1_ppm,
           (SELECT CAST(sum(cnt) AS BIGINT) FROM
              (SELECT cnt FROM c ORDER BY cnt DESC, k LIMIT 10))
             * 1000000 // CAST(sum(cnt) AS BIGINT) AS top10_ppm
         FROM c""",

    "q294_snapshot_diff" ->
      """WITH o AS (SELECT * FROM documents WHERE doc_id % 7 <> 0),
         n AS (SELECT doc_id,
                 CASE WHEN doc_id % 3 = 0 THEN upper(text)
                      ELSE text END AS text,
                 lang, source, n_chars
               FROM documents WHERE doc_id % 5 <> 0),
         j AS (SELECT coalesce(o.doc_id, n.doc_id) AS id,
                 CASE WHEN o.doc_id IS NULL THEN 'added'
                      WHEN n.doc_id IS NULL THEN 'removed'
                      ELSE 'changed' END AS change,
                 CASE WHEN o.doc_id IS NULL OR n.doc_id IS NULL THEN ''
                   ELSE concat_ws(',',
                     CASE WHEN o.doc_id IS DISTINCT FROM n.doc_id
                          THEN 'doc_id' END,
                     CASE WHEN o.lang IS DISTINCT FROM n.lang
                          THEN 'lang' END,
                     CASE WHEN o.n_chars IS DISTINCT FROM n.n_chars
                          THEN 'n_chars' END,
                     CASE WHEN o.source IS DISTINCT FROM n.source
                          THEN 'source' END,
                     CASE WHEN o.text IS DISTINCT FROM n.text
                          THEN 'text' END) END AS changed_cols
               FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
         SELECT id, change, changed_cols FROM j
         WHERE change <> 'changed' OR changed_cols <> ''
         ORDER BY id""",

    "q295_equidepth_hist" ->
      """WITH v AS (SELECT CAST(floor(l_extendedprice * 100 + 0.5)
                      AS BIGINT) AS v FROM lineitem),
         b AS (SELECT quantile_cont(v, [0.0, 0.125, 0.25, 0.375, 0.5,
                 0.625, 0.75, 0.875, 1.0]) AS bs FROM v)
         SELECT CAST(len(list_filter(bs[2:8],
                  x -> x < CAST(v AS DOUBLE))) AS INTEGER) AS bucket,
           count(*) AS n_rows, min(v) AS lo, max(v) AS hi
         FROM v, b GROUP BY 1 ORDER BY 1""",

    "q296_join_forecast" ->
      """WITH lc AS (SELECT CAST(user_id AS VARCHAR) AS key,
                       count(*) AS left_rows
                     FROM events GROUP BY 1),
         rc AS (SELECT CAST(user_id AS VARCHAR) AS key,
                  count(*) AS right_rows
                FROM events GROUP BY 1)
         SELECT key, left_rows, right_rows,
           left_rows * right_rows AS predicted_rows
         FROM lc JOIN rc USING (key)
         ORDER BY predicted_rows DESC, key LIMIT 10""",

    "q297_column_profile" -> Seq(
        "doc_id", "lang", "n_chars", "source", "text").map { c =>
        s"""SELECT '$c' AS "column", count($c) AS n_nonnull,
              count(*) - count($c) AS n_null,
              count(DISTINCT $c) AS n_distinct,
              CAST(min($c) AS VARCHAR) AS min_value,
              CAST(max($c) AS VARCHAR) AS max_value
            FROM documents"""
      }.mkString("", " UNION ALL ", """ ORDER BY "column""""),

    "q272_tpch_q13" ->
      """SELECT c_count, count(*) AS custdist
         FROM (SELECT c_custkey, count(o_orderkey) AS c_count
               FROM customer LEFT JOIN orders
                 ON c_custkey = o_custkey
                AND o_orderpriority <> '1-URGENT'
               GROUP BY c_custkey)
         GROUP BY c_count ORDER BY custdist DESC, c_count DESC""",

    "q269_tpch_q3" ->
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
           o_orderpriority,
           CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100
                               + 0.5) AS BIGINT)) AS BIGINT)
             AS revenue_cents
         FROM customer
           JOIN orders ON c_custkey = o_custkey
           JOIN lineitem ON l_orderkey = o_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-07-01'
           AND l_shipdate > TIMESTAMP '1998-07-01'
         GROUP BY 1, 2, 3
         ORDER BY revenue_cents DESC, l_orderkey LIMIT 10""",

    "q270_tpch_q5" ->
      """SELECT n_name,
           CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100
                               + 0.5) AS BIGINT)) AS BIGINT)
             AS revenue_cents
         FROM region
           JOIN nation ON n_regionkey = r_regionkey
           JOIN supplier ON s_nationkey = n_nationkey
           JOIN lineitem ON l_suppkey = s_suppkey
           JOIN orders ON o_orderkey = l_orderkey
           JOIN customer ON c_custkey = o_custkey
                        AND c_nationkey = s_nationkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1997-01-01'
           AND o_orderdate < TIMESTAMP '1998-01-01'
         GROUP BY 1 ORDER BY revenue_cents DESC, n_name""",

    "q271_tpch_q10" ->
      """SELECT c_custkey, c_name,
           CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS acctbal_cents,
           n_name,
           CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100
                               + 0.5) AS BIGINT)) AS BIGINT)
             AS revenue_cents
         FROM customer
           JOIN orders ON c_custkey = o_custkey
           JOIN lineitem ON l_orderkey = o_orderkey
           JOIN nation ON c_nationkey = n_nationkey
         WHERE o_orderdate >= TIMESTAMP '1997-10-01'
           AND o_orderdate < TIMESTAMP '1998-01-01'
           AND l_returnflag = 'R'
         GROUP BY 1, 2, 3, 4
         ORDER BY revenue_cents DESC, c_custkey LIMIT 20""",

    // synthesis + canonicalization replayed with the same regexes;
    // param filter/sort via list comprehension + list_sort
    "q268_url_canonical" ->
      """WITH u AS (SELECT doc_id,
             concat(
               CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'HTTP' END,
               '://',
               CASE WHEN doc_id % 4 < 2 THEN 'Example' ELSE 'example' END,
               CAST(doc_id % 10 AS VARCHAR), '.com',
               CASE WHEN doc_id % 8 = 3 THEN ':80' ELSE '' END,
               '/page/', CAST(doc_id % 20 AS VARCHAR),
               CASE WHEN doc_id % 16 = 5 THEN '/' ELSE '' END,
               '?id=', CAST(doc_id % 40 AS VARCHAR),
               '&utm_source=s', CAST(doc_id AS VARCHAR),
               CASE WHEN doc_id % 3 = 0
                    THEN concat('&ref=r', CAST(doc_id AS VARCHAR))
                    ELSE '' END,
               CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END) AS url
           FROM documents),
         c AS (SELECT doc_id,
             regexp_replace(url, '#.*$', '') AS nf FROM u),
         p AS (SELECT doc_id,
             lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
               AS scheme,
             regexp_replace(
               lower(regexp_extract(nf,
                 '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
               ':(80|443)$', '') AS host,
             regexp_replace(
               regexp_extract(nf,
                 '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
               '/+$', '') AS pth,
             list_sort([x FOR x IN
                 string_split(regexp_extract(nf, '\?([^#]*)', 1), '&')
                 IF x <> '' AND NOT regexp_matches(x,
                   '^(utm_[A-Za-z0-9_]*|gclid|fbclid|ref)=')]) AS ps
           FROM c),
         k AS (SELECT doc_id,
             concat(scheme, '://', host, pth,
               CASE WHEN len(ps) > 0
                    THEN concat('?', array_to_string(ps, '&'))
                    ELSE '' END) AS curl
           FROM p)
         SELECT curl, count(*) AS n_dups, min(doc_id) AS first_id
         FROM k GROUP BY 1 ORDER BY 1""",

    // open/close replayed with first_value/last_value over the
    // (ts, event_id) total order; cents sum is order-independent
    "q267_ohlc_bars" ->
      """WITH e AS (SELECT date_trunc('hour', ts) AS h, ts, event_id,
                      value
                    FROM events WHERE ts IS NOT NULL
                      AND value IS NOT NULL),
         w AS (SELECT h, value,
                 row_number() OVER (PARTITION BY h
                   ORDER BY ts, event_id) AS rn,
                 count(*) OVER (PARTITION BY h) AS cnt
               FROM e)
         SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS bar_start,
           round(max(CASE WHEN rn = 1 THEN value END), 4) AS open,
           round(max(value), 4) AS high,
           round(min(value), 4) AS low,
           round(max(CASE WHEN rn = cnt THEN value END), 4) AS close,
           count(*) AS n,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_cents
         FROM w GROUP BY h ORDER BY 1""",

    // mirrored ASOF direction: DuckDB picks the smallest c.ts >= p.ts
    "q265_asof_forward" ->
      """WITH p AS (SELECT user_id, ts FROM events
                    WHERE event_type = 'purchase'),
            c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
            j AS (SELECT p.user_id, p.ts AS pts, c.ts AS cts
                  FROM p ASOF LEFT JOIN c
                    ON p.user_id = c.user_id AND p.ts <= c.ts)
         SELECT user_id, count(*) AS n_purchases, count(cts) AS n_matched,
                CAST(coalesce(sum(epoch_us(cts) - epoch_us(pts)), 0)
                     AS BIGINT) AS sum_gap_us
         FROM j GROUP BY 1 ORDER BY 1""",
    "q32_topk_orders" ->
      """WITH r AS (SELECT o_orderstatus, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_orderstatus
                              ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders)
         SELECT o_orderstatus, o_orderkey, o_totalprice FROM r
         WHERE rn <= 3 ORDER BY 1, 3 DESC, 2""",
    "q33_rollup" ->
      """SELECT coalesce(l_returnflag, '(all)') AS rf,
                coalesce(l_linestatus, '(all)') AS ls,
                count(*) AS n, round(sum(l_quantity), 2) AS qty
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY 1, 2""",
    "q41_group_sample" ->
      """WITH x AS (SELECT DISTINCT l_returnflag,
                    CAST(l_partkey AS VARCHAR) AS v FROM lineitem),
            h AS (SELECT l_returnflag, v,
                    list_reduce(list_prepend(CAST(7 AS BIGINT),
                      [CAST(ascii(v[i]) AS BIGINT)
                       FOR i IN range(1, length(v)+1)]),
                      (a,c) -> (a*31+c) % 2147483647) AS hh
                  FROM x),
            r AS (SELECT l_returnflag, v, hh,
                    row_number() OVER (PARTITION BY l_returnflag
                                       ORDER BY hh, v) AS rn
                  FROM h)
         SELECT l_returnflag, string_agg(v, ',' ORDER BY hh, v) AS value
         FROM r WHERE rn <= 16 GROUP BY 1 ORDER BY 1""",
    "q36_set_ops" ->
      """WITH a AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000),
            b AS (SELECT c_custkey FROM customer
                  WHERE c_mktsegment = 'BUILDING'),
            s AS (SELECT 'both' AS which, c_custkey
                    FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
                  UNION ALL
                  SELECT 'a_only', c_custkey
                    FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
                  UNION ALL
                  SELECT 'b_only', c_custkey
                    FROM (SELECT * FROM b EXCEPT SELECT * FROM a))
         SELECT which, count(*) AS n FROM s GROUP BY 1 ORDER BY 1""",
    "q38_binary_meta" ->
      """SELECT doc_id,
         CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
         CAST(length(text) AS INTEGER) AS n_chars
         FROM documents ORDER BY 1""",
    "q39_quantiles" ->
      """SELECT l_returnflag,
         round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
         round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
         round(quantile_cont(l_extendedprice, 0.75), 4) AS p75
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "q48_tfidf" ->
      """WITH terms AS (SELECT doc_id, unnest(string_split(text,' ')) AS term
                        FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
         dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
         sc AS (SELECT t.doc_id, t.term, t.tf,
                  round(t.tf * ln((n_docs + 1.0) / (df + 1)), 6) AS tfidf
                FROM tf t JOIN dfq USING (term) CROSS JOIN n
                WHERE t.doc_id < 20),
         r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                 ORDER BY tfidf DESC, term) AS rn FROM sc)
         SELECT doc_id, term, tf, tfidf FROM r WHERE rn <= 3
         ORDER BY doc_id, tfidf DESC, term""",
    "q47_frame_meta" ->
      """SELECT doc_id, CAST(nb AS INTEGER) AS n_bytes,
         array_to_string(
           [CAST(least(chunk, greatest(nb - i*chunk, 0)) AS VARCHAR)
            FOR i IN range(0, 4)], ',') AS frame_lens
         FROM (SELECT doc_id, octet_length(encode(text)) AS nb,
                      greatest(octet_length(encode(text)) // 4, 1) AS chunk
               FROM documents)
         ORDER BY 1""",
    "q46_normalize" ->
      """SELECT doc_id,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                             ' +', ' ', 'g')) AS norm,
         CAST(len(string_split(
           trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                               ' +', ' ', 'g')), ' ')) AS INTEGER)
           AS norm_tokens
         FROM documents ORDER BY 1""",
    "q45_window_running" ->
      """SELECT o_custkey, o_orderkey,
         lag(o_totalprice) OVER w AS prev_price,
         round(sum(o_totalprice) OVER
           (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS UNBOUNDED PRECEDING), 2) AS running_total
         FROM orders WHERE o_custkey < 50
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY 1, 2""",
    "q44_dedup_capped" ->
      """WITH tkn AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
         sh AS (SELECT doc_id, list_distinct(
                  [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                   FOR i IN range(1, len(ws)-1)]) AS shingles FROM tkn),
         ex0 AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         keep AS (SELECT s FROM ex0 GROUP BY s HAVING count(*) <= 3),
         kept AS (SELECT ex0.* FROM ex0 JOIN keep USING (s)),
         sz AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY 1),
         ex AS (SELECT kept.doc_id, kept.s, sz.n
                FROM kept JOIN sz USING (doc_id)),
         pairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS co,
                          any_value(a.n) AS na, any_value(b.n) AS nb
                   FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
         SELECT id1, id2, round(co*1.0/(na+nb-co), 4) AS jaccard FROM pairs
         WHERE co*1.0/(na+nb-co) >= 0.5 ORDER BY 1, 2""",
    "q43_dedup_incremental" -> incrementalPairsSql,
    "q132_incremental_lsh" -> incrementalPairsSql,
    "q266_lsh_screen" -> incrementalPairsSql,

    "q160_funnel_windowed" ->
      """WITH e AS (SELECT user_id, ts, event_type FROM events
                    WHERE ts IS NOT NULL),
         s1 AS (SELECT user_id, min(ts) AS t1 FROM e
                WHERE event_type = 'signup' GROUP BY 1),
         s2 AS (SELECT s1.user_id, s1.t1,
                  min(CASE WHEN e.ts > s1.t1
                            AND date_diff('second', s1.t1, e.ts) <= 86400
                           THEN e.ts END) AS t2
                FROM s1 LEFT JOIN e ON e.user_id = s1.user_id
                  AND e.event_type = 'view'
                GROUP BY 1, 2),
         s3 AS (SELECT s2.user_id, s2.t1, s2.t2,
                  min(CASE WHEN e.ts > s2.t2
                            AND date_diff('second', s2.t2, e.ts) <= 86400
                           THEN e.ts END) AS t3
                FROM s2 LEFT JOIN e ON e.user_id = s2.user_id
                  AND e.event_type = 'click'
                GROUP BY 1, 2, 3),
         s4 AS (SELECT s3.user_id, s3.t1, s3.t2, s3.t3,
                  min(CASE WHEN e.ts > s3.t3
                            AND date_diff('second', s3.t3, e.ts) <= 86400
                           THEN e.ts END) AS t4
                FROM s3 LEFT JOIN e ON e.user_id = s3.user_id
                  AND e.event_type = 'purchase'
                GROUP BY 1, 2, 3, 4)
         SELECT user_id,
           strftime(t1, '%Y-%m-%d %H:%M:%S.%f') AS t1,
           strftime(t2, '%Y-%m-%d %H:%M:%S.%f') AS t2,
           strftime(t3, '%Y-%m-%d %H:%M:%S.%f') AS t3,
           strftime(t4, '%Y-%m-%d %H:%M:%S.%f') AS t4
         FROM s4 ORDER BY user_id""",

    "q161_pagerank" -> pagerankSql(3),

    "q298_ppr" -> pprSql(3),

    "q299_window_suite" ->
      """SELECT o_custkey, o_orderkey,
           CAST(rank() OVER w AS INTEGER) AS rnk,
           CAST(dense_rank() OVER w AS INTEGER) AS drnk,
           percent_rank() OVER w AS prnk,
           cume_dist() OVER w AS cdist,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile,
           lag(cents, 1) OVER w AS prev_cents,
           lead(cents, 1) OVER w AS next_cents
         FROM (SELECT o_custkey, o_orderkey, o_orderdate,
                 CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                   AS cents
               FROM orders WHERE o_custkey % 100 = 0)
         WINDOW w AS (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, o_orderkey""",

    "q300_bag_setops" ->
      """WITH f AS (SELECT o_custkey, o_orderpriority FROM orders
                    WHERE o_orderstatus = 'F'),
         o AS (SELECT o_custkey, o_orderpriority FROM orders
               WHERE o_orderstatus = 'O'),
         both_ AS (SELECT 'inter_all' AS which, *
                   FROM (SELECT * FROM f INTERSECT ALL SELECT * FROM o)
                   UNION ALL
                   SELECT 'except_all' AS which, *
                   FROM (SELECT * FROM f EXCEPT ALL SELECT * FROM o))
         SELECT which, o_custkey, o_orderpriority,
           count(*) AS multiplicity
         FROM both_ GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",

    "q167_winsorize" ->
      """WITH b AS (SELECT o_orderkey AS id, o_orderpriority AS g,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
           FROM orders),
         r AS (SELECT id, g, v,
             count(*) OVER (PARTITION BY g) AS n,
             row_number() OVER (PARTITION BY g ORDER BY v, id) AS rn
           FROM b),
         med AS (SELECT g, v AS med FROM r WHERE rn = (n + 1) // 2),
         p05 AS (SELECT g, v AS p05 FROM r
                 WHERE rn = greatest(1, (5 * n) // 100)),
         p95 AS (SELECT g, v AS p95 FROM r
                 WHERE rn = greatest(1, (95 * n) // 100)),
         d AS (SELECT b.id, b.g, b.v, abs(b.v - med.med) AS dev
               FROM b JOIN med ON b.g = med.g),
         dr AS (SELECT id, g, v, dev,
             count(*) OVER (PARTITION BY g) AS n,
             row_number() OVER (PARTITION BY g ORDER BY dev, id) AS rn
           FROM d),
         mad AS (SELECT g, dev AS mad FROM dr WHERE rn = (n + 1) // 2)
         SELECT d.id, d.g AS o_orderpriority, d.v,
           least(greatest(d.v, p05.p05), p95.p95) AS v_wins,
           (d.dev * 10 > mad.mad * 35) AS is_outlier
         FROM d JOIN mad ON d.g = mad.g
                JOIN p05 ON d.g = p05.g JOIN p95 ON d.g = p95.g
         ORDER BY d.id""",

    "q166_weighted_sample" ->
      """WITH tkn AS (SELECT doc_id, source,
             string_split(text,' ') AS ws FROM documents),
         c AS (SELECT doc_id, source,
           CAST(floor((len(list_distinct(ws))*1.0/len(ws)*0.5 +
                       least(len(ws)/100.0, 1.0)*0.3 +
                       len(list_filter(ws, t -> t IN
                         ('the','a','of','and','to','in')))*1.0/len(ws)*0.2
                      )*10000.0 + 0.5) AS BIGINT) AS q
           FROM tkn),
         h AS (SELECT doc_id, source, q,
           ((((doc_id + 1) % 2147483647 + 2147483647) % 2147483647
             * 48271) % 2147483647 * 48271) % 2147483647 AS hh
           FROM c WHERE q > 0),
         k AS (SELECT doc_id, source,
           (CAST(floor(-ln((hh + 1) / 2147483647.0) * 1000000.0 + 0.5)
                 AS BIGINT) * 1000000) // q AS key_fp
           FROM h),
         r AS (SELECT doc_id, source, key_fp,
           row_number() OVER (PARTITION BY source
             ORDER BY key_fp, doc_id) AS rn FROM k)
         SELECT doc_id, source, key_fp FROM r WHERE rn <= 5
         ORDER BY doc_id""",

    "q165_token_budget_best" ->
      """WITH tkn AS (SELECT doc_id, source,
             string_split(text,' ') AS ws FROM documents),
         c AS (SELECT doc_id, source, CAST(len(ws) AS BIGINT) AS n_tok,
           CAST(floor((len(list_distinct(ws))*1.0/len(ws)*0.5 +
                       least(len(ws)/100.0, 1.0)*0.3 +
                       len(list_filter(ws, t -> t IN
                         ('the','a','of','and','to','in')))*1.0/len(ws)*0.2
                      )*10000.0 + 0.5) AS BIGINT) AS q
           FROM tkn),
         cum AS (SELECT doc_id, source, n_tok, q,
           CAST(sum(n_tok) OVER (PARTITION BY source
             ORDER BY q DESC, doc_id) AS BIGINT) AS cum
           FROM c)
         SELECT doc_id, source, n_tok, q FROM cum
         WHERE cum <= 600 ORDER BY doc_id""",

    "q164_source_reputation" ->
      """WITH tkn AS (SELECT doc_id, source, text,
             string_split(text,' ') AS ws FROM documents),
         c AS (SELECT doc_id, source, text,
           CAST(floor((len(list_distinct(ws))*1.0/len(ws)*0.5 +
                       least(len(ws)/100.0, 1.0)*0.3 +
                       len(list_filter(ws, t -> t IN
                         ('the','a','of','and','to','in')))*1.0/len(ws)*0.2
                      )*10000.0 + 0.5) AS BIGINT) AS q
           FROM tkn),
         st AS (SELECT source, count(*) AS src_docs,
                  count(DISTINCT text) AS u,
                  CAST(sum(q) AS BIGINT) AS sq
                FROM c GROUP BY 1),
         kept AS (SELECT source, src_docs,
                    ((src_docs - u) * 1000) // src_docs AS src_dup_permille
                  FROM st
                  WHERE ((src_docs - u) * 1000) // src_docs <= 50
                    AND sq >= 4250 * src_docs)
         SELECT d.doc_id, d.source, kept.src_docs, kept.src_dup_permille
         FROM documents d JOIN kept ON d.source = kept.source
         ORDER BY d.doc_id""",

    "q163_rolling_window" ->
      """WITH o AS (SELECT o_orderkey, o_custkey, o_orderdate,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
           FROM orders)
         SELECT o_orderkey, o_custkey,
           strftime(o_orderdate, '%Y-%m-%d') AS d,
           CAST(sum(cents) OVER w AS BIGINT) AS roll_sum,
           count(*) OVER w AS roll_n
         FROM o
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
           RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW)
         ORDER BY o_orderkey""",

    "q162_scd2" ->
      """WITH s AS (SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS prev,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS rn
           FROM events WHERE ts IS NOT NULL),
         ch AS (SELECT user_id, ts, event_id, event_type FROM s
                WHERE rn = 1 OR event_type IS DISTINCT FROM prev),
         iv AS (SELECT user_id, event_type AS attr, ts AS f,
                  lead(ts) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS t
                FROM ch)
         SELECT user_id, attr,
           strftime(f, '%Y-%m-%d %H:%M:%S.%f') AS eff_from,
           strftime(t, '%Y-%m-%d %H:%M:%S.%f') AS eff_to,
           (t IS NULL) AS is_current
         FROM iv ORDER BY user_id, eff_from""",

    "q158_data_quality" ->
      """WITH w AS (SELECT
           sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS text_null,
           sum(CASE WHEN coalesce(n_chars <> length(text), TRUE)
                    THEN 1 ELSE 0 END) AS chars_mismatch,
           sum(CASE WHEN coalesce(lang NOT IN ('en','de','fr','es','zh'),
                                  TRUE)
                    THEN 1 ELSE 0 END) AS lang_unknown,
           sum(CASE WHEN coalesce(doc_id < 0, TRUE) THEN 1 ELSE 0 END)
             AS id_negative
           FROM documents)
         SELECT rule, CAST(n_bad AS BIGINT) AS n_bad FROM (
           SELECT 'text_null' AS rule, text_null AS n_bad FROM w
           UNION ALL SELECT 'chars_mismatch', chars_mismatch FROM w
           UNION ALL SELECT 'lang_unknown', lang_unknown FROM w
           UNION ALL SELECT 'id_negative', id_negative FROM w)
         ORDER BY rule""",

    "q159_keyed_diff" ->
      """WITH old AS (SELECT doc_id, text FROM documents
                      WHERE doc_id % 3 <> 0),
         neu AS (SELECT doc_id,
                   CASE WHEN doc_id % 5 = 0 THEN upper(text)
                        ELSE text END AS text
                 FROM documents WHERE doc_id % 7 <> 0)
         SELECT coalesce(old.doc_id, neu.doc_id) AS key,
           CASE WHEN old.doc_id IS NULL THEN 'added'
                WHEN neu.doc_id IS NULL THEN 'removed'
                WHEN old.text IS NOT DISTINCT FROM neu.text
                  THEN 'unchanged'
                ELSE 'changed' END AS status
         FROM old FULL JOIN neu ON old.doc_id = neu.doc_id
         ORDER BY key""",

    "q148_mode" ->
      """WITH c AS (SELECT l_returnflag AS g,
                      CAST(l_quantity AS BIGINT) AS v, count(*) AS cnt
                    FROM lineitem WHERE l_quantity IS NOT NULL
                    GROUP BY 1, 2),
         b AS (SELECT g, max(cnt) AS cnt FROM c GROUP BY 1)
         SELECT c.g AS l_returnflag, c.cnt AS n, min(c.v) AS mode
         FROM c JOIN b ON c.g = b.g AND c.cnt = b.cnt
         GROUP BY 1, 2 ORDER BY 1""",

    "q146_exact_corr" ->
      """WITH b AS (SELECT l_returnflag AS g,
             CAST(l_quantity AS BIGINT) AS x,
             CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT) AS y
           FROM lineitem),
         a AS (SELECT g, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                 sum(x*x) AS sxx, sum(y*y) AS syy, sum(x*y) AS sxy
               FROM b GROUP BY 1)
         SELECT g AS l_returnflag, n,
           round(CAST(n*sxy - sx*sy AS DOUBLE) /
                 (sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
                  * sqrt(CAST(n*syy - sy*sy AS DOUBLE))), 6) AS corr
         FROM a ORDER BY 1""",

    "q147_unpivot" ->
      """WITH w AS (SELECT source, count(*) AS n_docs,
                      CAST(sum(n_chars) AS BIGINT) AS sum_chars
                    FROM documents GROUP BY 1)
         SELECT source, 'n_docs' AS metric, n_docs AS value FROM w
         UNION ALL
         SELECT source, 'sum_chars' AS metric, sum_chars AS value FROM w
         ORDER BY 1, 2""",

    "q145_fuzzy_names" ->
      """WITH n AS (SELECT DISTINCT p_name AS name FROM part
                    WHERE p_name IS NOT NULL)
         SELECT a.name AS name1, b.name AS name2,
                CAST(levenshtein(a.name, b.name) AS INTEGER) AS dist
         FROM n a JOIN n b ON a.name < b.name
           AND abs(length(a.name) - length(b.name)) <= 2
         WHERE levenshtein(a.name, b.name) <= 2
         ORDER BY 1, 2""",

    "q143_range_join" ->
      """WITH bands(band, lo, hi) AS (VALUES
           ('low', 0.0, 50000.0), ('mid', 50000.0, 150000.0),
           ('high', 150000.0, 600000.0))
         SELECT band, count(*) AS n,
                round(sum(o_totalprice), 2) AS total
         FROM orders JOIN bands ON o_totalprice BETWEEN lo AND hi
         GROUP BY 1 ORDER BY 1""",

    "q144_pivot" ->
      """SELECT source,
           CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en,
           CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS de,
           CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS fr,
           CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS es,
           CAST(sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS zh
         FROM documents GROUP BY 1 ORDER BY 1""",

    "q134_rrf_fusion" ->
      """WITH q(qid, qtext) AS (VALUES
           (CAST(1 AS BIGINT), 'spark hash join'),
           (2, 'window sort table'), (3, 'fast merge batch')),
         qt AS (SELECT qid,
                  unnest(list_distinct(string_split(qtext,' '))) AS term
                FROM q),
         tk AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
         lens AS (SELECT doc_id, len(ws) AS dl FROM tk),
         terms AS (SELECT doc_id, t AS term FROM (
             SELECT doc_id, unnest(ws) AS t FROM tk) WHERE t <> ''),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
         dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         stats AS (SELECT count(*) AS n_docs, sum(dl) AS total_dl FROM lens),
         sa AS (SELECT qt.qid, tf.doc_id,
             round(sum(
               ln(1.0 + ((stats.n_docs - dfreq.df) + 0.5)
                        / (dfreq.df + 0.5))
               * (tf.tf * (1.2 + 1.0)
                  / (tf.tf + 1.2 * ((1.0 - 0.75)
                     + 0.75 * (lens.dl * stats.n_docs
                               / stats.total_dl))))), 6) AS score
           FROM tf JOIN qt USING(term) JOIN dfreq USING(term)
                JOIN lens ON tf.doc_id = lens.doc_id CROSS JOIN stats
           GROUP BY 1, 2),
         ra AS (SELECT qid, doc_id,
                  CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY score DESC, doc_id) AS INTEGER) AS rank
                FROM sa),
         sb AS (SELECT qt.qid, tf.doc_id,
             round(sum(
               ln(1.0 + ((stats.n_docs - dfreq.df) + 0.5)
                        / (dfreq.df + 0.5))
               * (tf.tf * (2.0 + 1.0)
                  / (tf.tf + 2.0 * ((1.0 - 0.75)
                     + 0.75 * (lens.dl * stats.n_docs
                               / stats.total_dl))))), 6) AS score
           FROM tf JOIN qt USING(term) JOIN dfreq USING(term)
                JOIN lens ON tf.doc_id = lens.doc_id CROSS JOIN stats
           GROUP BY 1, 2),
         rb AS (SELECT qid, doc_id,
                  CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY score DESC, doc_id) AS INTEGER) AS rank
                FROM sb),
         u AS (SELECT qid, doc_id, 1.0/(60 + rank) AS c FROM ra
               WHERE rank <= 10
               UNION ALL
               SELECT qid, doc_id, 1.0/(60 + rank) AS c FROM rb
               WHERE rank <= 10),
         f AS (SELECT qid, doc_id, round(sum(c), 6) AS score FROM u
               GROUP BY 1, 2),
         r AS (SELECT qid, doc_id, score,
                 CAST(row_number() OVER (PARTITION BY qid
                   ORDER BY score DESC, doc_id) AS INTEGER) AS rank
               FROM f)
         SELECT qid, doc_id, score, rank FROM r
         WHERE rank <= 10 ORDER BY qid, rank""",

    "q133_hash_features" ->
      """WITH tk AS (SELECT doc_id, tok FROM (
             SELECT doc_id, unnest(string_split(text,' ')) AS tok
             FROM documents) WHERE tok <> ''),
         tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY 1, 2),
         vh AS (SELECT tok,
                  list_reduce(list_prepend(CAST(7 AS BIGINT),
                      [CAST(ascii(substring(tok, i, 1)) AS BIGINT)
                       FOR i IN range(1, length(tok) + 1)]),
                    (a, c) -> (a * 31 + c) % 2147483647) AS h
                FROM (SELECT DISTINCT tok FROM tf)),
         hb AS (SELECT tok, CAST(h % 64 AS INTEGER) AS j,
                  1 - 2 * ((h * 48271) % 2147483647 % 2) AS sgn
                FROM vh)
         SELECT doc_id, j, CAST(sum(sgn * tf) AS BIGINT) AS v
         FROM tf JOIN hb USING (tok)
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q42_pipeline_funnel" -> pipelineFunnelSql,
    "q52_pipeline_fluent" -> pipelineFunnelSql,
    "q40_join_enrich" ->
      """SELECT c_mktsegment AS segment, count(*) AS n_orders,
         round(sum(o_totalprice), 2) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1 ORDER BY 1""",
    "q01_flagship_agg" ->
      """SELECT l_returnflag, l_linestatus,
         count(DISTINCT l_orderkey) AS n_orders,
         round(avg(l_quantity), 4) AS avg_qty,
         round(sum(l_extendedprice), 2) AS sum_price
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""",
    "q02_project_filter" ->
      """SELECT l_orderkey, l_partkey, l_quantity FROM lineitem
         WHERE l_quantity > 30 AND l_returnflag = 'R'
         ORDER BY 1, 2, 3""",
    "q03_group_list" ->
      """SELECT l_orderkey,
         array_to_string(list_sort(list(l_partkey)), ',') AS value
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "q04_group_set" ->
      """SELECT l_returnflag,
         array_to_string(list_sort(list(DISTINCT l_linestatus)), ',') AS value
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "q05_map_invert" ->
      "SELECT n_nationkey, n_name AS value FROM nation ORDER BY 1",
    "q06_self_cross" ->
      """SELECT a.s_suppkey AS k1, b.s_suppkey AS k2,
         round(a.s_acctbal + b.s_acctbal, 2) AS pair_sum
         FROM supplier a, supplier b
         WHERE a.s_nationkey = b.s_nationkey AND a.s_suppkey < b.s_suppkey
         ORDER BY 1, 2""",
    "q07_chunk_pairs" ->
      """WITH x AS (SELECT l_orderkey, l_linenumber,
           row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) AS rn
           FROM lineitem)
         SELECT l_orderkey,
           max(CASE WHEN rn % 2 = 1 THEN l_linenumber END) AS a,
           max(CASE WHEN rn % 2 = 0 THEN l_linenumber END) AS b
         FROM x GROUP BY l_orderkey, (rn - 1) // 2
         ORDER BY 1, 2, 3 NULLS FIRST""",
    "q50_chunk_root" ->
      """WITH x AS (SELECT o_orderkey, o_totalprice,
           row_number() OVER (ORDER BY o_orderkey) AS rn
           FROM orders)
         SELECT max(CASE WHEN rn % 2 = 1 THEN o_orderkey END) AS k1,
                max(CASE WHEN rn % 2 = 1 THEN o_totalprice END) AS p1,
                max(CASE WHEN rn % 2 = 0 THEN o_orderkey END) AS k2,
                max(CASE WHEN rn % 2 = 0 THEN o_totalprice END) AS p2
         FROM x GROUP BY (rn - 1) // 2
         ORDER BY 1""",
    "q08_json_literal_key" ->
      """SELECT event_type, count(*) AS n,
         CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
         FROM events GROUP BY 1 ORDER BY 1""",
    "q09_conditional_key" ->
      """SELECT CASE WHEN CAST(l_quantity AS BIGINT) % 2 = 0
                THEN 'even' ELSE 'odd' END AS parity,
         count(l_orderkey) AS n, round(sum(l_quantity), 2) AS qty
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "q10_explode_regroup" ->
      """SELECT o_orderstatus, count(o_totalprice) AS n,
         round(sum(o_totalprice), 2) AS rev
         FROM orders GROUP BY 1 ORDER BY 1""",
    "q12_multigrain_map" -> multigrainSql,
    "q55_multigrain_onescan" -> multigrainSql,
    "q23_simhash_dup" ->
      """WITH tkn AS (SELECT doc_id, string_split(text,' ') AS ws
                      FROM documents),
         sh AS (SELECT doc_id, list_distinct(
                  [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                   FOR i IN range(1, len(ws)-1)]) AS shingles
                FROM tkn WHERE len(ws) >= 3),
         hs AS (SELECT doc_id, shingles,
                  [ list_reduce(list_prepend(CAST(7 AS BIGINT),
                      [CAST(ascii(g[i]) AS BIGINT)
                       FOR i IN range(1, length(g)+1)]),
                      (a,c) -> (a*31+c) % 2147483647) * 2147483648
                  + list_reduce(list_prepend(CAST(11 AS BIGINT),
                      [CAST(ascii(g[i]) AS BIGINT)
                       FOR i IN range(1, length(g)+1)]),
                      (a,c) -> (a*37+c) % 2147483629)
                    FOR g IN shingles ] AS hh
                FROM sh),
         sim AS (SELECT doc_id, shingles,
                  CAST(list_sum(
                    [CASE WHEN list_sum(
                       [CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END
                        FOR h IN hh]) > 0
                     THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END
                     FOR j IN range(0, 62)]) AS BIGINT) AS simhash
                 FROM hs),
         b AS (SELECT doc_id, shingles,
                 (simhash >> 0) & 65535 AS b0, (simhash >> 16) & 65535 AS b1,
                 (simhash >> 32) & 65535 AS b2, (simhash >> 48) & 65535 AS b3
               FROM sim),
         cand AS (SELECT x.doc_id AS id1, y.doc_id AS id2,
                         any_value(x.shingles) AS s1, any_value(y.shingles) AS s2
                  FROM b x JOIN b y ON x.doc_id < y.doc_id AND
                    (x.b0 = y.b0 OR x.b1 = y.b1 OR x.b2 = y.b2 OR x.b3 = y.b3)
                  GROUP BY 1, 2)
         SELECT id1, id2,
           round(len(list_intersect(s1, s2))*1.0 /
                 len(list_distinct(s1 || s2)), 4) AS jaccard
         FROM cand
         WHERE len(list_intersect(s1, s2))*1.0 /
               len(list_distinct(s1 || s2)) >= 0.6
         ORDER BY 1, 2""",
    "q51_ann_ivf_trained" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
             [CAST(floor(x*1000000 + 0.5) AS BIGINT)
              FOR x IN embedding::DOUBLE[]] AS q
           FROM embeddings),
         c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                       q AS cq
                FROM (SELECT * FROM e ORDER BY vec_id LIMIT 8)),
         a1 AS (SELECT e.vec_id, e.q, c.cid,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY round(list_cosine_similarity(e.v,
                      [x/1000000.0 FOR x IN c.cq]), 6) DESC, c.cid) AS rn
                FROM e CROSS JOIN c0 c),
         s1 AS (SELECT cid, d,
                  CAST(floor(sum(q[d])*1.0/count(*)) AS BIGINT) AS m
                FROM (SELECT * FROM a1 WHERE rn = 1), range(1, 65) AS t(d)
                GROUP BY cid, d),
         c1 AS (SELECT c0.cid, coalesce(l.mq, c0.cq) AS cq
                FROM c0 LEFT JOIN (SELECT cid, list(m ORDER BY d) AS mq
                                   FROM s1 GROUP BY cid) l USING (cid)),
         a2 AS (SELECT e.vec_id, e.q, c.cid,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY round(list_cosine_similarity(e.v,
                      [x/1000000.0 FOR x IN c.cq]), 6) DESC, c.cid) AS rn
                FROM e CROSS JOIN c1 c),
         s2 AS (SELECT cid, d,
                  CAST(floor(sum(q[d])*1.0/count(*)) AS BIGINT) AS m
                FROM (SELECT * FROM a2 WHERE rn = 1), range(1, 65) AS t(d)
                GROUP BY cid, d),
         c2 AS (SELECT c1.cid, coalesce(l.mq, c1.cq) AS cq
                FROM c1 LEFT JOIN (SELECT cid, list(m ORDER BY d) AS mq
                                   FROM s2 GROUP BY cid) l USING (cid)),
         ac AS (SELECT e.vec_id, e.v, c.cid,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY round(list_cosine_similarity(e.v,
                      [x/1000000.0 FOR x IN c.cq]), 6) DESC, c.cid) AS rn
                FROM e CROSS JOIN c2 c),
         asg AS (SELECT vec_id AS nbr, v, cid AS lst FROM ac WHERE rn = 1),
         prb AS (SELECT vec_id AS qid, v AS qv, cid AS lst
                 FROM ac WHERE vec_id < 10 AND rn <= 2),
         sc AS (SELECT p.qid, a.nbr,
                  round(list_cosine_similarity(p.qv, a.v), 6) AS score
                FROM prb p JOIN asg a USING (lst) WHERE a.nbr != p.qid),
         r AS (SELECT qid, nbr, score,
                 CAST(row_number() OVER (PARTITION BY qid
                   ORDER BY score DESC, nbr) AS INTEGER) AS rank
               FROM sc)
         SELECT qid, nbr, score, rank FROM r WHERE rank <= 5
         ORDER BY qid, rank""",
    "q35_ann_ivf" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         cents AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                          v AS cv
                   FROM (SELECT * FROM e ORDER BY vec_id LIMIT 16)),
         ac AS (SELECT e.vec_id, e.v, c.cid,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC,
                             c.cid) AS rn
                FROM e CROSS JOIN cents c),
         asg AS (SELECT vec_id AS nbr, v, cid AS lst FROM ac WHERE rn = 1),
         prb AS (SELECT vec_id AS qid, v AS qv, cid AS lst
                 FROM ac WHERE vec_id < 10 AND rn <= 4),
         sc AS (SELECT p.qid, a.nbr,
                  round(list_cosine_similarity(p.qv, a.v), 6) AS score
                FROM prb p JOIN asg a USING (lst) WHERE a.nbr != p.qid),
         r AS (SELECT qid, nbr, score,
                 CAST(row_number() OVER (PARTITION BY qid
                   ORDER BY score DESC, nbr) AS INTEGER) AS rank
               FROM sc)
         SELECT qid, nbr, score, rank FROM r WHERE rank <= 5
         ORDER BY qid, rank""",

    // packed-IVF probe = q35's routing at nProbe = 1 (prb rn = 1): the
    // in-row ranking must be bit-identical to the join+window form
    "q264_ann_packed" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         cents AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                          v AS cv
                   FROM (SELECT * FROM e ORDER BY vec_id LIMIT 16)),
         ac AS (SELECT e.vec_id, e.v, c.cid,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC,
                             c.cid) AS rn
                FROM e CROSS JOIN cents c),
         asg AS (SELECT vec_id AS nbr, v, cid AS lst FROM ac WHERE rn = 1),
         prb AS (SELECT vec_id AS qid, v AS qv, cid AS lst
                 FROM ac WHERE vec_id < 10 AND rn = 1),
         sc AS (SELECT p.qid, a.nbr,
                  round(list_cosine_similarity(p.qv, a.v), 6) AS score
                FROM prb p JOIN asg a USING (lst) WHERE a.nbr != p.qid),
         r AS (SELECT qid, nbr, score,
                 CAST(row_number() OVER (PARTITION BY qid
                   ORDER BY score DESC, nbr) AS INTEGER) AS rank
               FROM sc)
         SELECT qid, nbr, score, rank FROM r WHERE rank <= 5
         ORDER BY qid, rank""",

    // identical IEEE final expression as q146 (integer sums up to the
    // one shared double expression), so no tolerance is needed
    "q356_acf" ->
      """WITH h AS (SELECT event_type,
             date_trunc('hour', ts) AS hr,
             SUM(CAST(floor(value*100 + 0.5) AS BIGINT)) AS v
           FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
           GROUP BY 1, 2),
         l AS (SELECT event_type, v,
             lag(v, 1) OVER (PARTITION BY event_type ORDER BY hr) AS y1,
             lag(v, 2) OVER (PARTITION BY event_type ORDER BY hr) AS y2,
             lag(v, 3) OVER (PARTITION BY event_type ORDER BY hr) AS y3
           FROM h),
         p AS (
           SELECT event_type, 1 AS lag, v AS x, y1 AS y FROM l
           WHERE y1 IS NOT NULL
           UNION ALL
           SELECT event_type, 2, v, y2 FROM l WHERE y2 IS NOT NULL
           UNION ALL
           SELECT event_type, 3, v, y3 FROM l WHERE y3 IS NOT NULL),
         a AS (SELECT event_type, lag, count(*) AS n,
                 sum(x) AS sx, sum(y) AS sy, sum(x*x) AS sxx,
                 sum(y*y) AS syy, sum(x*y) AS sxy
               FROM p GROUP BY 1, 2)
         SELECT event_type, CAST(lag AS INTEGER) AS lag,
           CAST(n AS BIGINT) AS n,
           round(CAST(n*sxy - sx*sy AS DOUBLE) /
                 (sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
                  * sqrt(CAST(n*syy - sy*sy AS DOUBLE))), 6) AS acf
         FROM a ORDER BY 1, 2""",

    "q357_weighted_median" ->
      """WITH pv AS (SELECT l_returnflag AS g,
             CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT) AS v,
             SUM(CAST(l_quantity AS BIGINT)) AS w
           FROM lineitem GROUP BY 1, 2),
         c AS (SELECT g, v,
             CAST(SUM(w) OVER (PARTITION BY g ORDER BY v) AS BIGINT)
               AS cumw,
             CAST(SUM(w) OVER (PARTITION BY g) AS BIGINT) AS totw
           FROM pv)
         SELECT g AS l_returnflag, min(v) AS q_value,
                max(totw) AS total_weight
         FROM c WHERE cumw * 2 >= totw * 1
         GROUP BY 1 ORDER BY 1""",

    // from-scratch recomputation over (base minus deletions) plus the
    // insert window — must match the engine's state+delta fold exactly
    "q358_ivm_apply" ->
      """SELECT o_custkey AS custkey, count(*) AS cnt,
           CAST(SUM(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_cents
         FROM orders
         WHERE (o_orderdate < DATE '1997-01-01' AND o_orderkey % 7 <> 0)
            OR (o_orderdate >= DATE '1997-01-01'
                AND o_orderdate < DATE '1998-01-01')
         GROUP BY 1 HAVING count(*) > 0 ORDER BY 1""",

    "q359_variant_extract" ->
      """WITH x AS (SELECT event_type,
             CAST(props->>'$.k' AS BIGINT) AS k_val,
             CAST(props->>'$.no_such_field' AS BIGINT) AS absent
           FROM events)
         SELECT event_type, count(*) AS n_rows,
           count(k_val) AS n_with_k,
           CAST(sum(k_val) AS BIGINT) AS sum_k,
           min(k_val) AS min_k, max(k_val) AS max_k,
           count(absent) AS n_absent_hits
         FROM x GROUP BY 1 ORDER BY 1""",

    // integer moments + ppm floor-divided terms: HUGEINT arithmetic
    // mirrors the engine's decimal(38,0); // is floor division on
    // non-negative operands, matching Spark's integral `div`
    "q360_embedding_outliers" ->
      """WITH c AS (SELECT vec_id,
             generate_subscripts(embedding, 1) AS d,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE)*1000000 + 0.5)
                  AS BIGINT) AS x
           FROM embeddings WHERE embedding IS NOT NULL),
         st AS (SELECT d, CAST(count(*) AS HUGEINT) AS n,
                  CAST(sum(x) AS HUGEINT) AS s,
                  CAST(sum(x*x) AS HUGEINT) AS ss
                FROM c GROUP BY 1),
         t AS (SELECT c.vec_id,
             CASE WHEN st.n*st.ss - st.s*st.s = 0 THEN 0
                  ELSE ((st.n*c.x - st.s)*(st.n*c.x - st.s)*1000000)
                       // (st.n*st.ss - st.s*st.s) END AS term
           FROM c JOIN st USING (d))
         SELECT vec_id, CAST(SUM(term) AS BIGINT) AS score_ppm
         FROM t GROUP BY 1
         ORDER BY score_ppm DESC, vec_id LIMIT 20""",

    // gap-merge replay with Spark's end-exclusive boundary (diff of
    // exactly the gap starts a NEW session)
    "q361_session_native" ->
      """WITH e AS (SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL 1800 SECOND
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       IS NULL
                  THEN 1 ELSE 0 END AS new_s
           FROM events WHERE ts IS NOT NULL),
         sid AS (SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS s
           FROM e)
         SELECT user_id, min(ts) AS session_start,
                max(ts) + INTERVAL 1800 SECOND AS session_end,
                count(*) AS n_events
         FROM sid GROUP BY user_id, s
         ORDER BY user_id, session_start""",

    "q362_join_keys" ->
      """WITH vals AS (
           SELECT 'orders.o_custkey' AS l,
                  CAST(o_custkey AS VARCHAR) AS v FROM orders
             WHERE o_custkey IS NOT NULL
           UNION
           SELECT 'customer.c_custkey', CAST(c_custkey AS VARCHAR)
             FROM customer WHERE c_custkey IS NOT NULL
           UNION
           SELECT 'lineitem.l_orderkey', CAST(l_orderkey AS VARCHAR)
             FROM lineitem WHERE l_orderkey IS NOT NULL
           UNION
           SELECT 'orders.o_orderkey', CAST(o_orderkey AS VARCHAR)
             FROM orders WHERE o_orderkey IS NOT NULL),
         sizes AS (SELECT l, count(*) AS n FROM vals GROUP BY 1),
         pairs AS (SELECT a.l AS col_a, b.l AS col_b,
                     count(*) AS n_common
                   FROM vals a JOIN vals b ON a.v = b.v AND a.l <> b.l
                   GROUP BY 1, 2)
         SELECT col_a, col_b, sa.n AS n_a, sb.n AS n_b, n_common,
                n_common * 1000000 // sa.n AS containment_ppm
         FROM pairs JOIN sizes sa ON sa.l = col_a
                    JOIN sizes sb ON sb.l = col_b
         ORDER BY 1, 2""",

    // same exact integer numerator/denominator and the ONE double
    // division; IGNORE NULLS carries (t, v) of the nearest observed
    // neighbors
    "q363_interpolate" ->
      """WITH b AS (SELECT user_id, event_id,
             CAST(floor(extract(epoch FROM ts)) AS BIGINT) AS t,
             CASE WHEN event_id % 5 = 0 THEN NULL
                  ELSE CAST(floor(value*100 + 0.5) AS BIGINT) END AS v
           FROM events WHERE ts IS NOT NULL),
         n AS (SELECT user_id, event_id, t, v,
             last_value(CASE WHEN v IS NOT NULL THEN v END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY t, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS pv,
             last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY t, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS pt,
             first_value(CASE WHEN v IS NOT NULL THEN v END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY t, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY t, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS nt
           FROM b)
         SELECT user_id, event_id,
           CASE WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)
                WHEN pv IS NULL OR nv IS NULL THEN NULL
                WHEN nt = pt THEN CAST(pv AS DOUBLE)
                ELSE round(CAST(pv*(nt - t) + nv*(t - pt) AS DOUBLE)
                           / CAST(nt - pt AS DOUBLE), 6) END AS filled,
           (v IS NULL AND pv IS NOT NULL AND nv IS NOT NULL)
             AS was_interpolated
         FROM n ORDER BY user_id, event_id""",

    "q364_frequent_paths" ->
      """WITH s AS (SELECT user_id, ts, event_id, event_type,
             lead(event_type, 1) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS s1,
             lead(event_type, 2) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS s2
           FROM events
           WHERE ts IS NOT NULL AND event_type IS NOT NULL)
         SELECT event_type || '>' || s1 || '>' || s2 AS path,
                count(*) AS cnt
         FROM s WHERE s1 IS NOT NULL AND s2 IS NOT NULL
         GROUP BY 1 ORDER BY cnt DESC, path LIMIT 20""",

    "q490_tpch_q1" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
             AS BIGINT) AS sum_base_cents,
           CAST(SUM(CAST(floor(l_extendedprice * (1.0 - l_discount)
             * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
           CAST(SUM(CAST(floor(l_extendedprice * (1.0 - l_discount)
             * (1.0 + l_tax) * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_charge_cents,
           CAST(SUM(CAST(floor(l_discount * 10000 + 0.5) AS BIGINT))
             AS BIGINT) AS sum_disc_x1e4,
           count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY 1, 2 ORDER BY 1, 2""",

    "q365_tpch_q6" ->
      """SELECT CAST(SUM(CAST(floor(l_extendedprice * l_discount * 100
                  + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents,
           count(*) AS n_items
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1997-01-01'
           AND l_shipdate < TIMESTAMP '1998-01-01'
           AND l_discount >= 0.05 AND l_discount <= 0.07
           AND l_quantity < 24""",

    "q366_tpch_q9" ->
      """SELECT n_name AS nation,
           CAST(year(o_orderdate) AS INTEGER) AS o_year,
           CAST(SUM(CAST(floor(l_extendedprice * (1.0 - l_discount)
                    * 100 + 0.5) AS BIGINT)
                  - CAST(floor(p_retailprice * l_quantity * 10 + 0.5)
                    AS BIGINT)) AS BIGINT) AS profit_cents
         FROM lineitem
           JOIN part ON l_partkey = p_partkey
             AND p_name LIKE '%al%'
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
           JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1, 2 ORDER BY nation, o_year DESC""",

    "q367_tpch_q12" ->
      """SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE date_diff('day', o_orderdate, l_shipdate) > 60
         GROUP BY 1 ORDER BY 1""",

    // plain semi-join: the bloom is a prefilter only, results must be
    // exactly these
    "q368_bloom_semijoin" ->
      """SELECT l_returnflag, count(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
         FROM lineitem
         WHERE l_partkey IN
           (SELECT p_partkey FROM part WHERE p_size >= 48)
         GROUP BY 1 ORDER BY 1""",

    "q369_bloom_antijoin" ->
      """SELECT l_returnflag, count(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
         FROM lineitem
         WHERE l_partkey NOT IN
           (SELECT p_partkey FROM part WHERE p_size >= 48)
         GROUP BY 1 ORDER BY 1""",

    // the same sweep: span breaks where start exceeds the running max
    // of prior ends (touching intervals merge)
    "q400_interval_merge" ->
      """WITH iv AS (SELECT o_custkey,
             CAST(floor(extract(epoch FROM o_orderdate)) AS BIGINT) AS s,
             CAST(floor(extract(epoch FROM o_orderdate)) AS BIGINT)
               + 30*86400 AS e
           FROM orders
           WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL),
         m AS (SELECT o_custkey, s, e,
             max(e) OVER (PARTITION BY o_custkey ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS pmax
           FROM iv),
         b AS (SELECT o_custkey, s, e,
             CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END AS brk
           FROM m),
         sp AS (SELECT o_custkey, s, e,
             SUM(brk) OVER (PARTITION BY o_custkey ORDER BY s, e
                            ROWS UNBOUNDED PRECEDING) AS span
           FROM b)
         SELECT o_custkey AS custkey,
           min(s) AS span_start, max(e) AS span_end,
           max(e) - min(s) AS covered, count(*) AS n_intervals
         FROM sp GROUP BY o_custkey, span
         ORDER BY custkey, span_start""",

    // nearest predecessor via native ASOF, then the staleness gate —
    // identical choose-first-gate-second semantics
    "q401_asof_within" ->
      """WITH p AS (SELECT user_id, ts FROM events
                    WHERE event_type = 'purchase'),
           c AS (SELECT user_id, ts FROM events
                 WHERE event_type = 'click'),
           j AS (SELECT p.user_id, p.ts AS pts,
                   CASE WHEN CAST(floor(epoch(p.ts)) AS BIGINT)
                             - CAST(floor(epoch(c.ts)) AS BIGINT) > 3600
                        THEN NULL ELSE c.ts END AS cts
                 FROM p ASOF LEFT JOIN c
                   ON p.user_id = c.user_id AND p.ts >= c.ts)
         SELECT user_id, count(*) AS n_purchases, count(cts) AS n_matched,
                CAST(coalesce(sum(epoch_us(pts) - epoch_us(cts)), 0)
                     AS BIGINT) AS sum_gap_us
         FROM j GROUP BY 1 ORDER BY 1""",

    // full pixel-arithmetic replay: synth image -> 8x8 nearest
    // neighbor -> integer luma -> strict-mean threshold -> bit pack
    "q402_phash" -> phashCteSql(
      "SELECT doc_id, hi AS hash_hi, lo AS hash_lo FROM h ORDER BY doc_id",
      subset = ""),

    // full sample-arithmetic replay of the energy-contour hash
    "q404_audio_ehash" ->
      """WITH s AS (SELECT doc_id, 20 + doc_id % 50 AS n FROM documents),
         sm AS (SELECT doc_id, n,
           [ ((doc_id+1)*7919 + i*104729) % 65521 - 32760
             FOR i IN range(n) ] AS xs
           FROM s),
         en AS (SELECT doc_id, n, xs,
           [ CASE WHEN (j+1)*n//32 > j*n//32
                  THEN list_sum([abs(xs[i+1]) FOR i IN range(n)
                                 IF i >= j*n//32 AND i < (j+1)*n//32])
                       // ((j+1)*n//32 - j*n//32)
                  ELSE 0 END FOR j IN range(32) ] AS es
           FROM sm),
         m AS (SELECT doc_id, es, list_sum(es) // 32 AS mean FROM en)
         SELECT doc_id,
           CAST(list_sum([CASE WHEN es[j+1] > mean
                          THEN (1::BIGINT << j) ELSE 0 END
                          FOR j IN range(32)]) AS BIGINT) AS ehash
         FROM m ORDER BY doc_id""",

    "q403_phash_pairs" -> phashCteSql(
      """SELECT a.doc_id AS id1, b.doc_id AS id2,
           CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
                AS BIGINT) AS dist
         FROM h a JOIN h b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 6
         ORDER BY id1, id2""",
      subset = " WHERE doc_id < 2000"),

    // native forward ASOF + continuous quantiles (bit-identical on
    // integer gaps, the skewReport-established parity)
    "q412_latency_pct" ->
      """WITH v AS (SELECT user_id, ts FROM events
                    WHERE event_type = 'view'),
           p AS (SELECT user_id, ts FROM events
                 WHERE event_type = 'purchase'),
           j AS (SELECT v.user_id,
                   CAST(floor(epoch(p.ts)) AS BIGINT)
                     - CAST(floor(epoch(v.ts)) AS BIGINT) AS gap_s
                 FROM v ASOF LEFT JOIN p
                   ON v.user_id = p.user_id AND p.ts >= v.ts)
         SELECT user_id % 4 AS cohort, count(*) AS n,
                CAST(quantile_cont(gap_s, 0.5) AS DOUBLE) AS p50_s,
                CAST(quantile_cont(gap_s, 0.9) AS DOUBLE) AS p90_s,
                max(gap_s) AS max_s
         FROM j WHERE gap_s IS NOT NULL
         GROUP BY 1 ORDER BY 1""",

    // the accumulator totals recomputed declaratively
    "q413_foreach" ->
      """SELECT count(*) AS n_rows,
           CAST(sum(l_linenumber) AS BIGINT) AS sum_ln
         FROM lineitem""",

    // the set domain replayed as DISTINCT aggregation
    "q414_set_domain" ->
      """SELECT l_orderkey,
           count(DISTINCT l_partkey) AS n_parts,
           max(l_partkey) AS max_pk
         FROM lineitem GROUP BY 1 ORDER BY 1""",

    // q31's session CTE -> intervals -> the same ±1 sweep; ends sort
    // before starts at equal times (end-exclusive)
    "q411_concurrency" ->
      """WITH x AS (SELECT user_id, ts,
           CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                     IS NULL THEN 1
                WHEN CAST(floor(epoch(ts)) AS BIGINT) -
                     CAST(floor(epoch(lag(ts) OVER
                       (PARTITION BY user_id ORDER BY ts))) AS BIGINT)
                     > 1800 THEN 1
                ELSE 0 END AS ns
           FROM events WHERE ts IS NOT NULL),
         y AS (SELECT user_id, ts,
                 sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid
               FROM x),
         iv AS (SELECT user_id, sid,
                  min(CAST(floor(epoch(ts)) AS BIGINT)) AS s,
                  max(CAST(floor(epoch(ts)) AS BIGINT)) AS e
                FROM y GROUP BY 1, 2),
         dl AS (SELECT s AS t, CAST(1 AS BIGINT) AS d FROM iv
                UNION ALL
                SELECT e, CAST(-1 AS BIGINT) FROM iv),
         c AS (SELECT t, d,
                 sum(d) OVER (ORDER BY t, d ROWS UNBOUNDED PRECEDING)
                   AS concurrent
               FROM dl)
         SELECT t - t % 3600 AS hour_sec,
                CAST(max(concurrent) AS BIGINT) AS peak_concurrent,
                count(*) AS n_boundaries
         FROM c GROUP BY 1 ORDER BY 1""",

    // exact state-machine replay: prev is always the current event's
    // time; a split rolls the closed session into `longest`
    "q410_session_capped" ->
      """WITH RECURSIVE ev AS (
           SELECT user_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             CAST(floor(extract(epoch FROM ts)) AS BIGINT) AS s
           FROM events WHERE ts IS NOT NULL),
         mx AS (SELECT user_id, max(rn) AS mr FROM ev GROUP BY 1),
         r AS (
           SELECT user_id, rn, s AS start, s AS prev,
                  CAST(1 AS BIGINT) AS n, CAST(0 AS BIGINT) AS longest
           FROM ev WHERE rn = 1
           UNION ALL
           SELECT e.user_id, e.rn,
             CASE WHEN e.s - r.prev > 1800 OR e.s - r.start > 7200
                  THEN e.s ELSE r.start END,
             e.s,
             r.n + CASE WHEN e.s - r.prev > 1800 OR e.s - r.start > 7200
                        THEN 1 ELSE 0 END,
             CASE WHEN e.s - r.prev > 1800 OR e.s - r.start > 7200
                  THEN greatest(r.longest, r.prev - r.start)
                  ELSE r.longest END
           FROM r JOIN ev e ON e.user_id = r.user_id
                           AND e.rn = r.rn + 1)
         SELECT r.user_id, CAST(mx.mr AS BIGINT) AS n_events,
                r.n AS n_sessions,
                greatest(r.longest, r.prev - r.start) AS longest_sec
         FROM r JOIN mx ON mx.user_id = r.user_id AND r.rn = mx.mr
         ORDER BY r.user_id""",

    // q73's double-round MINSTD replay + per-group rank
    "q409_sample_exact_k" ->
      """WITH h AS (SELECT doc_id, source,
           (((((((doc_id + 1) % 2147483647) + 2147483647) % 2147483647)
              * 48271) % 2147483647) * 48271) % 2147483647 AS hv
         FROM documents),
         r AS (SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
                                ORDER BY hv, doc_id) AS rk
           FROM h)
         SELECT doc_id, source FROM r WHERE rk <= 10
         ORDER BY source, doc_id""",

    // first-match CASE chain; a rule whose predicate is NULL counts
    // as violated (the engine's coalesce(bad, true) contract)
    "q408_quarantine" ->
      """WITH t AS (SELECT *,
             CASE WHEN l_quantity > 45 OR l_quantity IS NULL
                    THEN 'high_qty'
                  WHEN l_extendedprice < 1500 OR l_extendedprice IS NULL
                    THEN 'low_price'
                  WHEN l_tax > l_discount * 2
                       OR l_tax IS NULL OR l_discount IS NULL
                    THEN 'tax_gt_2disc'
                  ELSE 'clean' END AS rule
           FROM lineitem)
         SELECT rule, count(*) AS n,
           CAST(SUM(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_cents
         FROM t GROUP BY 1 ORDER BY 1""",

    "q407_sql_surface" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
           CAST(SUM(top_cents) AS BIGINT) AS sum_top_cents
         FROM (
           SELECT o.o_orderkey, o.o_orderpriority,
             max(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
               AS top_cents
           FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
           GROUP BY o.o_orderkey, o.o_orderpriority) t
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    // per-frame replay of the same pixel arithmetic with the video
    // synth's fid = id*31 + f*7 and per-id dims
    "q406_video_phash" ->
      """WITH s AS (SELECT doc_id, CAST(2 + doc_id % 4 AS INTEGER) AS n,
               6 + doc_id % 5 AS w, 4 + doc_id % 5 AS h FROM documents),
         fr AS (SELECT doc_id, n, w, h, unnest(range(n)) AS f FROM s),
         l AS (SELECT doc_id, n, CAST(f AS INTEGER) AS f,
           [ ( ((doc_id*31 + f*7)*3 + ((i % 8) * w // 8)*7
                                    + ((i // 8) * h // 8)*11) % 256
             + ((doc_id*31 + f*7)*5 + ((i % 8) * w // 8)*13
                                    + ((i // 8) * h // 8)*3) % 256
             + ((doc_id*31 + f*7)*7 + ((i % 8) * w // 8)
                                    + ((i // 8) * h // 8)*17) % 256 ) // 3
             FOR i IN range(64) ] AS ls
           FROM fr),
         m AS (SELECT doc_id, n, f, ls, list_sum(ls) // 64 AS mean FROM l)
         SELECT doc_id, n AS n_frames, f AS frame_idx,
           CAST(list_sum([CASE WHEN ls[i+33] > mean
                          THEN (1::BIGINT << i) ELSE 0 END
                          FOR i IN range(32)]) AS BIGINT) AS hash_hi,
           CAST(list_sum([CASE WHEN ls[i+1] > mean
                          THEN (1::BIGINT << i) ELSE 0 END
                          FOR i IN range(32)]) AS BIGINT) AS hash_lo
         FROM m ORDER BY doc_id, frame_idx""",

    // same hash replay, then min-propagation components and the
    // keep-representative filter — q57's recursive-CTE oracle, for
    // image clusters
    "q405_phash_dedup" -> phashCteSql(
      """, p AS (SELECT a.doc_id AS id1, b.doc_id AS id2
             FROM h a JOIN h b ON a.doc_id < b.doc_id
             WHERE bit_count(xor(a.hi, b.hi))
                   + bit_count(xor(a.lo, b.lo)) <= 6),
         e AS (SELECT id1 AS a, id2 AS b FROM p
               UNION SELECT id2, id1 FROM p),
         reach(a, b) AS (
           SELECT DISTINCT a, a FROM e
           UNION
           SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
         comp AS (SELECT a AS id, min(b) AS comp FROM reach GROUP BY 1)
         SELECT doc_id FROM h
         WHERE doc_id NOT IN (SELECT id FROM comp WHERE id != comp)
         ORDER BY 1""",
      subset = " WHERE doc_id < 2000")
  )

  /** Shared oracle text: the aHash pixel-arithmetic replay CTE chain
    * (through `h`: doc_id, hi, lo), parameterized by the final SELECT
    * and an optional corpus subset. `finalSelect` may START with ","
    * to extend the WITH list (q405 appends the recursive component
    * CTEs — hence the RECURSIVE keyword, harmless when unused). */
  private def phashCteSql(finalSelect: String, subset: String): String =
    s"""WITH RECURSIVE s AS (SELECT doc_id, 8 + doc_id % 9 AS w,
                     5 + doc_id % 7 AS h FROM documents$subset),
        l AS (SELECT doc_id,
          [ ( (doc_id*3 + ((i % 8) * w // 8)*7
                        + ((i // 8) * h // 8)*11) % 256
            + (doc_id*5 + ((i % 8) * w // 8)*13
                        + ((i // 8) * h // 8)*3) % 256
            + (doc_id*7 + ((i % 8) * w // 8)
                        + ((i // 8) * h // 8)*17) % 256 ) // 3
            FOR i IN range(64) ] AS ls
          FROM s),
        m AS (SELECT doc_id, ls, list_sum(ls) // 64 AS mean FROM l),
        h AS (SELECT doc_id,
          CAST(list_sum([CASE WHEN ls[i+33] > mean
                         THEN (1::BIGINT << i) ELSE 0 END
                         FOR i IN range(32)]) AS BIGINT) AS hi,
          CAST(list_sum([CASE WHEN ls[i+1] > mean
                         THEN (1::BIGINT << i) ELSE 0 END
                         FOR i IN range(32)]) AS BIGINT) AS lo
        FROM m)
        $finalSelect"""
}
