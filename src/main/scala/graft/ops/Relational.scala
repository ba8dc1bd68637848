package graft.ops

import graft.Checkpoints.CheckpointOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Relational extension surface (SURVEY.md §7.6) plus the scale path for
  * the reference's implicit self θ-join (O14, faconne `README.md:344-357`).
  *
  * The reference crosses a collection with itself by nesting loops over
  * one in-memory map. At 100 TB the Spark-first form is a real join:
  * crossJoin + filter, from which Catalyst's ExtractEquiJoinKeys pulls
  * equality conjuncts and plans a shuffled hash / sort-merge join — the
  * nested loop only remains for genuinely non-equi predicates (and then
  * as BroadcastNestedLoopJoin when one side is small).
  */
object Relational {

  /** All ordered pairs of rows of `df`, columns prefixed to keep both
    * sides addressable. Filter afterwards with θ-predicates; equality
    * conjuncts are extracted into join keys by Catalyst. */
  def selfPairs(df: DataFrame, left: String = "a_", right: String = "b_")
      : DataFrame = {
    val a = df.columns.foldLeft(df)((d, c) => d.withColumnRenamed(c, left + c))
    val b = df.columns.foldLeft(df)((d, c) => d.withColumnRenamed(c, right + c))
    a.crossJoin(b)
  }

  /** Broadcast-dimension equi-join: the 100 TB default for star-schema
    * fact→dim joins (dim fits in executor memory; no shuffle of the
    * fact side). */
  def joinDim(fact: DataFrame, dim: DataFrame, cond: Column,
              joinType: String = "inner"): DataFrame =
    fact.join(broadcast(dim), cond, joinType)

  /** Top-k rows per group without a global sort: rank inside each
    * partition-by group and keep k (window, single shuffle on the
    * group keys). Ties broken by `order` columns being total.
    * `keepRankAs` exposes the rank column instead of dropping it —
    * callers needing ranked output use this rather than re-running an
    * identical window afterwards. */
  def topKPerGroup(df: DataFrame, groupBy: Seq[Column], order: Seq[Column],
                   k: Int, keepRankAs: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    keepRankAs.foreach(n => require(!df.columns.contains(n),
      s"topKPerGroup: rank column '$n' already exists on the input — " +
      "renaming __rn to it would produce two identically-named columns " +
      "and ambiguous downstream references"))
    require(!df.columns.contains("__rn"),
      "topKPerGroup: input already has a __rn column — it would be " +
      "silently overwritten by the ranking; rename it first")
    val w = Window.partitionBy(groupBy: _*).orderBy(order: _*)
    val ranked = df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
    keepRankAs match {
      case Some(n) => ranked.withColumnRenamed("__rn", n)
      case None => ranked.drop("__rn")
    }
  }

  /** Sorted-neighborhood duplicate candidates (Hernández & Stolfo):
    * rows sort by the blocking key and only rank-neighbors within
    * `window` positions compare — the OTHER classic entity-resolution
    * blocking next to [[fuzzyMatchPairs]]-style length blocking:
    * length blocking catches same-length typos, sorted-neighborhood
    * catches prefix-sharing variants regardless of length drift.
    * Survivors verify with an in-join levenshtein <= `maxDist`.
    *
    * Scale shape: the global rank is the range-partitioned prefix sum
    * (never a single-partition window); candidate pairs meet through
    * an EQUI-join on the rank BUCKET (bucket = rank div window; a
    * window-mate is always in the same or adjacent bucket, so each
    * row joins 2 bucket keys and the exact rank-distance filter runs
    * inside the join) — pair cost is rows × window, never rows².
    * Output: (id1, id2, k1, k2, dist) with rank(id1) < rank(id2). */
  def sortedNeighborhoodPairs(df: DataFrame, id: Column, key: Column,
                              window: Int = 5, maxDist: Int = 3,
                              partitions: Int = 32): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    val base = df.select(id.as("id"), key.cast("string").as("k"))
      .filter(col("k").isNotNull)
    val ranked = Packing.orderedCumsum(base,
      struct(col("k").as("k"), col("id").as("id")), lit(1L),
      partitions, offsetName = "rnk")
    val left = ranked.select(col("id").as("id1"), col("k").as("k1"),
        col("rnk").as("r1"),
        explode(array(expr(s"rnk div $window"),
          expr(s"rnk div $window + 1"))).as("bkt"))
    val right = ranked.select(col("id").as("id2"), col("k").as("k2"),
      col("rnk").as("r2"), expr(s"rnk div $window").as("bkt"))
    left.join(right, Seq("bkt"))
      .filter(col("r2") > col("r1") && col("r2") - col("r1") <= window)
      .withColumn("dist", levenshtein(col("k1"), col("k2")))
      .filter(col("dist") <= maxDist)
      // each qualifying pair meets in exactly ONE bucket (the right
      // row's bucket is one of the left row's two emissions), so no
      // dedup pass is needed
      .select(col("id1"), col("id2"), col("k1"), col("k2"), col("dist"))
  }

  /** 2-D skyline (Pareto frontier, maxima variant): rows not
    * DOMINATED on (x, y) — p dominates q when p.x >= q.x, p.y >= q.y,
    * and p beats q strictly on at least one axis. Multi-objective
    * curation ("highest quality AND most novel"), price/performance
    * frontiers. Rows tying on BOTH axes dominate neither and all
    * survive; null coordinates drop (no position, no frontier seat).
    *
    * Scale shape: dominance collapses to two checks — a strictly
    * greater x with y' >= y (a PREFIX MAX over the per-x maxima in x-
    * descending order) or an equal x with y' > y (the per-x max
    * itself) — so the corpus reduces to the per-x maxima frame (one
    * shuffle; bounded by x's QUANTIZED cardinality, e.g. 1e4+1 rows
    * for an x1e4 score, never corpus size), the prefix-max window
    * runs over THAT frame only, and one broadcast-sized join back
    * flags each row. Output: the surviving (id, x, y) rows. */
  def skyline2d(df: DataFrame, id: Column, x: Column, y: Column)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(id.as("id"), x.cast("long").as("x"),
        y.cast("long").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
    val perX = base.groupBy("x").agg(max(col("y")).as("my"))
    // DISTRIBUTED prefix max over the per-x maxima in x-descending
    // order — the orderedCumsums two-pass shape (range partition +
    // per-partition running max + a broadcast prefix of partition
    // maxima) instead of one unpartitioned window task, so a 100 TB
    // x-cardinality (quantized scores can still be millions of
    // distinct values) never funnels through a single task.
    val p = perX.repartitionByRange(32, col("x").desc)
      .sortWithinPartitions(col("x").desc)
      .withColumn("__pid", spark_partition_id())
    val wBase = Window.orderBy("__pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = p.groupBy("__pid").agg(max(col("my")).as("__t"))
      .select(col("__pid"), max(col("__t")).over(wBase).as("__b"))
    val wIn = Window.partitionBy("__pid").orderBy(col("x").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val pm = p.join(broadcast(bases), Seq("__pid"))
      // greatest() is null-skipping: the global first row (no earlier
      // partition, no earlier row) keeps a NULL pmax, exactly like
      // the single-window version the filter below is null-safe for
      .withColumn("pmax", greatest(max(col("my")).over(wIn),
        col("__b")))
      .drop("__pid", "__b")
    base.join(broadcast(pm), Seq("x"))
      .filter(!(coalesce(col("pmax") >= col("y"), lit(false)) ||
                col("my") > col("y")))
      .select(col("id"), col("x"), col("y"))
  }

  /** Pareto/ABC analysis: entities ranked by value descending,
    * classified by where their INCLUSIVE cumulative share crosses the
    * cut points ("A" holds the first `cuts(0)` permille of total
    * value, ...) — the 80/20 triage behind storage tiering, crawl
    * budgets, and cache sizing. Cuts compare as exact integer cross
    * products (cum·1000 <= cut·total — no float shares), ties by
    * entity id, so the classing is deterministic.
    *
    * Scale shape: per-entity reduce, then ONE range-partitioned
    * prefix sum over the entity frame accumulating VALUE (not row
    * counts — [[graft.ops.Packing.orderedCumsum]] sums the passed
    * column), a broadcast total, and a class-count census. Output:
    * (cls, n_entities, value_total, share_permille) ordered A->. */
  def paretoClasses(df: DataFrame, entity: Column, value: Column,
                    cutsPermille: Seq[Int] = Seq(800, 950),
                    partitions: Int = 32): DataFrame = {
    require(cutsPermille.nonEmpty &&
      cutsPermille == cutsPermille.sorted &&
      cutsPermille.forall(c => c > 0 && c < 1000),
      s"cuts must be ascending permille in (0, 1000), got $cutsPermille")
    // null entities/values drop: a null key can't be classed and a
    // null value would null the group's total
    val base = df.select(entity.as("e"), value.cast("long").as("v"))
      .filter(col("e").isNotNull && col("v").isNotNull)
      .groupBy("e").agg(sum(col("v")).as("v"))
    val ranked = Packing.orderedCumsum(base,
      struct((-col("v")).as("vneg"), col("e").as("e")), col("v"),
      partitions, offsetName = "cumx")
    val tot = base.agg(sum(col("v")).as("vt"))
    val labels = cutsPermille.zipWithIndex.map { case (c, i) =>
      (c, ('A' + i).toChar.toString) }
    val tailName = ('A' + cutsPermille.size).toChar.toString
    val cls = labels.foldLeft(
        when(lit(false), "")) { case (acc, (cut, name)) =>
        acc.when((col("cumx") + col("v")) * 1000 <= lit(cut.toLong) *
          col("vt"), name)
      }.otherwise(tailName)
    ranked.crossJoin(broadcast(tot))
      .select(cls.as("cls"), col("v"))
      .groupBy("cls")
      .agg(count(lit(1)).as("n_entities"), sum(col("v")).as("value_total"))
      .crossJoin(broadcast(tot))
      .withColumn("share_permille",
        expr("(1000 * value_total) div vt"))
      .drop("vt")
  }

  /** RFM segmentation: customers bucketed into `buckets` rank-exact
    * tiers on each of Recency (latest order day), Frequency (order
    * count), and Monetary (exact cents) — the standard
    * customer-base / data-source triage grid (here: which ENTITIES
    * deserve crawl/refresh budget). Tier cut = the
    * [[graft.ops.Checks.liftTable]] integer formula on per-dimension
    * ranks, ties by entity id, so the grid is deterministic.
    *
    * Scale shape: orders reduce to the per-entity (r, f, m) frame
    * first (one shuffle, map-side partials); each dimension ranks via
    * the range-partitioned prefix sum ([[graft.ops.Packing
    * .orderedCumsum]] — entity-frame sized, never a single-partition
    * window); the output is the `buckets`³-row segment census.
    * Output: (r_bucket, f_bucket, m_bucket, n_entities), tiers
    * ascending (bucket `buckets` = most recent / most frequent /
    * highest spend). */
  def rfmSegments(df: DataFrame, entity: Column, dateDay: Column,
                  amount: Column, buckets: Int = 3,
                  partitions: Int = 32): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val base = df.select(entity.as("e"), dateDay.cast("long").as("d"),
        amount.cast("long").as("a"))
      .groupBy("e")
      .agg(max(col("d")).as("r"), count(lit(1)).as("f"),
           sum(col("a")).as("m"))
    val tot = base.agg(count(lit(1)).as("n_total"))
    def tier(in: DataFrame, metric: String, as: String): DataFrame =
      Packing.orderedCumsum(in,
          struct(col(metric).as("v"), col("e").as("e")), lit(1L),
          partitions, offsetName = "__rk")
        .crossJoin(broadcast(tot))
        .withColumn(as,
          expr(s"(__rk * $buckets) div n_total + 1").cast("int"))
        .drop("__rk", "n_total")
    val tiered = tier(tier(tier(base, "r", "r_bucket"),
      "f", "f_bucket"), "m", "m_bucket")
    tiered.groupBy("r_bucket", "f_bucket", "m_bucket")
      .agg(count(lit(1)).as("n_entities"))
  }

  /** Top-k per group WITH TIES (SQL `FETCH FIRST k ROWS WITH TIES`):
    * every row whose `rank()` — equal order values share a rank — is
    * <= k survives, so the k-th place's ties all come back instead of
    * an arbitrary tiebreak picking one. Use when the order value is
    * coarse (scores, dates) and dropping a tied row would be
    * arbitrary; [[topKPerGroup]] is the exact-k row_number form.
    * Same single-shuffle window shape and the same hot-group caveat. */
  def topKPerGroupWithTies(df: DataFrame, groupBy: Seq[Column],
                           order: Seq[Column], k: Int,
                           rankAs: String = "rnk"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(!df.columns.contains(rankAs),
      s"topKPerGroupWithTies: rank column '$rankAs' already exists")
    val w = Window.partitionBy(groupBy: _*).orderBy(order: _*)
    df.withColumn(rankAs, rank().over(w)).filter(col(rankAs) <= k)
  }

  /** Explicitly salted equi-join for pathological key skew: the left
    * (large, skewed) side salts each row deterministically into one of
    * `salt` sub-keys; the right side replicates each row across all
    * sub-keys; the join runs on (key, salt), spreading one hot key over
    * `salt` tasks. Results equal the plain join exactly.
    *
    * When to reach for this: AQE's skew-join split already handles hot
    * PARTITIONS for sort-merge joins at runtime — prefer it. Explicit
    * salting remains for shuffled-hash paths AQE won't split, for
    * pinning a deterministic layout (e.g. a groupBy on the salted key
    * downstream reuses the exchange), and for engines/jobs running
    * with AQE off. Cost: the right side shuffles `salt` x its size —
    * only worth it when the right side is far smaller than the hot
    * key's row count (else broadcast it and skew vanishes anyway).
    * Restricted to inner/left joins: right/full outer would emit one
    * unmatched row PER REPLICA. */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
                 salt: Int, joinType: String = "inner"): DataFrame = {
    require(salt >= 2, s"salting with $salt buckets is a no-op")
    require(Seq("inner", "left", "left_outer").contains(joinType),
      s"saltedJoin supports inner/left joins, got $joinType " +
      "(outer-right semantics would duplicate unmatched replicas)")
    val reserved = Seq("__salt", "__rep")
    val clash = (left.columns ++ right.columns).intersect(reserved)
    require(clash.isEmpty,
      s"saltedJoin: reserved working column(s) ${clash.mkString(", ")} " +
      "already present — rename them first")
    // per-row salt: whole-row hash PLUS a per-row ordinal — skew in
    // pre-dedup corpora is often exact duplicate rows, and a pure
    // content hash would put the whole hot clump in ONE salt bucket
    // (the original straggler, after paying the replication). The
    // ordinal makes duplicates fan out; join RESULTS never depend on
    // which bucket a row lands in (right replicas cover every bucket),
    // so the physical nondeterminism of the ordinal is harmless.
    val l = left.withColumn("__salt",
      pmod(hash(left.columns.map(col) :+
        monotonically_increasing_id(): _*), lit(salt)))
    val r = right.withColumn("__rep",
      explode(sequence(lit(0), lit(salt - 1))))
    l.join(r, l(key) === r(key) && col("__salt") === col("__rep"),
        joinType)
      .drop("__salt", "__rep").drop(r(key))
  }

  /** Top-k per group for the (score desc, id asc) ordering, via the
    * mergeable [[graft.functions.Reducers.TopKByScore]] aggregator:
    * map-side partial top-k means only k rows per (map task, group)
    * cross the shuffle, where [[topKPerGroup]]'s window must shuffle
    * every scored row before ranking. Use on the ANN hot paths (a
    * scored |corpus| x |queries| stream collapsing to a few query
    * groups); the window form remains the general tool for arbitrary
    * ordering columns. Output: (group, id, score, rank) with rank
    * 1-based in (score desc, id asc) order — identical rows to the
    * window formulation.
    *
    * `score`/`id` must be non-null: the aggregator's primitive-typed
    * input surfaces SQL nulls as 0.0/0L (a null score would silently
    * rank as zero instead of sorting last like a window's NULLS LAST).
    * Every ANN caller guards this (cosines coalesce to 0.0 explicitly,
    * ids are key columns); filter nulls first for other inputs. */
  def topKScored(df: DataFrame, group: Column, score: Column, id: Column,
                 k: Int, idName: String = "id",
                 scoreName: String = "score",
                 rankName: String = "rank"): DataFrame = {
    val f = udaf(graft.functions.Reducers.TopKByScore(k))
    df.groupBy(group)
      .agg(f(score, id).as("__top"))
      .select(col("*"), posexplode(col("__top")).as(Seq("__pos", "__e")))
      .select(df.select(group).columns.map(col).toSeq :+
        col("__e._2").as(idName) :+
        col("__e._1").as(scoreName) :+
        (col("__pos") + 1).cast("int").as(rankName): _*)
  }

  /** Keep the top `fraction` of rows per group by `score` (desc, id
    * tie-break) — the quality-quantile curation op ("keep the best X%
    * of each source by classifier score"). Keeps floor(fraction * n)
    * rows per group, so a group smaller than 1/fraction contributes
    * nothing — rank-based, not threshold-based, which makes the cut
    * deterministic and engine-portable (quantile interpolation is not).
    *
    * Scale shape: the within-group rank is the [[Packing.orderedCumsum]]
    * range-partitioned prefix sum over the total order
    * (group, -score, id), re-based per group — NOT a
    * `Window.partitionBy(group)`, which with a handful of sources would
    * serialize the corpus through a handful of tasks. Group sizes are a
    * group-count-sized aggregate, broadcast back. `id` must be unique
    * (it makes the order total; ranking would otherwise be
    * partition-dependent on score ties). Output = input columns. */
  def topFractionPerGroup(df: DataFrame, group: Column, score: Column,
                          id: Column, fraction: Double,
                          partitions: Int = 32): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0,
      s"fraction must be in [0,1], got $fraction")
    val reserved = Seq("__g", "__nn", "__ns", "__i", "__pos", "__g0", "__n")
    val clash = df.columns.intersect(reserved)
    require(clash.isEmpty,
      s"topFractionPerGroup: column(s) ${clash.mkString(", ")} reserved")
    // __nn ranks null scores LAST (false < true) — the window reference
    // form (score desc = NULLS LAST) must agree, and -null is null,
    // which ascending order would otherwise put FIRST (always kept)
    val keyed = df.withColumn("__g", group)
      .withColumn("__nn", score.isNull)
      .withColumn("__ns", -score).withColumn("__i", id)
    val pos = Packing.orderedCumsum(keyed,
      struct(col("__g"), col("__nn"), col("__ns"), col("__i")), lit(1L),
      partitions, offsetName = "__pos")
    val starts = pos.groupBy(col("__g").as("__g2"))
      .agg(min(col("__pos")).as("__g0"), count(lit(1)).as("__n"))
    // null-SAFE group match: groupBy keeps a null group, a plain
    // equi-join would silently drop its rows
    pos.join(broadcast(starts), col("__g") <=> col("__g2"))
      .filter(col("__pos") - col("__g0") <
        floor(col("__n") * fraction).cast("long"))
      .select(df.columns.map(col).toIndexedSeq: _*)
  }

  /** Backward (most-recent-at-or-before) as-of join: for each left row,
    * attach payload columns from the right row with the same `key` and
    * the greatest `rightTime` <= `leftTime` (null when none exists).
    *
    * Scale shape: the union-and-carry-forward lowering — tag both sides,
    * union, one window per key ordered by (time, side) with
    * last(_, ignoreNulls) carrying the most recent right payload into
    * each left row. ONE shuffle on the key, no per-pair range explosion
    * (a naive `l.join(r, key && rt <= lt)` + max is O(|l|*|r|) per key);
    * skewed keys follow the usual window-skew remedies (pre-bucket by
    * coarse time if one key dominates).
    *
    * `payload` maps right-side column name → output column name; output
    * names must not collide with left columns. Right rows sort before
    * left rows at equal time, so an exactly-simultaneous right row IS
    * matched (ASOF >= semantics, same as DuckDB's ASOF JOIN). */
  def asofJoinBackward(left: DataFrame, right: DataFrame,
                       key: String, leftTime: String, rightTime: String,
                       payload: Map[String, String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val reserved = Seq("__t", "__side", "__payload", "__matched")
    val clash = left.columns.intersect(reserved)
    require(clash.isEmpty,
      s"asofJoinBackward: left frame already has reserved working " +
      s"column(s) ${clash.mkString(", ")} — rename them before joining")
    val outClash = payload.values.toSeq.intersect(left.columns)
    require(outClash.isEmpty,
      s"asofJoinBackward: payload output name(s) " +
      s"${outClash.mkString(", ")} already exist on the left frame — " +
      "the withColumn would silently REPLACE the left column")
    require(payload.values.toSeq.distinct.size == payload.size,
      "asofJoinBackward: duplicate payload output names")
    // The payload travels as ONE struct per right row: carrying columns
    // individually with last(..., ignoreNulls) would skip a matched
    // row's legitimate null and stitch values from DIFFERENT right rows.
    // The struct itself is non-null exactly when the row is a right row,
    // so ignoreNulls selects the matched row atomically.
    val r = right
      // a null right time can never satisfy rightTime <= leftTime, and a
      // null KEY never equi-matches (SQL/ASOF semantics) — but NULLS
      // FIRST ordering / null-partition grouping would otherwise make
      // both carry-forwardable. Null-key LEFT rows stay and get a null
      // payload (their window partition has no right rows).
      .filter(col(rightTime).isNotNull && col(key).isNotNull)
      .select(
        col(key), col(rightTime).as("__t"), lit(0).as("__side"),
        struct(payload.toSeq.map { case (from, to) => col(from).as(to) }: _*)
          .as("__payload"))
    val l = left
      .withColumn("__t", col(leftTime))
      .withColumn("__side", lit(1))
    val unioned = l.unionByName(r, allowMissingColumns = true)
    val w = Window.partitionBy(key).orderBy(col("__t"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = unioned.withColumn("__matched",
      last(col("__payload"), ignoreNulls = true).over(w))
    payload.values.foldLeft(carried.filter(col("__side") === 1)) { (d, out) =>
        d.withColumn(out, col("__matched").getField(out))
      }
      .drop("__t", "__side", "__payload", "__matched")
  }

  /** Point-in-time (SCD2) dimension lookup — the feature-store /
    * Type-2 warehouse primitive: attach to each fact row the dimension
    * VERSION valid at the fact's time (eff_from <= t < eff_to; an open
    * current version has null eff_to). Lowered as [[asofJoinBackward]]
    * on eff_from — ONE key shuffle, no interval explode (the naive
    * `BETWEEN` join range-explodes per key) — with the eff_to bound
    * enforced as a post-gate: in a tiled SCD2 history the as-of
    * predecessor is the unique candidate, and in a GAPPED history the
    * gate nulls the payload out rather than resurrecting an expired
    * version (q401's staleness discipline with the bound carried
    * per-version instead of a global constant).
    *
    * `payload` maps dim column → output name (the gate applies to all
    * of them together — a version matches wholly or not at all). */
  def pointInTimeJoin(facts: DataFrame, dim: DataFrame, key: String,
                      factTime: String, effFrom: String, effTo: String,
                      payload: Map[String, String]): DataFrame = {
    require(payload.nonEmpty, "pointInTimeJoin: empty payload")
    // the gate rides eff_to under a reserved name; a payload entry for
    // the same dim column would be silently overwritten by the ++
    // below and the caller's output column would never materialize
    require(!payload.contains(effTo),
      s"pointInTimeJoin: payload must not map the eff_to column " +
      s"'$effTo' — select the version window columns from the result " +
      s"of scd2Intervals instead")
    val joined = asofJoinBackward(facts, dim, key, factTime, effFrom,
      payload ++ Map(effTo -> "__pit_to"))
    val valid = col("__pit_to").isNull ||
      col(factTime) < col("__pit_to")
    payload.values.foldLeft(joined) { (d, out) =>
        d.withColumn(out, when(valid, col(out)))
      }
      .drop("__pit_to")
  }

  /** [[asofJoinBackward]] with a STALENESS BOUND: a matched payload
    * older than `maxStalenessSec` at the left row's time is treated as
    * no-match (null payload) — quotes expire, sensor readings go
    * stale, sessions time out. Same union-and-carry single-shuffle
    * plan; the bound is a pure post-predicate on the carried right
    * time, so the join's cost and shape are identical to the
    * unbounded form. The nearest-predecessor choice happens FIRST and
    * the gate second (an older within-bound row never substitutes for
    * a stale nearest one) — the semantics DuckDB's ASOF JOIN + CASE
    * replays. */
  def asofJoinBackwardWithin(left: DataFrame, right: DataFrame,
                             key: String, leftTime: String,
                             rightTime: String,
                             payload: Map[String, String],
                             maxStalenessSec: Long): DataFrame = {
    require(maxStalenessSec >= 0,
      s"maxStalenessSec must be >= 0, got $maxStalenessSec")
    val rtClash = Seq("__asof_rt_src", "__asof_rt")
      .intersect(left.columns ++ right.columns ++ payload.values.toSeq)
    require(rtClash.isEmpty,
      s"asofJoinBackwardWithin: reserved ${rtClash.mkString(", ")} in use")
    val joined = asofJoinBackward(left,
      right.withColumn("__asof_rt_src", col(rightTime)),
      key, leftTime, rightTime,
      payload + ("__asof_rt_src" -> "__asof_rt"))
    val stale = col("__asof_rt").isNull ||
      unix_timestamp(col(leftTime)) - unix_timestamp(col("__asof_rt")) >
        maxStalenessSec
    payload.values.foldLeft(joined) { (d, out) =>
        d.withColumn(out, when(stale, lit(null)).otherwise(col(out)))
      }
      .drop("__asof_rt")
  }

  /** CDC upsert-apply: merge a change batch into a base snapshot —
    * matched keys take the CHANGE row wholesale, unmatched change keys
    * insert, tombstones (change rows where `deleted` is true) remove
    * the key. This is the MERGE INTO kernel every incremental corpus
    * maintains its standing tables with, as one full-outer join on the
    * key (one shuffle; AQE broadcasts a small change batch). Both
    * frames must share the schema (minus the left-out `deleted`
    * marker); the key must be unique per side — enforce upstream, a
    * duplicate key would fan the join. Returns the new snapshot with
    * the base's column set. */
  def applyUpsert(base: DataFrame, changes: DataFrame, key: String,
                  deleted: Column = lit(false)): DataFrame = {
    val cols = base.columns.toSeq
    require(cols.contains(key), s"applyUpsert: base lacks key '$key'")
    val missing = cols.filterNot(changes.columns.contains)
    require(missing.isEmpty,
      s"applyUpsert: changes lack base column(s) ${missing.mkString(", ")}")
    // rename BOTH sides into disjoint namespaces before joining: the
    // change batch routinely derives from the base (same lineage), and
    // dataset-qualified references would trip the ambiguous-self-join
    // check
    val b = cols.foldLeft(base) { (d, c) =>
      d.withColumnRenamed(c, s"__b_$c") }
    val c = cols.foldLeft(changes.withColumn("__del", deleted)) {
      (d, cn) => d.withColumnRenamed(cn, s"__c_$cn") }
    val inChange = col(s"__c_$key").isNotNull
    b.join(c, col(s"__b_$key") <=> col(s"__c_$key"), "full_outer")
      .filter(!(inChange && col("__del"))) // tombstone removes the key
      .select(cols.map { cn =>
        when(inChange, col(s"__c_$cn")).otherwise(col(s"__b_$cn")).as(cn)
      }: _*)
  }

  /** Forward (earliest-at-or-after) as-of join: for each left row,
    * attach payload columns from the right row with the same `key` and
    * the SMALLEST `rightTime` >= `leftTime` (null when none follows) —
    * the response-time twin of [[asofJoinBackward]] (next click after
    * a purchase, next heartbeat after a deploy). Same
    * union-and-carry lowering, mirrored: one window per key, frame
    * current-row → unbounded FOLLOWING, `first(_, ignoreNulls)`
    * pulling the nearest later right payload into each left row; left
    * rows sort before right rows at equal time so an exactly-
    * simultaneous right row IS matched (>= semantics, DuckDB ASOF
    * `left.t <= right.t`). ONE shuffle on the key, no range explosion. */
  def asofJoinForward(left: DataFrame, right: DataFrame,
                      key: String, leftTime: String, rightTime: String,
                      payload: Map[String, String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val reserved = Seq("__t", "__side", "__payload", "__matched")
    val clash = left.columns.intersect(reserved)
    require(clash.isEmpty,
      s"asofJoinForward: left frame already has reserved working " +
      s"column(s) ${clash.mkString(", ")} — rename them before joining")
    val outClash = payload.values.toSeq.intersect(left.columns)
    require(outClash.isEmpty,
      s"asofJoinForward: payload output name(s) " +
      s"${outClash.mkString(", ")} already exist on the left frame — " +
      "the withColumn would silently REPLACE the left column")
    require(payload.values.toSeq.distinct.size == payload.size,
      "asofJoinForward: duplicate payload output names")
    val r = right
      .filter(col(rightTime).isNotNull && col(key).isNotNull)
      .select(
        col(key), col(rightTime).as("__t"), lit(1).as("__side"),
        struct(payload.toSeq.map { case (from, to) => col(from).as(to) }: _*)
          .as("__payload"))
    val l = left
      .withColumn("__t", col(leftTime))
      .withColumn("__side", lit(0))
    val unioned = l.unionByName(r, allowMissingColumns = true)
    val w = Window.partitionBy(key).orderBy(col("__t"), col("__side"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val carried = unioned.withColumn("__matched",
      first(col("__payload"), ignoreNulls = true).over(w))
    payload.values.foldLeft(carried.filter(col("__side") === 0)) { (d, out) =>
        d.withColumn(out, col("__matched").getField(out))
      }
      .drop("__t", "__side", "__payload", "__matched")
  }

  /** Skew-resistant [[asofJoinBackward]]: identical semantics, but the
    * carry-forward window partitions on (key, coarse time bucket) instead
    * of the key alone, so ONE power-law key spreads over its buckets
    * instead of serializing into a single straggler task.
    *
    * Shape: (1) per (key, bucket) the latest right payload is reduced to
    * a bucket summary (one shuffle with map-side max_by); (2) a per-key
    * window over the SUMMARIES (rows ~ active buckets, bounded by the
    * time range / bucket size — never by event count) computes each left
    * bucket's carry-in = the latest payload of any strictly-earlier
    * bucket; (3) the carry-in is injected as a synthetic head row into
    * each (key, bucket) partition, and the original union-and-carry-
    * forward window runs per (key, bucket). Right rows sort before left
    * rows at equal time (>= match), the carry-in before everything.
    *
    * `bucketOf` maps a time value to its coarse bucket (e.g.
    * `t => floor(unix_micros(t) / hourMicros)`) and MUST be monotone in
    * the time ordering; generic over the time type like the base op.
    * Tie caveat (same as the base op): when several right rows share one
    * (key, time), which payload wins is engine-arbitrary in both forms —
    * keep (key, rightTime) unique if the match must be well-defined. */
  def asofJoinBackwardBucketed(left: DataFrame, right: DataFrame,
                               key: String, leftTime: String,
                               rightTime: String,
                               payload: Map[String, String],
                               bucketOf: Column => Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val reserved = Seq("__t", "__s2", "__payload", "__matched", "__b")
    val clash = left.columns.intersect(reserved)
    require(clash.isEmpty,
      s"asofJoinBackwardBucketed: left frame already has reserved working " +
      s"column(s) ${clash.mkString(", ")} — rename them before joining")
    val outClash = payload.values.toSeq.intersect(left.columns)
    require(outClash.isEmpty,
      s"asofJoinBackwardBucketed: payload output name(s) " +
      s"${outClash.mkString(", ")} already exist on the left frame — " +
      "the withColumn would silently REPLACE the left column")
    require(payload.values.toSeq.distinct.size == payload.size,
      "asofJoinBackwardBucketed: duplicate payload output names")

    // right side: null times never match, null keys never equi-match
    // (same rule as the base op)
    val r0 = right
      .filter(col(rightTime).isNotNull && col(key).isNotNull)
      .select(
        col(key), col(rightTime).as("__t"),
        struct(payload.toSeq.map { case (from, to) => col(from).as(to) }: _*)
          .as("__payload"))
      .withColumn("__b", bucketOf(col("__t")))

    // (1) bucket summaries: latest payload per (key, bucket)
    val perBucket = r0.groupBy(col(key), col("__b"))
      .agg(max_by(col("__payload"), col("__t")).as("__pl"))

    // (2) carry-in per LEFT bucket: markers (side 0) interleave with
    // summaries (side 1); at a marker, the running last summary covers
    // exactly the strictly-earlier buckets. Null left buckets (null left
    // time) sort first and correctly see no carry.
    val l0 = left
      .withColumn("__t", col(leftTime))
      .withColumn("__b", bucketOf(col("__t")))
    val markers = l0.select(col(key), col("__b")).distinct()
      .withColumn("__side", lit(0))
    val wCarry = Window.partitionBy(key)
      .orderBy(col("__b").asc_nulls_first, col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carry = markers
      .unionByName(perBucket.withColumn("__side", lit(1)),
        allowMissingColumns = true)
      .withColumn("__carry", last(col("__pl"), ignoreNulls = true).over(wCarry))
      .filter(col("__side") === 0 && col("__carry").isNotNull)
      .select(col(key), col("__b"), lit(null).as("__t"),
        col("__carry").as("__payload"))

    // (3) per-(key, bucket) carry-forward: carry-in (-1) < right (0) <
    // left (1); a null __t sorts first, so the synthetic carry head
    // precedes every real row of the bucket
    val rIn = r0.withColumn("__s2", lit(0))
    val cIn = carry.withColumn("__s2", lit(-1))
    val lIn = l0.withColumn("__s2", lit(1))
    val unioned = lIn
      .unionByName(rIn, allowMissingColumns = true)
      .unionByName(cIn, allowMissingColumns = true)
    val w = Window.partitionBy(col(key), col("__b"))
      .orderBy(col("__t").asc_nulls_first, col("__s2"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = unioned.withColumn("__matched",
      last(col("__payload"), ignoreNulls = true).over(w))
    payload.values.foldLeft(carried.filter(col("__s2") === 1)) { (d, out) =>
        d.withColumn(out, col("__matched").getField(out))
      }
      .drop("__t", "__s2", "__b", "__payload", "__matched")
  }

  /** Two-stage salted aggregation for skewed group keys: partial-aggregate
    * on (keys, salt) — spreading one hot key over `saltBuckets` reducers —
    * then final-aggregate on the keys alone. Use when ONE key holds a
    * large fraction of all rows (power-law group sizes), where even
    * map-side combine leaves a single reducer with most of the data.
    * `partial` aggregates raw rows; `merge` combines partial buffers —
    * they must compose (sum/sum, count/sum, min/min, ...).
    *
    * AQE's skew handling only splits *join* partitions; skewed
    * aggregation still needs explicit salting. */
  def saltedAgg(df: DataFrame, keys: Seq[Column], saltBuckets: Int,
                partial: Seq[(String, Column)],
                merge: Seq[(String, Column)]): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(spark_partition_id() + monotonically_increasing_id(),
           lit(saltBuckets.toLong)))
    val stage1 = salted
      .groupBy(keys :+ col("__salt"): _*)
      .agg(partial.head._2.as(partial.head._1),
           partial.tail.map { case (n, c) => c.as(n) }: _*)
    stage1
      .groupBy(keys: _*)
      .agg(merge.head._2.as(merge.head._1),
           merge.tail.map { case (n, c) => c.as(n) }: _*)
  }

  /** Interval (range) join done scale-right: points join intervals
    * with lo <= v <= hi. Spark plans a raw BETWEEN join as a
    * BroadcastNestedLoopJoin — every point against every interval,
    * the quiet scale killer of range joins. Here both sides derive a
    * BUCKET key (floor(v / bucketWidth); each interval explodes into
    * the buckets it overlaps) so candidates meet through an equi-join
    * on the bucket and the exact BETWEEN predicate verifies inside
    * the join — the shuffle carries only same-bucket pairs. Pick
    * `bucketWidth` near the typical interval length: much smaller
    * multiplies interval replication (explode rows ~ length/width),
    * much larger degrades toward all-pairs within a bucket. Intervals
    * with lo > hi are empty (explode emits nothing — sequence() on a
    * descending pair would THROW, so they are filtered, matching
    * BETWEEN's empty semantics); null bounds/values drop the row
    * (three-valued BETWEEN would drop it anyway).
    *
    * Output: every point column + every interval column (caller
    * pre-selects/aliases to avoid collisions — fail-fast require
    * below). */
  def rangeJoin(points: DataFrame, intervals: DataFrame,
                v: Column, lo: Column, hi: Column,
                bucketWidth: Long): DataFrame = {
    require(bucketWidth >= 1, s"bucketWidth must be >= 1, got $bucketWidth")
    val clash = points.columns.toSet intersect intervals.columns.toSet
    require(clash.isEmpty,
      s"rangeJoin: both sides have ${clash.mkString(", ")} — alias first")
    require(!points.columns.contains("__rb") &&
            !intervals.columns.contains("__rb"),
      "rangeJoin: reserved column __rb present")
    val p = points.filter(v.isNotNull)
      .withColumn("__rb", floor(v / bucketWidth.toDouble).cast("long"))
    val iv = intervals.filter(lo.isNotNull && hi.isNotNull && lo <= hi)
      .withColumn("__rb", explode(sequence(
        floor(lo / bucketWidth.toDouble).cast("long"),
        floor(hi / bucketWidth.toDouble).cast("long"))))
    p.join(iv, Seq("__rb"))
      .filter(v >= lo && v <= hi)
      .drop("__rb")
  }

  /** Interval×interval overlap join on a shared integer axis (epoch
    * seconds, day numbers, byte offsets): every (left, right) pair of
    * CLOSED intervals with `ls <= re && rs <= le`, via coarse-bucket
    * decomposition — the interval generalization of [[rangeJoin]]'s
    * point-in-interval, and the batch shape of "which sessions overlap
    * which campaign windows / maintenance windows / each other".
    *
    * Scale shape: each interval explodes into the `width/bucketSize+1`
    * coarse buckets it touches, the join is an EQUI-join on the bucket
    * key (never the O(n·m) theta nested loop Catalyst would otherwise
    * plan), and the count-once rule — a pair is kept only in the
    * bucket containing the overlap's START, `greatest(ls,rs) div B` —
    * dedups pairs spanning many shared buckets for free, with no
    * distinct shuffle. `bucketSize` trades replication (≈ interval
    * width / B per row) against per-bucket pair density, exactly
    * [[rangeJoin]]'s knob. Degenerate inputs drop, matching the
    * three-valued theta join: null id/bounds, and e < s (empty
    * interval; sequence() on a descending pair would throw).
    *
    * For a SELF overlap join pass the same frame both sides and set
    * `strictPairs = true`: `id1 < id2` rides the join condition, so
    * self-pairs and mirrored duplicates never materialize.
    *
    * Output: (id1, id2, overlap) with `overlap = least(le,re) −
    * greatest(ls,rs)` (0 = the closed intervals touch at one point). */
  def intervalOverlapJoin(left: DataFrame, lid: Column, ls: Column,
                          le: Column, right: DataFrame, rid: Column,
                          rs: Column, re: Column, bucketSize: Long,
                          strictPairs: Boolean = false): DataFrame = {
    require(bucketSize >= 1, s"bucketSize must be >= 1, got $bucketSize")
    def side(df: DataFrame, id: Column, s: Column, e: Column,
             n: Int): DataFrame =
      df.select(id.as(s"id$n"), s.cast("long").as(s"s$n"),
                e.cast("long").as(s"e$n"))
        .filter(col(s"id$n").isNotNull && col(s"s$n").isNotNull &&
                col(s"e$n").isNotNull && col(s"s$n") <= col(s"e$n"))
        .withColumn("bk", explode(sequence(
          expr(s"s$n div $bucketSize"), expr(s"e$n div $bucketSize"))))
    val l = side(left, lid, ls, le, 1)
    val r = side(right, rid, rs, re, 2)
    val pair =
      if (strictPairs) l.join(r, Seq("bk")).filter(col("id1") < col("id2"))
      else l.join(r, Seq("bk"))
    pair
      .filter(col("s1") <= col("e2") && col("s2") <= col("e1"))
      // count-once: only the bucket holding the overlap's start emits.
      // `div` truncates toward zero, but monotonicity keeps the chosen
      // bucket inside both sides' covered ranges even on negative axes.
      .filter(col("bk") === expr(s"greatest(s1, s2) div $bucketSize"))
      .select(col("id1"), col("id2"),
              (least(col("e1"), col("e2")) -
               greatest(col("s1"), col("s2"))).as("overlap"))
  }

  /** Deterministic per-group mode: the most frequent value of `v` in
    * each group, ties broken by the SMALLEST value — the tie rule is
    * what makes the answer engine-portable (a bare mode() is
    * tie-arbitrary). Two shuffles: the (group, value) count with
    * map-side partials, then an O(groups)-row argmax via
    * max(struct(cnt, negated tiebreak)) — no window, no per-group
    * sort. String values get the same rule through a second agg joined
    * back on (group, max cnt): min(v) among max-count values. */
  def modePerGroup(df: DataFrame, group: Column, v: Column): DataFrame = {
    val counts = df.filter(v.isNotNull)
      .groupBy(group.as("g"), v.as("v"))
      .agg(count(lit(1)).as("cnt"))
    val best = counts.groupBy("g").agg(max(col("cnt")).as("cnt"))
    counts.join(best, Seq("g", "cnt"))
      .groupBy("g")
      .agg(first(col("cnt")).as("n"), min(col("v")).as("mode"))
  }

  /** Pearson correlation per group from EXACT integer moment sums —
    * engine-portable where the built-in `corr` is not: streaming
    * co-moment updates accumulate float error in a partition-order-
    * dependent way, so two engines (or two runs with different
    * partitioning) disagree in late digits. Here the caller integerizes
    * x and y (e.g. cents via `floor(x*100 + 0.5)`), the five moment
    * sums accumulate EXACTLY in DECIMAL(38,0) (= DuckDB's HUGEINT
    * sums), and the only float ops are the final cast/sqrt/divide —
    * one identically-structured expression on both engines. Products
    * x*x, x*y, y*y form in LONG before widening: keep scaled inputs
    * under ~3e9 so products fit (pre-scale or widen to decimal
    * multiplication beyond that). Partial aggregation applies to all
    * five sums — one shuffle, map-side combine, O(groups) rows out. */
  def exactCorr(df: DataFrame, group: Column, x: Column, y: Column)
      : DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    df.select(group.as("g"), x.as("x"), y.as("y"))
      .groupBy("g")
      .agg(count(lit(1)).cast(dec).as("n"),
           sum(col("x").cast(dec)).as("sx"),
           sum(col("y").cast(dec)).as("sy"),
           sum((col("x") * col("x")).cast(dec)).as("sxx"),
           sum((col("y") * col("y")).cast(dec)).as("syy"),
           sum((col("x") * col("y")).cast(dec)).as("sxy"))
      .select(col("g"),
        col("n").cast("long").as("n"),
        round((col("n") * col("sxy") - col("sx") * col("sy"))
            .cast("double") /
          (sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
            .cast("double")) *
           sqrt((col("n") * col("syy") - col("sy") * col("sy"))
            .cast("double"))), 6)
          .as("corr"))
  }

  /** Fuzzy (edit-distance) value matching with LOSSLESS blocking — the
    * entity-resolution primitive ("which of these names are typos of
    * each other"). Operates on DISTINCT values (match values once, map
    * rows back by equi-join — matching raw rows on a low-cardinality
    * column would square every duplicate group for nothing). Candidates
    * block on a length window: one side explodes each value into the
    * lengths it could match (len±maxDist — an edit changes length by at
    * most 1), the other keys on its exact length, so every true pair
    * meets EXACTLY once through an equi-join and `levenshtein` verifies
    * inside the join. Never an all-pairs nested loop; the block key is
    * an int. For corpora where one length class is still huge, compose
    * a q-gram count prefilter before the verify (names within distance
    * d share >= maxLen-q+1 - d*q q-grams) — same lossless-then-verify
    * discipline. */
  def fuzzyMatchPairs(df: DataFrame, value: Column,
                      maxDist: Int): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    val names = df.select(value.as("name"))
      .filter(col("name").isNotNull).distinct()
    val probe = names.withColumn("__lb", explode(sequence(
      length(col("name")) - maxDist, length(col("name")) + maxDist)))
    val base = names.withColumn("__lb", length(col("name")))
    probe.as("a").join(base.as("b"),
        col("a.__lb") === col("b.__lb") && col("a.name") < col("b.name"))
      .select(col("a.name").as("name1"), col("b.name").as("name2"))
      .withColumn("dist", levenshtein(col("name1"), col("name2")))
      .filter(col("dist") <= maxDist)
  }

  /** End-to-end entity resolution: records collapse into one entity
    * when their `name`s are exact duplicates OR within `maxDist` edits
    * of each other (transitively — A~B, B~C puts all three in one
    * entity even when A and C differ by 2·maxDist; that is the standard
    * ER closure, deliberate and documented). Composition of the three
    * primitives this engine already checks separately:
    * [[fuzzyMatchPairs]] (lossless length-blocked candidate pairs) →
    * [[Dedup.connectedComponents]] (min-label closure) → an equi-join
    * mapping every record back through its name.
    *
    * Scale shape: matching runs on DISTINCT names represented by their
    * min record id — the pair join, the component loop, and the closure
    * all operate on vocabulary-sized frames, never on the record
    * stream; records rejoin through one name-keyed equi-join at the
    * end. Entity label = min record id of the cluster (deterministic).
    * Returns (rid, entity) for every record with non-null id and name. */
  def resolveEntities(df: DataFrame, id: Column, name: Column,
                      maxDist: Int): DataFrame = {
    val recs = df.select(id.as("rid"), name.as("name"))
      .filter(col("rid").isNotNull && col("name").isNotNull)
    val rep = recs.groupBy("name").agg(min(col("rid")).as("rep"))
    val np = fuzzyMatchPairs(rep, col("name"), maxDist)
    val rp = np
      .join(rep.select(col("name").as("name1"), col("rep").as("r1")),
            "name1")
      .join(rep.select(col("name").as("name2"), col("rep").as("r2")),
            "name2")
    val comp = Dedup.connectedComponents(rp, col("r1"), col("r2"))
    recs.join(rep, "name")
      .join(comp.withColumnRenamed("id", "rep"), Seq("rep"), "left")
      .select(col("rid"),
              coalesce(col("comp"), col("rep")).as("entity"))
  }

  /** Tagged three-way set split (corpus diff): rows only in `a`
    * (`a_only`), only in `b` (`b_only`), and in `both`. Schemas must
    * match. Set semantics (deduplicating), like SQL INTERSECT/EXCEPT;
    * each leg is a shuffle on the full row — co-partitioned by Catalyst
    * since the keys agree. */
  /** Rolling time-RANGE aggregate: per partition key, the sum/count of
    * `value` over the trailing `windowSeconds` (inclusive both ends —
    * the frame is [t - windowSeconds, t], Spark's rangeBetween and
    * ANSI `RANGE BETWEEN INTERVAL ... PRECEDING AND CURRENT ROW`
    * agree). Time-valued frames differ from the ROWS frames of
    * running aggregates: same-timestamp peers all enter the frame
    * together, and gaps in activity shrink it — the correct semantics
    * for trailing-7-day revenue / QPS / abuse-rate features. One
    * shuffle on the partition key; the frame is evaluated with a
    * sliding two-pointer pass over each sorted partition, O(rows),
    * no per-row rescan. Callers pass `value` pre-scaled to an integer
    * unit (cents, micro-units) — an exact sum, immune to the
    * float summation-order drift a rolling double sum would have.
    * Appends roll_sum / roll_n. */
  def rollingTimeAgg(df: DataFrame, part: Column, ts: Column,
                     value: Column, windowSeconds: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clash = df.columns.intersect(Seq("__sec", "roll_sum", "roll_n"))
    require(clash.isEmpty,
      s"rollingTimeAgg: reserved columns ${clash.mkString(",")} " +
      "already on the input — rename them first")
    val w = Window.partitionBy(part).orderBy(col("__sec"))
      .rangeBetween(-windowSeconds, 0)
    df.withColumn("__sec", unix_timestamp(ts))
      .withColumn("roll_sum", sum(value).over(w))
      .withColumn("roll_n", count(lit(1)).over(w))
      .drop("__sec")
  }

  def setSplit(a: DataFrame, b: DataFrame): DataFrame =
    a.intersect(b).withColumn("which", lit("both"))
      .unionByName(a.except(b).withColumn("which", lit("a_only")))
      .unionByName(b.except(a).withColumn("which", lit("b_only")))

  /** 2-D skyline (Pareto frontier): rows not dominated under
    * (minimize x, maximize y) — row j dominates i when x_j ≤ x_i and
    * y_j ≥ y_i with at least one strict; exact (x, y) ties dominate
    * neither way and all survive. The classic price-vs-quality
    * shortlist operator, O(n log n) with NO self-join and no n²: a
    * running max-y over strictly-smaller x catches cross-x
    * domination, a per-x group max catches same-x domination. The
    * naive `Window.orderBy(x)` form would collapse the table into one
    * task, so the running max is DISTRIBUTED the [[graft.ops.Packing
    * .orderedCumsum]] way: range-partition on x (equal x always
    * colocate — partition is a function of the key), per-partition
    * maxima collect O(partitions) longs, and each partition's rows
    * see (per-partition prefix base) ⊔ (within-partition range-frame
    * max). x and y must be integer-valued (cast to long internally);
    * the oracle states the NOT EXISTS definition directly. */
  def skyline2D(df: DataFrame, x: Column, y: Column,
                partitions: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val reserved = Seq("__x", "__y", "__pid", "__base", "__m1", "__m2")
    val clash = df.columns.intersect(reserved)
    require(clash.isEmpty,
      s"skyline2D: reserved working column(s) ${clash.mkString(",")} " +
      "already on the input — rename them first")
    val p = df
      .withColumn("__x", x.cast("long")).withColumn("__y", y.cast("long"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
      .repartitionByRange(partitions, col("__x"))
      .sortWithinPartitions(col("__x"))
      .withColumn("__pid", spark_partition_id())
      .cut() // same re-plan hazard as orderedCumsum
    val maxes = p.groupBy("__pid").agg(max(col("__y")).as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val spark = df.sparkSession
    import spark.implicits._
    // base(pid) = max y over all PREVIOUS partitions (strictly
    // smaller x by the range invariant); first partition has none
    val bases = maxes.map(_._1)
      .zip(maxes.map(_._2).scanLeft(Option.empty[Long]) {
        (acc, t) => Some(acc.fold(t)(math.max(_, t)))
      })
      .map { case (pid, b) => (pid, b) }.toSeq
      .toDF("__pid", "__base")
    val wPrev = Window.partitionBy(col("__pid")).orderBy(col("__x"))
      .rangeBetween(Window.unboundedPreceding, -1)
    // same (partition, order) spec with a [0,0] range frame = the
    // same-x group max, evaluated in the SAME WindowExec sort — and
    // equal x always colocate, so the per-partition group max is the
    // global one
    val wSame = Window.partitionBy(col("__pid")).orderBy(col("__x"))
      .rangeBetween(0, 0)
    p.join(broadcast(bases), Seq("__pid"))
      .withColumn("__m1",
        greatest(max(col("__y")).over(wPrev), col("__base")))
      .withColumn("__m2", max(col("__y")).over(wSame))
      .filter(coalesce(col("__m1") < col("__y"), lit(true)) &&
              col("__m2") <= col("__y"))
      .drop(reserved: _*)
  }

  /** Salted SHA-2 pseudonymization: replace identifier columns with
    * sha2-256(salt ‖ value) hex — the governance primitive for
    * PII-safe exports where JOINABILITY must survive (the same value
    * maps to the same pseudonym everywhere the same salt is used)
    * but the raw identifier must not. Complements
    * [[graft.ops.TextAnalysis.redactPii]] (that scrubs free text;
    * this rewrites key columns). Per-row codegen'd digest, no
    * shuffle; rotate the salt to break linkability across releases. */
  def pseudonymizeColumns(df: DataFrame, salt: String,
                          cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "pseudonymizeColumns: no columns given")
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"pseudonymizeColumns: no such column(s) ${missing.mkString(", ")}")
    cols.foldLeft(df) { (d, c) =>
      d.withColumn(c,
        sha2(concat(lit(salt), col(c).cast("string")), 256))
    }
  }

  /** Order-independent table content checksum: hash each CELL's
    * canonical string (null marked distinctly from empty) through the
    * portable character-fold pair, combine the per-column components
    * across the row with the same polynomial fold (sorted column
    * order, column hashes as the "characters"), and SUM the two row
    * components — commutative, so the checksum is partitioning- and
    * row-order-invariant, and any single value change moves it
    * (collisions would need folds canceling exactly — negligible for
    * an integrity attestation, use a cryptographic MAC for an
    * adversarial setting). The cross-engine twin of a content hash:
    * the oracle replays the identical folds in SQL.
    *
    * Column-wise hashing (vs hashing one concatenated row string)
    * avoids materializing a full-row string per row — the per-cell
    * kernel is the codegen'd [[graft.functions.PolyHash62E]], one
    * primitive char loop with no intermediate codes array — and makes
    * cell-boundary shifts like ("ab","c") vs ("a","bc") distinct by
    * construction rather than by separator choice.
    *
    * Scale shape: one whole-stage-codegen pass + a 3-value aggregate;
    * sums stay exact to 2^32 rows (components < 2^31). Returns one
    * row (n_rows, sum_h1, sum_h2).
    *
    * FORMAT VERSION 2 (checksum-v2): the fold changed from one
    * concatenated-row string to per-cell hashes combined by a second
    * polynomial fold. Checksums persisted by the v1 release do NOT
    * match v2 output for identical data — a v1-vs-v2 mismatch is a
    * format break, not corruption; re-attest after upgrading. */
  def tableChecksum(df: DataFrame): DataFrame = {
    val cellHashes = df.columns.sorted.map(c =>
      graft.functions.PolyHash62E(
        coalesce(col(c).cast("string"), lit("\u0002"))))
    // per-row combine: fold the columns' 31-bit components through the
    // same (seed 7, ×31 mod 2147483647) / (seed 11, ×37 mod 2147483629)
    // recurrences the char folds use. acc < 2^31, so acc*37 + h < 2^37
    // — no overflow.
    val r1 = cellHashes.foldLeft(lit(7L))((a, h) =>
      (a * 31L + shiftrightunsigned(h, 31)) % 2147483647L)
    val r2 = cellHashes.foldLeft(lit(11L))((a, h) =>
      (a * 37L + h % 2147483648L) % 2147483629L)
    df.select(r1.as("r1"), r2.as("r2"))
      .agg(count(lit(1)).as("n_rows"),
           sum(col("r1")).as("sum_h1"),
           sum(col("r2")).as("sum_h2"))
  }

  /** Join-explosion forecast: BEFORE running a join, predict its
    * output size from per-key multiplicities — the guard against the
    * silent many-to-many that turns a 100 TB join into a 10 PB
    * shuffle. Per join key: left count, right count, predicted output
    * rows (their product); returns the top-`topN` keys by predicted
    * contribution. The forecast is exact for an inner equi-join (the
    * output IS Σ la·rb over shared keys).
    *
    * Scale shape: two per-key counts (map-side combined) and a join
    * between KEY frames — one row per distinct key, never touching
    * full fact rows; the top-N is a TakeOrdered. */
  def joinExplosionReport(left: DataFrame, right: DataFrame,
                          leftKey: Column, rightKey: Column,
                          topN: Int = 10): DataFrame = {
    val lc = left.groupBy(leftKey.cast("string").as("key"))
      .agg(count(lit(1)).as("left_rows"))
    val rc = right.groupBy(rightKey.cast("string").as("key"))
      .agg(count(lit(1)).as("right_rows"))
    lc.join(rc, "key")
      .withColumn("predicted_rows", col("left_rows") * col("right_rows"))
      .orderBy(desc("predicted_rows"), col("key"))
      .limit(topN)
  }

  /** Column profile: the one-scan data-quality report — per column,
    * non-null / null / exact distinct counts and native-typed min and
    * max (stringified AFTER the typed aggregation, so numeric columns
    * report numeric extremes, not lexicographic ones).
    *
    * Scale shape: ONE aggregate pass over the input computes every
    * column's stats together (Spark's multi-distinct lowers to one
    * Expand — ncols× row multiplication, linear, no per-column
    * rescans); the per-column rows are then unpivoted from the single
    * result row. The exact distinct is the oracle-checkable choice —
    * at larger cardinalities swap in approx_count_distinct, same
    * shape. */
  def profileColumns(df: DataFrame): DataFrame = {
    val cols = df.columns.sorted
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"__nn_$c"),
          countDistinct(col(c)).as(s"__nd_$c"),
          min(col(c)).cast("string").as(s"__mn_$c"),
          max(col(c)).cast("string").as(s"__mx_$c"))
    } :+ count(lit(1)).as("__total")
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stacked = cols.map { c =>
      struct(lit(c).as("column"),
        col(s"__nn_$c").as("n_nonnull"),
        (col("__total") - col(s"__nn_$c")).as("n_null"),
        col(s"__nd_$c").as("n_distinct"),
        col(s"__mn_$c").as("min_value"),
        col(s"__mx_$c").as("max_value"))
    }
    one.select(explode(array(stacked: _*)).as("p"))
      .select(col("p.*"))
  }

  /** Snapshot diff: what changed between two versions of a table
    * keyed by `id` — the audit complement of [[graft.ops.Pipeline]]'s
    * CDC upsert-apply (that op APPLIES a change log; this one
    * RECOVERS the change log from two full snapshots, the shape of a
    * daily-dump ingest with no upstream CDC). Emits one row per
    * differing key: change ∈ added | removed | changed, and for
    * changed rows the sorted comma-joined list of columns whose
    * values differ (null-safe compare — null→value and value→null
    * both count as a change). Identical rows emit nothing.
    *
    * Scale shape: one full-outer shuffle join on the key, the same
    * cost class as the CDC apply; per-column compares are codegen'd
    * null-safe equality, no per-row collection. Column set =
    * non-key columns SHARED by both snapshots (schema evolution is
    * diffed by the caller comparing schemas, not by this row-level
    * op). */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, id: Column)
      : DataFrame = {
    val o = oldDf.select(id.as("__id"), struct(col("*")).as("__o"))
    val n = newDf.select(id.as("__id"), struct(col("*")).as("__n"))
    val shared = oldDf.columns.intersect(newDf.columns).sorted
    val diffCols = shared.map { c =>
      when(!(col(s"__o.$c") <=> col(s"__n.$c")), lit(c))
    }
    o.join(n, Seq("__id"), "full_outer")
      .select(col("__id").as("id"),
        when(col("__o").isNull, lit("added"))
          .when(col("__n").isNull, lit("removed"))
          .otherwise(lit("changed")).as("change"),
        when(col("__o").isNull || col("__n").isNull, lit(""))
          .otherwise(concat_ws(",", diffCols: _*)).as("changed_cols"))
      .filter(col("change") =!= "changed" || col("changed_cols") =!= "")
  }

  /** Equi-depth histogram: k buckets holding ~equal row counts — the
    * boundary picker behind range partitioning, z-order scaling, and
    * length-bucketed batching. Boundaries are the exact interpolated
    * i/k quantiles; a value lands in bucket = (number of INTERNAL
    * boundaries strictly below it), so boundary-valued rows fall
    * left, deterministically in any engine evaluating the same rule.
    *
    * Scale shape: the boundary frame never leaves the cluster (1-row
    * broadcast back over the corpus; bucket assignment is a codegen'd
    * array filter, per-bucket stats one map-side-combined groupBy).
    * BUT the EXACT `percentile` aggregate buffers every value in one
    * final aggregation state — fine to ~10^8 rows, the oracle-exact
    * choice here; past that use [[equiDepthHistogramApprox]], whose
    * boundary pass is a mergeable sketch. */
  def equiDepthHistogram(df: DataFrame, value: Column, k: Int)
      : DataFrame = {
    require(k >= 2, s"equiDepthHistogram: k >= 2, got $k")
    val v = df.select(value.cast("long").as("v"))
      .filter(col("v").isNotNull)
    val fracs = (0 to k).map(i => i.toDouble / k)
    val bounds = v.agg(expr(
      s"percentile(v, array(${fracs.mkString(",")}))").as("bs"))
    v.crossJoin(broadcast(bounds))
      // internal boundaries only: bs[1..k-1]
      .withColumn("bucket",
        size(filter(slice(col("bs"), 2, k - 1),
          b => b < col("v").cast("double"))))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
           min(col("v")).as("lo"), max(col("v")).as("hi"))
  }

  /** The 100 TB form of [[equiDepthHistogram]]: identical bucket rule,
    * boundaries from `approx_percentile` — a mergeable KLL-style
    * sketch whose partial states combine across partitions in O(k·log)
    * memory, so the quantile pass never buffers the column. Accuracy
    * knob is `accuracy` (inverse relative rank error, Spark default
    * 10000: boundary ranks are within n/accuracy of exact). Spec-
    * tested against the exact form; the exact form stays the
    * oracle-checked one (sketch internals are engine-specific). */
  def equiDepthHistogramApprox(df: DataFrame, value: Column, k: Int,
                               accuracy: Int = 10000): DataFrame = {
    require(k >= 2, s"equiDepthHistogramApprox: k >= 2, got $k")
    val v = df.select(value.cast("long").as("v"))
      .filter(col("v").isNotNull)
    val fracs = (0 to k).map(i => i.toDouble / k)
    val bounds = v.agg(expr(
      s"approx_percentile(v, array(${fracs.mkString(",")}), $accuracy)")
      .as("bs"))
    v.crossJoin(broadcast(bounds))
      .withColumn("bucket",
        size(filter(slice(col("bs"), 2, k - 1),
          b => b < col("v"))))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
           min(col("v")).as("lo"), max(col("v")).as("hi"))
  }

  /** Key-skew diagnostic: the one-row report read BEFORE choosing a
    * join/agg strategy on a key at scale — salting, AQE skew-join
    * thresholds, and broadcast decisions all hang off this shape.
    * Reports the per-key count distribution: n_keys, total_rows,
    * max_cnt, exact p50/p90/p99 of per-key counts (interpolated over
    * integer counts — both engines' continuous quantile agrees
    * bit-for-bit on longs), the share of the heaviest key and the
    * heaviest 10 in parts-per-million (integer floor division — no
    * float ratio in the hashed columns).
    *
    * Scale shape: one shuffle for the per-key count (map-side partial
    * agg), then the distribution stats run over the KEY frame — one
    * row per distinct key, not per input row. The top-10 sum is a
    * TakeOrdered (O(keys) scan, no global sort). The default EXACT
    * percentiles buffer the per-key counts in one aggregation state —
    * the oracle-exact choice, fine to ~10^8 distinct keys; set
    * `approx = true` past that for approx_percentile's mergeable
    * sketch (same report, engine-specific boundary rounding). */
  def skewReport(df: DataFrame, key: Column,
                 approx: Boolean = false): DataFrame = {
    val counts = df.groupBy(key.as("k"))
      .agg(count(lit(1)).as("cnt"))
    val top10 = counts.orderBy(desc("cnt"), col("k")).limit(10)
      .agg(sum(col("cnt")).as("top10_rows"))
    val pct = if (approx) "approx_percentile" else "percentile"
    counts
      .agg(
        count(lit(1)).as("n_keys"),
        sum(col("cnt")).as("total_rows"),
        max(col("cnt")).as("max_cnt"),
        expr(s"cast($pct(cnt, 0.5) as double)").as("p50_cnt"),
        expr(s"cast($pct(cnt, 0.9) as double)").as("p90_cnt"),
        expr(s"cast($pct(cnt, 0.99) as double)").as("p99_cnt"))
      .crossJoin(broadcast(top10))
      .select(col("n_keys"), col("total_rows"), col("max_cnt"),
        col("p50_cnt"), col("p90_cnt"), col("p99_cnt"),
        expr("max_cnt * 1000000 div total_rows").as("top1_ppm"),
        expr("top10_rows * 1000000 div total_rows").as("top10_ppm"))
  }

  /** Exact weighted lower quantile per group: the smallest `value` v
    * whose cumulative weight reaches q = qNum/qDen of the group's
    * total weight (weighted median at 1/2). The estimator decisions
    * that need "median price weighted by volume" / "token-weighted
    * median document length" land here — unweighted percentile over
    * row-exploded weights would shuffle Σw rows; this compares
    * cumulative weights as integers (cumw·qDen >= totw·qNum — no float
    * threshold, bit-portable).
    *
    * A selection, not a sort, in two scans of `df`:
    *  - pass 1 sums the weights per (group, [[graft.functions.LogBucket]]
    *    of v) with a map-side partial aggregate. The bucket is monotone
    *    in v and needs no statistics; a group yields at most 2^bits
    *    buckets per octave of |v|. Each group's buckets then meet in
    *    one array, whose walk ([[graft.functions.BucketCrossing]]) gives
    *    the group's total, the first bucket whose running weight
    *    reaches q (the crossing bucket) and the weight before it;
    *  - pass 2 keeps only the rows in the crossing bucket (a broadcast
    *    join on one long key, `xxhash64(group, bucket)`, with the exact
    *    null-safe match as its condition) and walks them in value order
    *    from the carried-in weight.
    *
    * Null values sort first and carry weight, but answer only a group
    * that has nothing else; a null group is its own group; null weights
    * add nothing, and a value reached before any non-null weight never
    * qualifies — so the answer is exactly that of one walk over every
    * (group, value) in value order.
    *
    * Shape at 100 TB: neither pass shuffles or sorts the raw rows.
    * Pass 1 shuffles groups × buckets partial sums, and holds one
    * group's buckets (at most 2^(bits+7)) in one array. Pass 2 shuffles
    * and sorts only the crossing bucket: about 2^-bits of a group's
    * rows when its values spread over their magnitude (a group packed
    * into one bucket — one relative 2^-bits slice of |v| — walks all
    * its rows, still exact). The broadcast holds one row per group.
    * `value` must be an integral column, `weight` a non-negative
    * integer column. */
  def weightedQuantile(df: DataFrame, group: Column, value: Column,
                       weight: Column, qNum: Int, qDen: Int): DataFrame = {
    require(qDen >= 1 && qNum >= 1 && qNum <= qDen,
      s"quantile $qNum/$qDen must sit in (0, 1]")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val rows0 = df.select(group.as("g"), value.as("v"),
                          weight.cast("long").as("__w"))
    rows0.schema("v").dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
      case t => throw new IllegalArgumentException(
        s"weighted quantile needs an integral value column, got $t")
    }
    val rows = rows0.withColumn("__b",
      graft.functions.LogBucket(col("v").cast("long"), QuantileBucketBits))
    // pass 1: per-(group, bucket) weights, then one array of them per
    // group, walked in bucket order
    val crossing = rows
      .groupBy(col("g"), col("__b"))
      .agg(sum(col("__w")).as("__w"))
      .groupBy(col("g").as("__g"))
      .agg(graft.functions.BucketCrossing(
        collect_list(struct(col("__b"), col("__w"))), qNum, qDen).as("__c"))
    // pass 2: the crossing bucket's rows. The long hash key keeps the
    // broadcast relation a long map; the condition makes it exact (a
    // `<=>` there would be planned as a second, string join key)
    def same(a: Column, b: Column): Column =
      coalesce(a === b, a.isNull && b.isNull)
    val inBucket = rows.join(broadcast(crossing),
      xxhash64(col("g"), col("__b")) === xxhash64(col("__g"), col("__c.cb")) &&
        same(col("g"), col("__g")) && same(col("__b"), col("__c.cb")))
    // a row running sum needs no per-value aggregate: the last row of
    // each value carries the value's running weight, and a value
    // reaches q iff one of its rows does
    val byValue = Window.partitionBy(col("g")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    inBucket
      .withColumn("__run", sum(col("__w")).over(byValue))
      .filter(coalesce(col("__c.before") + col("__run"), col("__c.before"),
                       col("__run")) * qDen >= col("__c.totw") * qNum)
      .groupBy(col("g"))
      .agg(min(col("v")).as("q_value"),
           max(col("__c.totw")).as("total_weight"))
  }

  /** [[weightedQuantile]]'s bucket resolution: 2^10 buckets per octave
    * of |v|, so the crossing bucket holds ~0.1% of a spread group's rows
    * while pass 1 emits at most 2,048 rows per octave per group. */
  private val QuantileBucketBits = 10

  /** Incremental view maintenance for count/sum aggregates: fold a
    * signed change batch into a materialized aggregate state WITHOUT
    * rescanning the base data — the pattern that keeps a 100 TB-derived
    * rollup fresh from a CDC feed at delta cost. `state` is the
    * materialized (key..., cnt, sum) table; `changes` carries sign +1
    * (insert) / −1 (delete) per affected row. Count and sum are
    * self-maintainable under deletion (unlike min/max, which need the
    * base — see [[applyUpsert]] for full-row merge); groups whose count
    * reaches zero disappear, matching a recomputation exactly.
    *
    * Shape: the delta pre-aggregates map-side to one row per touched
    * key, then a single shuffle co-groups delta partials with state
    * rows (state is already one row per key). Cost ∝ |delta| +
    * |state|, never ∝ |base|. */
  def ivmApplySumCount(state: DataFrame, stateKey: Column,
                       changes: DataFrame, changeKey: Column,
                       sign: Column, value: Column,
                       cntCol: String = "cnt", sumCol: String = "sum")
      : DataFrame = {
    require(state.columns.contains(cntCol) && state.columns.contains(sumCol),
      s"state must carry '$cntCol' and '$sumCol' columns")
    val deltas = changes
      .select(changeKey.as("k"), sign.cast("long").as("__sg"),
              value.cast("long").as("__v"))
      .groupBy(col("k"))
      .agg(sum(col("__sg")).as("dc"),
           sum(col("__sg") * col("__v")).as("ds"))
    val st = state.select(stateKey.as("k"),
      col(cntCol).cast("long").as("dc"),
      col(sumCol).cast("long").as("ds"))
    st.unionByName(deltas)
      .groupBy(col("k"))
      .agg(sum(col("dc")).as(cntCol), sum(col("ds")).as(sumCol))
      .filter(col(cntCol) > 0)
  }

  /** Bloom-prefiltered semi-join: the EXPLICIT form of Spark's
    * row-level runtime filtering for the regime its auto-injection
    * skips (dim too large to broadcast-join but whose KEY SET fits a
    * bloom; non-equi pipelines; filters applied several stages before
    * the join). A bloom of the dim keys drops non-joining fact rows AT
    * THE SCAN — before the shuffle that dominates a 100 TB semi-join —
    * and the exact semi-join afterwards clears the false positives, so
    * results are EXACTLY the plain semi-join's. The bloom itself is
    * the one piece of driver state: O(numBits/8) bytes (sizing detail below), the same order Spark's own
    * injected filter ships through its scalar subquery (optimal
    * sizing ~7.3 bits/key at 3% fp — ~0.9 GB per 10^9 keys).
    *
    * `expectedItems` sizes the filter (overestimate is safe, just
    * bigger); fp rate only costs prefilter selectivity, never
    * correctness. Null fact keys drop (semi-join semantics). */
  def bloomSemiJoin(fact: DataFrame, factKey: Column,
                    dim: DataFrame, dimKey: Column,
                    expectedItems: Long): DataFrame = {
    require(expectedItems > 0,
      s"expectedItems must be positive, got $expectedItems")
    import org.apache.spark.sql.catalyst.expressions.{
      BloomFilterMightContain, Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.types.BinaryType
    val buildHash = new XxHash64(Seq(ColumnBridge.catalystExpr(dimKey)))
    val bloomAgg = ColumnBridge.column(
      new BloomFilterAggregate(buildHash, expectedItems)
        .toAggregateExpression())
    // one dim-side aggregation job, result is the serialized bloom
    val bloomBytes = dim.agg(bloomAgg.as("b")).head.getAs[Array[Byte]](0)
    // Empty dim: BloomFilterAggregate over zero rows yields NULL, and
    // BloomFilterMightContain(null, h) is NULL — a filter on it would
    // drop every row, which here happens to be the right answer for a
    // semi-join, but only by accident. Return the plain semi-join's
    // exact result (empty) explicitly instead of riding the null.
    if (bloomBytes == null) return fact.limit(0)
    val probeHash = new XxHash64(Seq(ColumnBridge.catalystExpr(factKey)))
    val mightContain = ColumnBridge.column(
      BloomFilterMightContain(Literal(bloomBytes, BinaryType), probeHash))
    val keys = dim.select(dimKey.as("__bsj_k")).distinct()
    fact.filter(mightContain)
      .join(keys, factKey === col("__bsj_k"), "left_semi")
  }

  /** Bloom-accelerated ANTI-join (the decontamination/blocklist shape:
    * keep fact rows whose key is NOT in dim). The bloom's one-sided
    * guarantee flips roles here: a row the filter rejects is PROVABLY
    * absent from dim — it bypasses the join entirely and is kept —
    * so only the might-contain sliver (true matches + fp rate) rides
    * the exact anti-join shuffle. With a selective blocklist that is
    * ~fp-rate of the corpus instead of all of it. Results are exactly
    * the plain anti-join's: the two filter branches partition the
    * fact (with a non-empty dim, might_contain never evaluates null —
    * the hash is total; an EMPTY dim yields a null bloom and is
    * short-circuited to `fact` unchanged, the plain anti-join's answer),
    * bypassed rows are kept as the anti-join would keep them, and the
    * sliver is exact-verified. Null fact keys match nothing, so
    * whichever branch they land in keeps them. */
  def bloomAntiJoin(fact: DataFrame, factKey: Column,
                    dim: DataFrame, dimKey: Column,
                    expectedItems: Long): DataFrame = {
    require(expectedItems > 0,
      s"expectedItems must be positive, got $expectedItems")
    import org.apache.spark.sql.catalyst.expressions.{
      BloomFilterMightContain, Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.types.BinaryType
    val buildHash = new XxHash64(Seq(ColumnBridge.catalystExpr(dimKey)))
    val bloomAgg = ColumnBridge.column(
      new BloomFilterAggregate(buildHash, expectedItems)
        .toAggregateExpression())
    val bloomBytes = dim.agg(bloomAgg.as("b")).head.getAs[Array[Byte]](0)
    // Empty dim (e.g. an empty blocklist): the bloom aggregate is NULL
    // and BloomFilterMightContain(null, h) is NULL, so BOTH filter
    // branches below would evaluate false and the whole corpus would be
    // silently dropped — the exact opposite of the plain anti-join,
    // which keeps every fact row. Short-circuit to that exact result.
    if (bloomBytes == null) return fact
    val probeHash = new XxHash64(Seq(ColumnBridge.catalystExpr(factKey)))
    val mightContain = ColumnBridge.column(
      BloomFilterMightContain(Literal(bloomBytes, BinaryType), probeHash))
    val keys = dim.select(dimKey.as("__baj_k")).distinct()
    val sliver = fact.filter(mightContain)
      .join(keys, factKey === col("__baj_k"), "left_anti")
    val bypass = fact.filter(!mightContain)
    sliver.unionByName(bypass)
  }
}
