package graft.ops

import graft.Checkpoints.CheckpointOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sequence packing — laying a corpus's token stream end-to-end in a
  * deterministic document order and cutting fixed-length training
  * sequences, tracking which token span of which document lands in
  * which sequence (the "pack short docs together, split long docs"
  * step in front of every context-window-bound trainer).
  */
object Packing {

  /** Exclusive prefix sum of `value` over the total order `order` —
    * the distributed scan primitive. A naive window
    * `sum() over (order by ...)` with no partitionBy collapses the
    * whole table into ONE task; this form range-partitions on the
    * order column, computes per-partition totals (a partitions-sized
    * frame), converts them to per-partition starting offsets with a
    * window over THAT tiny frame, and adds them to a
    * within-partition running sum — every stage distributed except
    * the trivial partitions-row offset window. Output = input columns
    * + `offset`. The result depends only on the total order, not on
    * where range boundaries land. `order` must be a key (total
    * order); duplicate order values would make the within-duplicate
    * offset assignment partition-dependent.
    *
    * LAZY: no job runs until the caller's first action (so a
    * root-chunk [[graft.Transform]] builds data-free, matching the
    * reference's compile/run split — `LazyPlanSpec`). The partitioned
    * frame is shared by the totals subtree and the row subtree
    * through a `persist()` (lazily registered in the session cache,
    * materialized by the first action): both subtrees scan the SAME
    * cached partitioning, so RangePartitioner's reservoir sample runs
    * once and per-partition offsets always pair with the row sets
    * they were computed from. (An eager `localCheckpoint` pin gives
    * the same guarantee but launches the job at plan-build; plain
    * exchange reuse does NOT — column pruning specializes the two
    * subtrees' scans, their exchanges stop being canonically equal,
    * and each re-samples its own boundaries, which mispairs offsets
    * with rows. Recompute after block loss is safe: the boundaries
    * live in the one RangePartitioner instance, sampled once.)
    *
    * The cache entry persists until `spark.catalog.clearCache()` or
    * eviction (MEMORY_AND_DISK — spills, never silently drops
    * within a healthy executor). Identical plans share one entry, so
    * re-running a pipeline does not grow the cache. */
  def orderedCumsum(df: DataFrame, order: Column, value: Column,
                    partitions: Int, offsetName: String = "offset")
      : DataFrame =
    orderedCumsums(df, order, Seq(offsetName -> value), partitions)

  /** Multi-value form of [[orderedCumsum]]: ONE range shuffle + one
    * within-partition window pass computes an exclusive prefix sum per
    * `(name, value)` pair over the same total order (Spark evaluates
    * all window expressions sharing a frame in a single WindowExec).
    * Callers needing several running totals over one order — e.g. the
    * PR curve's simultaneous suffix counts of rows AND positives —
    * pay the shuffle once instead of once per value. */
  def orderedCumsums(df: DataFrame, order: Column,
                     values: Seq[(String, Column)], partitions: Int)
      : DataFrame =
    orderedCumsumsReleasable(df, order, values, partitions)._1

  /** [[orderedCumsums]] plus a RELEASE handle for the internal shared
    * cache. The persist is load-bearing while the returned frame is
    * being evaluated (one boundary sample pairs offsets with rows —
    * see above), but a long-lived session issuing MANY cumsum-backed
    * writes (the sharded-table writer: every snapshot commit) must
    * drop the entry once its terminal action has run, or the session
    * cache accumulates pinned frames and strangles executor memory
    * for every later query (measured: a 565-query bench pass ran
    * ~1.3x slower with the leak than with per-write release). Call
    * the handle only AFTER the caller's action completes. */
  def orderedCumsumsReleasable(df: DataFrame, order: Column,
                               values: Seq[(String, Column)],
                               partitions: Int)
      : (DataFrame, () => Unit) = {
    import org.apache.spark.sql.expressions.Window
    require(values.nonEmpty, "orderedCumsums: need at least one value")
    val vCols = values.indices.map(i => s"__v$i")
    val bCols = values.indices.map(i => s"__b$i")
    val tCols = values.indices.map(i => s"__t$i")
    val reserved = Seq("__pid") ++ vCols ++ bCols ++ tCols ++
      values.map(_._1)
    val clash = df.columns.intersect(reserved)
    require(clash.isEmpty,
      s"orderedCumsums: column(s) ${clash.mkString(", ")} already exist")
    // EXPLICIT partition count is load-bearing: a user-specified
    // numPartitions is exempt from AQE coalescing, so the partitioning
    // is exactly what was asked for.
    val p0 = values.zipWithIndex
      .foldLeft(df) { case (d, ((_, v), i)) =>
        d.withColumn(s"__v$i", v.cast("long")) }
      .repartitionByRange(partitions, order)
      .sortWithinPartitions(order)
      .withColumn("__pid", spark_partition_id())
    // lazy shared materialization — see scaladoc (persist, not
    // localCheckpoint: checkpoint is eager; unpinned exchange reuse
    // is defeated by column pruning and corrupts offsets)
    val p = p0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // per-partition totals -> prefix offsets: a window over the
    // partitions-sized totals frame (single-task, but over ~32 rows),
    // broadcast back (a when-ladder per partition would put an
    // O(partitions)-branch case expression in every row's path)
    val wBase = Window.orderBy("__pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val totals = values.indices.map(i => sum(col(s"__v$i")).as(s"__t$i"))
    val bases = p.groupBy("__pid").agg(totals.head, totals.tail: _*)
      .select(col("__pid") +: values.indices.map(i =>
        coalesce(sum(col(s"__t$i")).over(wBase), lit(0L)).as(s"__b$i")): _*)
    val w = Window.partitionBy(col("__pid")).orderBy(order)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val out = values.zipWithIndex
      .foldLeft(p.join(broadcast(bases), Seq("__pid"))) {
        case (d, ((name, _), i)) =>
          d.withColumn(name,
            col(s"__b$i") + sum(col(s"__v$i")).over(w) - col(s"__v$i"))
      }
      .drop("__pid" +: (vCols ++ bCols): _*)
    (out, () => { p.unpersist(); () })
  }

  /** [[orderedCumsumsReleasable]] that ALSO returns each value's grand
    * total, collected driver-side from the same per-partition-totals
    * pass that the prefix offsets need anyway — so a caller that wants
    * the row count (pass `lit(1L)`) or a column's sum alongside the
    * cumsum pays ZERO extra jobs for it. The offsets are computed from
    * the collected totals in plain driver arithmetic and re-broadcast
    * as a local relation, which also removes the single-task
    * no-partition window the lazy form runs over the totals frame.
    *
    * EAGER (one collect job at call time, which also materializes the
    * shared cache) — callers that must stay data-free at plan build
    * (`LazyPlanSpec`) use the lazy [[orderedCumsums]] instead. The
    * sharded-table writer is the intended consumer: it previously paid
    * a separate full `df.count()` pass per snapshot commit just to
    * size the shard blocks. */
  /** partitions = 0 → SCALE-ADAPTIVE: the range shuffle takes the
    * session's shuffle partition count and stays AQE-COALESCIBLE
    * (no user-pinned count), so a KB-sized batch collapses to one or
    * two tasks while a TB-sized batch sizes by the advisory partition
    * bytes — the writer-path choice; a hard-coded count is wrong at
    * both ends. Coalescing merges only ADJACENT range partitions, so
    * pid order stays range order and the offset arithmetic is
    * unaffected. */
  def orderedCumsumsCounted(df: DataFrame, order: Column,
                            values: Seq[(String, Column)],
                            partitions: Int)
      : (DataFrame, () => Unit, Seq[Long]) = {
    import org.apache.spark.sql.expressions.Window
    require(values.nonEmpty, "orderedCumsums: need at least one value")
    val vCols = values.indices.map(i => s"__v$i")
    val bCols = values.indices.map(i => s"__b$i")
    val reserved = Seq("__pid") ++ vCols ++ bCols ++ values.map(_._1)
    val clash = df.columns.intersect(reserved)
    require(clash.isEmpty,
      s"orderedCumsums: column(s) ${clash.mkString(", ")} already exist")
    val withVals = values.zipWithIndex
      .foldLeft(df) { case (d, ((_, v), i)) =>
        d.withColumn(s"__v$i", v.cast("long")) }
    // PRE-SHUFFLE cache (r14): repartitionByRange runs a RANGE-
    // PARTITIONER SAMPLING job over its input before the shuffle —
    // without this cache that job is a FULL second evaluation of the
    // input lineage per commit (for a merge/update that means reading
    // the batch, or the pruned table scan, twice). The sampling pass
    // now fills this cache and the shuffle's map stage reads it; it
    // is released right after the totals job materializes the
    // post-shuffle cache every later consumer uses. If the sampling or
    // the totals job throws, both caches are released before rethrow.
    val pIn = withVals.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (p, totRows) = try {
      val sorted = (if (partitions > 0)
          pIn.repartitionByRange(partitions, order)
        else pIn.repartitionByRange(order))
        .sortWithinPartitions(order)
        .withColumn("__pid", spark_partition_id())
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // ONE job: per-partition totals (materializes the shared cache);
      // exclusive prefix offsets and grand totals fall out driver-side
      val totals = values.indices.map(i => sum(col(s"__v$i")).as(s"__t$i"))
      val rows = try sorted.groupBy("__pid")
        .agg(totals.head, totals.tail: _*).collect()
        .map(r => r.getInt(0) -> values.indices.map(i =>
          if (r.isNullAt(i + 1)) 0L else r.getLong(i + 1)))
        .sortBy(_._1)
      catch { case t: Throwable => sorted.unpersist(); throw t }
      (sorted, rows)
    } finally pIn.unpersist()
    val grand = values.indices.map(i => totRows.map(_._2(i)).sum)
    // exclusive running offsets in pid order
    var acc = values.indices.map(_ => 0L).toIndexedSeq
    val baseRows = totRows.map { case (pid, ts) =>
      val row = org.apache.spark.sql.Row.fromSeq(pid +: acc)
      acc = acc.indices.map(i => acc(i) + ts(i)).toIndexedSeq
      row
    }
    val baseSchema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("__pid",
        org.apache.spark.sql.types.IntegerType) +:
      values.indices.map(i => org.apache.spark.sql.types.StructField(
        s"__b$i", org.apache.spark.sql.types.LongType)))
    val bases = df.sparkSession.createDataFrame(
      java.util.Arrays.asList(baseRows: _*), baseSchema)
    val w = Window.partitionBy(col("__pid")).orderBy(order)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val out = values.zipWithIndex
      .foldLeft(p.join(broadcast(bases), Seq("__pid"))) {
        case (d, ((name, _), i)) =>
          d.withColumn(name,
            col(s"__b$i") + sum(col(s"__v$i")).over(w) - col(s"__v$i"))
      }
      .drop("__pid" +: (vCols ++ bCols): _*)
    (out, () => { p.unpersist(); () }, grand)
  }

  /** Pack the corpus token stream (docs laid end-to-end in `id` order)
    * into `seqLen`-token sequences. Output: one row per (sequence,
    * document) overlap — seq_id, doc_id, tok_from/tok_to (the doc's
    * token span [from, to) inside that sequence) — i.e. the assignment
    * manifest a sequence-building writer consumes. Short docs share a
    * sequence; docs longer than seqLen span several. The only wide ops
    * are [[orderedCumsum]]'s range shuffle and the per-doc explode
    * into its (usually 1-2) overlapping sequences — no corpus-sized
    * window, no driver data. Deterministic given the id order, and
    * fully replayable as SQL. */
  def packSequences(df: DataFrame, id: Column, text: Column,
                    seqLen: Int, partitions: Int = 32): DataFrame = {
    require(seqLen >= 1, s"need seqLen >= 1, got $seqLen")
    val n = size(graft.functions.TextFunctions.tokens(text))
    val withN = df.select(id.as("doc_id"), n.as("n_tok"))
      .filter(col("n_tok") > 0)
    // SQL `div` keeps the arithmetic in longs: corpus-scale token
    // offsets can exceed the double-exact integer range
    orderedCumsum(withN, col("doc_id"), col("n_tok"), partitions)
      .withColumn("seq_id", explode(sequence(
        expr(s"offset div $seqLen"),
        expr(s"(offset + n_tok - 1) div $seqLen"))))
      .select(col("seq_id"), col("doc_id"),
        greatest(lit(0L), col("seq_id") * seqLen - col("offset"))
          .as("tok_from"),
        least(col("n_tok"),
          (col("seq_id") + 1) * seqLen - col("offset")).as("tok_to"))
  }

  /** Length-bucketed batch manifest — the padding-minimizing batcher:
    * docs are grouped into token-length buckets (bucket = n_tok rounded
    * up to a multiple of `bucketWidth`), ordered by id within their
    * bucket, and cut into `batchSize`-doc batches, so every batch pads
    * to its bucket length instead of the corpus max. Output: one row
    * per doc — (bucket, batch, slot, doc_id, n_tok, pad), where pad is
    * the per-doc padding cost the bucketing bought down.
    *
    * The within-bucket rank is NOT a `Window.partitionBy(bucket)` —
    * with ~maxLen/bucketWidth distinct buckets that window would
    * collapse the corpus onto a handful of tasks. Instead the rank is
    * the [[orderedCumsum]] distributed prefix sum over the total order
    * (bucket, doc_id), re-based per bucket by subtracting the bucket's
    * first position (a bucket-count-sized aggregate, broadcast back).
    * Every stage is distributed; the only driver state is
    * orderedCumsum's O(partitions) totals. Deterministic given ids,
    * and fully replayable as SQL (q89). */
  def lengthBucketBatches(df: DataFrame, id: Column, text: Column,
                          bucketWidth: Int, batchSize: Int,
                          partitions: Int = 32): DataFrame = {
    require(bucketWidth >= 1, s"need bucketWidth >= 1, got $bucketWidth")
    require(batchSize >= 1, s"need batchSize >= 1, got $batchSize")
    val n = size(graft.functions.TextFunctions.tokens(text)).cast("long")
    val withN = df.select(id.as("doc_id"), n.as("n_tok"))
      .filter(col("n_tok") > 0)
      .withColumn("bucket",
        expr(s"((n_tok + ${bucketWidth - 1}) div $bucketWidth)") *
          bucketWidth)
    val pos = orderedCumsum(withN, struct(col("bucket"), col("doc_id")),
      lit(1L), partitions, offsetName = "__pos")
    // first global position of each bucket — O(#buckets) rows, broadcast
    val starts = pos.groupBy("bucket").agg(min(col("__pos")).as("__b0"))
    pos.join(broadcast(starts), "bucket")
      .withColumn("__rank", col("__pos") - col("__b0"))
      .select(col("bucket"),
        expr(s"__rank div $batchSize").as("batch"),
        (col("__rank") % batchSize).as("slot"),
        col("doc_id"), col("n_tok"),
        (col("bucket") - col("n_tok")).as("pad"))
  }

  /** Deterministic global corpus shuffle → balanced shard manifest:
    * order the corpus by a seeded id hash ([[Sampling.idHash]] — pure
    * integer, engine-portable) and deal positions round-robin into
    * `numShards` shards, so shard sizes differ by at most one row and
    * a shard's contents are a pseudo-random, *reproducible* sample of
    * the corpus — the "shuffle once, shard for the trainer" step in
    * front of sequential-read training loops. Output: (doc_id, shard,
    * pos_in_shard); a writer partitionBy(shard) + sortWithinPartitions
    * (pos_in_shard) materializes the physical layout.
    *
    * The global order is the [[orderedCumsum]] range-partitioned
    * prefix sum (order key (hash, doc_id) — the id tie-break makes it
    * total even on hash collisions), never a single-task
    * `row_number() OVER (ORDER BY ...)`. Round-robin assignment needs
    * no corpus count and is replayable as SQL (q90). */
  def shuffleShards(df: DataFrame, id: Column, numShards: Int,
                    seed: Long = 0L, partitions: Int = 32): DataFrame =
    orderedShards(df, id, Sampling.idHash(id, seed), numShards,
      partitions)

  /** Shard manifest over an ARBITRARY total order — [[shuffleShards]]
    * is this with the deterministic hash as the order; a curriculum
    * trainer passes a difficulty/quality score instead, so the
    * round-robin deal gives every shard the same difficulty PROFILE
    * (each shard gets every numShards-th doc of the sorted stream)
    * while `pos_in_shard` preserves the easy-to-hard progression
    * inside each shard. Ties in `orderCol` break on id (total order);
    * same distributed prefix-sum shape as [[orderedCumsum]]. */
  def orderedShards(df: DataFrame, id: Column, orderCol: Column,
                    numShards: Int, partitions: Int = 32): DataFrame = {
    require(numShards >= 1, s"need numShards >= 1, got $numShards")
    val keyed = df.select(id.as("doc_id"), orderCol.as("__o"))
    val pos = orderedCumsum(keyed, struct(col("__o"), col("doc_id")),
      lit(1L), partitions, offsetName = "__pos")
    pos.select(col("doc_id"),
      (col("__pos") % numShards).as("shard"),
      expr(s"__pos div $numShards").as("pos_in_shard"))
  }

  /** T5/UL2-style span-corruption manifest: for each document,
    * deterministic non-overlapping mask spans covering ≈
    * `maskNum/maskDen` of its tokens in `spanLen`-token runs. The
    * document is cut into one equal stratum per span and the span
    * lands at a [[graft.ops.Sampling.idHash]]-derived offset inside
    * its stratum — non-overlap by construction, every position
    * integer arithmetic, so a SQL oracle replays the exact spans (the
    * paper's i.i.d. span sampling needs a rejection loop an oracle
    * can't replay; stratified placement keeps the same expected
    * coverage and spacing statistics for training purposes).
    *
    * nSpans = (n·maskNum) div (maskDen·spanLen), clamped so a stratum
    * always fits its span; docs too short for one span emit nothing.
    * Output: (id, span_idx, start_tok, end_tok), end exclusive, token
    * positions 0-based over the whitespace tokenization.
    *
    * Scale shape: pure per-row expressions + one explode — no
    * shuffle, no state; composes with [[packSequences]] downstream. */
  def spanMaskManifest(df: DataFrame, id: Column, nTokens: Column,
                       spanLen: Int, maskNum: Int, maskDen: Int,
                       seed: Long = 0L): DataFrame = {
    require(spanLen >= 1, s"spanLen >= 1, got $spanLen")
    require(maskNum > 0 && maskDen > 0 && maskNum <= maskDen,
      s"mask fraction must be in (0,1], got $maskNum/$maskDen")
    val base = df.select(id.as("id"), nTokens.as("n"))
      .withColumn("n_spans",
        least(expr(s"(n * $maskNum) div (${maskDen.toLong * spanLen})"),
              expr(s"n div $spanLen")))
      .filter(col("n_spans") >= 1)
      .withColumn("stratum", expr("n div n_spans"))
    base.select(col("id"), col("stratum"),
        explode(expr("sequence(0, n_spans - 1)")).as("span_idx"))
      .select(col("id"), col("span_idx"),
        (col("span_idx") * col("stratum") +
          Sampling.idHash(col("id") * 131L + col("span_idx"), seed) %
            (col("stratum") - spanLen + 1)).as("start_tok"))
      .withColumn("end_tok", col("start_tok") + spanLen)
  }
}
