package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.graftbridge
  .ParquetWriteBridge
import org.apache.spark.sql.types.StructType

/** Source/sink surface. The reference has NO I/O at all — it transforms
  * in-memory values (SURVEY.md §2.2: the only file ops live in a readme
  * generator script). On Spark the equivalent boundary is the
  * DataFrameReader/Writer; this object is the engine's thin, opinionated
  * wrapper over it: schema-explicit reads (never infer on a 100 TB scan —
  * inference is a full extra pass for CSV/JSON) and partition-aware
  * writes.
  *
  * Scale notes: parquet is the only format that gives column pruning +
  * predicate pushdown + page-level stats, so it is the canonical interior
  * format; CSV/JSON are edge formats (ingest/export only). `partitionBy`
  * on write gives partition pruning to every downstream reader; aim for
  * 100 MB-1 GB files (coalesce before writing many small partitions).
  */
object Sources {

  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** CSV with an explicit schema — no inference pass, malformed rows
    * tolerated (PERMISSIVE) rather than failing the job. Corrupt-record
    * capture is OPT-IN: appending `_corrupt_record` unconditionally would
    * silently widen every caller's schema, changing results for any
    * select-star consumer (e.g. a whole-row domain walk) between CSV and
    * parquet reads of the same data. With `captureCorrupt = true` the
    * column is appended when absent (drop it after triage). */
  def csv(spark: SparkSession, path: String, schema: StructType,
          header: Boolean = true, captureCorrupt: Boolean = false)
      : DataFrame =
    spark.read.schema(withCorruptIf(captureCorrupt, schema))
      .option("header", header.toString)
      .option("mode", "PERMISSIVE")
      .csv(path)

  /** JSON-lines with an explicit schema (same rationale — and same
    * opt-in corrupt-record contract — as [[csv]]). */
  def json(spark: SparkSession, path: String, schema: StructType,
           captureCorrupt: Boolean = false): DataFrame =
    spark.read.schema(withCorruptIf(captureCorrupt, schema))
      .option("mode", "PERMISSIVE")
      .json(path)

  private def withCorruptIf(capture: Boolean, schema: StructType)
      : StructType = {
    import org.apache.spark.sql.types.StringType
    if (!capture || schema.fieldNames.contains("_corrupt_record")) schema
    else schema.add("_corrupt_record", StringType, nullable = true)
  }

  def writeParquet(df: DataFrame, path: String,
                   partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(path)
  }

  /** ORC read — the other columnar interior format (column pruning +
    * predicate pushdown + stripe-level stats, same tier as parquet).
    * Supported so a corpus already materialized as ORC (Hive-era lakes)
    * reads without a conversion pass; parquet stays the canonical
    * format for new writes. */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String,
               partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .orc(path)
  }

  /** Morton (Z-order) interleave of two `bits`-bit non-negative ints:
    * bit i of `a` lands at position 2i, bit i of `b` at 2i+1 — points
    * close in BOTH dimensions get close z-values. Pure column
    * arithmetic (shifts and masks), no UDF. */
  def zValue(a: Column, b: Column, bits: Int = 16): Column = {
    import org.apache.spark.sql.functions._
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    (0 until bits).map { i =>
      val abit = shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i)
      val bbit = shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1)
      abit.bitwiseOR(bbit)
    }.reduce(_.bitwiseOR(_))
  }

  /** k-dimensional Morton interleave: bit i of column j lands at
    * position i·k + j — the same convention as [[zValue]], which this
    * generalizes (`zValueK(Seq(a, b), bits)` == `zValue(a, b, bits)`).
    * Total bits k·bits must fit a long. */
  def zValueK(cols: Seq[Column], bits: Int): Column = {
    import org.apache.spark.sql.functions._
    val k = cols.size
    require(k >= 2, s"zValueK needs >= 2 columns, got $k")
    require(bits >= 1 && k * bits <= 62,
      s"k*bits must be in [1,62], got $k*$bits")
    (for { i <- 0 until bits; (c, j) <- cols.zipWithIndex } yield
      shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), i * k + j)
    ).reduce(_.bitwiseOR(_))
  }

  /** Z-order clustered parquet write: rows are laid out along the
    * Morton curve of TWO numeric columns, so parquet min/max file
    * stats stay tight in BOTH dimensions — point/range filters on
    * either column (or both) skip most files, where a plain sort
    * keeps only its leading column tight and the second spans every
    * file. This is the OPTIMIZE ZORDER technique, built from a rank
    * scale (min/max → 2^bits buckets; 4 longs of driver state) + the
    * [[zValue]] interleave + one range shuffle with local sort —
    * exactly [[writeSortedParquet]]'s shape on a derived key.
    * Constant columns degrade gracefully (zero range → bucket 0 —
    * the curve collapses to a plain sort on the other dimension). */
  def writeZOrdered(df: DataFrame, path: String,
                    colA: String, colB: String,
                    partitions: Int, bits: Int = 16): Unit = {
    import org.apache.spark.sql.functions._
    val Array(minA, maxA, minB, maxB) =
      df.agg(min(col(colA)).cast("double"), max(col(colA)).cast("double"),
             min(col(colB)).cast("double"), max(col(colB)).cast("double"))
        .collect()(0).toSeq.map(v =>
          Option(v).map(_.asInstanceOf[Double]).getOrElse(0.0)).toArray
    val buckets = (1L << bits) - 1
    def scaled(c: String, lo: Double, hi: Double): Column =
      if (hi <= lo) lit(0L)
      else least(lit(buckets), floor(
        (col(c).cast("double") - lit(lo)) / lit(hi - lo) * buckets)
        .cast("long"))
    val z = zValue(scaled(colA, minA, maxA), scaled(colB, minB, maxB),
      bits)
    df.withColumn("__z", z)
      .repartitionByRange(partitions, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Small-file compaction: rewrite a parquet directory into files of
    * roughly `targetFileBytes` each. The 100 TB failure mode this
    * serves: streaming sinks and over-parallel writers leave millions
    * of KB-sized files, and every later scan pays a task + footer read
    * per file (a listing stampede long before any data moves). The
    * partition count comes from the LISTED byte size (compressed,
    * which is what downstream scans pay), floor-capped at 1 so an
    * empty/tiny input still writes. Returns (filesBefore, filesAfter).
    * Rewrite is to a NEW directory — compact-in-place via rename is a
    * separate, storage-specific concern. */
  def compactParquet(spark: SparkSession, inPath: String, outPath: String,
                     targetFileBytes: Long = 128L * 1024 * 1024)
      : (Int, Int) = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val fs = new org.apache.hadoop.fs.Path(inPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parquetFiles(p: String): Seq[org.apache.hadoop.fs.FileStatus] =
      filesUnder(fs, new org.apache.hadoop.fs.Path(p))
        .filter(_.getPath.getName.endsWith(".parquet"))
    val before = parquetFiles(inPath)
    val totalBytes = before.map(_.getLen).sum
    val nOut = math.max(1L,
      (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
    spark.read.parquet(inPath)
      .repartition(nOut)
      .write.mode("overwrite").parquet(outPath)
    (before.size, parquetFiles(outPath).size)
  }

  /** Raw media ingestion: one row per file — (path, modificationTime,
    * length, content: binary) via Spark's binaryFile source. This is
    * how image/audio/video assets ENTER the multimodal pipeline: read
    * the bytes here, derive an asset id from the path, and hand the
    * binary column to [[graft.ops.Multimodal]]'s partition-batch
    * decoders. `pathGlob` prunes at LISTING time (e.g. "*.bmp");
    * `maxBytes` guards the executor against a stray multi-GB file —
    * Spark refuses files over the limit rather than OOMing mid-scan
    * (filter or chunk oversized assets upstream). */
  def binaryFiles(spark: SparkSession, path: String,
                  pathGlob: String = "*",
                  maxBytes: Long = 512L * 1024 * 1024): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", pathGlob)
      .load(path)
      .filter(org.apache.spark.sql.functions.col("length") <= maxBytes)

  /** Line-oriented text ingestion: one row per line, column `value` —
    * the rawest corpus doorstep (logs, JSONL before schema, plain-text
    * dumps). Splittable, so a 100 TB directory parallelizes by block;
    * downstream parses with `from_json`/`split`/regex columns. */
  def textLines(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  /** Whole-file text ingestion: one row per FILE (`wholetext`) — for
    * document-per-file corpora where line splitting would shred the
    * unit of meaning. NOT splittable (a file = one task's row); keep
    * files document-sized, not shard-sized — a 10 GB file here is one
    * 10 GB row, which is an upstream layout bug, not a reader knob. */
  def wholeTextFiles(spark: SparkSession, path: String): DataFrame =
    spark.read.option("wholetext", "true").text(path)

  def writeCsv(df: DataFrame, path: String, header: Boolean = true): Unit =
    df.write.mode("overwrite").option("header", header.toString).csv(path)

  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Range-partitioned, sorted parquet write: globally ordered output
    * without a single-reducer global sort. `repartitionByRange` samples
    * the sort keys to cut balanced ranges (one shuffle), each partition
    * sorts locally, and files come out in disjoint, ordered key ranges —
    * so parquet min/max page stats let every downstream range/point
    * filter skip whole files. The write-side half of time-series and
    * id-ordered layouts at the 100 TB tier (the read side is free:
    * pushed filters + file skipping). */
  def writeSortedParquet(df: DataFrame, path: String,
                         sortCols: Seq[String],
                         partitions: Int): Unit = {
    import org.apache.spark.sql.functions.col
    df.repartitionByRange(partitions, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("overwrite").parquet(path)
  }

  /** Training-data delivery terminal: assign every document to a
    * deterministic shuffle shard ([[graft.ops.Packing.shuffleShards]] —
    * hash-ordered global positions, round-robin over shards, so shard
    * sizes differ by at most one doc), write one partition directory
    * per shard (with `pos_in_shard` preserved for deterministic
    * in-shard order), and return the shard MANIFEST — (shard, n_docs,
    * n_chars) — the sidecar a trainer's reader uses to size and resume
    * per shard. Cost: shuffleShards' range exchange, a doc_id join, one
    * shard-keyed exchange into the writer; the manifest is a tiny agg
    * on the same frame. `df` must carry `textCol` and a unique `id`. */
  def writeShards(df: DataFrame, id: org.apache.spark.sql.Column,
                  textCol: String, path: String, numShards: Int,
                  seed: Long = 0L): DataFrame = {
    import org.apache.spark.sql.functions._
    // shuffleShards' assignment, with the handle that drops its cache
    // once the write has run
    val (assigned, release) = graft.ops.Packing.orderedShardsReleasable(
      df, id, graft.ops.Sampling.idHash(id, seed), numShards)
    val data = df.withColumn("__id", id)
      .join(assigned.withColumnRenamed("doc_id", "__id"), "__id")
      .drop("__id")
    try data.repartition(numShards, col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(path)
    finally release()
    // manifest from the FILES, not the lineage: recomputing `data`
    // would re-run the whole assignment pipeline (double cost) and
    // describe a recomputation rather than what a reader will find
    df.sparkSession.read.parquet(path)
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
           sum(length(col(textCol))).as("n_chars"))
      .orderBy("shard")
  }

  /** Manifest-driven incremental ingest: read ONLY the parquet files
    * under `dir` that a previous run has not processed, and append the
    * newly-seen file paths to the manifest — file-granular
    * exactly-once batch ingest over a landing directory that upstream
    * keeps appending to (the batch half of the kappa setup; the
    * streaming half is `readStream` with its own file tracking). The
    * manifest is a small parquet table of processed paths; new files
    * are found by DIFFING the filesystem listing against it — one
    * list call, zero reads of already-processed data files.
    *
    * Returns the new-rows frame; call `commit()` on the result holder
    * AFTER the downstream write succeeds so a failed run retries the
    * same files (at-least-once per file until commit, exactly-once
    * after). */
  def incrementalParquet(spark: SparkSession, dir: String,
                         manifestPath: String): IncrementalBatch = {
    import spark.implicits._
    // filesystem LISTING, not a data scan: old files cost one
    // namenode/object-store list call, zero reads (flat landing dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val all = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.isFile)
      .map(_.getPath.toString)
      .filter(p => p.endsWith(".parquet") &&
        !p.contains("_SUCCESS"))
    // Manifest existence through the SAME Hadoop filesystem that reads
    // and writes it — a java.io.File check is always false on HDFS/S3
    // and would silently re-ingest everything on exactly the
    // deployments the listing comment above is about. The new-file
    // diff is a distributed ANTI-JOIN against the manifest frame, not
    // a driver Set: a years-old landing dir has millions of processed
    // paths, and only the fresh sliver (bounded by one batch's
    // arrivals) ever comes back to the driver.
    val manifestFs = new org.apache.hadoop.fs.Path(manifestPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasManifest =
      manifestFs.exists(new org.apache.hadoop.fs.Path(manifestPath))
    val listing = all.toSeq.toDF("file_path")
    val fresh: Seq[String] =
      (if (hasManifest)
         listing.join(spark.read.parquet(manifestPath)
             .select("file_path"),
           Seq("file_path"), "left_anti")
       else listing)
        .as[String].collect().toSeq.sorted
    val rows =
      if (fresh.isEmpty)
        spark.read.parquet(dir).limit(0)
      else spark.read.parquet(fresh: _*)
    IncrementalBatch(rows, fresh, manifestPath, spark)
  }

  final case class IncrementalBatch(rows: org.apache.spark.sql.DataFrame,
                                    newFiles: Seq[String],
                                    manifestPath: String,
                                    spark: SparkSession) {
    /** Record the batch's files as processed — call after the
      * downstream write lands. */
    def commit(): Unit = {
      import spark.implicits._
      if (newFiles.nonEmpty)
        newFiles.toDF("file_path")
          .coalesce(1).write.mode("append").parquet(manifestPath)
    }
  }

  /** Write-audit-publish: stage the frame to a hidden sibling dir, run
    * the audit rules over WHAT WAS WRITTEN (the files a reader will
    * see, not the lineage that produced them), and only then move the
    * staging dir into place — readers never observe a half-written or
    * rule-violating table. On any violation the staging dir is removed
    * and the exception lists per-rule counts; the previous published
    * contents (if any) stay untouched. The rename is the publish
    * atom — single-filesystem moves are atomic on HDFS and local
    * disks; object stores substitute their own commit protocol.
    *
    * Swap protocol: the OLD published dir is renamed aside to a
    * `.prev-*` backup BEFORE staging renames in, and the backup is
    * deleted only after the new data is in place. If the publish
    * rename fails, the backup is renamed back — at no point are both
    * the previous contents and the new data deleted (a bare
    * delete-then-rename would lose both on a failed rename). The one
    * residual window — a crash between the two renames — leaves the
    * table briefly absent but fully recoverable from the `.prev-*`
    * dir; closing that too needs a metastore pointer swap or a table
    * format's atomic commit, out of scope for a plain-directory sink. */
  def writeAuditPublish(df: DataFrame, path: String,
                        rules: Seq[(String, org.apache.spark.sql.Column)])
      : Unit = {
    require(rules.nonEmpty, "write-audit-publish needs at least one rule")
    val spark = df.sparkSession
    val staging = new org.apache.hadoop.fs.Path(
      path + ".staging-" + java.util.UUID.randomUUID().toString.take(8))
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val backup = new org.apache.hadoop.fs.Path(
      path + ".prev-" + java.util.UUID.randomUUID().toString.take(8))
    df.write.mode("overwrite").parquet(staging.toString)
    try {
      val audit = graft.ops.Checks
        .ruleViolations(spark.read.parquet(staging.toString), rules)
        .collect().map(r => r.getString(0) -> r.getLong(1))
        .filter(_._2 > 0)
      if (audit.nonEmpty)
        throw new IllegalStateException(
          "audit failed, nothing published: " +
          audit.map { case (n, c) => s"$n=$c" }.mkString(", "))
      val hadOld = fs.exists(target)
      if (hadOld)
        require(fs.rename(target, backup),
          s"publish backup rename failed: $target -> $backup")
      try {
        require(fs.rename(staging, target),
          s"publish rename failed: $staging -> $target")
      } catch {
        case e: Throwable =>
          // restore the previous published contents before rethrowing;
          // the staging copy is reproducible from `df`, the published
          // table is not
          if (hadOld && !fs.exists(target)) fs.rename(backup, target)
          throw e
      }
      if (hadOld && fs.exists(backup)) fs.delete(backup, true)
    } finally {
      if (fs.exists(staging)) fs.delete(staging, true)
    }
  }

  /** Idempotent micro-batch writer for `writeStream.foreachBatch`: each
    * batch lands in its own `batch=<id>` subdir with a `_published`
    * marker written AFTER the data. Structured Streaming re-delivers a
    * batch (same batchId, same data) after a crash between sink write
    * and checkpoint commit — the marker check turns that at-least-once
    * re-delivery into exactly-once output, the standard recipe for
    * sinks without native transactions. Readers take only marked
    * batches. */
  def idempotentBatchWriter(path: String)
      : (org.apache.spark.sql.DataFrame, Long) => Unit = { (df, batchId) =>
    val target = new org.apache.hadoop.fs.Path(s"$path/batch=$batchId")
    val marker = new org.apache.hadoop.fs.Path(
      s"$path/batch=$batchId/_published")
    val fs = target.getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) {
      df.write.mode("overwrite").parquet(target.toString)
      fs.create(marker, true).close()
    }
  }

  /** Read back only the batches the idempotent writer fully published
    * (unmarked dirs are in-flight or crashed writes). */
  def readPublishedBatches(spark: SparkSession, path: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val published = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .map(_.getPath)
      .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p, "_published")))
      .map(_.toString)
    require(published.nonEmpty, s"no published batches under $path")
    spark.read.parquet(published.toSeq: _*)
  }

  /** Bucketed + sorted managed-table write: the co-located-join primitive.
    * Two tables bucketed the same way (same keys, same bucket count) join
    * or aggregate on those keys with NO shuffle — the single biggest win
    * for repeated fact-to-fact joins at the 100 TB tier, where a shuffle
    * of either side dominates the job. Bucket counts should divide evenly
    * into cluster parallelism; keep buckets in the 100 MB-1 GB range. */
  def writeBucketed(df: DataFrame, table: String, keys: Seq[String],
                    nBuckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(nBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)


  // ---- manifest-file sharded TABLE format (snapshots + pruning) ----

  /** A minimal Iceberg/Delta-STYLE table layout over the sharded
    * delivery format, with zero new dependencies. The table is a
    * sequence of immutable SNAPSHOTS: snapshot V's data lives under
    * `path/data-v<V>/shard=<s>/` and its manifest — one small parquet
    * under `path/_manifest/v<V>/` — lists every (data_dir, shard) the
    * snapshot contains with per-shard stats: row count plus MIN/MAX
    * of every requested stats column. Readers list snapshots from the
    * manifest directory (never by globbing data files), read the
    * manifest of the chosen version, and open ONLY the shard
    * directories a predicate can touch — the metadata-pruned scan
    * that makes a 100 TB table usable: a bounded-range query reads
    * manifest KB + the intersecting shards, not the table.
    *
    * INCREMENTAL by construction (r8 verdict task #1): because
    * manifest rows carry their own `data_dir`, an APPEND snapshot is
    * the parent's manifest rows verbatim plus new rows for the new
    * batch's shards — existing data files are NEVER rewritten, the
    * daily-ingest shape where manifest cost is O(shards) and data
    * cost is O(new batch). The manifest is always committed LAST, so
    * a crash between data write and manifest write leaves an orphan
    * data dir that no reader can ever see (write-audit-publish at
    * the table layer); [[shardedTableSinkBatch]] keys new rows by
    * `batch_id` to make streaming appends exactly-once under
    * foreachBatch replays.
    *
    * Shards are CONTIGUOUS RANGES of `orderCol` (ties broken by id —
    * the [[graft.ops.Packing.contiguousShards]] range sort, so no
    * single-task global sort), which is what makes min/max pruning
    * selective; a hash order degrades gracefully to "all shards
    * overlap" but never to a wrong answer. Old snapshots stay
    * readable after new writes (snapshot isolation for readers that
    * pinned a version) until [[expireShardedSnapshots]] reclaims
    * them.
    *
    * CONCURRENT WRITERS (r10): commits are optimistic. Data (and
    * tombstone) dirs carry a random token suffix so two in-flight
    * writers never collide on disk; the version number is claimed at
    * COMMIT time by an atomic create-if-absent of
    * `_manifest/.claim-v<N>` (O_EXCL locally, namenode-atomic on
    * HDFS), and only the claim winner renames its staged manifest
    * into `_manifest/v<N>`. A loser whose operation COMPOSES
    * (append / merge / delete — their new rows are independent of
    * the parent's) waits for v<N> to publish, re-resolves the parent
    * manifest, and retries at v<N+1>; compact and rewrite abort on
    * conflict (they rewrote state derived from a parent that just
    * changed). Claim files persist after publish (0-byte; expired
    * with their snapshots) — a claim with no published version marks
    * a crashed in-flight commit and blocks later writers until
    * removed, which the audit reports.
    *
    * `statsCols` name the columns whose per-leaf bounds the manifest
    * records. One type rule ([[exactStatsType]]): Byte, Short, Int
    * and Long columns get exact bounds from the part-file footers (a
    * partition column, from its directory name); every other type
    * records null bounds, which pruning treats as "keep". */
  def writeShardedTable(df: DataFrame, id: Column, orderCol: Column,
                        path: String, numShards: Int,
                        statsCols: Seq[String],
                        partitionCols: Seq[String] = Nil): Long =
    writeSnapshot(df, id, orderCol, path, numShards, statsCols,
      parent = NoParent, batchId = -1L, partitionCols = partitionCols)

  /** APPEND snapshot: new version = parent manifest rows + the new
    * batch's shards, zero existing data files touched (see
    * [[writeShardedTable]] object doc). The batch is range-sharded
    * WITHIN ITSELF — at 100 TB the parent's layout must not be
    * consulted, let alone rewritten, so overlapping batches simply
    * yield overlapping shard ranges and pruning stays a superset
    * guarantee. Fails loudly if the table does not exist or the
    * batch's columns differ from the table's (a reader unions
    * snapshots by name; a silent schema drift would poison every
    * later read). Returns the new version. */
  def appendShardedTable(df: DataFrame, id: Column, orderCol: Column,
                         path: String, numShards: Int,
                         statsCols: Seq[String],
                         batchId: Long = -1L,
                         allowNewColumns: Boolean = false): Long = {
    val spark = df.sparkSession
    val meta = resolveMeta(spark, path) // requires table exists
    val tableSchema = logicalHeadSchemaOf(spark, meta)
    val tableCols = tableSchema.fieldNames.toSet
    val batchCols = df.columns.toSet
    // SCHEMA EVOLUTION is opt-in and ADD-ONLY: with allowNewColumns
    // the batch may carry extra columns (readers null-fill them on
    // pre-evolution rows — the Iceberg add-column contract), but it
    // must still cover every existing column — silently dropping one
    // would null out history on every later read.
    if (allowNewColumns)
      require(tableCols.subsetOf(batchCols),
        s"appendShardedTable: batch is missing table column(s) " +
          s"${(tableCols -- batchCols).toSeq.sorted.mkString(",")} — " +
          s"evolution is add-only")
    else require(batchCols == tableCols,
      s"appendShardedTable: batch columns ${batchCols.toSeq.sorted
        .mkString(",")} != table columns ${tableCols.toSeq.sorted
        .mkString(",")} (pass allowNewColumns = true to add columns)")
    writeSnapshot(alignBatchTypes(df, tableSchema, "appendShardedTable"),
      id, orderCol, path, numShards, statsCols,
      parent = LatestParent, batchId = batchId, op = "append",
      meta = Some(meta))
  }

  /** The current physical schema authority: the NEWEST data dir —
    * after an add-only evolution an arbitrary head() could pick a
    * pre-evolution dir, and monotone type WIDENING (enforced by
    * [[alignBatchTypes]]) keeps the newest dir the widest. Column
    * names are translated through the rename history, so callers see
    * the LOGICAL schema. */
  private def shardedHeadSchema(spark: SparkSession, path: String)
      : StructType =
    logicalHeadSchemaOf(spark, resolveMeta(spark, path))

  /** TYPE WIDENING lattice (the Iceberg/parquet-safe promotions):
    * byte -> short -> int -> long and float -> double. */
  private def canWiden(from: org.apache.spark.sql.types.DataType,
                       to: org.apache.spark.sql.types.DataType)
      : Boolean = {
    import org.apache.spark.sql.types._
    val ints: Seq[DataType] =
      Seq(ByteType, ShortType, IntegerType, LongType)
    (ints.indexOf(from), ints.indexOf(to)) match {
      case (f, t) if f >= 0 && t >= 0 => f < t
      case _ => from == FloatType && to == DoubleType
    }
  }

  /** Enforce MONOTONE column types on the write side: for each column
    * the batch shares with the table, the batch's type must be equal,
    * strictly WIDER along [[canWiden]] (this write IS the widening —
    * the newest dir becomes the new authority and readers up-cast old
    * dirs), or strictly narrower (the batch is silently up-cast to
    * the table type, so a post-widening writer that still produces
    * ints can never flip the authority back down). Anything else —
    * string vs long, incompatible numerics — fails loudly: a reader
    * unions snapshots by name, and a silent type fork would poison
    * every later read. */
  private def alignBatchTypes(df: DataFrame, table: StructType,
                              opName: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.columns.foldLeft(df) { (d, c) =>
      table.fields.find(_.name == c) match {
        case None => d // a new column (add-only evolution)
        case Some(f) =>
          val bt = d.schema(c).dataType
          if (bt == f.dataType) d
          else if (canWiden(f.dataType, bt)) d // widen: batch wins
          else if (canWiden(bt, f.dataType))
            d.withColumn(c, col(c).cast(f.dataType)) // up-cast batch
          else throw new IllegalArgumentException(
            s"$opName: column $c is ${bt.simpleString} in the batch " +
              s"but ${f.dataType.simpleString} in the table — only " +
              "byte->short->int->long and float->double widening is " +
              "supported")
      }
    }
  }

  /** The exactly-once `foreachBatch` body for a streaming sharded-
    * table sink: creates the table on the first batch, appends
    * otherwise, and SKIPS a batch whose `batchId` is already in the
    * latest manifest — after a crash between foreachBatch attempts,
    * Structured Streaming replays the same (batchDf, batchId), and
    * the manifest-commit-last layout means a replayed batch either
    * never published (orphan data dir, invisible — append runs
    * again) or fully published (batch_id present — skip). Empty
    * batches are skipped too (a snapshot must be non-empty). Returns
    * the table's current version after the call. */
  def shardedTableSinkBatch(batch: DataFrame, batchId: Long,
                            id: Column, orderCol: Column, path: String,
                            numShards: Int,
                            statsCols: Seq[String]): Long = {
    val spark = batch.sparkSession
    val versions = shardedVersions(spark, path)
    if (versions.isEmpty) {
      if (batch.isEmpty) 0L
      else writeSnapshot(batch, id, orderCol, path, numShards,
        statsCols, parent = NoParent, batchId = batchId)
    } else if (committedBatchIds(spark, path).contains(batchId)) {
      versions.last
    } else if (batch.isEmpty) {
      versions.last
    } else {
      appendShardedTable(batch, id, orderCol, path, numShards,
        statsCols, batchId = batchId)
    }
  }

  /** Exactly-once `foreachBatch` body for a streaming UPSERT sink:
    * same replay contract as [[shardedTableSinkBatch]] (batch_id
    * already in the latest manifest → skip; orphan dirs invisible)
    * but each batch MERGES instead of appending — the CDC-consumer
    * shape where a key's latest value wins across batches, at
    * O(batch) cost per tick. First batch creates the table. */
  def shardedTableMergeSinkBatch(batch: DataFrame, batchId: Long,
                                 idName: String, orderCol: Column,
                                 path: String, numShards: Int,
                                 statsCols: Seq[String]): Long = {
    import org.apache.spark.sql.functions.col
    val spark = batch.sparkSession
    val versions = shardedVersions(spark, path)
    if (versions.isEmpty) {
      if (batch.isEmpty) 0L
      else {
        // the create path must enforce the same unique-key contract
        // the steady-state merge path does: a first batch with
        // duplicate keys would seed the "upsert" table with
        // duplicates that reads return until a later merge happens
        // to touch those keys
        val n = batch.count()
        val d = batch.select(col(idName)).distinct().count()
        require(d == n,
          s"shardedTableMergeSinkBatch: first batch has ${n - d} " +
            s"duplicate key(s) ($n rows, $d distinct) — upsert needs " +
            s"unique keys")
        writeSnapshot(batch, col(idName), orderCol, path, numShards,
          statsCols, parent = NoParent, batchId = batchId)
      }
    } else if (committedBatchIds(spark, path).contains(batchId)) {
      versions.last
    } else if (batch.isEmpty) {
      versions.last
    } else {
      mergeShardedTable(batch, idName, orderCol, path, numShards,
        statsCols, batchId = batchId)
    }
  }

  /** [[shardedTableSinkBatch]] plus bounded SELF-MAINTENANCE: after
    * the append, if the latest snapshot holds at least
    * `compactWhenSmallDirs` small data dirs (each ≤ `smallDirRows`
    * rows — the streaming drip), the tick folds them with
    * [[compactShardedTable]], and snapshots beyond `keepVersions`
    * are expired. A year of 5-minute ticks is ~100k versions and
    * ~100k small dirs if nobody compacts — this keeps the manifest
    * chain, the versions listing, and the per-read file count all
    * O(policy), not O(ticks), with no scheduled job to forget.
    * Exactly-once survives the maintenance: batch ids ride
    * compaction as ledger rows and expiry keeps the latest manifest
    * (the full commit log); a crash BETWEEN the append and the
    * maintenance just defers the fold to the replayed/next tick
    * (the replay skips the append and re-runs maintenance). */
  def shardedTableSinkBatchMaintained(batch: DataFrame, batchId: Long,
                                      id: Column, orderCol: Column,
                                      path: String, numShards: Int,
                                      statsCols: Seq[String],
                                      compactWhenSmallDirs: Int = 8,
                                      smallDirRows: Long = 1L << 20,
                                      keepVersions: Int = 16): Long = {
    import org.apache.spark.sql.functions.{col, sum}
    require(compactWhenSmallDirs >= 2 && keepVersions >= 1,
      s"maintained sink: compactWhenSmallDirs $compactWhenSmallDirs, " +
        s"keepVersions $keepVersions")
    val spark = batch.sparkSession
    shardedTableSinkBatch(batch, batchId, id, orderCol, path,
      numShards, statsCols)
    if (shardedVersions(spark, path).nonEmpty) {
      val nSmall = resolveMeta(spark, path).dataRows
        .groupBy(_.getAs[String]("data_dir"))
        .map(_._2.map(_.getAs[Long]("n_rows")).sum)
        .count(_ <= smallDirRows)
      if (nSmall >= compactWhenSmallDirs)
        compactShardedTable(spark, path, id, orderCol, numShards,
          statsCols, smallDirRows)
      expireShardedSnapshots(spark, path, keepVersions)
    }
    shardedVersions(spark, path).lastOption.getOrElse(0L)
  }

  /** One micro-batch of a VERSION-CURSOR CDC consumer (the streaming
    * read side of the table — Trigger.AvailableNow semantics over
    * the manifest chain). First call (no cursor file) delivers the
    * current table state as the initial load; later calls deliver
    * [[shardedTableInserts]] + [[shardedTableDeletedKeys]] for
    * (cursor, latest]. `commit()` AFTER the downstream write lands —
    * a crash before commit re-delivers the same window
    * (at-least-once per window; pair with a keyed/merge downstream
    * or the batch-id sink for end-to-end exactly-once). A consumer
    * that lags past snapshot expiry fails loudly on the missing
    * manifest — delete its cursor to re-bootstrap from a fresh
    * initial load. */
  def shardedTableChanges(spark: SparkSession, path: String,
                          cursorPath: String,
                          maxVersions: Int = Int.MaxValue)
      : ShardedCdcBatch = {
    import org.apache.spark.sql.functions.col
    val latest = shardedVersions(spark, path).last
    val cur = readCdcCursor(spark, cursorPath)
    // a MULTI-version window flattens op order (its deletes and
    // inserts arrive as two sets — a delete BETWEEN two merges of the
    // same key is indistinguishable from one before both); a consumer
    // replicating with last-writer-wins semantics caps the window at
    // one version ([[drainShardedTableChanges]] does)
    val to = cur.map(f => math.min(latest, f + maxVersions.toLong))
      .getOrElse(latest)
    cur match {
      case None =>
        // initial load: the table state AT `to` (not the raw dir
        // history — rewrites/compactions of already-expired origins
        // make per-version replay from v0 impossible by design)
        val m = resolveMeta(spark, path, Some(to))
        val name = m.delRows.headOption
          .map(r => logicalNameOf(r.getString(2), r.getLong(1),
            m.renames, to))
          .getOrElse("key")
        ShardedCdcBatch(
          readShardedTable(spark, path, version = Some(to))
            .drop("shard"),
          spark.range(0).select(col("id").as(name)),
          fromVersion = 0L, toVersion = to,
          cursorPath = cursorPath, spark = spark,
          hasInserts = m.dataRows.nonEmpty, hasDeletes = false)
      case Some(f) =>
        val (hasIns, hasDel) = cdcWindowFlags(spark, path, f, to)
        ShardedCdcBatch(
          if (f == to) shardedTableInserts(spark, path, to, to)
          else shardedTableInserts(spark, path, f, to),
          shardedTableDeletedKeys(spark, path, math.min(f, to), to),
          fromVersion = f, toVersion = to,
          cursorPath = cursorPath, spark = spark,
          hasInserts = hasIns, hasDeletes = hasDel)
    }
  }

  /** Exact window emptiness from the SAME per-version manifest walk
    * the CDC frames are built from, driver-side: a fresh data dir
    * always holds rows (empty snapshots refuse to commit), and a
    * fresh tombstone's key count is its manifest row's `n_rows` —
    * so `false` means the corresponding frame IS empty and `true`
    * means it is not, with zero Spark jobs. */
  private def cdcWindowFlags(spark: SparkSession, path: String,
                             from: Long, to: Long)
      : (Boolean, Boolean) = {
    if (from >= to) return (false, false)
    val metas = (from to to).map(v => v ->
      resolveMeta(spark, path, Some(v))).toMap
    val hasIns = (from + 1 to to).exists { w =>
      val prev = metas(w - 1).mfRows
        .map(_.getAs[String]("data_dir")).toSet
      metas(w).dataRows.exists(r =>
        Set("write", "append", "merge")(r.getAs[String]("op")) &&
          !prev(r.getAs[String]("data_dir")))
    }
    val hasDel = (from + 1 to to).exists { w =>
      val prev = metas(w - 1).mfRows
        .filter(_.getAs[String]("kind") == "delete")
        .map(_.getAs[String]("data_dir")).toSet
      metas(w).mfRows.exists(r =>
        r.getAs[String]("kind") == "delete" &&
          // null key count (foreign manifest): conservatively nonempty
          Option(r.getAs[Any]("n_rows"))
            .forall(_.asInstanceOf[Long] > 0L) &&
          !prev(r.getAs[String]("data_dir")))
    }
    (hasIns, hasDel)
  }

  /** Drain ALL pending change windows (the Trigger.AvailableNow
    * loop): deliver batches to `f` and advance the cursor after each
    * until the consumer is caught up. Returns the number of
    * non-empty windows delivered. New versions published WHILE
    * draining are picked up in the same call. */
  def drainShardedTableChanges(spark: SparkSession, path: String,
                               cursorPath: String)
                              (f: ShardedCdcBatch => Unit): Int = {
    var delivered = 0
    // one VERSION per window: preserves op order for replicating
    // consumers (apply deletes, then upsert inserts, per window)
    var batch = shardedTableChanges(spark, path, cursorPath,
      maxVersions = 1)
    while (!batch.isCaughtUp) {
      f(batch)
      batch.commit()
      delivered += 1
      batch = shardedTableChanges(spark, path, cursorPath,
        maxVersions = 1)
    }
    delivered
  }

  /** One CDC window: apply `inserts` then remove `deletedKeys` (a
    * merge shows up as delete+insert of the same key, so a keyed
    * downstream applies them as one upsert). `commit()` advances the
    * cursor by creating a `<cursorPath>.v<N>` MARKER file and only
    * then garbage-collecting older markers — the cursor is NEVER
    * absent mid-commit (a delete-then-rename scheme re-bootstraps on
    * a crash between the two, and the fresh initial load carries no
    * deletedKeys, so a replicating downstream would permanently
    * retain rows deleted in windows published after the lost cursor).
    * Readers take the max marker; a crash between create and GC just
    * leaves an extra older marker, which max() ignores.
    *
    * `hasInserts` / `hasDeletes` are MANIFEST-derived emptiness flags
    * (zero Spark jobs, r14): for an incremental window they are exact
    * — a consumer's per-window `frame.isEmpty` probe (one small job
    * each, times every window) folds into driver metadata. For the
    * INITIAL load `hasInserts` is conservative (true iff any live
    * data dir exists; an all-tombstoned table can still load empty). */
  final case class ShardedCdcBatch(inserts: DataFrame,
                                   deletedKeys: DataFrame,
                                   fromVersion: Long, toVersion: Long,
                                   cursorPath: String,
                                   spark: SparkSession,
                                   hasInserts: Boolean = true,
                                   hasDeletes: Boolean = true) {
    def isCaughtUp: Boolean = fromVersion == toVersion
    def commit(): Unit = {
      val p = new org.apache.hadoop.fs.Path(cursorPath)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val mark = new org.apache.hadoop.fs.Path(
        s"$cursorPath.v$toVersion")
      val out = fs.create(mark, true)
      out.write(toVersion.toString.getBytes("UTF-8"))
      out.close()
      // GC strictly-older markers and any legacy single-file cursor —
      // best-effort: leftovers only cost a few extra list entries
      val dir = mark.getParent
      val prefix = p.getName + ".v"
      fs.listStatus(dir).map(_.getPath).foreach { q =>
        val n = q.getName
        if (n.startsWith(prefix) &&
            scala.util.Try(n.stripPrefix(prefix).toLong)
              .toOption.exists(_ < toVersion))
          fs.delete(q, false)
      }
      if (fs.exists(p)) fs.delete(p, false)
    }
  }

  private def readCdcCursor(spark: SparkSession,
                            cursorPath: String): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(cursorPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = p.getParent
    val prefix = p.getName + ".v"
    val marks =
      if (dir == null || !fs.exists(dir)) Array.empty[Long]
      else fs.listStatus(dir).map(_.getPath.getName)
        .filter(_.startsWith(prefix))
        .flatMap(n => scala.util.Try(
          n.stripPrefix(prefix).toLong).toOption)
    if (marks.nonEmpty) Some(marks.max)
    else if (!fs.exists(p)) None
    else {
      // legacy single-file cursor from pre-marker consumers
      val in = fs.open(p)
      try {
        val buf = new Array[Byte](64)
        val n = in.read(buf)
        Some(new String(buf, 0, n, "UTF-8").trim.toLong)
      } finally in.close()
    }
  }

  /** Build a BLOOM-FILTER SIDECAR over `colName` for the latest
    * snapshot: per (data_dir, shard), an m-bit bloom stored as sparse
    * (word_idx, word_bits) rows under `path/_bloom/v<V>/<colName>`.
    * Built relationally — explode k hash positions per row, one
    * bit_or aggregation — so the build is a single shuffle of
    * O(rows × k) positions, never a driver-side bitset; the sidecar
    * itself is metadata-scale (≤ bits/64 longs per shard, sparse).
    * [[readShardedTablePointLookup]] then answers point predicates on
    * a NON-order column (where min/max stats prune nothing) by
    * opening only the shards whose bloom matches. Shards appended
    * AFTER the build are not covered and stay un-pruned (the
    * index-lags-ingest contract — graceful, never wrong); false
    * positives cost an extra shard read, false negatives cannot
    * happen. Null values are not indexed — point-look nulls up with
    * an isNull scan instead. Returns the build version. */
  def buildShardedBloom(spark: SparkSession, path: String,
                        colName: String, bits: Int = 1 << 20,
                        k: Int = 4): Long = {
    import org.apache.spark.sql.functions._
    require(Integer.bitCount(bits) == 1 && bits >= 64,
      s"bits must be a power of two >= 64, got $bits")
    require(k >= 1 && k <= 8, s"k must be in [1,8], got $k")
    val meta = resolveMeta(spark, path)
    val version = meta.version
    // the NEWEST dir carries every table column (evolution is
    // add-only) — it is the type authority; a dir written BEFORE the
    // column was added lacks it and contributes null-filled rows,
    // which the bloom skips (nulls are not indexed, per the read
    // contract). The head types keep build and probe hashing
    // identical on evolved and non-evolved dirs alike. `colName` is
    // the LOGICAL name at build time; the scan maps it onto whatever
    // physical name each dir wrote.
    require(logicalHeadSchemaOf(spark, meta).fieldNames.contains(colName),
      s"buildShardedBloom: column $colName not in table at $path")
    // the raw dir contents — tombstones are not applied: a bloom is a
    // superset index per (data_dir, shard)
    val values = scanLeaves(spark, meta, meta.dataRows.map(scanRow),
        withDir = true)
      .select(col("__dir").as("data_dir"),
        col("shard").cast("long").as("shard"), col(colName).as("__v"))
    val bloom = values.filter(col("__v").isNotNull)
      .select(col("data_dir"), col("shard"),
        explode(array((0 until k).map(i =>
          pmod(hash(col("__v"), lit(i)).cast("long"), lit(bits.toLong)))
          : _*)).as("__pos"))
      .withColumn("word_idx", expr("__pos div 64"))
      .withColumn("__mask", expr("shiftleft(1L, cast(__pos % 64 as int))"))
      .groupBy(col("data_dir"), col("shard"), col("word_idx"))
      .agg(expr("bit_or(__mask)").as("word_bits"))
      .withColumn("bits", lit(bits))
      .withColumn("k", lit(k))
    bloom.coalesce(1).write.mode("overwrite")
      .parquet(s"$path/_bloom/v$version/$colName")
    version
  }

  /** Point lookup via the bloom sidecar: open only the shards whose
    * bloom admits `value` (plus any shard appended after the newest
    * build, which the sidecar cannot speak for). The caller still
    * applies the exact predicate — bloom pruning is the same
    * superset guarantee as stats pruning, just for equality on a
    * column the range layout keeps untight. Driver state: k probe
    * positions + the matching sidecar rows (≤ shards × k). */
  def readShardedTablePointLookup(spark: SparkSession, path: String,
                                  colName: String, value: Column)
      : DataFrame = {
    import org.apache.spark.sql.functions._
    val tmeta = resolveMeta(spark, path)
    val (bv, covered) = newestBloomBuild(spark, path, colName)
    val bloom = spark.read.parquet(s"$path/_bloom/v$bv/$colName")
    val meta = bloom.select("bits", "k").head()
    val (bits, k) = (meta.getInt(0), meta.getInt(1))
    // hash the probe value EXACTLY as the build hashed the column:
    // cast to the table column's LOGICAL type first (a long literal
    // probing an int column would hash differently)
    val dt = logicalHeadSchemaOf(spark, tmeta)(colName).dataType
    val positions = spark.range(1).select(
        explode(array((0 until k).map(i =>
          pmod(hash(value.cast(dt), lit(i)).cast("long"),
            lit(bits.toLong))): _*)).as("p"))
      .collect().map(_.getLong(0)).distinct
    val probeWords = positions.groupBy(_ / 64).map { case (w, ps) =>
      w -> ps.map(p => 1L << (p % 64)).reduce(_ | _) }
    val hits = bloom
      .filter(col("word_idx").isin(probeWords.keys.toSeq: _*))
      .select("data_dir", "shard", "word_idx", "word_bits").collect()
      .groupBy(r => (r.getString(0), r.getLong(1)))
    val passing: Set[(String, Long)] = hits.filter { case (_, rs) =>
      probeWords.forall { case (w, m) =>
        rs.exists(r => r.getLong(2) == w && (r.getLong(3) & m) == m) }
    }.keySet.toSet
    val rows = tmeta.dataRows
      .map(r => org.apache.spark.sql.Row(r.getAs[String]("data_dir"),
        r.getAs[String]("leaf"), r.getAs[Long]("seq"),
        r.getAs[Long]("shard")))
      .filter { r =>
        val pair = (r.getString(0), r.getLong(3))
        !covered(pair) || passing(pair)
      }
    readManifestShards(spark, tmeta, rows)
  }

  /** Exactly-once DEDUPLICATING ingest sink: each tick keeps one row
    * per `keyName` (the min-`idName` row within the batch) and
    * appends only the rows whose key the table has never seen — the
    * dedup-on-ingest shape of a training-data pipeline, where the
    * corpus table must stay duplicate-free WHILE it grows rather
    * than via periodic global dedup passes. Cross-tick screening is
    * one anti-join against the table's distinct key column (a thin
    * columnar scan; at the 100 TB tier pair it with
    * [[buildShardedBloom]] on the key so the anti-join's build side
    * reads only candidate shards). Replays are exactly-once through
    * [[shardedTableSinkBatch]]'s batch-id check — a replayed tick is
    * skipped before any screening job runs. */
  def shardedTableDedupSinkBatch(batch: DataFrame, batchId: Long,
                                 keyName: String, idName: String,
                                 orderCol: Column, path: String,
                                 numShards: Int,
                                 statsCols: Seq[String]): Long = {
    import org.apache.spark.sql.functions._
    val spark = batch.sparkSession
    // same clash contract as the writer's reserved columns: these two
    // are the screen's join scaffolding and would be silently eaten
    val clash = batch.columns.intersect(Seq("__k", "__keep"))
    require(clash.isEmpty, s"shardedTableDedupSinkBatch: reserved " +
      s"column(s) ${clash.mkString(", ")} already exist in the batch")
    val versions = shardedVersions(spark, path)
    if (versions.nonEmpty &&
        committedBatchIds(spark, path).contains(batchId))
      return versions.last
    // within-batch keep-first: one row per key, ties to the min id
    val kept = batch.groupBy(col(keyName).as("__k"))
      .agg(min(col(idName)).as("__keep"))
    val within = batch.join(kept,
        col(keyName) === col("__k") && col(idName) === col("__keep"))
      .drop("__k", "__keep")
    val novel =
      if (versions.isEmpty) within
      else {
        // the documented bloom pairing, now real: when a sidecar
        // exists for the key column, the seen-keys side reads ONLY
        // the shards whose bloom admits one of the batch's keys
        // (plus post-build uncovered shards) — at the 100 TB tier the
        // screen stops being a table-wide key scan. No sidecar (or a
        // stale one) degrades to the thin full scan, never to a
        // missed duplicate: the lookup's uncovered-shard contract.
        val bloomDir = new org.apache.hadoop.fs.Path(s"$path/_bloom")
        val fs = bloomDir.getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        val hasBloom = fs.exists(bloomDir) &&
          fs.listStatus(bloomDir).exists(st =>
            fs.exists(new org.apache.hadoop.fs.Path(
              s"${st.getPath}/$keyName")))
        val seen =
          if (hasBloom)
            readShardedTableKeysLookup(spark, path, keyName,
              within.select(col(keyName)))
              .select(col(keyName).as("__k")).distinct()
          else readShardedTable(spark, path)
            .select(col(keyName).as("__k")).distinct()
        within.join(seen, col(keyName) === col("__k"), "left_anti")
      }
    shardedTableSinkBatch(novel, batchId, col(idName), orderCol, path,
      numShards, statsCols)
  }

  /** [[shardedTableDedupSinkBatch]] with the
    * [[shardedTableSinkBatchMaintained]] policy AND periodic bloom
    * refresh: every `bloomEveryVersions` published versions the key
    * column's sidecar is rebuilt, so the dedup screen keeps reading
    * only candidate shards as the table grows (a stale sidecar only
    * costs un-pruned reads of the post-build tail). The complete
    * self-tending ingest loop: screen, append, fold, expire,
    * re-index — all O(policy) per tick. */
  def shardedTableDedupSinkBatchMaintained(
      batch: DataFrame, batchId: Long, keyName: String,
      idName: String, orderCol: Column, path: String, numShards: Int,
      statsCols: Seq[String], compactWhenSmallDirs: Int = 8,
      smallDirRows: Long = 1L << 20, keepVersions: Int = 16,
      bloomEveryVersions: Int = 0, bloomBits: Int = 1 << 20,
      bloomK: Int = 4): Long = {
    import org.apache.spark.sql.functions.{col, sum}
    val spark = batch.sparkSession
    shardedTableDedupSinkBatch(batch, batchId, keyName, idName,
      orderCol, path, numShards, statsCols)
    if (shardedVersions(spark, path).nonEmpty) {
      val nSmall = resolveMeta(spark, path).dataRows
        .groupBy(_.getAs[String]("data_dir"))
        .map(_._2.map(_.getAs[Long]("n_rows")).sum)
        .count(_ <= smallDirRows)
      if (nSmall >= compactWhenSmallDirs)
        compactShardedTable(spark, path, col(idName), orderCol,
          numShards, statsCols, smallDirRows)
      expireShardedSnapshots(spark, path, keepVersions)
      val v = shardedVersions(spark, path).last
      if (bloomEveryVersions > 0 && v % bloomEveryVersions == 0)
        buildShardedBloom(spark, path, keyName, bloomBits, bloomK)
    }
    shardedVersions(spark, path).lastOption.getOrElse(0L)
  }

  /** Integrity AUDIT: recompute each data shard's row count and
    * stats bounds from the files and compare against the manifest;
    * verify every tombstone file is readable under its declared key
    * column; list orphan on-disk dirs no live manifest references.
    * Returns a findings frame (check, data_dir, shard, detail) —
    * empty means clean. O(table) by design (it READS the data to
    * check the metadata); run it like `fsck`, not per query. The
    * stats check is CONTAINMENT (manifest bounds must cover the
    * data), which is the reader's actual correctness bar — pruning
    * is a superset guarantee. */
  def auditShardedTable(spark: SparkSession, path: String,
                        version: Option[Long] = None,
                        perDirPlanning: Boolean = false): DataFrame = {
    // manifest fetched BEFORE the functions._ wildcard import, which
    // would shadow the `version` param
    val mf0 = shardedManifest(spark, path, version)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val mf = normalizeManifest(mf0)
    val statCols = mf.columns.filter(_.startsWith("min_")).map(_.drop(4))
    val dataRows0 = mf.filter(col("kind") === "data")
    // the recompute is (data_dir, shard)-grained; a PARTITIONED
    // manifest keeps one row per (dir, partition, shard) leaf, so
    // aggregate it to the same grain for the containment compare
    // (sum of counts, envelope of bounds — containment still the bar)
    val dataRows = dataRows0
      .groupBy("data_dir", "shard")
      .agg(sum(col("n_rows")).as("n_rows"),
        statCols.flatMap(c => Seq(
          min(col(s"min_$c")).as(s"min_$c"),
          max(col(s"max_$c")).as(s"max_$c"))): _*)
    val dataPairs = dataRows0.select("data_dir", "shard", "leaf")
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getString(2)))
    // the stats columns whose bounds the audit can recompute, and the
    // rest: a stats column ADDED by schema evolution does not exist in
    // pre-evolution dirs, and one outside [[exactStatsType]] has no
    // recorded bounds to check. Both get null actual bounds (the
    // containment filter is null-tolerant).
    def recomputable(f0: DataFrame): (Seq[String], Seq[String]) =
      statCols.toSeq.partition(c => f0.schema.fields
        .exists(f => f.name == c && exactStatsType(f.dataType)))
    // per-dir recompute fallback; a dir that cannot even be opened is
    // itself a finding, not an audit crash — this path also names the
    // unreadable dir, which the one-job fast path cannot
    def slowPlan(): (Seq[DataFrame], Seq[(String, String)]) = dataPairs
      .groupBy(_._1).toSeq.sortBy(_._1)
      .foldLeft((Seq.empty[DataFrame], Seq.empty[(String, String)])) {
        case ((gs, bs), (dDir, rs)) =>
          try {
            val dirs = rs.map(r => s"$dDir/${r._3}").toSeq
            val f0 = spark.read.option("basePath", dDir)
              .parquet(dirs: _*)
            val (have, miss) = recomputable(f0)
            val aggs = Seq(count(lit(1)).as("a_rows")) ++
              have.flatMap(c => Seq(
                min(col(c)).cast("long").as(s"a_min_$c"),
                max(col(c)).cast("long").as(s"a_max_$c")))
            val f = miss.foldLeft(
                f0.groupBy(col("shard").cast("long").as("shard"))
                  .agg(aggs.head, aggs.tail: _*)
                  .withColumn("data_dir", lit(dDir))) { (g, c) =>
              g.withColumn(s"a_min_$c", lit(null).cast("long"))
                .withColumn(s"a_max_$c", lit(null).cast("long"))
            }
            (gs :+ f, bs)
          } catch { case scala.util.control.NonFatal(e) =>
            (gs, bs :+ (dDir, e.getClass.getSimpleName))
          }
      }
    // FAST planning (default): ONE read over every shard leaf with a
    // distributed mergeSchema footer pass — planning cost stops being
    // O(dirs) driver-side footer reads (the r9 watch item: a table
    // with thousands of appended dirs spent the audit in the driver
    // loop). Dir identity is recovered from the file path; schema
    // evolution null-fills via the merged schema. Falls back to the
    // per-dir loop when the one-shot read cannot even plan (corrupt
    // footer somewhere — the slow path then names the culprit dir).
    def fastPlan(): (Seq[DataFrame], Seq[(String, String)]) = {
      val leaves = dataPairs.map { case (d, _, l) => s"$d/$l" }
      val byBase = dataPairs.map(_._1).distinct
        .map(d => (d.split('/').last, d)).toSeq
      val f0 = spark.read.option("mergeSchema", "true")
        .parquet(scala.collection.immutable.ArraySeq
          .unsafeWrapArray(leaves): _*)
      val (have, miss) = recomputable(f0)
      val aggs = Seq(count(lit(1)).as("a_rows")) ++
        have.flatMap(c => Seq(
          min(col(c)).cast("long").as(s"a_min_$c"),
          max(col(c)).cast("long").as(s"a_max_$c")))
      // dir identity by its versioned NAME (partition segments can
      // sit between the dir and the shard leaf)
      val g = f0
        .withColumn("__base", regexp_extract(input_file_name(),
          "/(data-v[0-9]+[^/]*)/", 1))
        .withColumn("shard", regexp_extract(input_file_name(),
          "/shard=([0-9]+)/[^/]+$", 1).cast("long"))
        .groupBy(col("__base"), col("shard"))
        .agg(aggs.head, aggs.tail: _*)
      val act = miss.foldLeft(
          g.join(broadcast(byBase.toDF("__base", "data_dir")),
            "__base").drop("__base")) { (a, c) =>
        a.withColumn(s"a_min_$c", lit(null).cast("long"))
          .withColumn(s"a_max_$c", lit(null).cast("long"))
      }
      (Seq(act), Seq.empty)
    }
    val (goodFrames, badDirs) =
      if (perDirPlanning) slowPlan()
      else try fastPlan()
      catch { case scala.util.control.NonFatal(_) => slowPlan() }
    val actual =
      if (goodFrames.nonEmpty) goodFrames.reduce(_.unionByName(_))
      else statCols.foldLeft(spark.range(0).select(
          col("id").cast("string").as("data_dir"),
          col("id").as("shard"), col("id").as("a_rows"))) { (f, c) =>
        f.withColumn(s"a_min_$c", lit(null).cast("long"))
          .withColumn(s"a_max_$c", lit(null).cast("long"))
      }
    val dirBad =
      if (badDirs.isEmpty)
        spark.range(0).select(lit("x").as("check"),
          lit("x").as("data_dir"), col("id").as("shard"),
          lit("x").as("detail"))
      else badDirs.toDF("data_dir", "detail")
        .select(lit("data_dir_unreadable").as("check"), col("data_dir"),
          lit(-1L).as("shard"), col("detail"))
    val badSet = badDirs.map(_._1).toSet
    val joined = dataRows
      .filter(!col("data_dir").isin(badSet.toSeq: _*))
      .join(actual, Seq("data_dir", "shard"), "full")
    def s(c: Column): Column = coalesce(c.cast("string"), lit("null"))
    val countBad = joined
      .filter(col("n_rows").isNull || col("a_rows").isNull ||
        col("n_rows") =!= col("a_rows"))
      .select(lit("row_count_mismatch").as("check"), col("data_dir"),
        col("shard"), concat(lit("manifest="), s(col("n_rows")),
          lit(" actual="), s(col("a_rows"))).as("detail"))
    val statBad = statCols.map { c =>
      joined.filter(col(s"a_min_$c") < col(s"min_$c") ||
          col(s"a_max_$c") > col(s"max_$c"))
        .select(lit(s"stats_not_containing:$c").as("check"),
          col("data_dir"), col("shard"),
          concat(lit("manifest=["), s(col(s"min_$c")), lit(","),
            s(col(s"max_$c")), lit("] actual=["), s(col(s"a_min_$c")),
            lit(","), s(col(s"a_max_$c")), lit("]")).as("detail"))
    }.toSeq
    // tombstone readability: ONE read per (key column, dir layout)
    // over all its tombstone dirs; `count(col)` keeps the key column
    // in the scan's ReadSchema so its data pages are DECODED (a bare
    // count(*) prunes the column and is answered from footer row
    // counts — a tombstone with a corrupt data page but intact
    // footer would pass, r13 advice). Only a failure falls back to
    // the per-file loop that names the culprit dir. Grouped by dir
    // LAYOUT too: a merge tombstone references its partitioned data
    // dir (r14) while deleteFrom writes a flat key dir — one
    // multi-root read mixing both trips partition discovery.
    val delPairs = mf.filter(col("kind") === "delete")
      .select("data_dir", "del_col").collect()
      .map(r => (r.getString(0), r.getString(1)))
    def delBadSlow(pairs: Array[(String, String)]) = pairs.flatMap {
      case (dir, c) =>
        try {
          spark.read.parquet(dir).select(c)
            .agg(count(col(c))).collect(); None
        } catch { case scala.util.control.NonFatal(e) =>
          Some((dir, e.getClass.getSimpleName))
        }
    }
    val delBad = delPairs
      .groupBy(p => (p._2, p._1.split('/').last.startsWith("data-v")))
      .toSeq.flatMap {
      case ((c, _), pairs) =>
        try {
          spark.read.parquet(pairs.map(_._1).toIndexedSeq: _*)
            .select(c).agg(count(col(c))).collect()
          Array.empty[(String, String)]
        } catch { case scala.util.control.NonFatal(_) =>
          delBadSlow(pairs)
        }
    }
    val delBadDf =
      if (delBad.isEmpty)
        spark.range(0).select(lit("x").as("check"),
          lit("x").as("data_dir"), col("id").as("shard"),
          lit("x").as("detail"))
      else
        delBad.toSeq.toDF("data_dir", "detail")
          .select(lit("tombstone_unreadable").as("check"),
            col("data_dir"), lit(-1L).as("shard"), col("detail"))
    // orphans: on-disk dirs no LIVE manifest references (crashed
    // writes awaiting GC — informational, readers cannot see them)
    val live = shardedVersions(spark, path).flatMap(v =>
      resolveMeta(spark, path, Some(v)).mfRows
        .map(_.getAs[String]("data_dir").split('/').last)).toSet
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val orphans = fs.listStatus(root)
      .filter(s => s.isDirectory &&
        (s.getPath.getName.startsWith("data-v") ||
         s.getPath.getName.startsWith("del-v")))
      .map(_.getPath.getName).filterNot(live)
    val orphanDf =
      if (orphans.isEmpty)
        spark.range(0).select(lit("x").as("check"),
          lit("x").as("data_dir"), col("id").as("shard"),
          lit("x").as("detail"))
      else orphans.toSeq.toDF("data_dir")
        .select(lit("orphan_dir").as("check"), col("data_dir"),
          lit(-1L).as("shard"), lit("unreferenced by any live " +
            "manifest — GC candidate").as("detail"))
    // a claim file whose version never published marks an in-flight
    // or CRASHED commit — long-lived, it blocks every later writer
    // (publishVersion waits on it); removing the file unblocks the
    // table with no data loss (the orphan dir was never referenced)
    val lastPub = shardedVersions(spark, path).lastOption.getOrElse(0L)
    val staleClaims = fs
      .listStatus(new org.apache.hadoop.fs.Path(s"$path/_manifest"))
      .map(_.getPath.getName).filter(_.startsWith(".claim-v"))
      .map(_.stripPrefix(".claim-v").toLong).filter(_ > lastPub)
    val claimDf =
      if (staleClaims.isEmpty)
        spark.range(0).select(lit("x").as("check"),
          lit("x").as("data_dir"), col("id").as("shard"),
          lit("x").as("detail"))
      else staleClaims.toSeq.sorted.map(v => s".claim-v$v")
        .toDF("data_dir")
        .select(lit("unpublished_claim").as("check"), col("data_dir"),
          lit(-1L).as("shard"), lit("claimed version never " +
            "published — crashed commit blocks writers").as("detail"))
    (Seq(dirBad, countBad) ++ statBad ++
      Seq(delBadDf, orphanDf, claimDf))
      .reduce(_.unionByName(_))
  }

  /** MULTI-point lookup via the bloom sidecar: return the table rows
    * whose `colName` appears in `keys` (first column of the frame),
    * reading only the shards whose bloom admits at least one key —
    * the decontamination-against-a-corpus-table shape (is this eval
    * row's key anywhere in 100 TB?), where a layout-blind semi-join
    * would scan the table. Fully relational: the probe positions are
    * exploded per key, matched against the sidecar words, and a key
    * is a candidate for a shard only when ALL its probes hit — no
    * driver-side per-key loop, so `keys` can be millions of rows.
    * Shards appended after the newest build stay un-pruned. Unlike
    * [[readShardedTable]] this returns exactly the MATCHING rows
    * (the final semi-join is included). */
  def readShardedTableKeysLookup(spark: SparkSession, path: String,
                                 colName: String, keys: DataFrame)
      : DataFrame = {
    import org.apache.spark.sql.functions._
    val tmeta = resolveMeta(spark, path)
    val (bv, covered) = newestBloomBuild(spark, path, colName)
    val bloom = spark.read.parquet(s"$path/_bloom/v$bv/$colName")
    val meta = bloom.select("bits", "k").head()
    val (bits, k) = (meta.getInt(0), meta.getInt(1))
    val dt = logicalHeadSchemaOf(spark, tmeta)(colName).dataType
    val kk = keys.select(keys(keys.columns.head).cast(dt).as("__key"))
      .filter(col("__key").isNotNull).distinct()
    val pos = kk.select(col("__key"),
        explode(array((0 until k).map(i =>
          pmod(hash(col("__key"), lit(i)).cast("long"),
            lit(bits.toLong))): _*)).as("__pos"))
      .select(col("__key"), expr("__pos div 64").as("word_idx"),
        expr("shiftleft(1L, cast(__pos % 64 as int))").as("__mask"))
      .distinct()
    val need = pos.groupBy("__key").agg(count(lit(1)).as("__need"))
    val got = pos.join(bloom, Seq("word_idx"))
      .filter(col("word_bits").bitwiseAND(col("__mask")) ===
        col("__mask"))
      .groupBy(col("__key"), col("data_dir"), col("shard"))
      .agg(count(lit(1)).as("__got"))
    val candidates = got.join(need, "__key")
      .filter(col("__got") === col("__need"))
      .select("data_dir", "shard").distinct().collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val rows = tmeta.dataRows
      .map(r => org.apache.spark.sql.Row(r.getAs[String]("data_dir"),
        r.getAs[String]("leaf"), r.getAs[Long]("seq"),
        r.getAs[Long]("shard")))
      .filter { r =>
        val pair = (r.getString(0), r.getLong(3))
        !covered(pair) || candidates(pair)
      }
    val base = readManifestShards(spark, tmeta, rows)
    base.join(kk, base(colName) === kk("__key"), "left_semi")
  }

  /** Batch ids already published in the LATEST manifest (the append
    * chain carries every ancestor's rows forward, so the latest
    * manifest is the full commit log). Metadata-scale: O(shards). */
  def committedBatchIds(spark: SparkSession, path: String): Set[Long] =
    resolveMeta(spark, path).batchIds

  /** Newest bloom build for `colName`, paired with the (data_dir,
    * shard) set its snapshot's manifest covered. Prefers the newest
    * build whose snapshot version is STILL PUBLISHED; when every
    * build's snapshot has been expired (a pre-GC table —
    * [[expireShardedSnapshots]] now deletes bloom dirs with their
    * snapshots), the newest build is returned with an EMPTY covered
    * set, so the lookup degrades to a full read instead of crashing
    * on the missing manifest (the index-lags-ingest contract,
    * extended to index-outlives-snapshot). Fails loudly only when no
    * build for the column exists at all — that is a usage error. */
  private def newestBloomBuild(spark: SparkSession, path: String,
                               colName: String)
      : (Long, Set[(String, Long)]) = {
    import org.apache.spark.sql.functions.col
    val bloomRoot = new org.apache.hadoop.fs.Path(s"$path/_bloom")
    val fs = bloomRoot.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val builds =
      if (!fs.exists(bloomRoot)) Seq.empty
      else fs.listStatus(bloomRoot).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("v")).map(_.drop(1).toLong)
        .filter(v => fs.exists(new org.apache.hadoop.fs.Path(
          s"$path/_bloom/v$v/$colName"))).sorted
    require(builds.nonEmpty,
      s"no bloom sidecar for column $colName under $path — run " +
        s"buildShardedBloom first")
    val published = shardedVersions(spark, path).toSet
    val live = builds.filter(published.contains)
    val bv = live.lastOption.getOrElse(builds.last)
    val covered =
      if (!published.contains(bv)) Set.empty[(String, Long)]
      else resolveMeta(spark, path, Some(bv)).dataRows
        .map(r => (r.getAs[String]("data_dir"),
          r.getAs[Long]("shard"))).toSet
    (bv, covered)
  }

  /** How a snapshot composes with the manifest chain at commit time:
    * - [[NoParent]] — table creation: the manifest is the new rows
    *   alone; a commit conflict means a concurrent create → error.
    * - [[LatestParent]] — append/merge/delete: parent = whatever the
    *   latest manifest is WHEN THE COMMIT WINS; on conflict the
    *   writer re-resolves and retries, because its new rows are
    *   independent of the parent's contents.
    * - [[FixedParent]] — compact/rewrite: the caller derived these
    *   rows from a specific parent state; a conflict means that
    *   state changed under it → abort (re-run the maintenance op).
    *   The rows are normalized manifest rows (a [[ShardedMeta]]'s,
    *   plus [[ledgerRows]]). */
  private sealed trait ParentMode
  private case object NoParent extends ParentMode
  private case object LatestParent extends ParentMode
  private final case class FixedParent(rows: LocalManifest,
                                       baseVersion: Long)
    extends ParentMode

  /** Manifest rows held on the driver — a published manifest or a
    * piece of one. Manifests are metadata-scale (O(leaves)), so every
    * commit composes its rows here and [[publishVersion]] writes them
    * without a Spark job. */
  private[sources] final case class LocalManifest(
      schema: StructType, rows: Seq[org.apache.spark.sql.Row])

  /** `parts` folded with `unionByName(allowMissingColumns = true)` and
    * then `.na.fill(-1L, "batch_id")`, on the driver: columns keep the
    * order of their first appearance, names match under the session's
    * case rule, a piece that lacks a column contributes nulls, and a
    * null batch id becomes -1. A piece with no columns (a rewrite's
    * empty ledger) adds nothing. Every manifest column is a LONG or a
    * STRING in every piece, so there is no type to widen — a type
    * mismatch fails. */
  private def unionManifests(parts: Seq[LocalManifest]): LocalManifest = {
    import org.apache.spark.sql.types.StructField
    val same = org.apache.spark.sql.internal.SQLConf.get.resolver
    def find(fs: Seq[StructField], n: String) =
      fs.indexWhere(f => same(f.name, n))
    val pieces = parts.map(_.schema.fields.toSeq).filter(_.nonEmpty)
    val fields = pieces.reduce { (acc, next) =>
      acc.map { f =>
        val i = find(next, f.name)
        if (i < 0) f.copy(nullable = true)
        else {
          require(next(i).dataType == f.dataType,
            s"manifest column ${f.name}: ${f.dataType} vs ${next(i).dataType}")
          f.copy(nullable = f.nullable || next(i).nullable)
        }
      } ++ next.filter(g => find(acc, g.name) < 0)
        .map(_.copy(nullable = true))
    }
    val bid = find(fields, "batch_id")
    val schema = StructType(if (bid < 0) fields
      else fields.updated(bid, fields(bid).copy(nullable = false)))
    // rows carry the schema, as collected rows do (`getAs` by name)
    LocalManifest(schema, parts.flatMap { p =>
      val at = fields.map(f => find(p.schema.fields.toSeq, f.name))
      p.rows.map { r =>
        val vs = at.map(i => if (i < 0) null else r.get(i))
        new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
          (if (bid >= 0 && vs(bid) == null) vs.updated(bid, -1L)
           else vs).toArray, schema): org.apache.spark.sql.Row
      }
    })
  }

  /** The columns of a manifest row that describes no leaf: a
    * tombstone, or (with a `leaf`) a [[ledgerRows]] entry. */
  private val logRowSchema = {
    import org.apache.spark.sql.types.{LongType, StringType}
    new StructType().add("shard", LongType).add("n_rows", LongType)
      .add("data_dir", StringType).add("batch_id", LongType)
      .add("kind", StringType).add("seq", LongType).add("op", StringType)
      .add("del_col", StringType)
  }

  /** The one manifest row of a tombstone: `n` distinct keys of column
    * `idName` stored in `dir`, published at version `v`. */
  private def tombstoneRow(dir: String, n: Long, batchId: Long, v: Long,
                           op: String, idName: String): LocalManifest =
    LocalManifest(logRowSchema, Seq(org.apache.spark.sql.Row(
      -1L, n, dir, batchId, "delete", v, op, idName)))

  /** The ONE stats type rule: a stats column of this Spark type gets
    * exact manifest `min_/max_` bounds. Integral types only — parquet
    * int32/int64 column statistics are exact and the manifest stores
    * bounds as longs. Every other type (fractional, decimal, string,
    * date, timestamp, ...) records null bounds, which every reader,
    * the manifest aggregate view and the audit treat as "keep". The
    * writer, the audit's recompute and the connector's min/max
    * pushdown all ask this predicate. */
  private[sources] def exactStatsType(
      dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
  }

  /** Shared snapshot writer: range-shard `df`, write the new data
    * dir (and, for MERGE, the delete-key file) under a random-token
    * name no concurrent writer can collide with, then commit the
    * manifest (parent rows + new rows) LAST via the atomic
    * claim-and-publish protocol ([[publishVersion]]). Every manifest
    * row carries its lineage: `kind` ("data"|"delete"|"ledger"),
    * `seq` (the version that WROTE the dir — the Iceberg sequence
    * number that orders tombstones against data), `op` (which
    * operation produced it — CDC readers use this to tell
    * genuinely-new rows from compaction rewrites), and `del_col`
    * (the key column of a delete file; null on data rows). */
  private def writeSnapshot(df: DataFrame, id: Column, orderCol: Column,
                            path: String, numShards: Int,
                            statsCols: Seq[String],
                            parent: ParentMode,
                            batchId: Long,
                            op: String = "write",
                            deleteKeyCol: Option[String] = None,
                            partitionCols: Seq[String] = Nil,
                            meta: Option[ShardedMeta] = None,
                            onEmpty: Option[() => Long] = None)
      : Long = {
    import org.apache.spark.sql.functions._
    require(numShards >= 1, s"writeShardedTable: numShards $numShards")
    // `shard` is the partition column the writer OWNS and `__pos` /
    // `__ord` are its position scaffolding: an input that already
    // carries one would be silently clobbered (its `shard` even
    // hijacked as the partition key and lost on readback) — the
    // contiguousShards clash contract.
    val clash = df.columns.intersect(Seq("shard", "__pos", "__ord"))
    require(clash.isEmpty, s"writeShardedTable: reserved column(s) " +
      s"${clash.mkString(", ")} already exist in the input")
    val spark = df.sparkSession
    // the version at WRITE time only names the dir (with a token so
    // concurrent writers never collide on disk); the authoritative
    // version — the `seq` every manifest row carries — is the one the
    // commit claims, which may be higher after a conflict retry
    val baseV = meta.map(_.versions.last)
      .orElse(shardedVersions(spark, path).lastOption)
      .getOrElse(0L) + 1
    val token = java.util.UUID.randomUUID().toString.take(8)
    val dataDir = s"$path/data-v$baseV-$token"
    // PARTITION COLUMNS: a table created with them lays data out as
    // data-v<N>/<c>=<val>/.../shard=<k> and every later write
    // inherits them from the parent manifest's part_<c> columns —
    // appends, merges, updates and compactions re-lay their rows into
    // the declared partition dirs with no caller plumbing.
    val partCols = parent match {
      case NoParent => partitionCols
      case LatestParent =>
        meta.map(_.partCols)
          .getOrElse(resolveMeta(spark, path).partCols)
      case FixedParent(rows, _) =>
        rows.schema.fieldNames.filter(_.startsWith("part_"))
          .map(_.drop(5)).toSeq
    }
    require(partCols.forall(df.columns.contains),
      s"writeShardedTable: partition column(s) ${partCols
        .filterNot(df.columns.contains).mkString(",")} missing from " +
        "the input")
    // checked BEFORE the shard pass persists its sorted rows: a
    // failure after it would leave that cache pinned
    require(statsCols.forall(df.columns.contains),
      s"writeShardedTable: stats column(s) ${statsCols
        .filterNot(df.columns.contains).mkString(",")} missing from " +
        "the input")
    // contiguous range shards: global position by (orderCol, id)
    // computed DIRECTLY on the frame (contiguousShards carries every
    // input column through), never via a join back on the id — a
    // duplicate-id input (e.g. a compaction folding overlapping
    // appends) would multiply through an id join, silently inflating
    // the snapshot. The row count that sizes the blocks falls out of
    // the SAME sort job the positions come from, and the frame comes
    // back with one partition per shard, cut from that job's cache: the
    // payload is shuffled once, and the write below plans no exchange.
    // The order key is MATERIALIZED as `__ord` before the sort: it is
    // then computed once per row into the shard pass's input cache, and
    // the range sampler, the shuffle and the sort compare the stored
    // value — a computed key (the z-order Morton interleave over
    // per-dimension quantile buckets) was otherwise re-evaluated in
    // every comparison. Same values, so the same positions.
    val (data, releaseShards, n) = graft.ops.Packing
      .contiguousShards(df.withColumn("__ord", orderCol),
        struct(col("__ord"), id), numShards)
    // An empty snapshot would write no part files (and a versioned
    // dir with no manifest is exactly the half-written state readers
    // must never see) — fail loudly before touching the directory
    // layout. `onEmpty` lets an op fold its "nothing to write" case
    // into THIS count instead of paying a separate full evaluation of
    // its input for an isEmpty probe: merge and update keep the
    // current version, compaction publishes a manifest-only version.
    if (n <= 0) {
      releaseShards()
      onEmpty match {
        case Some(f) => return f()
        case None => ()
      }
    }
    require(n > 0, s"writeShardedTable: empty input — refusing to " +
      s"write snapshot v$baseV at $path")
    // sort WITHIN each shard by the global position: parquet
    // row-group min/max stats on the order column stay tight, so a
    // reader's pushed-down predicate prunes row groups INSIDE the
    // shards the manifest could not exclude — the second level of
    // the same stats hierarchy, paid once at write as a per-
    // partition (spill-aware) sort over a shard that already arrives
    // in position order
    val delInfo =
    try {
      // NO OUTPUT COMMITTER: the dir is fresh and token-suffixed, and
      // only the manifest commit (strictly after a successful write)
      // makes it visible, so a failed job's partial files are
      // unreachable garbage for vacuum; a committer's job protocol
      // (setup, attempt dirs, task-commit merges, _SUCCESS) would guard
      // nothing and costs a forked chmod per dir and file it makes on a
      // Hadoop without native IO. Task k writes the leaves of shard k,
      // opening one file per leaf as this sort groups them (no
      // maxRecordsPerFile split). The commit invariants after the write
      // (one part file per leaf, footer rows == counted rows) are what
      // catches duplicate or torn task output.
      ParquetWriteBridge.write(
        data.sortWithinPartitions(col("shard") +:
            partCols.map(col) :+ col("__pos"): _*)
          .drop("__pos", "__ord"),
        dataDir, partCols :+ "shard")
      // MERGE tombstone AS A REFERENCE (r14): the merge batch's key
      // set IS the data dir's id column (unique keys are enforced
      // right below), so the manifest's delete row points at the
      // data dir itself — the separate key-file WRITE job and its
      // read-back COUNT job are gone (readers column-prune the key
      // out of the same files either way; vacuum/expiry already pin
      // any dir a manifest row references). The duplicate-key guard
      // that used to ride the key file's distinct count is ONE
      // aggregation over the cached shard frame instead, run without
      // adaptive stages so its two exchanges feed one job (SQL's
      // distinct, so floating keys compare as SQL compares them).
      // Gated on the key NOT being a partition column: a partition
      // key lives in directory names, and a tombstone reader's
      // partition-discovered type could diverge from the written one.
      deleteKeyCol.map { idName =>
        if (!partCols.contains(idName)) {
          val delN = org.apache.spark.sql.execution.graftbridge
            .StaticPlanBridge.collect(data.agg(countDistinct(col(idName))))
            .head.getLong(0)
          require(delN == n,
            s"mergeShardedTable: batch has ${n - delN} duplicate " +
              s"key(s) ($n rows, $delN distinct) — upsert needs " +
              "unique keys")
          (dataDir, idName, delN)
        } else {
          val delDir = s"$path/del-v$baseV-$token"
          // the key count is what the write tasks wrote: no read-back
          val delN = ParquetWriteBridge.write(
            data.select(col(idName)).distinct(), delDir, Nil).sum
          require(delN == n,
            s"mergeShardedTable: batch has ${n - delN} duplicate " +
              s"key(s) ($n rows, $delN distinct) — upsert needs " +
              "unique keys")
          (delDir, idName, delN)
        }
      }
    // the sorted cache served its actions — drop it (blocking: no
    // block outlives the commit), or a session issuing many snapshot
    // commits (streaming sinks, fuzz chains, any ingest loop)
    // accumulates pinned full-frame blocks that strangle executor
    // memory for every later query
    } finally releaseShards()
    // MANIFEST STATS, one path for every commit: one recursive listing
    // of the dir just written, reading each part file's FOOTER
    // driver-side. Per leaf it yields the byte size (the manifest then
    // answers "how big is this pruned read" without touching storage —
    // join-planning statistics for the DSv2 connector: a small table
    // broadcasts), the part-file count and row count (the commit
    // invariants below), and the stats bounds. No Spark job computes
    // stats and nothing re-reads the dir: the stats are by
    // construction what readers will see. Bounds follow
    // [[exactStatsType]]: an integral column takes the exact int32/
    // int64 column statistics (a partition column, the value in its
    // directory name); any other type records null bounds.
    val exact = statsCols.map(c => exactStatsType(df.schema(c).dataType))
    final class LeafStats {
      var bytes, files, rows = 0L
      val bounds = Array.fill[Option[(Long, Long)]](statsCols.size)(None)
      // a column with unusable file statistics keeps a null bound even
      // if another block or file of the leaf has valid ones
      val bad = Array.fill(statsCols.size)(false)
    }
    val leaves = scala.collection.mutable.Map.empty[String, LeafStats]
    locally {
      import org.apache.parquet.column.statistics._
      val hconf = spark.sparkContext.hadoopConfiguration
      val root = new org.apache.hadoop.fs.Path(dataDir)
      val rootPath = root.toUri.getPath
      filesUnder(root.getFileSystem(hconf), root).foreach { st =>
        val rel = st.getPath.toUri.getPath.stripPrefix(rootPath)
          .stripPrefix("/")
        val leafRel = rel.split('/').dropRight(1).mkString("/")
        if (st.getPath.getName.endsWith(".parquet") && leafRel.nonEmpty) {
          val a = leaves.getOrElseUpdate(leafRel, new LeafStats)
          a.bytes += st.getLen
          a.files += 1L
          def widen(i: Int, lo: Long, hi: Long): Unit =
            a.bounds(i) = a.bounds(i) match {
              case Some((l, h)) => Some((math.min(l, lo), math.max(h, hi)))
              case None => Some((lo, hi))
            }
          // block row counts + exact int32/int64 column statistics. A
          // block whose statistics are missing or invalid poisons that
          // column's bound for the leaf (null = readers treat the leaf
          // as unprunable — kept, never wrongly pruned).
          val reader = org.apache.parquet.hadoop.ParquetFileReader
            .open(org.apache.parquet.hadoop.util.HadoopInputFile
              .fromStatus(st, hconf))
          try reader.getFooter.getBlocks.forEach { b =>
            val bRows = b.getRowCount
            a.rows += bRows
            b.getColumns.forEach { cc =>
              val i = statsCols.indexOf(cc.getPath.toDotString)
              if (i >= 0 && exact(i) && bRows > 0 && !a.bad(i))
                cc.getStatistics match {
                  case s: LongStatistics if !s.isEmpty &&
                        s.isNumNullsSet && s.getNumNulls < bRows =>
                    widen(i, s.getMin, s.getMax)
                  case s: IntStatistics if !s.isEmpty &&
                        s.isNumNullsSet && s.getNumNulls < bRows =>
                    widen(i, s.getMin.toLong, s.getMax.toLong)
                  case s if s != null && !s.isEmpty &&
                        s.isNumNullsSet && s.getNumNulls == bRows =>
                    () // all-null block: no bound
                  case _ =>
                    a.bad(i) = true; a.bounds(i) = None
                }
            }
          } finally reader.close()
        }
      }
    }
    // one manifest row per on-disk leaf: (leaf, shard, raw partition
    // values, its LeafStats, min/max per stats column)
    val leafRows = {
      val unesc = org.apache.spark.sql.catalyst.catalog
        .ExternalCatalogUtils.unescapePathName _
      leaves.toSeq.sortBy(_._1).map { case (leaf, a) =>
        val segs = leaf.split('/')
        val shard = segs.last.stripPrefix("shard=").toLong
        val partVals = segs.dropRight(1).zip(partCols).map {
          case (seg, c) =>
            require(seg.startsWith(s"$c="),
              s"writeShardedTable: unexpected leaf segment $seg " +
                s"under $dataDir")
            val raw = seg.drop(c.length + 1)
            // a null or empty partition value lands on disk as the
            // default-partition directory — reject it before publish
            require(raw != org.apache.spark.sql.catalyst.catalog
                .ExternalCatalogUtils.DEFAULT_PARTITION_NAME,
              "writeShardedTable: partition column values must be " +
                "non-null and non-empty")
            unesc(raw)
        }.toSeq
        val statVals = statsCols.indices.flatMap { i =>
          val b = statsCols(i) match {
            case _ if !exact(i) => None
            case c if partCols.contains(c) =>
              scala.util.Try(partVals(partCols.indexOf(c)).trim.toLong)
                .toOption.map(v => (v, v))
            case _ => a.bounds(i)
          }
          Seq(b.map(x => java.lang.Long.valueOf(x._1)).orNull,
            b.map(x => java.lang.Long.valueOf(x._2)).orNull)
        }
        (leaf, shard, partVals, a, statVals)
      }
    }
    // post-write COMMIT INVARIANTS (the write runs no output
    // committer, so nothing else vets task output), checked BEFORE the
    // manifest publishes: exactly one part file per leaf — each leaf is
    // written by exactly one task (one partition per shard), so a
    // retried or speculative task's duplicate output fails the commit
    // loudly — and the files' TOTAL ROW COUNT equals the shard pass's
    // count (a torn or partial task left rows missing on disk).
    val multi = leaves.filter(_._2.files != 1L)
    require(multi.isEmpty,
      s"writeShardedTable: ${multi.size} leaf dir(s) at $dataDir " +
        s"hold more than one part file (duplicate task commit?): " +
        s"${multi.keys.toSeq.sorted.take(5).mkString(",")}")
    val total = leaves.valuesIterator.map(_.rows).sum
    require(total == n,
      s"writeShardedTable: footer row total $total != counted " +
        s"total $n at $dataDir — torn or duplicate task output")
    val newRowsSchema = {
      import org.apache.spark.sql.types.{LongType, StringType,
        StructField}
      StructType(Seq(
        StructField("leaf", StringType),
        StructField("shard", LongType),
        StructField("n_rows", LongType)) ++
        statsCols.flatMap(c => Seq(
          StructField(s"min_$c", LongType),
          StructField(s"max_$c", LongType))) ++
        Seq(StructField("n_bytes", LongType)) ++
        partCols.map(c => StructField(s"part_$c", StringType)) ++
        Seq(StructField("data_dir", StringType),
          StructField("batch_id", LongType),
          StructField("kind", StringType),
          StructField("seq", LongType),
          StructField("op", StringType),
          StructField("del_col", StringType)))
    }
    def newRows(v: Long) = LocalManifest(newRowsSchema,
      leafRows.map { case (leaf, shard, partVals, a, statVals) =>
        org.apache.spark.sql.Row.fromSeq(
          Seq(leaf, shard, a.rows) ++ statVals ++ Seq(a.bytes) ++
            partVals ++ Seq(dataDir, batchId, "data", v, op, null))
      })
    // MERGE's tombstone file was written in the SAME snapshot (see
    // the try block above): the delete's seq equals the data's seq,
    // and a tombstone only kills rows with a STRICTLY SMALLER seq —
    // so the merge's own inserts survive while every older copy of
    // the key dies, atomically (one manifest commit covers both dirs).
    def delRow(v: Long) = delInfo.map { case (delDir, idName, delN) =>
      tombstoneRow(delDir, delN, batchId, v, op, idName)
    }
    // parent rows ride along NORMALIZED (a resolved manifest is
    // normalized on read, so a committed manifest never carries null
    // lineage); LatestParent re-resolves PER ATTEMPT so a retry
    // composes against the state the conflicting writer just
    // published. Every piece is driver-side: the publish runs no job.
    def mkManifest(v: Long): LocalManifest = {
      val par = parent match {
        case NoParent => None
        case LatestParent =>
          // reuse the already-resolved parent when the claim landed at
          // exactly meta.version + 1 (no concurrent commit slipped in);
          // a retry at a later version re-resolves — composing against
          // the state the conflicting writer just published
          Some(meta.filter(_.version == v - 1)
            .getOrElse(resolveMeta(spark, path)).local)
        case FixedParent(rows, _) => Some(rows)
      }
      unionManifests(par.toSeq ++ Seq(newRows(v)) ++ delRow(v).toSeq)
    }
    // a FixedParent op derived its rows from a SPECIFIC parent state:
    // its claim must land at exactly baseVersion+1, else a commit
    // slipped in between the read and the publish and its rows would
    // silently vanish from the new manifest (lost update)
    val expected = parent match {
      case FixedParent(_, base) => Some(base + 1)
      case _ => None
    }
    publishVersion(spark, path, mkManifest,
      composable = (parent == LatestParent), expected = expected)
  }

  /** Pluggable atomic create-if-absent — the ONE primitive the
    * optimistic commit protocol needs, extracted as a seam because its
    * atomicity is STORAGE-SPECIFIC:
    *
    *  - local filesystems: NIO `createFile` is O_EXCL — atomic. (The
    *    Hadoop RawLocalFileSystem `create(overwrite = false)` is
    *    check-then-act, which is why [[AtomicCreateClaimStore]] does
    *    NOT use it on the `file` scheme.)
    *  - HDFS: `create(overwrite = false)` is namenode-atomic — safe.
    *  - S3-family object stores: `create(overwrite = false)` is
    *    check-then-act (HEAD then PUT) — two concurrent writers can
    *    both "win" and one published manifest silently clobbers the
    *    other (lost commit). The default store is therefore NOT safe
    *    there; use [[ConditionalPutClaimStore]] — the claim over the
    *    store's conditional-write primitive (S3 `PutObject` with
    *    `If-None-Match: *`, GCS `x-goog-if-generation-match: 0`, ABFS
    *    ETag preconditions), with token-based resolution of ambiguous
    *    (timed-out) PUTs — over an [[ObjectStoreApi]] binding to the
    *    deployment's SDK, installed via [[Sources.setClaimStore]].
    *
    * SELECTION: default store for `file:` and `hdfs:` tables;
    * [[ConditionalPutClaimStore]] for any S3-compatible scheme
    * (s3a/gs/abfs/oss/cos). The protocol code is storage-agnostic and
    * fault-tested against the [[EmulatedObjectStore]] (injected
    * lost-request and committed-but-unacknowledged PUTs; 8-writer
    * exactly-once probe in `ScaleProbe race-objstore`).
    *
    * `tryClaim` returns true iff THIS caller created the file;
    * `release` undoes a claim whose commit failed. */
  trait ClaimStore {
    def tryClaim(fs: org.apache.hadoop.fs.FileSystem,
                 p: org.apache.hadoop.fs.Path): Boolean
    def release(fs: org.apache.hadoop.fs.FileSystem,
                p: org.apache.hadoop.fs.Path): Unit =
      fs.delete(p, false)
  }

  /** Default [[ClaimStore]]: atomic on local (NIO O_EXCL) and HDFS
    * (namenode-atomic create) — the documented contract does NOT
    * extend to S3-family stores (see [[ClaimStore]]). */
  object AtomicCreateClaimStore extends ClaimStore {
    def tryClaim(fs: org.apache.hadoop.fs.FileSystem,
                 p: org.apache.hadoop.fs.Path): Boolean =
      if (fs.getScheme == "file") {
        val local = java.nio.file.Paths.get(p.toUri.getPath)
        try {
          java.nio.file.Files.createDirectories(local.getParent)
          java.nio.file.Files.createFile(local)
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      } else {
        try { fs.create(p, false).close(); true }
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        }
      }
  }

  @volatile private var claimStoreImpl: ClaimStore = AtomicCreateClaimStore

  /** Install a storage-appropriate [[ClaimStore]] (process-wide; e.g.
    * a conditional-PUT implementation for an object-store deployment,
    * or a fault-injecting one in tests). */
  def setClaimStore(cs: ClaimStore): Unit = { claimStoreImpl = cs }
  def claimStore: ClaimStore = claimStoreImpl

  private def atomicClaim(fs: org.apache.hadoop.fs.FileSystem,
                          p: org.apache.hadoop.fs.Path): Boolean =
    claimStoreImpl.tryClaim(fs, p)

  /** The OPTIMISTIC-CONCURRENCY commit: claim the next version number
    * with an atomic create-if-absent of `_manifest/.claim-v<N>`, then
    * stage the manifest parquet and rename it into `_manifest/v<N>`
    * (the rename's destination is guaranteed absent — only the claim
    * winner ever creates it). A writer that loses the claim either
    * retries against the re-resolved parent (`composable` — append/
    * merge/delete, whose new rows are parent-independent) after the
    * winner publishes, or aborts (compact/rewrite, whose rows were
    * derived from a parent that just changed). A claim whose version
    * never publishes (writer crashed between claim and rename) blocks
    * later writers until the bounded wait trips — the audit reports
    * such claims; removing the claim file unblocks the table with no
    * data loss (the orphan data dir was never referenced). */
  private def publishVersion(spark: SparkSession, path: String,
                             mkManifest: Long => LocalManifest,
                             composable: Boolean,
                             expected: Option[Long] = None): Long = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val deadlineNs = System.nanoTime() + 120L * 1000L * 1000L * 1000L
    while (true) {
      val version =
        shardedVersions(spark, path).lastOption.getOrElse(0L) + 1
      // lost-update guard for state-derived (FixedParent) commits: a
      // version beyond the expected one means someone committed since
      // the op read its parent — abort, never drop their rows
      expected.foreach(e => if (version != e)
        throw new IllegalStateException(
          s"sharded table $path: expected to publish v$e but the " +
            s"table is at v${version - 1} — a concurrent commit " +
            "landed; re-run this operation against the new state"))
      val claim = new org.apache.hadoop.fs.Path(
        s"$path/_manifest/.claim-v$version")
      if (atomicClaim(fs, claim)) {
        val stage = new org.apache.hadoop.fs.Path(
          s"$path/_manifest/.stage-v$version-" +
            java.util.UUID.randomUUID().toString.take(8))
        try {
          // NO Spark job: the manifest rows are composed on the driver
          // and written DRIVER-SIDE through Spark's own parquet write
          // support (a metadata-scale file does not need a Spark job +
          // task commit protocol; Iceberg writes its manifests
          // driver-side for the same reason), and the publish also
          // seeds the metadata memo — the next operation on this
          // table resolves with zero reads
          val mf = mkManifest(version)
          val outSchema = mf.schema
          val outRows = mf.rows.toArray
          ParquetWriteBridge.writeSingleFile(spark, stage.toString,
            outSchema, mf.rows)
          require(fs.rename(stage, new org.apache.hadoop.fs.Path(
              s"$path/_manifest/v$version")),
            s"manifest publish rename failed: $stage -> v$version")
          cachePublished(spark, path, version, outSchema, outRows)
        } catch {
          case e: Throwable =>
            // a failed attempt must not burn the version number: drop
            // the stage and release the claim before rethrowing
            if (fs.exists(stage)) fs.delete(stage, true)
            claimStoreImpl.release(fs, claim)
            throw e
        }
        return version
      }
      if (!composable) throw new IllegalStateException(
        s"sharded table $path: version v$version was claimed by a " +
          "concurrent writer — compact/rewrite do not compose with " +
          "concurrent commits; re-run against the new state")
      // lost the claim: wait for that version to publish, then retry
      // composing against the refreshed parent. A claim that VANISHES
      // mid-wait (the winner failed and released it, or vacuum removed
      // a stale one) means the version may never publish — retry the
      // outer claim loop immediately instead of stalling to the
      // deadline with a misleading "claim exists" error.
      val vPath = new org.apache.hadoop.fs.Path(
        s"$path/_manifest/v$version")
      var waiting = true
      while (waiting && !fs.exists(vPath)) {
        if (!fs.exists(claim)) waiting = false
        else if (System.nanoTime() > deadlineNs)
          throw new IllegalStateException(
            s"sharded table $path: .claim-v$version exists but " +
              s"v$version never published (crashed writer?) — remove " +
              "the stale claim file to unblock writers")
        else Thread.sleep(25)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Zero-row LEDGER manifest rows: preserve committed batch ids
    * whose carrier rows a compaction/rewrite drops from the manifest.
    * Without them a foreachBatch replay arriving AFTER the rewrite
    * would pass the [[committedBatchIds]] check and re-apply an
    * already-applied batch — duplicated rows, broken exactly-once.
    * Readers ignore ledger rows (they filter kind = data/delete);
    * these are pure commit-log entries, O(batches) metadata. */
  private def ledgerRows(ids: Seq[Long]): Option[LocalManifest] =
    if (ids.isEmpty) None
    // `leaf`: the value [[normalizeManifest]] derives for a row without
    // one
    else Some(LocalManifest(logRowSchema.add("leaf",
        org.apache.spark.sql.types.StringType),
      ids.map(id => org.apache.spark.sql.Row(-1L, 0L, "__ledger__", id,
        "ledger", 0L, "ledger", null, "shard=-1"))))

  /** Backfill the lineage columns on a pre-lineage manifest frame:
    * rows are all data (tombstones did not exist), seq parses from
    * the `data-v<N>` dir name, op is unknowable → "append". A
    * manifest that already has the columns passes through verbatim. */
  private def normalizeManifest(mf: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    var m = mf
    if (!m.columns.contains("kind")) m = m.withColumn("kind", lit("data"))
    if (!m.columns.contains("seq"))
      m = m.withColumn("seq",
        regexp_extract(col("data_dir"), "-v(\\d+)$", 1).cast("long"))
    if (!m.columns.contains("op")) m = m.withColumn("op", lit("append"))
    if (!m.columns.contains("del_col"))
      m = m.withColumn("del_col", lit(null).cast("string"))
    // `leaf` is the shard directory's path RELATIVE to data_dir —
    // partition segments included ("day=3/shard=1"). Pre-partition
    // manifests (and rows written by them after a partitioned append,
    // via union null-fill) reconstruct the flat layout.
    if (!m.columns.contains("leaf"))
      m = m.withColumn("leaf", concat(lit("shard="), col("shard")))
    else
      m = m.withColumn("leaf", coalesce(col("leaf"),
        concat(lit("shard="), col("shard"))))
    m
  }

  // ---- per-operation snapshot-metadata resolution (r12) ------------
  //
  // The r11 commit path re-read the manifest, head schema, rename
  // events and versions listing several times PER OPERATION (once per
  // helper), each a small Spark job or parquet footer read — a
  // measured 1.26-1.51x constant factor on every table write. The fix:
  // resolve everything ONCE per operation into a [[ShardedMeta]], and
  // memoize it process-wide keyed by (path, version, manifest-dir
  // fingerprint). A published manifest is IMMUTABLE (versions are
  // claimed once; expiry deletes, never rewrites), so the memo can
  // never serve stale rows for a live version; the fingerprint (file
  // names + sizes, which carry write-task UUIDs) guards the one
  // aliasing hazard — drop + recreate of the same path reaching the
  // same version numbers, possibly from another process.

  /** Per-version table metadata, resolved once per operation: the
    * snapshot listing, the NORMALIZED manifest rows (collected —
    * manifests are metadata-scale, O(leaves)), and the rename history
    * applicable at the resolved version. Everything an operation used
    * to re-derive per helper call now reads from here, driver-side,
    * zero Spark jobs. */
  private[sources] final case class ShardedMeta(
      path: String, versions: Seq[Long], version: Long,
      mfSchema: StructType,
      mfRows: Array[org.apache.spark.sql.Row],
      renames: Seq[(Long, String, String)]) {

    /** The normalized manifest as a LOCAL relation — downstream
      * filters/projections fold driver-side (ConvertToLocalRelation),
      * and unions against it write without re-reading the parquet. */
    def manifestDf(spark: SparkSession): DataFrame =
      spark.createDataFrame(
        java.util.Arrays.asList(mfRows: _*), mfSchema)

    /** The normalized manifest on the driver — the parent piece of a
      * commit's manifest. */
    def local: LocalManifest = LocalManifest(mfSchema,
      scala.collection.immutable.ArraySeq.unsafeWrapArray(mfRows))

    lazy val partCols: Seq[String] = mfSchema.fieldNames
      .filter(_.startsWith("part_")).map(_.drop(5)).toSeq

    lazy val dataRows: Array[org.apache.spark.sql.Row] =
      mfRows.filter(_.getAs[String]("kind") == "data")

    /** (data_dir, seq, del_col) of the live tombstones — positional
      * layout matches [[applyDeletes]]'s reader. */
    lazy val delRows: Array[org.apache.spark.sql.Row] =
      mfRows.filter(_.getAs[String]("kind") == "delete")
        .map(r => org.apache.spark.sql.Row(
          r.getAs[String]("data_dir"), r.getAs[Long]("seq"),
          r.getAs[String]("del_col")))
        .distinct

    /** Newest data dir = the schema authority (see
      * [[shardedHeadSchema]]). */
    lazy val headRow: org.apache.spark.sql.Row =
      dataRows.maxBy(_.getAs[Long]("seq"))
    def headDir: String = headRow.getAs[String]("data_dir")
    def headSeq: Long = headRow.getAs[Long]("seq")

    /** The full commit log (the append chain carries every ancestor's
      * batch ids forward) — driver-side, no job. */
    lazy val batchIds: Set[Long] =
      if (!mfSchema.fieldNames.contains("batch_id")) Set.empty
      else mfRows.flatMap(r => Option(r.getAs[Any]("batch_id"))
          .map(_.asInstanceOf[Long])).filter(_ != -1L).toSet
  }

  // (path, version, manifest-dir fingerprint) -> (schema, rows).
  // Bounded; cleared wholesale past the bound (entries are a few KB).
  private val manifestCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, String),
    (StructType, Array[org.apache.spark.sql.Row])]()
  // (path, version, fingerprint) -> the library READ's result schema.
  // Every DSv2 loadTable / inferSchema pays a full readShardedTable
  // PLAN construction (scan analysis + tombstone anti-join)
  // just to take `.schema` — a per-SQL-statement Catalyst constant on
  // the q607-style catalog chains (r14). A published snapshot is
  // immutable, so the schema memoizes under the same key discipline
  // as the manifest rows.
  private val readSchemaCache = new java.util.concurrent
    .ConcurrentHashMap[(String, Long, String), StructType]()
  // immutable dir path -> a data or delete dir's FILE schema
  // ([[fileSchema]]). Data dirs carry a random token suffix and are
  // immutable once referenced — safe to key by path.
  private val dirSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  private def manifestFingerprint(fs: org.apache.hadoop.fs.FileSystem,
                                  dir: org.apache.hadoop.fs.Path)
      : String =
    fs.listStatus(dir).map(s => s"${s.getPath.getName}:${s.getLen}")
      .sorted.mkString(",")

  /** Drop every memoized entry for `path` — called by
    * [[dropShardedTable]]; exposed for external writers that recreate
    * a table in-place from another process (the fingerprint already
    * catches that case; this is belt and braces). */
  def invalidateShardedMeta(path: String): Unit = {
    manifestCache.keySet.removeIf(_._1 == path)
    dirSchemaCache.keySet.removeIf(_.startsWith(path))
    readSchemaCache.keySet.removeIf(_._1 == path)
  }

  /** The schema [[readShardedTable]] would return for this snapshot,
    * memoized by (path, version, manifest fingerprint) — computed the
    * authoritative way (building the read plan once) on a miss, so it
    * can never diverge from the read path. */
  def shardedTableReadSchema(spark: SparkSession, path: String,
                             version: Option[Long] = None)
      : StructType = {
    val vs = shardedVersions(spark, path)
    require(vs.nonEmpty, s"no sharded-table snapshots under $path")
    val v = version.getOrElse(vs.last)
    val mfDir = new org.apache.hadoop.fs.Path(s"$path/_manifest/v$v")
    val fs = mfDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val key = (path, v, manifestFingerprint(fs, mfDir))
    if (readSchemaCache.size > 512) readSchemaCache.clear()
    readSchemaCache.computeIfAbsent(key,
      _ => readShardedTable(spark, path, Nil, Some(v)).schema)
  }

  /** Resolve a snapshot's metadata: one versions listing (always
    * fresh — the listing IS the commit point), one manifest-dir
    * listing for the fingerprint, and (on memo miss) one tiny
    * read+collect of the manifest parquet. */
  private[sources] def resolveMeta(spark: SparkSession, path: String,
                                   version: Option[Long] = None)
      : ShardedMeta = {
    val vs = shardedVersions(spark, path)
    require(vs.nonEmpty, s"no sharded-table snapshots under $path")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"snapshot v$v not in ${vs.mkString(",")}")
    val mfDir = new org.apache.hadoop.fs.Path(s"$path/_manifest/v$v")
    val fs = mfDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val key = (path, v, manifestFingerprint(fs, mfDir))
    if (manifestCache.size > 512) manifestCache.clear()
    if (dirSchemaCache.size > 512) dirSchemaCache.clear()
    val (schema, rows) = manifestCache.computeIfAbsent(key, { _ =>
      val mf = normalizeManifest(
        spark.read.parquet(s"$path/_manifest/v$v"))
      (mf.schema, mf.collect())
    })
    ShardedMeta(path, vs, v, schema, rows,
      renameEvents(spark, path, v))
  }

  /** Memoize a just-published manifest so the NEXT operation on the
    * table (the steady state of every sink tick and fuzz chain)
    * resolves with zero reads. */
  private def cachePublished(spark: SparkSession, path: String,
                             v: Long, schema: StructType,
                             rows: Array[org.apache.spark.sql.Row])
      : Unit = {
    val mfDir = new org.apache.hadoop.fs.Path(s"$path/_manifest/v$v")
    val fs = mfDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    manifestCache.put((path, v, manifestFingerprint(fs, mfDir)),
      (schema, rows))
  }

  /** The snapshot's PHYSICAL schema: the head dir's [[fileSchema]],
    * then the partition columns and `shard` as Spark's partition
    * discovery types them over EVERY data leaf of the snapshot — so a
    * pruned read, or a newest dir whose values all look numeric, never
    * retypes a column. Every field is nullable, as a file scan reports
    * it. */
  private def physHeadSchema(spark: SparkSession, m: ShardedMeta)
      : StructType = {
    import org.apache.spark.sql.execution.datasources.graftbridge
      .PartitionBridge
    PartitionBridge.asNullable(StructType(
      fileSchema(spark, m.headDir).fields ++
        PartitionBridge.partitionSchema(spark,
          m.dataRows.map(_.getAs[String]("leaf")).distinct.toSeq).fields))
  }

  /** Every file under `root` (itself, if a file), recursively — the
    * files `fs.listFiles(root, true)` yields, checksum files skipped
    * alike — through plain `listStatus`. The `LocatedFileStatus` of
    * `listFiles` copies each file's permissions, and on a Hadoop
    * without native IO loading them forks an `ls -ld` per file (about
    * 4-5 ms each); a plain status loads them only when asked. */
  private def filesUnder(fs: org.apache.hadoop.fs.FileSystem,
                         root: org.apache.hadoop.fs.Path)
      : Seq[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(root).toSeq.flatMap(st =>
      if (st.isDirectory) filesUnder(fs, st.getPath) else Seq(st))

  /** The FILE schema of a data or delete dir — the columns its part
    * files store; partition and `shard` columns live in its directory
    * names — from ONE footer read on the driver, memoized by the
    * immutable dir path. It is the answer Spark's non-merge schema
    * inference gives for the dir: the footer of the first part file
    * (hidden and `_`-prefixed paths skipped, as Spark's file index
    * does) through the same `ParquetFileFormat.readSchemaFromFooter`,
    * minus the Spark job the inference pays per `spark.read.parquet`.
    * Every part file of a dir comes from one write, so every footer
    * carries the same schema. A dir with no part file is handed to
    * Spark's inference, which fails the way it always has. */
  private[graft] def fileSchema(spark: SparkSession, dir: String)
      : StructType =
    dirSchemaCache.computeIfAbsent(dir, _ => {
      import org.apache.spark.sql.execution.datasources.parquet.{
        ParquetFileFormat, ParquetFooterReader,
        ParquetToSparkSchemaConverter}
      val hconf = spark.sparkContext.hadoopConfiguration
      val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(hconf)
      // qualified like the listed paths, so a relative dir strips too
      val root = fs.makeQualified(new org.apache.hadoop.fs.Path(dir))
      val rootPath = root.toUri.getPath
      def hidden(seg: String): Boolean =
        (seg.startsWith("_") && !seg.contains("=")) ||
          seg.startsWith(".") || seg.endsWith("._COPYING_")
      val parts = (if (fs.exists(root)) filesUnder(fs, root) else Nil)
        .filterNot(_.getPath.toUri.getPath.stripPrefix(rootPath)
          .split('/').exists(s => s.nonEmpty && hidden(s)))
      parts.sortBy(_.getPath.toString).headOption match {
        case Some(st) =>
          val footer = new org.apache.parquet.hadoop.Footer(st.getPath,
            ParquetFooterReader.readFooter(
              org.apache.parquet.hadoop.util.HadoopInputFile
                .fromStatus(st, hconf),
              org.apache.parquet.format.converter.ParquetMetadataConverter
                .SKIP_ROW_GROUPS))
          ParquetFileFormat.readSchemaFromFooter(footer,
            new ParquetToSparkSchemaConverter(spark.sessionState.conf))
        case None => spark.read.parquet(dir).schema
      }
    })

  /** Read a data or delete dir with its [[fileSchema]]: partition
    * discovery still types the directory columns, and no inference
    * job runs. */
  private def readDir(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(fileSchema(spark, dir)).parquet(dir)

  private def logicalHeadSchemaOf(spark: SparkSession, m: ShardedMeta)
      : StructType =
    StructType(physHeadSchema(spark, m).fields
      .filter(_.name != "shard")
      .map(f => f.copy(name =
        logicalNameOf(f.name, m.headSeq, m.renames, m.version))))

  /** The table's declared partition columns (empty when none) —
    * metadata-only. */
  def shardedTablePartitionCols(spark: SparkSession, path: String)
      : Seq[String] =
    resolveMeta(spark, path).partCols

  /** Manifest-only aggregate answers for the DSv2 pushdown
    * (`count(*)`, min/max over stats columns): EXACT table row count
    * and per-column [min, max], or None when the snapshot cannot
    * vouch — any live tombstone makes counts/bounds stale, so the
    * whole view is withheld. A column appears in `bounds` only when
    * EVERY data leaf carries a non-null recorded bound for it (a leaf
    * written without stats for the column could hide values; a leaf
    * whose values were all null contributes null bounds and likewise
    * disqualifies — conservative, never wrong). */
  final case class ShardedAggView(rowCount: Long,
                                  bounds: Map[String, (Long, Long)])

  def shardedManifestAggView(spark: SparkSession, path: String,
                             version: Option[Long] = None)
      : Option[ShardedAggView] = {
    if (shardedVersions(spark, path).isEmpty) return None
    val meta = resolveMeta(spark, path, version)
    if (meta.delRows.nonEmpty) return None
    val n = meta.dataRows.map(_.getAs[Long]("n_rows")).sum
    val statCols = meta.mfSchema.fieldNames
      .filter(_.startsWith("min_")).map(_.drop(4))
    def longOpt(r: org.apache.spark.sql.Row, c: String): Option[Long] =
      if (!meta.mfSchema.fieldNames.contains(c)) None
      else Option(r.getAs[Any](c)).map(_.asInstanceOf[Long])
    val bounds = statCols.flatMap { c =>
      val mins = meta.dataRows.map(longOpt(_, s"min_$c"))
      val maxs = meta.dataRows.map(longOpt(_, s"max_$c"))
      if (mins.isEmpty || mins.contains(None) || maxs.contains(None))
        None
      else Some(c -> (mins.flatten.min, maxs.flatten.max))
    }.toMap
    Some(ShardedAggView(n, bounds))
  }

  /** GROUPED manifest aggregate view: one [[ShardedAggView]] per
    * distinct partition-value tuple of `groupCols` — the manifest
    * already keeps one row per (partition leaf, shard), so a
    * `GROUP BY <partition cols>` over count(*)/min/max needs zero
    * data files. Same withholding rules as the ungrouped view, applied
    * per group; None when any groupCol is not a declared partition
    * column. Keys are the RAW partition value strings. */
  def shardedManifestAggViewBy(spark: SparkSession, path: String,
                               groupCols: Seq[String],
                               version: Option[Long] = None)
      : Option[Seq[(Seq[String], ShardedAggView)]] = {
    if (shardedVersions(spark, path).isEmpty) return None
    val meta = resolveMeta(spark, path, version)
    if (meta.delRows.nonEmpty) return None
    if (groupCols.isEmpty ||
        !groupCols.forall(meta.partCols.contains)) return None
    val statCols = meta.mfSchema.fieldNames
      .filter(_.startsWith("min_")).map(_.drop(4))
    def longOpt(r: org.apache.spark.sql.Row, c: String): Option[Long] =
      if (!meta.mfSchema.fieldNames.contains(c)) None
      else Option(r.getAs[Any](c)).map(_.asInstanceOf[Long])
    val byGroup = meta.dataRows.groupBy(r =>
      groupCols.map(c => r.getAs[String](s"part_$c")))
    Some(byGroup.toSeq.sortBy(_._1.mkString("\u0000")).map {
      case (key, rows) =>
        val n = rows.map(_.getAs[Long]("n_rows")).sum
        val bounds = statCols.flatMap { c =>
          val mins = rows.map(longOpt(_, s"min_$c"))
          val maxs = rows.map(longOpt(_, s"max_$c"))
          if (mins.isEmpty || mins.contains(None) ||
              maxs.contains(None)) None
          else Some(c -> (mins.flatten.min, maxs.flatten.max))
        }.toMap
        (key, ShardedAggView(n, bounds))
    })
  }

  /** Snapshot listing: the versions present under `path/_manifest`,
    * ascending. One filesystem list call — never touches data. */
  def shardedVersions(spark: SparkSession, path: String): Seq[Long] = {
    val hp = new org.apache.hadoop.fs.Path(s"$path/_manifest")
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hp)) Seq.empty
    else fs.listStatus(hp).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("v")).map(_.drop(1).toLong).sorted
  }

  /** The manifest frame of a snapshot (default: latest): one row per
    * (data_dir, shard) with n_rows and the min_/max_ stats columns. */
  def shardedManifest(spark: SparkSession, path: String,
                      version: Option[Long] = None): DataFrame = {
    val vs = shardedVersions(spark, path)
    require(vs.nonEmpty, s"no sharded-table snapshots under $path")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"snapshot v$v not in ${vs.mkString(",")}")
    spark.read.parquet(s"$path/_manifest/v$v")
  }

  /** Manifest-pruned read: open only the shards whose [min, max]
    * stats intersect EVERY `(col, lo, hi)` predicate (all bounds
    * inclusive, conjunctive — multi-column pruning so a query bounded
    * on, say, (day, doc_id) skips shards either bound excludes), for
    * the chosen snapshot. The caller still applies its exact
    * predicate — pruning is a superset guarantee, the same contract
    * as parquet row-group stats one level up. An empty intersection
    * returns an empty frame with the table schema. Shards from
    * different snapshots (append chains) are read by one scan
    * ([[scanLeaves]]). */
  def readShardedTable(spark: SparkSession, path: String,
                       preds: Seq[(String, Long, Long)] = Nil,
                       version: Option[Long] = None,
                       partPreds: Seq[(String, String)] = Nil)
      : DataFrame =
    readAt(spark, resolveMeta(spark, path, version), preds, partPreds)

  /** [[readShardedTable]] of an already-resolved snapshot. */
  private def readAt(spark: SparkSession, meta: ShardedMeta,
                     preds: Seq[(String, Long, Long)] = Nil,
                     partPreds: Seq[(String, String)] = Nil)
      : DataFrame = {
    // tombstones are never pruned: key-only files, metadata-scale —
    // and a pruned-away tombstone would RESURRECT rows.
    // Pruning runs DRIVER-SIDE over the memoized manifest rows (r13 —
    // the local-relation Catalyst filter cost two analysis passes per
    // read for the same superset-keep arithmetic); semantics identical
    // to [[prunedDataManifest]]: null-safe keep, untracked columns
    // keep.
    val fields = meta.mfSchema.fieldNames
    def idx(c: String): Option[Int] = {
      val i = fields.indexOf(c); if (i < 0) None else Some(i)
    }
    def longAt(r: org.apache.spark.sql.Row, i: Int): Option[Long] =
      if (r.isNullAt(i)) None else Some(r.getLong(i))
    val partIdx = partPreds.flatMap { case (c, v) =>
      idx(s"part_$c").map(i => (i, v)) }
    val boundIdx = preds.flatMap { case (c, lo, hi) =>
      idx(s"min_$c").zip(idx(s"max_$c")).map { case (mi, ma) =>
        (mi, ma, lo, hi) } }
    val rows = meta.dataRows.filter { r =>
      partIdx.forall { case (i, v) =>
        r.isNullAt(i) || r.getString(i) == v } &&
      boundIdx.forall { case (mi, ma, lo, hi) =>
        (longAt(r, ma), longAt(r, mi)) match {
          case (Some(mx), Some(mn)) => !(mx < lo || mn > hi)
          case _ => true // null stats can never exclude
        } }
    }.map(scanRow)
    readManifestShards(spark, meta, rows)
  }

  /** The `(data_dir, leaf, seq)` of a manifest data row — what
    * [[scanLeaves]] reads. */
  private def scanRow(r: org.apache.spark.sql.Row): org.apache.spark.sql.Row =
    org.apache.spark.sql.Row(r.getAs[String]("data_dir"),
      r.getAs[String]("leaf"), r.getAs[Long]("seq"))

  /** Shared manifest pruning: partition-equality (part_<c> values)
    * then stats bounds, both NULL-SAFE KEEP (a row without a recorded
    * value can never be excluded — the three-valued superset rule) and
    * both skipping predicates on columns the manifest doesn't track
    * (which only widens the read, never wrongs it). */
  private def prunedDataManifest(dataMf: DataFrame,
                                 preds: Seq[(String, Long, Long)],
                                 partPreds: Seq[(String, String)])
      : DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val statCols = dataMf.columns.filter(_.startsWith("min_"))
      .map(_.drop(4)).toSet
    val byPart = partPreds
      .filter(p => dataMf.columns.contains(s"part_${p._1}"))
      .foldLeft(dataMf) { case (m, (c, v)) =>
        m.filter(coalesce(col(s"part_$c") === v, lit(true)))
      }
    preds.filter(p => statCols.contains(p._1))
      .foldLeft(byPart) { case (m, (c, lo, hi)) =>
        m.filter(coalesce(!(col(s"max_$c") < lo || col(s"min_$c") > hi),
          lit(true))) }
  }

  /** Byte size of the pruned scan, from the manifest's per-leaf
    * n_bytes — join-planning statistics at metadata cost (the DSv2
    * relation reports this as sizeInBytes, so a small or
    * tightly-pruned sharded table BROADCASTS in joins instead of
    * shuffling the big side). None when any pruned leaf predates the
    * n_bytes column (old manifests) — an unknown size must never
    * masquerade as a small one. */
  def shardedTableScanBytes(spark: SparkSession, path: String,
                            preds: Seq[(String, Long, Long)] = Nil,
                            partPreds: Seq[(String, String)] = Nil,
                            version: Option[Long] = None)
      : Option[Long] = {
    import org.apache.spark.sql.functions.col
    val meta = resolveMeta(spark, path, version)
    if (!meta.mfSchema.fieldNames.contains("n_bytes")) return None
    val rows = prunedDataManifest(
        meta.manifestDf(spark).filter(col("kind") === "data"),
        preds, partPreds)
      .select("n_bytes").collect()
    if (rows.exists(_.isNullAt(0))) None
    else Some(rows.map(_.getLong(0)).sum)
  }

  /** Conservative per-column [lo, hi] bounds extracted from a
    * predicate's top-level CONJUNCTS — the mini predicate-pushdown
    * that lets [[readShardedTableWhere]] manifest-prune from the
    * same `Column` the caller filters with, instead of hand-written
    * `(col, lo, hi)` triples. Recognized shapes: `=`, `<`, `<=`,
    * `>`, `>=`, `between` against an integral literal, in either
    * operand order, AND-combined (bounds on the same column
    * intersect). Anything else — ORs, non-integral literals, UDF-ish
    * conjuncts — is ignored, which only WEAKENS pruning (the
    * superset guarantee holds; the exact predicate is still
    * applied). */
  def predicateBounds(pred: Column): Seq[(String, Long, Long)] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.analysis.{
      UnresolvedAttribute, UnresolvedFunction}
    def name(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute => Some(a.name)
      case a: AttributeReference => Some(a.name)
      case Cast(c, _, _, _) => name(c)
      case _ => None
    }
    def long(e: Expression): Option[Long] = e match {
      case Literal(v: Int, _) => Some(v.toLong)
      case Literal(v: Long, _) => Some(v)
      case Literal(v: Short, _) => Some(v.toLong)
      case Literal(v: Byte, _) => Some(v.toLong)
      case _ => None
    }
    // the Column-node converter emits UNRESOLVED function nodes
    // ('`=`('doc_id, 5)), not typed comparisons — normalize both
    // spellings to (op, left, right)
    def cmp(e: Expression): Option[(String, Expression, Expression)] =
      e match {
        case f: UnresolvedFunction if f.arguments.size == 2 =>
          Some((f.nameParts.last, f.arguments(0), f.arguments(1)))
        case EqualTo(a, b) => Some(("=", a, b))
        case GreaterThanOrEqual(a, b) => Some((">=", a, b))
        case LessThanOrEqual(a, b) => Some(("<=", a, b))
        case GreaterThan(a, b) => Some((">", a, b))
        case LessThan(a, b) => Some(("<", a, b))
        case _ => None
      }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case f: UnresolvedFunction
        if f.nameParts.last.equalsIgnoreCase("and") &&
          f.arguments.size == 2 =>
        conjuncts(f.arguments(0)) ++ conjuncts(f.arguments(1))
      case other => Seq(other)
    }
    val bounds = conjuncts(org.apache.spark.sql.graftbridge
      .ColumnBridge.catalystExpr(pred)).flatMap(cmp).flatMap {
      case (op, a, b) =>
        // normalize to attr-on-the-left by flipping the operator
        val alb = name(a).zip(long(b)).map { case (c, v) =>
          (c, op, v) }
        val bla = name(b).zip(long(a)).map { case (c, v) =>
          (c, op match {
            case "<" => ">"
            case "<=" => ">="
            case ">" => "<"
            case ">=" => "<="
            case o => o
          }, v)
        }
        (alb ++ bla).flatMap {
          case (c, "=" | "==", v) => Some((c, v, v))
          case (c, ">=", v) => Some((c, v, Long.MaxValue))
          case (c, "<=", v) => Some((c, Long.MinValue, v))
          case (c, ">", v) => Some((c, v + 1, Long.MaxValue))
          case (c, "<", v) => Some((c, Long.MinValue, v - 1))
          case _ => None
        }
    }
    bounds.groupBy(_._1).toSeq.sortBy(_._1).map { case (c, bs) =>
      (c, bs.map(_._2).max, bs.map(_._3).min)
    }
  }

  /** STRING-equality conjuncts extracted from a predicate — the
    * partition-pruning twin of [[predicateBounds]] (`source = 'web'`
    * drops whole partition dirs via the manifest's part_<c> values).
    * Same conservative contract: anything unrecognized is skipped. */
  def predicatePartEquals(pred: Column): Seq[(String, String)] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.analysis.{
      UnresolvedAttribute, UnresolvedFunction}
    def name(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute => Some(a.name)
      case a: AttributeReference => Some(a.name)
      case Cast(c, _, _, _) => name(c)
      case _ => None
    }
    def str(e: Expression): Option[String] = e match {
      case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) =>
        Some(v.toString)
      case Literal(v: String, _) => Some(v)
      case _ => None
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case f: UnresolvedFunction
        if f.nameParts.last.equalsIgnoreCase("and") &&
          f.arguments.size == 2 =>
        conjuncts(f.arguments(0)) ++ conjuncts(f.arguments(1))
      case other => Seq(other)
    }
    def eq(e: Expression): Option[(Expression, Expression)] = e match {
      case f: UnresolvedFunction
        if f.arguments.size == 2 &&
          (f.nameParts.last == "=" || f.nameParts.last == "==") =>
        Some((f.arguments(0), f.arguments(1)))
      case EqualTo(a, b) => Some((a, b))
      case _ => None
    }
    conjuncts(org.apache.spark.sql.graftbridge.ColumnBridge
      .catalystExpr(pred)).flatMap(eq).flatMap { case (a, b) =>
        name(a).zip(str(b)) ++ name(b).zip(str(a))
      }.distinct
  }

  /** [[readShardedTable]] driven by a `Column` predicate: manifest
    * pruning comes from [[predicateBounds]] and the EXACT predicate
    * is applied on top, so unlike the raw read this returns exactly
    * the matching rows. The declarative-read surface of the table —
    * what a DataSourceV2 pushdown would do, without leaving the
    * library API. */
  def readShardedTableWhere(spark: SparkSession, path: String,
                            pred: Column,
                            version: Option[Long] = None): DataFrame =
    readShardedTable(spark, path, predicateBounds(pred), version,
        partPreds = predicatePartEquals(pred))
      .filter(pred)

  /** TIME TRAVEL: the newest version whose manifest landed at or
    * before `tsMillis` (manifest-dir mtimes are set once, by the
    * atomic publish rename, and versions are committed in order).
    * Fails loudly when the timestamp predates the oldest RETAINED
    * snapshot — history behind [[expireShardedSnapshots]] is gone by
    * design. */
  def shardedVersionAt(spark: SparkSession, path: String,
                       tsMillis: Long): Long = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vs = shardedVersions(spark, path)
    require(vs.nonEmpty, s"no sharded-table snapshots under $path")
    val at = vs.filter(v => fs.getFileStatus(
      new org.apache.hadoop.fs.Path(s"$path/_manifest/v$v"))
      .getModificationTime <= tsMillis)
    require(at.nonEmpty,
      s"no snapshot of $path existed at $tsMillis (oldest retained " +
        s"is v${vs.head}) — history may have been expired")
    at.max
  }

  /** Read the table AS OF a wall-clock instant (snapshot pinned via
    * [[shardedVersionAt]]). */
  def readShardedTableAsOf(spark: SparkSession, path: String,
                           tsMillis: Long,
                           preds: Seq[(String, Long, Long)] = Nil)
      : DataFrame =
    readShardedTable(spark, path, preds,
      version = Some(shardedVersionAt(spark, path, tsMillis)))

  /** Read the chosen `(data_dir, leaf, seq)` rows of a snapshot: their
    * [[scanLeaves]], then the read tail — every column under its
    * logical name in the head dir's order (`shard` last), and the live
    * tombstones applied. With no rows (a read pruned to nothing) the
    * head leaf is scanned under an always-false filter, so the empty
    * frame keeps the snapshot's schema. */
  private def readManifestShards(spark: SparkSession, meta: ShardedMeta,
                                 rows: Array[org.apache.spark.sql.Row])
      : DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val scan =
      if (rows.nonEmpty) scanLeaves(spark, meta, rows)
      else scanLeaves(spark, meta, Array(scanRow(meta.headRow)))
        .filter(lit(false))
    val deletes = meta.delRows.nonEmpty && rows.nonEmpty
    val base = scan.select(physHeadSchema(spark, meta).fieldNames.toSeq
      .map(n => col(logicalNameOf(n, meta.headSeq, meta.renames,
        meta.version))) ++ (if (deletes) Seq(col("__seq")) else Nil): _*)
    if (!deletes) base
    else applyDeletes(spark, base, meta.delRows, meta.renames,
      meta.version)
  }

  /** The ONE scan of a snapshot's `(data_dir, leaf, seq)` rows — every
    * table read, compaction's small-run read and the bloom build plan
    * it, at any dir count:
    *
    *  - NO schema-inference job: every leaf is read with the head
    *    dir's (widest — widening is monotone) file types; Spark 4's
    *    parquet readers up-convert int32→long / float→double in place
    *    and null-fill columns a pre-evolution dir lacks.
    *  - RENAMES: dirs are grouped by rename ERA (the subset of events
    *    published after the dir) — one scan per era, each requesting
    *    that era's PHYSICAL column names and aliasing to the logical
    *    names of the read version. Era count is O(renames), not
    *    O(dirs).
    *  - `shard` comes from the file path. The row's `seq` (`__seq`),
    *    its `data_dir` (`__dir`) and its PARTITION VALUES come from a
    *    broadcast join of (dir, leaf) — parsed from the path's tail —
    *    against `rows` themselves (values Hive-unescaped driver-side,
    *    typed by [[physHeadSchema]]). Both join sides are the scanned
    *    file's URI form (the rows side is encoded driver-side, the
    *    rule Hadoop's Path applies to the file side), so no url_decode
    *    pitfalls and no per-dir basePath planning. The join runs only
    *    for a partitioned or tombstoned snapshot, or `withDir`.
    *
    * Output: every logical column (file columns and partition
    * columns), `shard`, and `__seq` and `__dir` when joined. */
  private def scanLeaves(spark: SparkSession, meta: ShardedMeta,
                         rows: Array[org.apache.spark.sql.Row],
                         withDir: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, concat_ws,
      element_at, input_file_name, lit, regexp_extract, slice, split}
    val events = meta.renames
    val readV = meta.version
    val headPhys = physHeadSchema(spark, meta)
    val partCols = meta.partCols.toSet
    val unesc = org.apache.spark.sql.catalyst.catalog
      .ExternalCatalogUtils.unescapePathName _
    // logical fields stored IN the files (partition cols and shard
    // live in the directory names)
    val dataFields = headPhys.fields.toSeq
      .filter(_.name != "shard")
      .filterNot(f => partCols(f.name))
      .map(f => f.copy(name =
        logicalNameOf(f.name, meta.headSeq, events, readV)))
    val needJoin = partCols.nonEmpty || meta.delRows.nonEmpty || withDir
    // group dirs by rename era: same applicable event subset = same
    // physical-to-logical translation
    val groups = rows.groupBy(r =>
      events.filter(e => e._1 > r.getLong(2) && e._1 <= readV))
    val parts = groups.toSeq.sortBy(_._2.head.getString(0)).map {
      case (era, rs) =>
        // the era's physical name of a logical column: chain the
        // era's events BACKWARD (ordered chaining makes name reuse
        // unambiguous in reverse too)
        def physName(l: String): String = {
          var n = l
          era.reverse.foreach { case (_, f, t) => if (n == t) n = f }
          n
        }
        val req = StructType(dataFields.map(f =>
          f.copy(name = physName(f.name))))
        val leaves = rs.map(r =>
          s"${r.getString(0)}/${r.getString(1)}").toSeq
        val f0 = spark.read.schema(req).parquet(leaves: _*)
        val sel = dataFields.map(f =>
          col(physName(f.name)).as(f.name)) ++ Seq(
          regexp_extract(input_file_name(),
            "/shard=([0-9]+)/[^/]+$", 1).cast("int").as("shard")) ++
          (if (needJoin) {
            // TAIL-anchored recovery of (__base, __leafdir): every
            // data leaf in one table has the same depth (partition
            // dirs + shard=N), so counting segments from the END of
            // the path is exact. A first-match regex on
            // '/(data|del)-v<digits>.../' is NOT — a table rooted
            // under an enclosing directory that happens to match
            // (e.g. /warehouse/data-v2-archive/tbl) would bind the
            // OUTER segment and silently drop every row at the
            // broadcast join below.
            val segs = split(input_file_name(), "/")
            val pdepth = meta.partCols.length
            Seq(
              element_at(segs, lit(-(pdepth + 3))).as("__base"),
              concat_ws("/", slice(segs, -(pdepth + 2), pdepth + 1))
                .as("__leafdir"))
           } else Nil)
        f0.select(sel: _*)
    }
    val all = parts.reduce(_.unionByName(_))
    if (!needJoin) all
    else {
      import org.apache.spark.sql.types.{LongType, StringType,
        StructField}
      val infoSchema = StructType(
        Seq(StructField("__base", StringType),
          StructField("__leafdir", StringType),
          StructField("__seq", LongType),
          StructField("__dir", StringType)) ++
        meta.partCols.map(c => StructField(s"__pv_$c", StringType)))
      // the join key is in the form the file side has: Spark names
      // a scanned file by its Hadoop path's URI string, which
      // percent-encodes what a URI path cannot hold (the `%` of every
      // Hive escape, a space) — so the manifest's raw on-disk names
      // take the same encoding, or an escaped partition value would
      // match no file and the join would drop every row
      def asScanned(rel: String): String =
        new org.apache.hadoop.fs.Path("/" + rel).toUri.getRawPath
          .stripPrefix("/")
      val info = rows.map { r =>
        val leaf = r.getString(1)
        val pvals = leaf.split('/').dropRight(1).map(s =>
          unesc(s.split("=", 2)(1)))
        org.apache.spark.sql.Row.fromSeq(
          Seq(asScanned(r.getString(0).split('/').last),
            asScanned(leaf), r.getLong(2), r.getString(0)) ++ pvals)
      }
      val joined = all.join(broadcast(spark.createDataFrame(
          java.util.Arrays.asList(info: _*), infoSchema)),
        Seq("__base", "__leafdir"))
      // partition columns at their snapshot-wide discovery types
      joined.select(dataFields.map(f => col(f.name)) ++
        headPhys.fields.toSeq.filter(f => partCols(f.name)).map(f =>
          col(s"__pv_${f.name}").cast(f.dataType).as(f.name)) ++
        Seq("shard", "__seq", "__dir").map(col): _*)
    }
  }

  /** MERGE-ON-READ: drop every data row some LATER tombstone covers.
    * A tombstone written at seq D kills key k in rows whose dir was
    * written at seq R < D — a key re-inserted after its delete (or by
    * the same MERGE that tombstoned it) survives, because its row's
    * seq is >= the tombstone's. One aggregation collapses all live
    * tombstone files to (key, max seq), then a single anti-join —
    * tombstones are key-only and usually tiny, so AQE broadcasts
    * them; the data side never reshuffles. `data` must carry `__seq`
    * (dropped on the way out). */
  private def applyDeletes(spark: SparkSession, data: DataFrame,
                           delRows: Array[org.apache.spark.sql.Row],
                           events: Seq[(Long, String, String)] =
                             Seq.empty,
                           readV: Long = Long.MaxValue)
      : DataFrame = {
    import org.apache.spark.sql.functions._
    // del_col is the key's PHYSICAL name when the tombstone was
    // written; chain the rename history so a key renamed mid-chain
    // still kills (and a pre-rename tombstone still applies)
    val delCols = delRows.map(r =>
      logicalNameOf(r.getString(2), r.getLong(1), events, readV))
      .distinct
    require(delCols.length == 1,
      s"sharded table has tombstones on different key columns " +
        s"(${delCols.mkString(", ")}) — unsupported")
    val idName = delCols.head
    val dels = delRows.map { r =>
      readDir(spark, r.getString(0))
        .select(col(r.getString(2)).as("__del_id"))
        .withColumn("__del_seq", lit(r.getLong(1)))
    }.reduce(_.unionByName(_))
    val maxDel = dels.groupBy("__del_id")
      .agg(max(col("__del_seq")).as("__del_seq"))
    data.join(maxDel,
        data(idName) === maxDel("__del_id") &&
          maxDel("__del_seq") > data("__seq"),
        "left_anti")
      .drop("__seq")
  }

  /** SORTED-RUN COMPACTION: fold the latest snapshot's SMALL data
    * dirs (total rows ≤ `smallDirRows` — the drip of streaming/daily
    * appends) into one new range-sharded dir, leaving every big dir's
    * files untouched — the new manifest carries the big dirs' rows
    * verbatim plus the merged dir's. NOT a global rewrite: cost is
    * O(rows in small dirs), which the threshold bounds, while the
    * read side goes from one-file-per-append back to O(1) files per
    * bounded range. The merged rows re-enter the same
    * [[graft.ops.Packing.contiguousShards]] range layout (the k-way
    * merge of pre-sorted runs, expressed as a range shuffle of only
    * the small runs). No-op (returns the current version) when fewer
    * than two dirs qualify. Old versions stay readable until
    * [[expireShardedSnapshots]]; readback equality and untouched big
    * files are pinned by SourcesSpec. */
  def compactShardedTable(spark: SparkSession, path: String, id: Column,
                          orderCol: Column, numShards: Int,
                          statsCols: Seq[String],
                          smallDirRows: Long): Long = {
    val meta = resolveMeta(spark, path)
    val current = meta.version
    val perDir = meta.dataRows.groupBy(_.getAs[String]("data_dir"))
      .map { case (d, rs) =>
        (d, rs.map(_.getAs[Long]("n_rows")).sum) }
    val small = perDir.filter(_._2 <= smallDirRows).keySet
    if (small.size < 2) return current
    // tombstone rows are never "small dirs": they stay in the
    // manifest verbatim (they still cover the untouched big dirs).
    // Batch ids carried ONLY by the dropped small-dir rows survive as
    // zero-row ledger entries — dropping them would re-open the
    // exactly-once window for any foreachBatch replay that arrives
    // after this compaction.
    def idsOf(rows: Array[org.apache.spark.sql.Row]): Set[Long] =
      if (!meta.mfSchema.fieldNames.contains("batch_id")) Set.empty
      else rows.flatMap(r => Option(r.getAs[Any]("batch_id"))
        .map(_.asInstanceOf[Long])).filter(_ != -1L).toSet
    // only DATA rows of the folded dirs are dropped: a merge's
    // tombstone row can REFERENCE its data dir (r14) — it still
    // covers the untouched big dirs, so dropping it alongside the
    // dir's data rows would resurrect deleted rows there (the dir
    // itself stays on disk, pinned by this surviving reference,
    // until a rewrite drops the tombstone and expiry reclaims it)
    val keepArr = meta.mfRows
      .filterNot(r => small(r.getAs[String]("data_dir")) &&
        r.getAs[String]("kind") == "data")
    val droppedIds =
      (idsOf(meta.mfRows) -- idsOf(keepArr)).toSeq.sorted
    val keepRows = unionManifests(LocalManifest(meta.mfSchema,
      keepArr.toSeq) +: ledgerRows(droppedIds).toSeq)
    // the small runs read like the table does: straddled evolutions,
    // widenings and renames resolve to the head's logical columns at
    // their widest types (the compacted dir becomes the newest schema
    // authority, so it must carry every column), and the live
    // tombstones are APPLIED — the compacted copy gets seq = the new
    // version, larger than every existing tombstone's, so skipping
    // them would resurrect deleted rows.
    val merged = readManifestShards(spark, meta, meta.dataRows
      .filter(r => small(r.getAs[String]("data_dir"))).map(scanRow))
      .drop("shard")
    // every row of every small run tombstoned: publish a manifest-only
    // version that simply drops the small dirs (conflict aborts — same
    // contract as the data-carrying path). The emptiness falls out of
    // the commit's own row count, no separate probe job.
    writeSnapshot(merged, id, orderCol, path, numShards, statsCols,
      parent = FixedParent(keepRows, current), batchId = -1L,
      op = "compact", meta = Some(meta),
      onEmpty = Some(() => publishVersion(spark, path, _ => keepRows,
        composable = false, expected = Some(current + 1))))
  }

  /** Row-level DELETE, merge-on-read: publish a snapshot whose only
    * change is a TOMBSTONE file — the distinct `keys` (one column
    * named `idName`, the table's row-id column) under `del-v<N>` —
    * plus a manifest carrying the parent's rows verbatim. NO data
    * file is touched (the 100 TB point: deleting a million rows from
    * a petabyte table is a key-file write and a manifest commit, not
    * a rewrite), readers of pinned older versions are unaffected, and
    * [[readShardedTable]] applies the tombstones as one key-only
    * anti-join. Tombstones are REMOVED physically by
    * [[compactShardedTable]] (for the runs it rewrites) or
    * [[rewriteShardedTable]] (whole table). Returns the new version. */
  def deleteFromShardedTable(spark: SparkSession, path: String,
                             idName: String, keys: DataFrame,
                             skipIfEmpty: Boolean = false): Long = {
    import org.apache.spark.sql.functions.col
    val meta = resolveMeta(spark, path) // fails loudly if absent
    val baseV = meta.version + 1
    val token = java.util.UUID.randomUUID().toString.take(8)
    val delDir = s"$path/del-v$baseV-$token"
    // the key count is what the write tasks wrote: no read-back job
    // (an Observation's get() would block on the async listener bus)
    val n = ParquetWriteBridge.write(
      keys.select(col(idName)).distinct(), delDir, Nil).sum
    // nothing-matched probe folded into THIS count (delete-where's
    // old isEmpty paid a full extra evaluation of the pruned read):
    // keep the current version, leave no trace
    if (n == 0 && skipIfEmpty) {
      val fs = new org.apache.hadoop.fs.Path(delDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(delDir), true)
      return meta.version
    }
    // a DELETE composes with concurrent appends/merges: its tombstone
    // keys are parent-independent, so a commit conflict just retries
    // against the refreshed parent (meta reused only when the claim
    // lands at exactly meta.version + 1)
    publishVersion(spark, path, v => unionManifests(Seq(
        (if (meta.version == v - 1) meta else resolveMeta(spark, path))
          .local,
        tombstoneRow(delDir, n, -1L, v, "delete", idName))),
      composable = true)
  }

  /** MERGE (upsert): one atomic snapshot that tombstones every key in
    * `df` AND appends `df`'s rows — the standard upsert decomposition
    * (delete-then-insert with a shared sequence number, so the new
    * copy survives its own tombstone while every older copy dies).
    * Cost is O(batch) exactly like an append: existing data files are
    * never read, let alone rewritten. Schema must match the table
    * (same contract as [[appendShardedTable]]). Keys must be
    * NON-NULL: the merge-on-read anti-join is an equality join, so a
    * null-keyed old row can never be tombstoned (equality never
    * matches null) — it would survive every upsert. Returns the
    * version. */
  def mergeShardedTable(df: DataFrame, idName: String, orderCol: Column,
                        path: String, numShards: Int,
                        statsCols: Seq[String],
                        batchId: Long = -1L): Long = {
    import org.apache.spark.sql.functions.col
    val spark = df.sparkSession
    val meta = resolveMeta(spark, path) // requires table exists
    val tableSchema = logicalHeadSchemaOf(spark, meta)
    require(df.columns.toSet == tableSchema.fieldNames.toSet,
      s"mergeShardedTable: batch columns ${df.columns.sorted
        .mkString(",")} != table columns ${tableSchema.fieldNames
        .sorted.mkString(",")}")
    val aligned = alignBatchTypes(df, tableSchema, "mergeShardedTable")
    // an empty batch upserts nothing: keep the current version (the
    // emptiness falls out of the commit's own row count, no extra job)
    writeSnapshot(aligned, col(idName), orderCol, path, numShards,
      statsCols, parent = LatestParent, batchId = batchId, op = "merge",
      deleteKeyCol = Some(idName), meta = Some(meta),
      onEmpty = Some(() => meta.version))
  }

  // ---- COLUMN RENAME via a manifest-level mapping ------------------

  /** RENAME a column without touching any data file — the Iceberg
    * column-mapping idea with the rename HISTORY as the mapping: a
    * sidecar under `path/_schema/renames-v<N>` records every rename
    * event `(atVersion, from, to)`, and readers translate each data
    * dir's PHYSICAL names to the logical names of the version they
    * read by chain-following the events published after the dir was
    * written. Old dirs are never orphaned, never rewritten; pinned
    * older versions keep their old names (the history applied to read
    * version V stops at V — time travel sees the names of its era).
    * Tombstone key columns translate the same way, so even the row-id
    * column can be renamed mid-tombstone-chain.
    *
    * The rename itself is a metadata-only commit: a new manifest
    * version carrying the parent's rows verbatim plus the updated
    * sidecar (written under the claimed version BEFORE the manifest
    * publishes — a crashed commit leaves an inert sidecar for an
    * unpublished version that no reader ever applies). Conflicts
    * abort like any state-derived commit. Manifest stats columns keep
    * their at-write names; pruning on the new name treats old rows as
    * null-stat (kept, never wrongly pruned) until a
    * compaction/rewrite re-tightens them.
    *
    * Returns the new version. */
  def renameShardedTableColumn(spark: SparkSession, path: String,
                               from: String, to: String): Long = {
    val meta = resolveMeta(spark, path)
    val base = meta.version
    val logical = logicalHeadSchemaOf(spark, meta).fieldNames.toSet
    require(logical.contains(from),
      s"renameShardedTableColumn: no column $from in $path " +
        s"(have ${logical.toSeq.sorted.mkString(",")})")
    require(!logical.contains(to),
      s"renameShardedTableColumn: column $to already exists in $path")
    require(from != "shard" && to != "shard",
      "renameShardedTableColumn: shard is the writer's layout column")
    // a DECLARED PARTITION column cannot be renamed: every later
    // write derives the partition layout from the manifest's part_<c>
    // columns by PHYSICAL name, so a renamed partition column would
    // make the next append fail its partition-columns-present check
    // (and a translated layout would orphan the existing dirs)
    require(!meta.partCols.contains(from),
      s"renameShardedTableColumn: $from is a declared partition " +
        "column — partition columns cannot be renamed")
    val hist = meta.renames
    publishVersion(spark, path, { v =>
      writeRenameFile(spark, path, v, hist :+ ((v, from, to)))
      meta.local
    }, composable = false, expected = Some(base + 1))
  }

  /** Rename history applicable at `readV`, ascending by version. The
    * sidecar files are cumulative, so the newest one at or below the
    * read version carries exactly the events with `at <= readV`. */
  private def renameEvents(spark: SparkSession, path: String,
                           readV: Long): Seq[(Long, String, String)] = {
    val dir = new org.apache.hadoop.fs.Path(s"$path/_schema")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return Seq.empty
    val vs = fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith("renames-v"))
      .flatMap(n => scala.util.Try(
        n.stripPrefix("renames-v").toLong).toOption)
      .filter(_ <= readV)
    if (vs.isEmpty) return Seq.empty
    val p = new org.apache.hadoop.fs.Path(
      s"$path/_schema/renames-v${vs.max}")
    val in = fs.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8")
      .mkString finally in.close()
    text.split('\n').filter(_.nonEmpty).toSeq.map { line =>
      val Array(v, f, t) = line.split('\t')
      (v.toLong, f, t)
    }.sortBy(_._1)
  }

  private def writeRenameFile(spark: SparkSession, path: String,
                              v: Long,
                              events: Seq[(Long, String, String)])
      : Unit = {
    val p = new org.apache.hadoop.fs.Path(
      s"$path/_schema/renames-v$v")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    out.write(events.sortBy(_._1)
      .map { case (at, f, t) => s"$at\t$f\t$t" }
      .mkString("\n").getBytes("UTF-8"))
    out.close()
  }

  /** The logical name (at read version `readV`) of a column that was
    * PHYSICALLY written as `p` by a dir with sequence `dirSeq`:
    * chain-follow the rename events published after the dir, in
    * order. Ordered chaining makes even name REUSE unambiguous
    * (a->b at v1, then c->a at v2: physical `a` in a pre-v1 dir
    * becomes b and stops; physical `c` in a v1-era dir becomes the
    * new `a`). */
  private def logicalNameOf(p: String, dirSeq: Long,
                            events: Seq[(Long, String, String)],
                            readV: Long): String = {
    var n = p
    events.foreach { case (at, f, t) =>
      if (at > dirSeq && at <= readV && n == f) n = t
    }
    n
  }

  /** Translate one data dir's physical column names to the logical
    * names of the read version. No-op without rename history. */
  private def translateDir(df: DataFrame, dirSeq: Long,
                           events: Seq[(Long, String, String)],
                           readV: Long): DataFrame =
    if (events.isEmpty) df
    else {
      import org.apache.spark.sql.functions.col
      df.select(df.columns.toSeq.map(c =>
        col(c).as(logicalNameOf(c, dirSeq, events, readV))): _*)
    }

  /** Row-level UPDATE by predicate: one atomic snapshot that
    * tombstones every matched key AND appends the matched rows with
    * `set` applied — the GDPR-redaction / label-fix shape. Cost is
    * O(matched rows): the scan is parquet-pushdown-filtered (pass
    * `preds` to manifest-prune it too), existing files are never
    * rewritten, and the commit is the same delete+insert decomposition
    * as [[mergeShardedTable]] (shared sequence number — the updated
    * copy survives its own tombstone). Matched keys must be non-null
    * and unique (the table's id contract). Returns the new version,
    * or the current one if nothing matched. Derived from the snapshot
    * it read: a concurrent commit between read and publish aborts
    * (same contract as compact/rewrite — re-run). */
  def updateShardedTable(spark: SparkSession, path: String,
                         idName: String, pred: Column,
                         set: Seq[(String, Column)], orderCol: Column,
                         numShards: Int, statsCols: Seq[String],
                         preds: Seq[(String, Long, Long)] = Nil): Long = {
    require(set.nonEmpty, "updateShardedTable: empty set clause")
    val meta = resolveMeta(spark, path)
    val base = meta.version
    // manifest pruning falls out of the predicate itself unless the
    // caller supplies tighter bounds
    val autoPreds =
      if (preds.nonEmpty) preds else predicateBounds(pred)
    val matched = readShardedTable(spark, path, autoPreds).filter(pred)
      .drop("shard")
    val updated = set.foldLeft(matched) { case (d, (c, e)) =>
      require(d.columns.contains(c),
        s"updateShardedTable: unknown column $c")
      d.withColumn(c, e)
    }
    import org.apache.spark.sql.functions.col
    // nothing-matched probe rides writeSnapshot's row count
    // (onEmpty) — the old isEmpty paid a full extra evaluation of the
    // pruned read per update (r13)
    writeSnapshot(updated, col(idName), orderCol, path, numShards,
      statsCols, parent = FixedParent(meta.local, base), batchId = -1L,
      op = "merge", deleteKeyCol = Some(idName), meta = Some(meta),
      onEmpty = Some(() => base))
  }

  /** DELETE by predicate: resolve the matching keys with a
    * manifest-pruned, pushdown-filtered scan ([[predicateBounds]])
    * and publish one tombstone snapshot — still O(matched keys) in
    * what it WRITES (key file + manifest commit, no data rewritten);
    * the scan to find them is the pruned read. Composes with
    * concurrent appends/merges like any delete. Returns the new
    * version, or the current one when nothing matches. */
  def deleteWhereShardedTable(spark: SparkSession, path: String,
                              idName: String, pred: Column): Long = {
    import org.apache.spark.sql.functions.col
    val keys = readShardedTable(spark, path, predicateBounds(pred))
      .filter(pred).select(col(idName))
    deleteFromShardedTable(spark, path, idName, keys,
      skipIfEmpty = true)
  }

  /** VACUUM: delete the crashed-commit debris no reader can see —
    * data/tombstone dirs referenced by NO live manifest, leftover
    * `.stage-*` manifest dirs, and stale `.claim-v<N>` files whose
    * version never published (those BLOCK writers — removing one
    * unblocks the table with no data loss). Only items older than
    * `graceMs` are touched, so an in-flight writer's not-yet-committed
    * dir is never yanked from under it (pick a grace comfortably
    * above the longest expected write). Returns the deleted names.
    * Metadata-only: one listing + the live-manifest dir set. */
  def vacuumShardedTable(spark: SparkSession, path: String,
                         graceMs: Long = 24L * 3600 * 1000)
      : Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vs = shardedVersions(spark, path)
    val live = vs.flatMap(v =>
      resolveMeta(spark, path, Some(v)).mfRows
        .map(_.getAs[String]("data_dir").split('/').last)).toSet
    val cutoff = System.currentTimeMillis() - graceMs
    val lastPub = vs.lastOption.getOrElse(0L)
    val orphanDirs = fs.listStatus(root)
      .filter(s => s.isDirectory &&
        (s.getPath.getName.startsWith("data-v") ||
         s.getPath.getName.startsWith("del-v")) &&
        !live.contains(s.getPath.getName) &&
        s.getModificationTime < cutoff)
      .map(_.getPath).toSeq
    val mfRoot = new org.apache.hadoop.fs.Path(s"$path/_manifest")
    val mfJunk =
      if (!fs.exists(mfRoot)) Seq.empty
      else fs.listStatus(mfRoot).filter { s =>
        val n = s.getPath.getName
        val stale = n.startsWith(".stage-") ||
          (n.startsWith(".claim-v") &&
            n.stripPrefix(".claim-v").toLong > lastPub)
        stale && s.getModificationTime < cutoff
      }.map(_.getPath).toSeq
    (orphanDirs ++ mfJunk).map { p =>
      fs.delete(p, true); p.getName
    }
  }

  /** MAJOR compaction: materialize the current merge-on-read state
    * (all tombstones applied) as one fresh range-sharded snapshot
    * that references no tombstone at all. O(live table) by design —
    * the explicit "pay once, then every read is tombstone-free"
    * operation, vs [[compactShardedTable]] which only rewrites the
    * small runs. Old versions stay readable until
    * [[expireShardedSnapshots]] reclaims them (which also deletes
    * now-unreferenced tombstone files). Returns the new version. */
  def rewriteShardedTable(spark: SparkSession, path: String, id: Column,
                          orderCol: Column, numShards: Int,
                          statsCols: Seq[String]): Long = {
    val meta = resolveMeta(spark, path)
    commitRewrite(meta, readAt(spark, meta).drop("shard"), id, orderCol,
      numShards, statsCols)
  }

  /** Commit `cur` — a read of the table at `meta.version` — as one
    * rewrite snapshot derived from exactly that version: a commit that
    * lands between the read and the publish aborts the rewrite, with
    * or without a ledger. The rewritten manifest references no old
    * dir, but the commit LOG must survive it: every committed batch id
    * rides along as a zero-row ledger row, or a post-rewrite
    * foreachBatch replay would re-apply its batch (see
    * [[ledgerRows]]). */
  private def commitRewrite(meta: ShardedMeta, cur: DataFrame, id: Column,
                            orderCol: Column, numShards: Int,
                            statsCols: Seq[String]): Long =
    writeSnapshot(cur, id, orderCol, meta.path, numShards, statsCols,
      parent = FixedParent(ledgerRows(meta.batchIds.toSeq.sorted)
        .getOrElse(LocalManifest(new StructType(), Nil)), meta.version),
      batchId = -1L, op = "rewrite", meta = Some(meta))

  /** INCREMENTAL (CDC) read, insert side: the rows added to the table
    * in versions (`fromVersion`, `toVersion`] by write/append/merge —
    * i.e. the data dirs in `to`'s manifest that `from`'s lacks, op-
    * filtered so compaction/rewrite REORGANIZATIONS of existing rows
    * are not re-delivered as inserts. This is what an incremental
    * downstream pipeline consumes per tick: cost is O(new data),
    * never O(table). Rows are as-written; a consumer that also wants
    * deletes applies [[shardedTableDeletedKeys]] for the same window
    * after (a merge shows up as delete+insert of the same key). */
  def shardedTableInserts(spark: SparkSession, path: String,
                          fromVersion: Long, toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    require(fromVersion <= toVersion,
      s"shardedTableInserts: from $fromVersion > to $toVersion")
    // PER-VERSION walk, not an endpoint diff: a dir appended at v+1
    // and folded away by a compaction at v+2 is absent from BOTH
    // endpoint manifests — an endpoint diff would silently drop its
    // rows from the change stream (they live on only inside the
    // op-filtered compact dir). Walking each (v-1, v) step sees every
    // dir at the version that WROTE it; a manifest expired out of the
    // window fails loudly (re-bootstrap the consumer) rather than
    // under-delivering. Cost: O(window x shards) driver metadata.
    val vs = shardedVersions(spark, path).toSet
    (fromVersion to toVersion).foreach(v => require(vs.contains(v),
      s"shardedTableInserts: manifest v$v expired out of the window " +
        s"($fromVersion, $toVersion] — re-bootstrap the consumer"))
    val metas = (fromVersion to toVersion).map(v => v ->
      resolveMeta(spark, path, Some(v))).toMap
    val events = metas(toVersion).renames
    val ins = (fromVersion + 1 to toVersion).flatMap { w =>
      val prev = metas(w - 1).mfRows
        .map(_.getAs[String]("data_dir")).toSet
      metas(w).dataRows
        .filter(r => Set("write", "append", "merge")(
          r.getAs[String]("op")))
        .map(r => (r.getAs[String]("data_dir"),
          r.getAs[Long]("shard"), r.getAs[Long]("seq")))
        .filterNot(t => prev(t._1))
    }.distinct
    // schema authority = the NEWEST dir (ordered, not an arbitrary
    // head() — after schema evolution the empty-window frame must
    // carry the evolved schema deterministically, matching
    // readManifestShards); physical names translate through the
    // rename history at the window's END version
    if (ins.isEmpty)
      translateDir(
        readDir(spark, metas(toVersion).headDir).filter(lit(false)),
        metas(toVersion).headSeq, events, toVersion)
    else
      ins.groupBy(_._1).toSeq.sortBy(_._1).map {
        case (dDir, rs) =>
          // whole-dir read: every (shard, partition) leaf of a dir
          // new in the window is new (the diff is dir-grained), and
          // partition discovery recovers layout columns either way
          translateDir(readDir(spark, dDir), rs.head._3, events,
            toVersion)
      }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** INCREMENTAL (CDC) read, delete side: the distinct keys
    * tombstoned in versions (`fromVersion`, `toVersion`] — one column
    * named after the table's delete key. Key-only and tiny; pair with
    * [[shardedTableInserts]] to replicate the window's net change. */
  def shardedTableDeletedKeys(spark: SparkSession, path: String,
                              fromVersion: Long, toVersion: Long)
      : DataFrame = {
    import org.apache.spark.sql.functions.col
    require(fromVersion <= toVersion,
      s"shardedTableDeletedKeys: from $fromVersion > to $toVersion")
    // per-version walk, same rationale as [[shardedTableInserts]]: a
    // tombstone written and then dropped by a rewrite inside the
    // window must still be delivered
    val vs = shardedVersions(spark, path).toSet
    (fromVersion to toVersion).foreach(v => require(vs.contains(v),
      s"shardedTableDeletedKeys: manifest v$v expired out of the " +
        s"window ($fromVersion, $toVersion] — re-bootstrap the consumer"))
    val metas = (fromVersion to toVersion).map(v => v ->
      resolveMeta(spark, path, Some(v))).toMap
    val events = metas(toVersion).renames
    // (data_dir, physical del_col, seq) — the key's LOGICAL name at
    // the window end comes from chaining the rename history
    val fresh = (fromVersion + 1 to toVersion).flatMap { w =>
      val prev = metas(w - 1).delRows.map(_.getString(0)).toSet
      metas(w).delRows
        .filterNot(r => prev(r.getString(0)))
        .map(r => (r.getString(0), r.getString(2), r.getLong(1)))
    }.distinct
    if (fresh.isEmpty) {
      // empty frame with the key column name if the table ever had a
      // tombstone, else a generic empty single-column frame
      val name = metas(toVersion).delRows.headOption
        .map(r => logicalNameOf(r.getString(2), r.getLong(1), events,
          toVersion))
        .getOrElse("key")
      spark.range(0).select(col("id").as(name))
    } else {
      val names = fresh
        .map(r => logicalNameOf(r._2, r._3, events, toVersion))
        .distinct
      require(names.length == 1,
        s"tombstones on different key columns: ${names.mkString(", ")}")
      fresh.map(r => readDir(spark, r._1)
          .select(col(r._2).as(names.head)))
        .reduce(_.unionByName(_)).distinct()
    }
  }

  /** Z-ORDER clustered sharded table: shards are contiguous runs of
    * the Morton curve over `zCols` (each dimension rank-quantized to
    * `bitsPerCol` bits via ONE approx-quantile sketch pass — rank,
    * not min/max scaling, so a skewed column still spreads over its
    * buckets), and the manifest records min/max of EVERY zCol per
    * shard. A box predicate bounded on several dimensions then prunes
    * on all of them at once — the layout for tables queried by more
    * than one key (time × tenant, day × doc range), where a linear
    * sort keeps only its leading column's stats tight and every other
    * dimension spans every shard. Same superset-guarantee contract as
    * [[readShardedTable]]'s pruning; zCols must be numeric, and only
    * integral ones get manifest bounds ([[exactStatsType]] — any other
    * type records null bounds, so the manifest never prunes on it).
    * Nulls land in bucket 0 deterministically. */
  def writeShardedTableZOrdered(df: DataFrame, id: Column,
                                zCols: Seq[String], path: String,
                                numShards: Int,
                                bitsPerCol: Int = 8): Long =
    writeShardedTable(df, id,
      zOrderKey(df, zCols, bitsPerCol, "writeShardedTableZOrdered"),
      path, numShards, statsCols = zCols)

  /** Z-ORDER as MAINTENANCE: re-cluster the CURRENT table state along
    * `zCols` in one rewrite snapshot — the post-hoc form of
    * [[writeShardedTableZOrdered]] for a table that grew through
    * appends and lost locality. Commits like [[rewriteShardedTable]],
    * so the batch-id ledger survives and old versions stay readable
    * until expiry. The table is read ONCE, at the resolved version:
    * the quantile sketch and the rewrite consume the same frame. Cost:
    * one sketch pass over all z columns + the rewrite itself (O(table)
    * — that is what a re-cluster IS). */
  def rewriteShardedTableZOrdered(spark: SparkSession, path: String,
                                  idName: String, zCols: Seq[String],
                                  numShards: Int,
                                  bitsPerCol: Int = 8): Long = {
    val meta = resolveMeta(spark, path)
    val cur = readAt(spark, meta).drop("shard")
    commitRewrite(meta, cur, org.apache.spark.sql.functions.col(idName),
      zOrderKey(cur, zCols, bitsPerCol, "rewriteShardedTableZOrdered"),
      numShards, (idName +: zCols).distinct)
  }

  /** The z-order key of `df` over `zCols`: each dimension
    * rank-quantized to `bitsPerCol` bits by ONE multi-column
    * approx-quantile sketch pass (driver state = 2^bits - 1 doubles
    * per dimension), then Morton-interleaved by [[zValueK]]. Nulls
    * land in bucket 0. */
  private def zOrderKey(df: DataFrame, zCols: Seq[String],
                        bitsPerCol: Int, caller: String): Column = {
    import org.apache.spark.sql.functions._
    require(zCols.size >= 2 && zCols.size <= 6,
      s"$caller: 2..6 z columns (got ${zCols.size})")
    require(bitsPerCol >= 1 && zCols.size * bitsPerCol <= 62,
      s"bitsPerCol x dims must fit a long, got " +
        s"${zCols.size} x $bitsPerCol")
    val nB = 1 << bitsPerCol
    val probs = (1 until nB).map(_.toDouble / nB).toArray
    val allSplits = df.stat.approxQuantile(zCols.toArray, probs, 0.001)
    def bucket(c: String, splits: Array[Double]): Column = {
      val arr = array(splits.map(lit(_)): _*)
      aggregate(arr, lit(0L), (acc, x) =>
        acc + when(col(c).cast("double") >= x, 1L).otherwise(0L))
    }
    zValueK(zCols.zip(allSplits.toSeq).map {
      case (c, s) => bucket(c, s) }, bitsPerCol)
  }

  /** Snapshot expiry: keep the newest `keep` versions, delete the
    * expired manifests, then delete any data dir NO SURVIVING
    * manifest references (append chains share data dirs, so
    * reachability — not version number — decides what is garbage;
    * this is Iceberg's expire-snapshots contract). Readers of kept
    * versions are unaffected. Returns the expired versions. */
  def expireShardedSnapshots(spark: SparkSession, path: String,
                             keep: Int): Seq[Long] = {
    require(keep >= 1, s"expireShardedSnapshots: keep $keep < 1")
    val vs = shardedVersions(spark, path)
    val expired = vs.dropRight(keep)
    if (expired.isEmpty) return Seq.empty
    val kept = vs.takeRight(keep)
    // compare by basename (data-v<N>): listStatus returns QUALIFIED
    // paths (file:/..., hdfs://...) while the manifest stores the
    // writer's raw string — the version-dir name is the stable key
    val referenced = kept.flatMap(v =>
      resolveMeta(spark, path, Some(v)).mfRows
        .map(_.getAs[String]("data_dir").split('/').last)).toSet
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // manifests first: a version must become unlistable before its
    // (possibly exclusive) data dirs vanish. The version's claim file
    // and any bloom sidecar built AT that version go with it — a
    // sidecar whose snapshot is gone prunes nothing ([[
    // newestBloomBuild]] would return it with an empty covered set),
    // so keeping it is pure dead weight.
    expired.foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/_manifest/v$v"),
        true)
      fs.delete(new org.apache.hadoop.fs.Path(
        s"$path/_manifest/.claim-v$v"), false)
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/_bloom/v$v"),
        true)
    }
    fs.listStatus(root)
      .filter(s => s.isDirectory &&
        (s.getPath.getName.startsWith("data-v") ||
         s.getPath.getName.startsWith("del-v")))
      .map(_.getPath)
      .filterNot(p => referenced.contains(p.getName))
      .foreach(p => fs.delete(p, true))
    expired
  }

  /** Remove the whole table tree (manifests + every data dir). The
    * temp-table cleanup primitive — q523/q527 write a fresh table per
    * run and must leave /tmp flat afterwards. */
  def dropShardedTable(spark: SparkSession, path: String): Unit = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(hp, true)
    // the metadata memo is keyed by (path, version, fingerprint), so a
    // recreate at the same path could never FALSELY hit — this just
    // frees the dead entries eagerly
    invalidateShardedMeta(path)
    ()
  }

  /** Metadata fixup after a table directory MOVE (`oldPath` →
    * `newPath`, the move itself already done by the caller): manifest
    * rows and bloom-sidecar rows store ABSOLUTE `data_dir` paths
    * (`$path/data-v<N>-<token>`, `$path/del-v<N>-<token>`), so a bare
    * directory rename leaves every snapshot pointing at the old —
    * now nonexistent, possibly later recreated by a STRANGER —
    * location. This rewrites the `oldPath/` prefix to `newPath/` in
    * every `_manifest/v<N>` and `_bloom/v<V>/<col>` parquet, then
    * drops the old path's memo entries.
    *
    * A rename is an ADMIN op, not a concurrent-writer op: moving a
    * table out from under an in-flight writer is undefined at the
    * filesystem level already (its staged dirs vanish), so the
    * rewrite takes no claim. Cost is O(versions + bloom builds) tiny
    * parquet rewrites — metadata-scale, no data file is touched. */
  def relocateShardedTable(spark: SparkSession, oldPath: String,
                           newPath: String): Unit = {
    import org.apache.spark.sql.functions.{col, concat, lit, when,
      substring}
    val hconf = spark.sparkContext.hadoopConfiguration
    val newRoot = new org.apache.hadoop.fs.Path(newPath)
    val fs = newRoot.getFileSystem(hconf)
    val oldPrefix = oldPath.stripSuffix("/") + "/"
    val newPrefix = newPath.stripSuffix("/") + "/"
    def rewrite(dir: org.apache.hadoop.fs.Path): Unit = {
      val df = spark.read.parquet(dir.toString)
      if (!df.columns.contains("data_dir")) return
      val fixed = df.withColumn("data_dir",
        when(col("data_dir").startsWith(oldPrefix),
          concat(lit(newPrefix),
            substring(col("data_dir"), oldPrefix.length + 1,
              Int.MaxValue)))
          .otherwise(col("data_dir")))
      val tmp = new org.apache.hadoop.fs.Path(dir.getParent,
        s".reloc-${dir.getName}")
      fixed.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      fs.delete(dir, true)
      require(fs.rename(tmp, dir),
        s"relocateShardedTable: swap failed for $dir")
    }
    val mfRoot = new org.apache.hadoop.fs.Path(s"$newPath/_manifest")
    if (fs.exists(mfRoot))
      fs.listStatus(mfRoot)
        .filter(s => s.isDirectory && s.getPath.getName.matches("v\\d+"))
        .sortBy(_.getPath.getName)
        .foreach(s => rewrite(s.getPath))
    val blRoot = new org.apache.hadoop.fs.Path(s"$newPath/_bloom")
    if (fs.exists(blRoot))
      for (v <- fs.listStatus(blRoot) if v.isDirectory;
           c <- fs.listStatus(v.getPath) if c.isDirectory)
        rewrite(c.getPath)
    invalidateShardedMeta(oldPath)
    invalidateShardedMeta(newPath)
  }
}
