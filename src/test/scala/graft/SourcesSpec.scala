package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Sources

/** Source/sink round-trips: every edge format re-reads to the same rows
  * under an explicit schema. */
class SourcesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import TestSpark.sf0001

  /** After each test: no RDD it persisted stays persisted. A commit's
    * sorted cache is persisted at the RDD level, where the session's
    * cache manager never sees it, so this is the check that does. */
  override def withFixture(test: NoArgTest) = {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    super.withFixture(test) match {
      case org.scalatest.Succeeded =>
        val left = spark.sparkContext.getPersistentRDDs.keySet.toSet --
          before
        if (left.isEmpty) org.scalatest.Succeeded
        else org.scalatest.Failed(
          s"left persisted after the test: ${left.toSeq.sorted}")
      case other => other
    }
  }

  private def nation = spark.read.parquet(s"$sf0001/nation.parquet")
    .select("n_nationkey", "n_name", "n_regionkey")

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSet

  /** Sharded-table dirs carry a random token (`data-v3-ab12cd34`) so
    * concurrent writers never collide on disk; tests identify dirs by
    * their version TAG. vtag("data-v3-ab12cd34") == "data-v3". */
  private def vtag(name: String): String =
    name.split('-').take(2).mkString("-")

  /** Resolve the unique on-disk dir whose version tag matches. */
  private def vdir(path: String, tag: String): String = {
    val hits = new java.io.File(path).listFiles()
      .map(_.getName).filter(n => vtag(n) == tag).toSeq
    assert(hits.size == 1, s"$tag -> $hits")
    s"$path/${hits.head}"
  }

  /** The parquet scans a read of the table at `path` plans over its
    * DATA dirs (tombstone scans excluded) — one per rename era, at any
    * dir count. */
  private def dataScans(df: org.apache.spark.sql.DataFrame,
                        path: String): Int = {
    object Plan extends org.apache.spark.sql.execution.adaptive
      .AdaptiveSparkPlanHelper
    Plan.collect(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(
            _.toUri.getPath.startsWith(s"$path/data-v")) => s
    }.length
  }

  test("csv round-trip with explicit schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv").toString
    Sources.writeCsv(nation, dir)
    val back = Sources.csv(spark, dir, nation.schema)
    // corrupt-record capture is opt-in: a plain read keeps the caller's
    // schema untouched (parquet/csv/json reads of the same data agree)
    assert(back.schema == nation.schema)
    assert(rows(back) == rows(nation))
  }

  test("csv quarantines malformed rows to _corrupt_record") {
    val dir = java.nio.file.Files.createTempDirectory("graft_badcsv")
    java.nio.file.Files.writeString(dir.resolve("x.csv"),
      "a,b\n1,ok\nnot_an_int,bad\n2,fine\n")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("a",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("b",
        org.apache.spark.sql.types.StringType)))
    val df = Sources.csv(spark, dir.toString, schema, captureCorrupt = true)
    // csv column-pruning caveat: corrupt-record capture requires the raw
    // columns to be materialized together
    val rows2 = df.cache().collect()
    assert(rows2.count(_.getAs[String]("_corrupt_record") != null) == 1)
    assert(rows2.count(r => !r.isNullAt(0)) == 2)
    df.unpersist()
  }

  test("json round-trip with explicit schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft_json").toString
    Sources.writeJson(nation, dir)
    val back = Sources.json(spark, dir, nation.schema)
    assert(rows(back) == rows(nation))
  }

  test("orc round-trip; partitioned orc write prunes partitions on read") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_orc").toString
    Sources.writeOrc(nation, dir, partitionBy = Seq("n_regionkey"))
    val back = Sources.orc(spark, dir)
      .select("n_nationkey", "n_name", "n_regionkey")
    assert(rows(back) == rows(nation))
    val one = Sources.orc(spark, dir).filter(col("n_regionkey") === 1)
    val plan = one.queryExecution.executedPlan.toString
    assert(rows(one.select("n_nationkey", "n_name", "n_regionkey")) ==
      rows(nation.filter(col("n_regionkey") === 1)))
    assert(plan.contains("PartitionFilters") || plan.contains("n_regionkey"))
  }

  test("sharded write produces balanced shard dirs and a true manifest") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_shards").toString
    val manifest = Sources.writeShards(docs, col("doc_id"), "text",
      dir, numShards = 8).collect()
    // all shards present, balanced to within one doc
    assert(manifest.map(_.getLong(0)).toSeq == (0L until 8L))
    val sizes = manifest.map(_.getLong(1))
    assert(sizes.max - sizes.min <= 1)
    assert(sizes.sum == docs.count())
    // manifest counts match what a reader actually finds per shard dir
    // (partition-dir inference reads `shard` back as int)
    val back = spark.read.parquet(dir)
    val found = back.groupBy("shard").agg(
        count(lit(1)).as("n"), sum(length(col("text"))).as("c"))
      .collect().map(r => r.getInt(0).toLong -> ((r.getLong(1), r.getLong(2))))
      .toMap
    manifest.foreach { r =>
      assert(found(r.getLong(0)) == ((r.getLong(1), r.getLong(2))))
    }
    // in-shard order key survives the round trip and is dense
    val pos = back.filter(col("shard") === 0)
      .select("pos_in_shard").collect().map(_.getLong(0)).sorted
    assert(pos.head == 0L && pos.last == pos.length - 1L)
  }

  test("partitioned parquet write prunes partitions on read") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    Sources.writeParquet(nation, dir, partitionBy = Seq("n_regionkey"))
    val one = Sources.parquet(spark, dir)
      .filter(org.apache.spark.sql.functions.col("n_regionkey") === 1)
    // partition pruning visible in the plan: only one partition dir read
    val plan = one.queryExecution.executedPlan.toString
    assert(rows(one) ==
      rows(nation.filter(org.apache.spark.sql.functions.col("n_regionkey") === 1)))
    assert(plan.contains("PartitionFilters") || plan.contains("n_regionkey"))
  }

  test("writeZOrdered keeps BOTH dimensions tight per file") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // a 128x128 grid; 16 output files should tile it ~4x4 on the
    // Morton curve, so each file's per-dimension extent is ~1/4 of the
    // global range — while a plain sort on x leaves y spanning every
    // file. Content must survive the layout change untouched.
    val grid = (for { x <- 0 until 128; y <- 0 until 128 }
      yield (x.toLong, y.toLong)).toDF("x", "y")
    val dir = java.nio.file.Files.createTempDirectory("graft_z").toString
    Sources.writeZOrdered(grid, dir, "x", "y", partitions = 16, bits = 7)
    def fileRanges(colName: String): Seq[Long] =
      new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).toSeq
        .map { f =>
          val r = spark.read.parquet(f.getAbsolutePath)
            .agg(min(colName), max(colName)).collect()(0)
          r.getLong(1) - r.getLong(0)
        }
    val xr = fileRanges("x"); val yr = fileRanges("y")
    assert(xr.size == 16)
    // both dimensions stay well under half the global range on average
    assert(xr.sum.toDouble / xr.size < 64, s"x ranges: $xr")
    assert(yr.sum.toDouble / yr.size < 64, s"y ranges: $yr")
    val back = spark.read.parquet(dir)
    assert(back.count() == 128L * 128)
    assert(back.agg(sum(col("x") * col("y"))).collect()(0).getLong(0) ==
      grid.agg(sum(col("x") * col("y"))).collect()(0).getLong(0))
  }

  test("compactParquet collapses a small-file spray, content unchanged") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val in = java.nio.file.Files.createTempDirectory("graft_frag").toString
    val out = java.nio.file.Files.createTempDirectory("graft_compact")
      .toString
    // 40-file spray (the streaming-sink debris shape)
    (1L to 2000L).toDF("id").withColumn("v", col("id") * 3)
      .repartition(40).write.mode("overwrite").parquet(in)
    val (before, after) = Sources.compactParquet(spark, in, out,
      targetFileBytes = 64 * 1024)
    assert(before == 40)
    assert(after < before, s"no compaction: $before -> $after")
    val a = spark.read.parquet(in).orderBy("id").collect().map(_.toSeq)
    val b = spark.read.parquet(out).orderBy("id").collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
    // empty input still produces a readable (empty) output
    val emptyIn = java.nio.file.Files.createTempDirectory("graft_e1").toString
    val emptyOut = java.nio.file.Files.createTempDirectory("graft_e2").toString
    Seq.empty[(Long, Long)].toDF("id", "v")
      .write.mode("overwrite").parquet(emptyIn)
    Sources.compactParquet(spark, emptyIn, emptyOut)
    assert(spark.read.parquet(emptyOut).count() == 0)
  }

  test("binaryFiles ingests .bmp assets that decode identically to in-memory") {
    import org.apache.spark.sql.functions._
    // write real BMP files to a directory (plus a decoy the glob must
    // skip), ingest via the binaryFile source, decode, and compare
    // against decoding the same synthesized frames directly
    val dir = java.nio.file.Files.createTempDirectory("graft_bmp").toString
    val ids = (1L to 6L)
    val synth = graft.ops.Multimodal.synthBmp24(
      { import spark.implicits._; ids.toDF("doc_id") }, "doc_id")
    synth.collect().foreach { r =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/asset_${r.getLong(0)}.bmp"),
        r.getAs[Array[Byte]](1))
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/notes.txt"),
      "not an image".getBytes)
    val files = Sources.binaryFiles(spark, dir, pathGlob = "*.bmp")
      .select(
        regexp_extract(col("path"), "asset_(\\d+)\\.bmp$", 1)
          .cast("long").as("asset_id"),
        col("content").as("media"))
    val viaFiles = graft.ops.Multimodal
      .decodeBmpStatsDf(files, "asset_id", "media")
      .collect().map(_.toSeq).toSet
    val direct = graft.ops.Multimodal
      .decodeBmpStatsDf(synth, "asset_id", "media")
      .collect().map(_.toSeq).toSet
    assert(viaFiles.size == ids.size) // decoy pruned at listing time
    assert(viaFiles == direct)
  }

  test("textLines and wholeTextFiles split where their contracts say") {
    val dir = java.nio.file.Files.createTempDirectory("graft_txt").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/a.txt"), "l1\nl2\n".getBytes)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/b.txt"), "l3\n".getBytes)
    val lines = Sources.textLines(spark, dir)
      .collect().map(_.getString(0)).toSet
    assert(lines == Set("l1", "l2", "l3"))
    val whole = Sources.wholeTextFiles(spark, dir)
      .collect().map(_.getString(0)).toSet
    // one row per FILE, newlines intact
    assert(whole == Set("l1\nl2\n", "l3\n"))
  }

  test("file provenance: the hidden _metadata column names the source") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // at 100 TB the first question about a bad row is "which file":
    // _metadata rides every file-based scan for free
    val dir = java.nio.file.Files
      .createTempDirectory("graft_provenance").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .repartition(1).write.mode("append").parquet(dir)
    val rows = spark.read.parquet(dir)
      .select(col("id"), col("_metadata.file_path").as("fp"),
              col("_metadata.row_index").as("ri"))
      .orderBy("id").collect()
    assert(rows.forall(_.getString(1).contains("graft_provenance")))
    assert(rows.map(_.getLong(2)).toSeq == Seq(0L, 1L))
  }

  test("ingest pipeline integration: incremental -> quarantine -> WAP") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the operational composition a landing zone actually runs:
    // only-new files in, bad rows to the dead letter, clean rows
    // published atomically, manifest committed last
    val base = java.nio.file.Files
      .createTempDirectory("graft_e2e").toString
    val landing = s"$base/landing"
    val manifest = s"$base/manifest"
    val published = s"$base/published"
    val deadLetter = s"$base/dead"
    val rules = Seq[(String, org.apache.spark.sql.Column)](
      ("neg_id", col("id") < 0))

    def runOnce(): Unit = {
      val batch = Sources.incrementalParquet(spark, landing, manifest)
      if (batch.newFiles.nonEmpty) {
        val tagged = graft.ops.Checks.quarantineRows(batch.rows, rules)
        tagged.filter(col("violated_rule").isNotNull)
          .write.mode("append").parquet(deadLetter)
        Sources.writeAuditPublish(
          tagged.filter(col("violated_rule").isNull).drop("violated_rule"),
          published, rules)
        batch.commit()
      }
    }

    Seq(1L, -5L, 2L).toDF("id").coalesce(1)
      .write.mode("append").parquet(landing)
    runOnce()
    assert(spark.read.parquet(published)
      .select("id").as[Long].collect().toSet == Set(1L, 2L))
    assert(spark.read.parquet(deadLetter)
      .select("id").as[Long].collect().toSet == Set(-5L))
    // second run with no new files: everything untouched
    runOnce()
    assert(spark.read.parquet(published).count() == 2)
    // a second landing batch REPLACES the published table (WAP
    // overwrite semantics) and appends its bad rows
    Seq(7L, -8L).toDF("id").coalesce(1)
      .write.mode("append").parquet(landing)
    runOnce()
    assert(spark.read.parquet(published)
      .select("id").as[Long].collect().toSet == Set(7L))
    assert(spark.read.parquet(deadLetter)
      .select("id").as[Long].collect().toSet == Set(-5L, -8L))
  }

  test("idempotent batch writer: re-delivered batches write once") {
    import spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("graft_sink").toString + "/out"
    val write = Sources.idempotentBatchWriter(path)
    write(Seq(1L, 2L).toDF("id"), 0L)
    write(Seq(3L).toDF("id"), 1L)
    // crash-replay: batch 1 re-delivered — must be a no-op even if the
    // replayed frame differed (the marker, not the data, is the guard)
    write(Seq(99L).toDF("id"), 1L)
    val got = Sources.readPublishedBatches(spark, path)
      .select("id").as[Long].collect().toSet
    assert(got == Set(1L, 2L, 3L))
    // an unmarked (crashed mid-write) batch dir is invisible to readers
    val crashed = new java.io.File(s"$path/batch=2")
    crashed.mkdirs()
    assert(Sources.readPublishedBatches(spark, path)
      .select("id").as[Long].collect().toSet == Set(1L, 2L, 3L))
  }

  test("write-audit-publish: bad data never lands, good data replaces") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft_wap").toString
    val path = s"$base/table"
    val rules = Seq[(String, org.apache.spark.sql.Column)](
      ("neg_id", col("id") < 0))
    Sources.writeAuditPublish(Seq(1L, 2L).toDF("id"), path, rules)
    assert(spark.read.parquet(path).count() == 2)
    // violating batch: publish refused, PREVIOUS contents intact
    intercept[IllegalStateException] {
      Sources.writeAuditPublish(Seq(3L, -9L).toDF("id"), path, rules)
    }
    assert(spark.read.parquet(path)
      .select("id").as[Long].collect().toSet == Set(1L, 2L))
    // no staging debris
    assert(new java.io.File(base).listFiles().map(_.getName).toSeq
      .filter(_.contains("staging")).isEmpty)
    // clean batch replaces
    Sources.writeAuditPublish(Seq(7L).toDF("id"), path, rules)
    assert(spark.read.parquet(path)
      .select("id").as[Long].collect().toSet == Set(7L))
    // no backup debris either: the .prev-* dir must be cleaned up
    // after a successful swap
    assert(new java.io.File(base).listFiles().map(_.getName).toSeq
      .filter(n => n.contains("staging") || n.contains(".prev-")).isEmpty)
  }

  test("dynamic partition overwrite touches only the written partitions") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_dyn").toString + "/t"
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "dynamic")
      Seq((1L, "a"), (2L, "b"), (3L, "b")).toDF("id", "p")
        .write.partitionBy("p").mode("overwrite").parquet(dir)
      // overwrite ONLY partition b — the backfill/restatement pattern:
      // static mode would wipe partition a; dynamic replaces just b
      Seq((9L, "b")).toDF("id", "p")
        .write.partitionBy("p").mode("overwrite").parquet(dir)
      val got = spark.read.parquet(dir)
        .select("id", "p").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == Set((1L, "a"), (9L, "b")))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("incremental ingest reads only unseen files; uncommitted retries") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_incr").toString
    val manifest = s"$dir/../graft_incr_manifest"
    Seq(1L, 2L).toDF("id").coalesce(1)
      .write.mode("append").parquet(dir)
    val b1 = Sources.incrementalParquet(spark, dir, manifest)
    assert(b1.rows.select("id").as[Long].collect().toSet == Set(1L, 2L))
    // NOT committed: the same files come back (failed-run retry)
    val retry = Sources.incrementalParquet(spark, dir, manifest)
    assert(retry.rows.count() == 2)
    b1.commit()
    // committed: nothing new until upstream appends
    val b2 = Sources.incrementalParquet(spark, dir, manifest)
    assert(b2.rows.count() == 0 && b2.newFiles.isEmpty)
    Seq(3L).toDF("id").coalesce(1).write.mode("append").parquet(dir)
    val b3 = Sources.incrementalParquet(spark, dir, manifest)
    assert(b3.rows.select("id").as[Long].collect().toSet == Set(3L))
    b3.commit()
    assert(Sources.incrementalParquet(spark, dir, manifest)
      .rows.count() == 0)
  }

  test("schema evolution: mergeSchema unions columns across file versions") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // v1 files wrote (id, a); the pipeline later added column b — the
    // standard additive-evolution situation of a long-lived corpus dir
    val dir = java.nio.file.Files
      .createTempDirectory("graft_evolve").toString
    Seq((1L, "x"), (2L, "y")).toDF("id", "a")
      .write.mode("append").parquet(dir)
    Seq((3L, "z", 30L)).toDF("id", "a", "b")
      .write.mode("append").parquet(dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet == Set("id", "a", "b"))
    val rows = merged.orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
    // old files surface the new column as null — no rewrite needed
    assert(rows.toSeq == Seq((1L, "x", None), (2L, "y", None),
      (3L, "z", Some(30L))))
  }

  test("sharded table: manifest stats prune non-intersecting shards; " +
       "readback is lossless; snapshots are isolated") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("graft_shtable").toString
    val docs = spark.range(400)
      .select(col("id").as("doc_id"), concat(lit("d"), col("id")).as("t"))
    val v1 = Sources.writeShardedTable(docs, col("doc_id"),
      col("doc_id"), path, numShards = 8, statsCols = Seq("doc_id"))
    assert(v1 == 1L)
    assert(Sources.shardedVersions(spark, path) == Seq(1L))
    // manifest: 8 shards of 50 contiguous ids each (columns by NAME —
    // the physical column order evolves with the manifest format)
    val mf = Sources.shardedManifest(spark, path)
      .select("shard", "n_rows", "min_doc_id", "max_doc_id")
      .orderBy("shard")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3)))
    assert(mf.length == 8)
    assert(mf.forall(_._2 == 50L))
    assert(mf.map(m => (m._3, m._4)).toSeq ==
      (0 until 8).map(i => (i * 50L, i * 50L + 49L)))
    // pruned read: [120, 180] intersects shards 2 and 3 ONLY — the
    // plan's input files must come from exactly those directories
    val pruned = Sources.readShardedTable(spark, path,
      preds = Seq(("doc_id", 120L, 180L)))
    val dirsHit = pruned.inputFiles.map(f =>
      f.split("/").find(_.startsWith("shard=")).get).toSet
    assert(dirsHit == Set("shard=2", "shard=3"))
    // superset contract + exact predicate = lossless answer
    val got = pruned.filter(col("doc_id").between(120, 180))
      .select("doc_id", "t").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(got == (120L to 180L).map(i => (i, s"d$i")))
    // empty intersection -> empty frame, same schema
    val none = Sources.readShardedTable(spark, path,
      preds = Seq(("doc_id", 5000L, 6000L)))
    assert(none.count() == 0 &&
      none.columns.contains("doc_id") && none.columns.contains("t"))
    // second snapshot (different corpus): listing grows, the old
    // version still reads its own data (snapshot isolation)
    val docs2 = spark.range(100)
      .select((col("id") + 1000L).as("doc_id"), lit("new").as("t"))
    val v2 = Sources.writeShardedTable(docs2, col("doc_id"),
      col("doc_id"), path, numShards = 4, statsCols = Seq("doc_id"))
    assert(v2 == 2L)
    assert(Sources.shardedVersions(spark, path) == Seq(1L, 2L))
    assert(Sources.readShardedTable(spark, path).count() == 100L)
    assert(Sources.readShardedTable(spark, path,
      version = Some(1L)).count() == 400L)
  }

  test("sharded table APPEND: new snapshot reuses parent shard files " +
       "untouched; multi-column pruning; old versions stay readable") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_shappend").toString
    def batch(lo: Long, n: Long, day: Long) = spark.range(n)
      .select((col("id") + lo).as("doc_id"), lit(day).as("day"),
        concat(lit("d"), col("id") + lo).as("t"))
    val v1 = Sources.writeShardedTable(batch(0, 400, 1), col("doc_id"),
      col("doc_id"), path, numShards = 8,
      statsCols = Seq("doc_id", "day"))
    assert(v1 == 1L)
    // fingerprint the parent's data files (path -> (len, mtime))
    def dataFiles(): Map[String, (Long, Long)] = {
      val root = new java.io.File(vdir(path, "data-v1"))
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else Seq(f)
      walk(root).map(f =>
        (f.getPath, (f.length(), f.lastModified()))).toMap
    }
    val before = dataFiles()
    val v2 = Sources.appendShardedTable(batch(400, 200, 2),
      col("doc_id"), col("doc_id"), path, numShards = 4,
      statsCols = Seq("doc_id", "day"))
    assert(v2 == 2L)
    // the append rewrote ZERO existing files — byte-for-byte identical
    assert(dataFiles() == before)
    // latest reads BOTH batches losslessly
    assert(Sources.readShardedTable(spark, path).count() == 600L)
    // version 1 still reads exactly the first batch
    assert(Sources.readShardedTable(spark, path,
      version = Some(1L)).count() == 400L)
    // multi-column pruning: (day=2) x (doc_id in [400,449]) must open
    // only the v2 shard covering 400-449 — day excludes all 8 v1
    // shards, doc_id excludes 3 of 4 v2 shards
    val pruned = Sources.readShardedTable(spark, path,
      preds = Seq(("day", 2L, 2L), ("doc_id", 400L, 449L)))
    val hit = pruned.inputFiles.map { f =>
      val seg = f.split("/")
      (vtag(seg.find(_.startsWith("data-v")).get),
       seg.find(_.startsWith("shard=")).get)
    }.toSet
    assert(hit == Set(("data-v2", "shard=0")))
    assert(pruned.filter(col("doc_id").between(400, 449)).count() == 50L)
    // schema drift fails loudly
    intercept[IllegalArgumentException] {
      Sources.appendShardedTable(
        batch(600, 10, 3).withColumnRenamed("t", "text"),
        col("doc_id"), col("doc_id"), path, 2, Seq("doc_id"))
    }
    Sources.dropShardedTable(spark, path)
    assert(!new java.io.File(path).exists())
  }

  test("sharded table EXPIRY: reclaims only unreachable data dirs; " +
       "kept append chain still reads every ancestor's data") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_shexpire").toString
    def batch(lo: Long, n: Long) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        concat(lit("d"), col("id") + lo).as("t"))
    // v1 = full write, v2 = append (shares data-v1), v3 = full REWRITE
    // (writeShardedTable on the same path = a compacting snapshot
    // that references only its own dir), v4 = append onto v3
    Sources.writeShardedTable(batch(0, 100), col("doc_id"),
      col("doc_id"), path, 4, Seq("doc_id"))
    Sources.appendShardedTable(batch(100, 100), col("doc_id"),
      col("doc_id"), path, 4, Seq("doc_id"))
    Sources.writeShardedTable(batch(0, 300), col("doc_id"),
      col("doc_id"), path, 4, Seq("doc_id"))
    Sources.appendShardedTable(batch(300, 100), col("doc_id"),
      col("doc_id"), path, 4, Seq("doc_id"))
    def dirs() = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("data-v")).map(n => vtag(n.getName))
      .toSet
    assert(dirs() == Set("data-v1", "data-v2", "data-v3", "data-v4"))
    // keep v3 and v4: v1/v2's dirs are unreachable (v3 rewrote), but
    // data-v3 is shared by the KEPT v4 manifest and must survive
    val expired = Sources.expireShardedSnapshots(spark, path, keep = 2)
    assert(expired == Seq(1L, 2L))
    assert(Sources.shardedVersions(spark, path) == Seq(3L, 4L))
    assert(dirs() == Set("data-v3", "data-v4"))
    assert(Sources.readShardedTable(spark, path).count() == 400L)
    assert(Sources.readShardedTable(spark, path,
      version = Some(3L)).count() == 300L)
    Sources.dropShardedTable(spark, path)
  }

  test("sharded table sink batch: replayed batchId is exactly-once; " +
       "orphan data dir (crash before manifest commit) is invisible") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_shsink").toString
    def batch(lo: Long, n: Long) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        concat(lit("d"), col("id") + lo).as("t"))
    val v1 = Sources.shardedTableSinkBatch(batch(0, 50), 0L,
      col("doc_id"), col("doc_id"), path, 2, Seq("doc_id"))
    assert(v1 == 1L)
    val v2 = Sources.shardedTableSinkBatch(batch(50, 50), 1L,
      col("doc_id"), col("doc_id"), path, 2, Seq("doc_id"))
    assert(v2 == 2L)
    // replay of batch 1 (foreachBatch retry after a crash AFTER the
    // manifest committed): skipped, version unchanged, no dup rows
    val v2b = Sources.shardedTableSinkBatch(batch(50, 50), 1L,
      col("doc_id"), col("doc_id"), path, 2, Seq("doc_id"))
    assert(v2b == 2L)
    assert(Sources.readShardedTable(spark, path).count() == 100L)
    // crash BEFORE manifest commit = orphan data dir: readers never
    // see it, and the replayed batch publishes cleanly alongside it
    val orphan = s"$path/data-v99"
    batch(100, 10).write.parquet(s"$orphan/shard=0")
    assert(Sources.readShardedTable(spark, path).count() == 100L)
    val v3 = Sources.shardedTableSinkBatch(batch(100, 50), 2L,
      col("doc_id"), col("doc_id"), path, 2, Seq("doc_id"))
    assert(v3 == 3L)
    assert(Sources.readShardedTable(spark, path).count() == 150L)
    // empty batch: skipped, version unchanged
    assert(Sources.shardedTableSinkBatch(batch(0, 50).filter(lit(false)),
      3L, col("doc_id"), col("doc_id"), path, 2, Seq("doc_id")) == 3L)
    Sources.dropShardedTable(spark, path)
  }

  test("sharded table COMPACTION: small append runs fold into one " +
       "range dir; big dirs untouched; readback identical; pruned " +
       "file count drops") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_shcompact").toString
    def batch(lo: Long, n: Long) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        concat(lit("d"), col("id") + lo).as("t"))
    // one BIG initial snapshot + four small appends (the streaming drip)
    Sources.writeShardedTable(batch(0, 1000), col("doc_id"),
      col("doc_id"), path, 8, Seq("doc_id"))
    (0 until 4).foreach { i =>
      Sources.appendShardedTable(batch(1000 + 50 * i, 50), col("doc_id"),
        col("doc_id"), path, 2, Seq("doc_id"))
    }
    def files(dir: String): Map[String, (Long, Long)] = {
      def walkF(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walkF) else Seq(f)
      walkF(new java.io.File(dir)).map(f =>
        (f.getPath, (f.length(), f.lastModified()))).toMap
    }
    val bigBefore = files(vdir(path, "data-v1"))
    val before = Sources.readShardedTable(spark, path)
      .select("doc_id", "t").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    // a bounded range over the appended tail touches all 4 small dirs
    def tailFiles() = Sources.readShardedTable(spark, path,
        preds = Seq(("doc_id", 1000L, 1199L)))
      .inputFiles.map(f =>
        vtag(f.split("/").find(_.startsWith("data-v")).get)).toSet
    assert(tailFiles() == Set("data-v2", "data-v3", "data-v4", "data-v5"))
    // compact: only the 50-row dirs qualify; the 1000-row dir must not
    val v = Sources.compactShardedTable(spark, path, col("doc_id"),
      col("doc_id"), numShards = 2, statsCols = Seq("doc_id"),
      smallDirRows = 100L)
    assert(v == 6L)
    assert(files(vdir(path, "data-v1")) == bigBefore) // big dir untouched
    val after = Sources.readShardedTable(spark, path)
      .select("doc_id", "t").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(after == before) // identical readback
    assert(tailFiles() == Set("data-v6")) // 4 runs -> 1
    // idempotent: nothing small left to fold (the merged dir is 200
    // rows > threshold), so a second call is a no-op
    assert(Sources.compactShardedTable(spark, path, col("doc_id"),
      col("doc_id"), 2, Seq("doc_id"), 100L) == 6L)
    // pre-compaction version still readable (snapshot isolation)
    assert(Sources.readShardedTable(spark, path,
      version = Some(5L)).count() == 1200L)
    Sources.dropShardedTable(spark, path)
  }

  test("sharded table DELETE: tombstone touches zero data files; " +
       "merge-on-read applies it; pinned versions unaffected; " +
       "rewrite + expiry reclaims the tombstone") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_shdelete").toString
    def batch(lo: Long, n: Long) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        concat(lit("d"), col("id") + lo).as("t"))
    Sources.writeShardedTable(batch(0, 400), col("doc_id"),
      col("doc_id"), path, 8, Seq("doc_id"))
    def files(dir: String): Map[String, (Long, Long)] = {
      def walkF(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walkF) else Seq(f)
      walkF(new java.io.File(dir)).map(f =>
        (f.getPath, (f.length(), f.lastModified()))).toMap
    }
    val before = files(vdir(path, "data-v1"))
    val v2 = Sources.deleteFromShardedTable(spark, path, "doc_id",
      spark.range(50).select((col("id") * 3).as("doc_id")))
    assert(v2 == 2L)
    // the delete wrote a key file + manifest ONLY
    assert(files(vdir(path, "data-v1")) == before)
    val live = Sources.readShardedTable(spark, path)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(live.size == 350 && !live.exists(i => i % 3 == 0 && i < 150))
    // pinned pre-delete version is untouched
    assert(Sources.readShardedTable(spark, path,
      version = Some(1L)).count() == 400L)
    // pruning composes with tombstones: a bounded read still excludes
    // the deleted keys inside its range
    val pr = Sources.readShardedTable(spark, path,
        preds = Seq(("doc_id", 0L, 99L)))
      .filter(col("doc_id") <= 99).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(pr == (0L to 99L).filterNot(_ % 3 == 0).toSet)
    // MAJOR rewrite materializes the live state; expiry then reclaims
    // both the old data dir and the tombstone file
    val v3 = Sources.rewriteShardedTable(spark, path, col("doc_id"),
      col("doc_id"), numShards = 4, statsCols = Seq("doc_id"))
    assert(v3 == 3L)
    Sources.expireShardedSnapshots(spark, path, keep = 1)
    val names = new java.io.File(path).listFiles().map(_.getName).toSet
    assert(!names.exists(_.startsWith("del-v")))
    assert(!names.exists(n => vtag(n) == "data-v1"))
    val after = Sources.readShardedTable(spark, path)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(after == live)
    Sources.dropShardedTable(spark, path)
  }

  test("sharded table MERGE: upsert updates old copies, survives its " +
       "own tombstone, re-inserts previously deleted keys; O(batch) " +
       "cost — existing files untouched") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_shmerge").toString
    def batch(lo: Long, n: Long, tag: String) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        concat(lit(tag), col("id") + lo).as("t"))
    Sources.writeShardedTable(batch(0, 300, "old"), col("doc_id"),
      col("doc_id"), path, 4, Seq("doc_id"))
    // v2: delete keys 100..119
    Sources.deleteFromShardedTable(spark, path, "doc_id",
      spark.range(100, 120).select(col("id").as("doc_id")))
    def files(dir: String): Map[String, (Long, Long)] = {
      def walkF(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walkF) else Seq(f)
      walkF(new java.io.File(dir)).map(f =>
        (f.getPath, (f.length(), f.lastModified()))).toMap
    }
    val before = files(vdir(path, "data-v1"))
    // v3: upsert keys 110..189 (overlaps the deleted range AND live
    // old rows) with new payloads
    val v3 = Sources.mergeShardedTable(batch(110, 80, "new"), "doc_id",
      col("doc_id"), path, numShards = 2, statsCols = Seq("doc_id"))
    assert(v3 == 3L)
    assert(files(vdir(path, "data-v1")) == before) // merge never rewrites
    val got = Sources.readShardedTable(spark, path)
      .select("doc_id", "t").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    // deleted-and-not-merged keys stay gone
    assert((100L to 109L).forall(!got.contains(_)))
    // merged keys carry the NEW payload (including re-inserted
    // 110..119 and updated 120..189)
    assert((110L to 189L).forall(k => got(k) == s"new$k"))
    // untouched keys keep the old payload
    assert(got(0L) == "old0" && got(299L) == "old299")
    assert(got.size == 300 - 10)
    // schema drift fails loudly, same contract as append
    intercept[IllegalArgumentException] {
      Sources.mergeShardedTable(
        batch(0, 5, "x").withColumnRenamed("t", "text"),
        "doc_id", col("doc_id"), path, 2, Seq("doc_id"))
    }
    // pinned pre-merge versions: v1 all old, v2 old minus deletes
    assert(Sources.readShardedTable(spark, path,
      version = Some(1L)).count() == 300L)
    assert(Sources.readShardedTable(spark, path,
      version = Some(2L)).count() == 280L)
    Sources.dropShardedTable(spark, path)
  }

  test("sharded table COMPACTION under tombstones: compacted rows get " +
       "deletes applied (no resurrection); tombstone keeps covering " +
       "the untouched big dir") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_shcompdel").toString
    def batch(lo: Long, n: Long) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        concat(lit("d"), col("id") + lo).as("t"))
    Sources.writeShardedTable(batch(0, 1000), col("doc_id"),
      col("doc_id"), path, 8, Seq("doc_id"))                    // v1 big
    Sources.appendShardedTable(batch(1000, 50), col("doc_id"),
      col("doc_id"), path, 2, Seq("doc_id"))                    // v2 small
    Sources.appendShardedTable(batch(1050, 50), col("doc_id"),
      col("doc_id"), path, 2, Seq("doc_id"))                    // v3 small
    // v4: delete keys straddling the big dir AND both small dirs
    Sources.deleteFromShardedTable(spark, path, "doc_id",
      spark.range(980, 1060).select(col("id").as("doc_id")))
    val expected = ((0L until 980L) ++ (1060L until 1100L)).toSet
    assert(Sources.readShardedTable(spark, path)
      .select("doc_id").collect().map(_.getLong(0)).toSet == expected)
    // compaction folds the small dirs, APPLYING the tombstone to the
    // rows it rewrites — their new seq would otherwise outrank it
    val v5 = Sources.compactShardedTable(spark, path, col("doc_id"),
      col("doc_id"), numShards = 2, statsCols = Seq("doc_id"),
      smallDirRows = 100L)
    assert(v5 == 5L)
    val after = Sources.readShardedTable(spark, path)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(after == expected) // no resurrection of 1000..1059
    // ... and 980..999 (big dir, NOT rewritten) are still suppressed
    // by the retained tombstone
    assert(!after.exists(k => k >= 980 && k < 1000))
    Sources.dropShardedTable(spark, path)
  }

  test("sharded table CDC: inserts are the window's new batches only " +
       "(compaction rewrites excluded); deletedKeys are the window's " +
       "tombstones") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_shcdc").toString
    def batch(lo: Long, n: Long) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        concat(lit("d"), col("id") + lo).as("t"))
    Sources.writeShardedTable(batch(0, 200), col("doc_id"),
      col("doc_id"), path, 4, Seq("doc_id"))                    // v1
    Sources.appendShardedTable(batch(200, 60), col("doc_id"),
      col("doc_id"), path, 2, Seq("doc_id"))                    // v2
    Sources.appendShardedTable(batch(260, 40), col("doc_id"),
      col("doc_id"), path, 2, Seq("doc_id"))                    // v3
    // v1→v3 inserts = batches 2+3 exactly
    assert(Sources.shardedTableInserts(spark, path, 1L, 3L)
      .select("doc_id").collect().map(_.getLong(0)).toSet ==
      (200L until 300L).toSet)
    // v2→v3 inserts = batch 3 only
    assert(Sources.shardedTableInserts(spark, path, 2L, 3L)
      .select("doc_id").collect().map(_.getLong(0)).toSet ==
      (260L until 300L).toSet)
    // compaction is a REORGANIZATION: its dir must not re-deliver
    Sources.compactShardedTable(spark, path, col("doc_id"),
      col("doc_id"), 2, Seq("doc_id"), smallDirRows = 80L)      // v4
    assert(Sources.shardedTableInserts(spark, path, 3L, 4L).count() == 0L)
    // same-version window is empty
    assert(Sources.shardedTableInserts(spark, path, 4L, 4L).count() == 0L)
    // deletes show up on the delete side, not the insert side
    Sources.deleteFromShardedTable(spark, path, "doc_id",
      spark.range(10).select(col("id").as("doc_id")))           // v5
    assert(Sources.shardedTableInserts(spark, path, 4L, 5L).count() == 0L)
    assert(Sources.shardedTableDeletedKeys(spark, path, 4L, 5L)
      .collect().map(_.getLong(0)).toSet == (0L until 10L).toSet)
    // a MERGE is delete+insert of its keys in the same window
    Sources.mergeShardedTable(batch(150, 20), "doc_id", col("doc_id"),
      path, 2, Seq("doc_id"))                                   // v6
    assert(Sources.shardedTableInserts(spark, path, 5L, 6L)
      .select("doc_id").collect().map(_.getLong(0)).toSet ==
      (150L until 170L).toSet)
    assert(Sources.shardedTableDeletedKeys(spark, path, 5L, 6L)
      .collect().map(_.getLong(0)).toSet == (150L until 170L).toSet)
    // windows before the first tombstone have no deleted keys
    assert(Sources.shardedTableDeletedKeys(spark, path, 1L, 3L)
      .count() == 0L)
    Sources.dropShardedTable(spark, path)
  }

  test("sharded table Z-ORDER: a 2-D box prunes on BOTH dimensions — " +
       "fewer shards than either bound alone and than a linear " +
       "layout; readback lossless") {
    import org.apache.spark.sql.functions._
    val zPath = java.nio.file.Files
      .createTempDirectory("graft_shzorder").toString
    val lPath = java.nio.file.Files
      .createTempDirectory("graft_shlinear").toString
    // independent uniform dims: x = id, y = a decorrelating permutation
    val df = spark.range(4096).select(col("id").as("x"),
      ((col("id") * 2654435761L) % 4096).as("y"))
    Sources.writeShardedTableZOrdered(df, col("x"), Seq("x", "y"),
      zPath, numShards = 16, bitsPerCol = 6)
    Sources.writeShardedTable(df, col("x"), col("x"), lPath,
      numShards = 16, statsCols = Seq("x", "y"))
    def shardsHit(path: String, preds: Seq[(String, Long, Long)]) =
      Sources.readShardedTable(spark, path, preds = preds)
        .inputFiles.map(_.split("/").find(_.startsWith("shard=")).get)
        .toSet.size
    val box = Seq(("x", 0L, 1023L), ("y", 0L, 1023L))
    val zBox = shardsHit(zPath, box)
    // both bounds prune together: the box opens fewer shards than
    // either single bound alone on the SAME layout
    assert(zBox < shardsHit(zPath, box.take(1)))
    assert(zBox < shardsHit(zPath, box.drop(1)))
    // ... and fewer than the linear layout, where the y bound prunes
    // nothing (every x-run spans y's full range)
    assert(shardsHit(lPath, box.drop(1)) == 16)
    assert(zBox < shardsHit(lPath, box))
    // the curve is invisible to results
    val got = Sources.readShardedTable(spark, zPath, preds = box)
      .filter(col("x") <= 1023 && col("y") <= 1023)
      .select("x", "y").collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = (0L until 4096L).map(i => (i, (i * 2654435761L) % 4096))
      .filter(p => p._1 <= 1023 && p._2 <= 1023)
    assert(got.toSet == want.toSet && got.length == want.length)
    Sources.dropShardedTable(spark, zPath)
    Sources.dropShardedTable(spark, lPath)
  }

  test("sharded table SCHEMA EVOLUTION: add-only, opt-in; readers " +
       "null-fill pre-evolution rows; pinned versions keep the old " +
       "schema") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_shevolve").toString
    def v1batch = spark.range(100)
      .select(col("id").as("doc_id"), concat(lit("d"), col("id")).as("t"))
    def v2batch = spark.range(100, 150)
      .select(col("id").as("doc_id"), concat(lit("d"), col("id")).as("t"),
        (col("id") % 5).as("score"))
    Sources.writeShardedTable(v1batch, col("doc_id"), col("doc_id"),
      path, 4, Seq("doc_id"))
    // a new column without the flag fails loudly
    intercept[IllegalArgumentException] {
      Sources.appendShardedTable(v2batch, col("doc_id"), col("doc_id"),
        path, 2, Seq("doc_id"))
    }
    Sources.appendShardedTable(v2batch, col("doc_id"), col("doc_id"),
      path, 2, Seq("doc_id"), allowNewColumns = true)
    // evolution is ADD-only: dropping a column fails even with the flag
    intercept[IllegalArgumentException] {
      Sources.appendShardedTable(
        spark.range(200, 210).select(col("id").as("doc_id")),
        col("doc_id"), col("doc_id"), path, 2, Seq("doc_id"),
        allowNewColumns = true)
    }
    val latest = Sources.readShardedTable(spark, path)
    assert(latest.columns.toSet == Set("doc_id", "t", "score", "shard"))
    val scores = latest.select("doc_id", "score").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert((0L until 100L).forall(scores(_).isEmpty))      // null-filled
    assert((100L until 150L).forall(k => scores(k).contains(k % 5)))
    // a read pruned to PRE-evolution shards only still exposes the
    // evolved schema (schema authority = newest dir)
    val oldOnly = Sources.readShardedTable(spark, path,
      preds = Seq(("doc_id", 0L, 49L)))
    assert(oldOnly.columns.contains("score"))
    assert(oldOnly.filter(col("doc_id") <= 49).count() == 50L)
    // the pinned PRE-evolution version keeps the old schema
    assert(!Sources.readShardedTable(spark, path, version = Some(1L))
      .columns.contains("score"))
    Sources.dropShardedTable(spark, path)
  }

  test("sharded table BLOOM sidecar: point lookup on a non-order " +
       "column opens only matching shards; post-build appends stay " +
       "un-pruned; never a wrong answer") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_shbloom").toString
    // range-laid by doc_id; v = a spread-out permutation, so every
    // shard's v-range is wide and min/max stats would prune NOTHING
    val df = spark.range(4096).select(col("id").as("doc_id"),
      ((col("id") * 2654435761L) % 4096).as("v"))
    Sources.writeShardedTable(df, col("doc_id"), col("doc_id"),
      path, 16, Seq("doc_id"))
    Sources.buildShardedBloom(spark, path, "v", bits = 1 << 16, k = 4)
    def filesOf(d: org.apache.spark.sql.DataFrame) =
      d.inputFiles.map(_.split("/").takeRight(2).mkString("/")).toSet
    val full = Sources.readShardedTable(spark, path)
    val probe = Sources.readShardedTablePointLookup(spark, path, "v",
      lit(77L))
    // one value lives in exactly one shard: the bloom must open far
    // fewer files than the full table (fp rate at 16 shards is tiny)
    assert(filesOf(probe).size < filesOf(full).size / 2)
    assert(probe.filter(col("v") === 77L).select("doc_id").collect()
      .map(_.getLong(0)).toSeq == Seq(
        (0L until 4096L).find(i => (i * 2654435761L) % 4096 == 77L).get))
    // a value NOT in the table: (almost) everything pruned, empty and
    // correct either way
    val miss = Sources.readShardedTablePointLookup(spark, path, "v",
      lit(999999L))
    assert(miss.filter(col("v") === 999999L).count() == 0L)
    // append AFTER the build: the new shard is uncovered → always
    // read, so fresh rows are findable through the stale sidecar
    Sources.appendShardedTable(
      spark.range(10000, 10005).select(col("id").as("doc_id"),
        lit(424242L).as("v")),
      col("doc_id"), col("doc_id"), path, 1, Seq("doc_id"))
    val fresh = Sources.readShardedTablePointLookup(spark, path, "v",
      lit(424242L))
    assert(fresh.filter(col("v") === 424242L).count() == 5L)
    Sources.dropShardedTable(spark, path)
  }

  test("sharded table streaming MERGE sink: replayed tick is a no-op; " +
       "later batch wins the key; empty batch skipped") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_shmsink").toString
    def batch(lo: Long, n: Long, tag: String) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        concat(lit(tag), col("id") + lo).as("t"))
    assert(Sources.shardedTableMergeSinkBatch(batch(0, 100, "a"), 0L,
      "doc_id", col("doc_id"), path, 4, Seq("doc_id")) == 1L)
    assert(Sources.shardedTableMergeSinkBatch(batch(50, 100, "b"), 1L,
      "doc_id", col("doc_id"), path, 4, Seq("doc_id")) == 2L)
    // crash-retry replay of tick 1: version unchanged, rows unchanged
    assert(Sources.shardedTableMergeSinkBatch(batch(50, 100, "b"), 1L,
      "doc_id", col("doc_id"), path, 4, Seq("doc_id")) == 2L)
    val got = Sources.readShardedTable(spark, path)
      .select("doc_id", "t").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got.size == 150)
    assert((0L until 50L).forall(k => got(k) == s"a$k"))   // untouched
    assert((50L until 150L).forall(k => got(k) == s"b$k")) // upserted
    // empty batch: skipped, version unchanged
    assert(Sources.shardedTableMergeSinkBatch(
      batch(0, 1, "x").filter(lit(false)), 2L, "doc_id", col("doc_id"),
      path, 4, Seq("doc_id")) == 2L)
    Sources.dropShardedTable(spark, path)
  }

  test("zValueK generalizes zValue; 3-D z-order prunes on all three " +
       "dimensions") {
    import org.apache.spark.sql.functions._
    // bit-for-bit parity with the 2-D interleave
    val pairs = spark.range(512).select(
      (col("id") % 23).as("a"), (col("id") % 17).as("b"))
    assert(pairs.filter(Sources.zValueK(Seq(col("a"), col("b")), 8) =!=
      Sources.zValue(col("a"), col("b"), 8)).count() == 0L)
    // three independent dims, 3-D box: each extra bound prunes more
    val path = java.nio.file.Files
      .createTempDirectory("graft_shz3").toString
    val df = spark.range(8192).select(col("id").as("x"),
      ((col("id") * 2654435761L) % 8192).as("y"),
      ((col("id") * 1103515245L + 12345L) % 8192).as("z"))
    Sources.writeShardedTableZOrdered(df, col("x"), Seq("x", "y", "z"),
      path, numShards = 64, bitsPerCol = 5)
    def shardsHit(preds: Seq[(String, Long, Long)]) =
      Sources.readShardedTable(spark, path, preds = preds)
        .inputFiles.map(_.split("/").find(_.startsWith("shard=")).get)
        .toSet.size
    val bx = ("x", 0L, 2047L); val by = ("y", 0L, 2047L)
    val bz = ("z", 0L, 2047L)
    assert(shardsHit(Seq(bx, by, bz)) < shardsHit(Seq(bx, by)))
    assert(shardsHit(Seq(bx, by)) < shardsHit(Seq(bx)))
    // lossless under the box
    val got = Sources.readShardedTable(spark, path,
        preds = Seq(bx, by, bz))
      .filter(col("x") < 2048 && col("y") < 2048 && col("z") < 2048)
      .count()
    val want = (0L until 8192L).count(i => i < 2048 &&
      (i * 2654435761L) % 8192 < 2048 &&
      (i * 1103515245L + 12345L) % 8192 < 2048)
    assert(got == want)
    Sources.dropShardedTable(spark, path)
  }

  test("sharded table dedup-ingest sink: within-batch keep-first, " +
       "cross-tick key screening, replay no-op") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_shdedup").toString
    // key = id % 10: every batch has internal dupes AND overlaps
    def batch(lo: Long, n: Long, tag: String) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        ((col("id") + lo) % 10).as("k"),
        concat(lit(tag), col("id") + lo).as("t"))
    Sources.shardedTableDedupSinkBatch(batch(0, 25, "a"), 0L,
      "k", "doc_id", col("doc_id"), path, 2, Seq("doc_id"))
    // tick 0 kept one row per key: ids 0..9
    assert(Sources.readShardedTable(spark, path)
      .select("doc_id").collect().map(_.getLong(0)).toSet ==
      (0L until 10L).toSet)
    // tick 1 brings NOTHING new (all keys seen) — version unchanged
    // because the empty novel batch is skipped
    val v1 = Sources.shardedTableDedupSinkBatch(batch(100, 30, "b"), 1L,
      "k", "doc_id", col("doc_id"), path, 2, Seq("doc_id"))
    assert(Sources.readShardedTable(spark, path).count() == 10L)
    // a batch with genuinely new keys adds exactly those
    def batch2(lo: Long, n: Long) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        ((col("id") + lo) % 10 + 100).as("k"),
        concat(lit("c"), col("id") + lo).as("t"))
    val v2 = Sources.shardedTableDedupSinkBatch(batch2(200, 25), 2L,
      "k", "doc_id", col("doc_id"), path, 2, Seq("doc_id"))
    assert(v2 > v1)
    assert(Sources.readShardedTable(spark, path).count() == 20L)
    // replay of tick 2: skipped before any screening job
    assert(Sources.shardedTableDedupSinkBatch(batch2(200, 25), 2L,
      "k", "doc_id", col("doc_id"), path, 2, Seq("doc_id")) == v2)
    assert(Sources.readShardedTable(spark, path).count() == 20L)
    Sources.dropShardedTable(spark, path)
  }

  test("sharded table bloom MULTI-lookup: set membership opens only " +
       "admitted shards; uncovered appends still searched; exact " +
       "matching rows returned") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_shmulti").toString
    val df = spark.range(4096).select(col("id").as("doc_id"),
      ((col("id") * 2654435761L) % 4096).as("v"))
    Sources.writeShardedTable(df, col("doc_id"), col("doc_id"),
      path, 16, Seq("doc_id"))
    Sources.buildShardedBloom(spark, path, "v", bits = 1 << 16, k = 4)
    // three probe keys that exist + one that doesn't
    val keys = spark.range(3).select((col("id") * 1000 + 77).as("v"))
      .unionByName(spark.range(1).select(lit(999999L).as("v")))
    val res = Sources.readShardedTableKeysLookup(spark, path, "v", keys)
    val opened = res.inputFiles
      .map(_.split("/").find(_.startsWith("shard=")).get).toSet.size
    assert(opened < 16, s"expected bloom pruning, opened $opened/16")
    val want = (0L until 4096L)
      .filter(i => Set(77L, 1077L, 2077L)((i * 2654435761L) % 4096))
      .toSet
    assert(res.select("doc_id").collect().map(_.getLong(0)).toSet
      == want)
    // rows appended AFTER the build are uncovered → still findable
    Sources.appendShardedTable(
      spark.range(20000, 20004).select(col("id").as("doc_id"),
        lit(1077L).as("v")),
      col("doc_id"), col("doc_id"), path, 1, Seq("doc_id"))
    val res2 = Sources.readShardedTableKeysLookup(spark, path, "v",
      keys)
    assert(res2.select("doc_id").collect().map(_.getLong(0)).toSet ==
      want ++ (20000L until 20004L))
    Sources.dropShardedTable(spark, path)
  }

  test("sharded table AUDIT: clean table yields no findings; row " +
       "tampering, stats violations and orphan dirs are flagged") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_shaudit").toString
    def batch(lo: Long, n: Long) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        concat(lit("d"), col("id") + lo).as("t"))
    Sources.writeShardedTable(batch(0, 200), col("doc_id"),
      col("doc_id"), path, 4, Seq("doc_id"))
    Sources.deleteFromShardedTable(spark, path, "doc_id",
      spark.range(5).select(col("id").as("doc_id")))
    assert(Sources.auditShardedTable(spark, path).count() == 0L)
    // tamper 1: smuggle extra rows into a shard dir (row count +
    // stats bounds both break)
    batch(5000, 7).withColumn("shard", lit(0L)).drop("shard")
      .write.mode("append").parquet(s"${vdir(path, "data-v1")}/shard=0")
    // tamper 2: an orphan dir from a crashed write
    batch(9000, 3).write.parquet(s"$path/data-v99/shard=0")
    val findings = Sources.auditShardedTable(spark, path)
      .select("check").collect().map(_.getString(0)).toSet
    assert(findings.contains("row_count_mismatch"))
    assert(findings.contains("stats_not_containing:doc_id"))
    assert(findings.contains("orphan_dir"))
    Sources.dropShardedTable(spark, path)
  }

  test("sharded table CONCURRENT WRITERS: two racing append threads " +
       "commit every batch exactly once with contiguous versions") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_shrace").toString
    def batch(lo: Long, n: Long) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        concat(lit("d"), col("id") + lo).as("t"))
    Sources.writeShardedTable(batch(0, 50), col("doc_id"),
      col("doc_id"), path, 2, Seq("doc_id"))
    // two writers, three appends each, released together — the claim
    // protocol must serialize the COMMITS (not the data writes) so
    // every batch lands exactly once and no version is lost or burned
    val gate = new java.util.concurrent.CountDownLatch(1)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = (0 until 2).map { w =>
      Future {
        gate.await()
        (0 until 3).foreach { i =>
          Sources.appendShardedTable(batch(1000 * (w + 1) + 100 * i, 30),
            col("doc_id"), col("doc_id"), path, 2, Seq("doc_id"))
        }
      }
    }
    gate.countDown()
    fs.foreach(f => Await.result(f, scala.concurrent.duration
      .Duration(120, "s")))
    // versions contiguous: 1 (create) + 6 appends
    assert(Sources.shardedVersions(spark, path) == (1L to 7L))
    // every row exactly once
    val got = Sources.readShardedTable(spark, path)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val want = ((0L until 50L) ++
      (for (w <- 1 to 2; i <- 0 until 3; k <- 0 until 30)
        yield 1000L * w + 100L * i + k)).sorted
    assert(got == want)
    // a clean race leaves no audit findings (no orphans, no stale
    // claims, counts and stats all containing)
    assert(Sources.auditShardedTable(spark, path).count() == 0L)
    Sources.dropShardedTable(spark, path)
  }

  test("sharded table CONCURRENT WRITERS, mixed ops: racing append/" +
       "merge/delete threads serialize cleanly — versions contiguous, " +
       "audit clean, CDC replay equals the table state") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_shrace2").toString
    val cursor = s"$path.cursor"
    def batch(lo: Long, n: Long, tag: String) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        concat(lit(tag), col("id") + lo).as("t"))
    Sources.writeShardedTable(batch(0, 200, "a"), col("doc_id"),
      col("doc_id"), path, 2, Seq("doc_id"))
    val gate = new java.util.concurrent.CountDownLatch(1)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val writers = Seq(
      Future { gate.await()
        Sources.appendShardedTable(batch(1000, 50, "a"),
          col("doc_id"), col("doc_id"), path, 2, Seq("doc_id"))
        Sources.mergeShardedTable(batch(0, 40, "m1_"), "doc_id",
          col("doc_id"), path, 2, Seq("doc_id"))
      },
      Future { gate.await()
        Sources.deleteFromShardedTable(spark, path, "doc_id",
          spark.range(100, 160).select(col("id").as("doc_id")))
        Sources.mergeShardedTable(batch(150, 40, "m2_"), "doc_id",
          col("doc_id"), path, 2, Seq("doc_id"))
      })
    gate.countDown()
    writers.foreach(f => Await.result(f,
      scala.concurrent.duration.Duration(180, "s")))
    // 1 create + 4 racing commits, every version present
    assert(Sources.shardedVersions(spark, path) == (1L to 5L))
    assert(Sources.auditShardedTable(spark, path).count() == 0L)
    // CDC per-version replay reconstructs EXACTLY the table state,
    // whatever serialization the race produced
    var state = Map.empty[Long, String]
    Sources.drainShardedTableChanges(spark, path, cursor) { b =>
      val dels = b.deletedKeys.collect().map(_.getLong(0)).toSet
      state = state -- dels
      state ++= b.inserts.select("doc_id", "t").collect()
        .map(r => r.getLong(0) -> r.getString(1))
    }
    val want = Sources.readShardedTable(spark, path)
      .select("doc_id", "t").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(state == want)
    // and the serialized semantics hold regardless of order: merged
    // keys carry a merge payload, appended keys exist
    assert((1000L until 1050L).forall(want.contains))
    assert((0L until 40L).forall(k => want(k) == s"m1_$k"))
    Sources.dropShardedTable(spark, path)
    new java.io.File(cursor).delete()
  }

  test("sharded table REWRITE carries the batch-id ledger: a replayed " +
       "batch AFTER a major rewrite is still skipped") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_shledger").toString
    def batch(lo: Long, n: Long) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        concat(lit("d"), col("id") + lo).as("t"))
    Sources.shardedTableSinkBatch(batch(0, 40), 0L, col("doc_id"),
      col("doc_id"), path, 2, Seq("doc_id"))
    Sources.shardedTableSinkBatch(batch(40, 40), 1L, col("doc_id"),
      col("doc_id"), path, 2, Seq("doc_id"))
    Sources.rewriteShardedTable(spark, path, col("doc_id"),
      col("doc_id"), numShards = 2, statsCols = Seq("doc_id"))
    // the rewrite dropped every parent manifest row — the ledger must
    // still know batches 0 and 1 committed
    assert(Sources.committedBatchIds(spark, path) == Set(0L, 1L))
    // the replay (crash between sink commit and checkpoint advance,
    // restart after the rewrite): must be a no-op
    val v = Sources.shardedVersions(spark, path).last
    assert(Sources.shardedTableSinkBatch(batch(40, 40), 1L,
      col("doc_id"), col("doc_id"), path, 2, Seq("doc_id")) == v)
    assert(Sources.readShardedTable(spark, path).count() == 80L)
    // and the ledger survives FURTHER snapshots (it rides the chain)
    Sources.shardedTableSinkBatch(batch(80, 40), 2L, col("doc_id"),
      col("doc_id"), path, 2, Seq("doc_id"))
    assert(Sources.committedBatchIds(spark, path) == Set(0L, 1L, 2L))
    Sources.dropShardedTable(spark, path)
  }

  test("sharded table COMPACTION carries batch ids of the folded " +
       "small runs as ledger rows") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_shledger2").toString
    def batch(lo: Long, n: Long) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        concat(lit("d"), col("id") + lo).as("t"))
    (0 until 4).foreach { i =>
      Sources.shardedTableSinkBatch(batch(100L * i, 100), i.toLong,
        col("doc_id"), col("doc_id"), path, 2, Seq("doc_id"))
    }
    // fold ALL dirs (every one is "small"): without the ledger the
    // batch ids would vanish with the dropped manifest rows
    Sources.compactShardedTable(spark, path, col("doc_id"),
      col("doc_id"), numShards = 2, statsCols = Seq("doc_id"),
      smallDirRows = Long.MaxValue / 4)
    assert(Sources.committedBatchIds(spark, path) ==
      Set(0L, 1L, 2L, 3L))
    val v = Sources.shardedVersions(spark, path).last
    assert(Sources.shardedTableSinkBatch(batch(100, 100), 1L,
      col("doc_id"), col("doc_id"), path, 2, Seq("doc_id")) == v)
    assert(Sources.readShardedTable(spark, path).count() == 400L)
    Sources.dropShardedTable(spark, path)
  }

  test("bloom lookups survive snapshot expiry: stale build degrades " +
       "to a full (correct) read; expiry GCs the bloom sidecar") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_shbloomexp").toString
    def batch(lo: Long, n: Long) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        pmod(col("id") + lo, lit(97)).as("v"),
        concat(lit("d"), col("id") + lo).as("t"))
    Sources.writeShardedTable(batch(0, 300), col("doc_id"),
      col("doc_id"), path, 4, Seq("doc_id"))
    Sources.buildShardedBloom(spark, path, "v", bits = 1 << 12, k = 3)
    // two appends + expiry that drops the build's snapshot (v1)
    Sources.appendShardedTable(batch(300, 50), col("doc_id"),
      col("doc_id"), path, 1, Seq("doc_id"))
    Sources.appendShardedTable(batch(350, 50), col("doc_id"),
      col("doc_id"), path, 1, Seq("doc_id"))
    Sources.expireShardedSnapshots(spark, path, keep = 1)
    // the v1 bloom dir went with its snapshot
    assert(!new java.io.File(s"$path/_bloom/v1").exists())
    // the lookup must fail loudly ONLY as "no sidecar" (usage error),
    // not crash on a missing manifest
    intercept[IllegalArgumentException] {
      Sources.readShardedTablePointLookup(spark, path, "v", lit(7))
    }
    // a STALE build that expiry did not GC (pre-fix table state):
    // fabricate it by rebuilding, appending, expiring down to the
    // newest version only — build v3 < table v4... build at v3,
    // append -> v4, expire keep=1 keeps v4, GCs _bloom/v3
    Sources.buildShardedBloom(spark, path, "v", bits = 1 << 12, k = 3)
    val vb = Sources.shardedVersions(spark, path).last
    Sources.appendShardedTable(batch(400, 50), col("doc_id"),
      col("doc_id"), path, 1, Seq("doc_id"))
    // simulate the pre-GC state: copy the bloom dir aside, expire,
    // restore it (expiry would have deleted it)
    val bloomDir = new java.io.File(s"$path/_bloom/v$vb")
    val aside = new java.io.File(s"$path/_bloom_aside")
    java.nio.file.Files.move(bloomDir.toPath, aside.toPath)
    Sources.expireShardedSnapshots(spark, path, keep = 1)
    java.nio.file.Files.createDirectories(bloomDir.getParentFile.toPath)
    java.nio.file.Files.move(aside.toPath, bloomDir.toPath)
    // build vb's manifest is GONE; the lookup degrades to a full
    // read (covered = nothing) and still answers correctly
    val got = Sources.readShardedTablePointLookup(spark, path, "v",
        lit(7)).filter(col("v") === 7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == (0L until 450L).filter(_ % 97 == 7).toSet)
    Sources.dropShardedTable(spark, path)
  }

  test("bloom builds on a schema-EVOLVED column: pre-evolution dirs " +
       "null-fill (unindexed), lookups stay correct") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_shbloomev").toString
    Sources.writeShardedTable(
      spark.range(200).select(col("id").as("doc_id"),
        concat(lit("d"), col("id")).as("t")),
      col("doc_id"), col("doc_id"), path, 4, Seq("doc_id"))
    Sources.appendShardedTable(
      spark.range(200, 300).select(col("id").as("doc_id"),
        concat(lit("d"), col("id")).as("t"),
        pmod(col("id"), lit(37)).as("v")),
      col("doc_id"), col("doc_id"), path, 2, Seq("doc_id"),
      allowNewColumns = true)
    // pre-fix this threw AnalysisException on the v-less dirs
    Sources.buildShardedBloom(spark, path, "v", bits = 1 << 12, k = 3)
    val got = Sources.readShardedTablePointLookup(spark, path, "v",
        lit(5)).filter(col("v") === 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == (200L until 300L).filter(_ % 37 == 5).toSet)
    Sources.dropShardedTable(spark, path)
  }

  test("MAINTAINED sink: a long tick stream keeps versions, data " +
       "dirs and manifest size bounded; content and commit log exact") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_shmaint").toString
    def batch(lo: Long, n: Long) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        concat(lit("d"), col("id") + lo).as("t"))
    val ticks = 14
    (0 until ticks).foreach { i =>
      Sources.shardedTableSinkBatchMaintained(batch(100L * i, 100),
        i.toLong, col("doc_id"), col("doc_id"), path, numShards = 2,
        statsCols = Seq("doc_id"), compactWhenSmallDirs = 4,
        smallDirRows = 500L, keepVersions = 3)
    }
    // versions bounded by the policy, NOT by tick count
    assert(Sources.shardedVersions(spark, path).size <= 3)
    // data dirs bounded: compaction folds the drip before it sprays
    val dataDirs = new java.io.File(path).listFiles()
      .count(_.getName.startsWith("data-v"))
    assert(dataDirs <= 6, s"unbounded dir spray: $dataDirs dirs")
    // content exact, commit log complete (ledger survives the folds)
    assert(Sources.readShardedTable(spark, path).count() ==
      100L * ticks)
    assert(Sources.committedBatchIds(spark, path) ==
      (0 until ticks).map(_.toLong).toSet)
    // a replayed old tick is STILL skipped after all that maintenance
    val v = Sources.shardedVersions(spark, path).last
    assert(Sources.shardedTableSinkBatchMaintained(batch(0, 100), 0L,
      col("doc_id"), col("doc_id"), path, 2, Seq("doc_id"),
      compactWhenSmallDirs = 4, smallDirRows = 500L,
      keepVersions = 3) == v)
    assert(Sources.readShardedTable(spark, path).count() ==
      100L * ticks)
    Sources.dropShardedTable(spark, path)
  }

  test("CDC cursor consumer: initial load + incremental windows " +
       "reconstruct the table state exactly; uncommitted windows " +
       "re-deliver") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_shcdc").toString
    val cursor = s"$path.cursor"
    def batch(lo: Long, n: Long, tag: String) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        concat(lit(tag), col("id") + lo).as("t"))
    Sources.writeShardedTable(batch(0, 200, "a"), col("doc_id"),
      col("doc_id"), path, 4, Seq("doc_id"))
    // consumer state: a driver-side map the windows fold into
    var state = Map.empty[Long, String]
    def apply1(b: Sources.ShardedCdcBatch): Unit = {
      // a merge arrives as delete+insert of the same key: apply
      // deletes first, then inserts (upsert order)
      val dels = b.deletedKeys.collect().map(_.getLong(0)).toSet
      state = state -- dels
      state ++= b.inserts.select("doc_id", "t").collect()
        .map(r => r.getLong(0) -> r.getString(1))
    }
    // window 1: the initial load
    assert(Sources.drainShardedTableChanges(spark, path, cursor)(
      apply1) == 1)
    assert(state.size == 200)
    // ops: append + merge + delete, then drain the pending windows
    Sources.appendShardedTable(batch(200, 50, "a"), col("doc_id"),
      col("doc_id"), path, 2, Seq("doc_id"))
    Sources.mergeShardedTable(batch(100, 80, "b"), "doc_id",
      col("doc_id"), path, 2, Seq("doc_id"))
    Sources.deleteFromShardedTable(spark, path, "doc_id",
      spark.range(10).select((col("id") * 7).as("doc_id")))
    assert(Sources.drainShardedTableChanges(spark, path, cursor)(
      apply1) >= 1)
    val want = Sources.readShardedTable(spark, path)
      .select("doc_id", "t").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(state == want, "CDC replay diverged from table state")
    // caught up: zero windows
    assert(Sources.drainShardedTableChanges(spark, path, cursor)(
      apply1) == 0)
    // at-least-once: an UNCOMMITTED window re-delivers verbatim
    Sources.appendShardedTable(batch(300, 10, "a"), col("doc_id"),
      col("doc_id"), path, 1, Seq("doc_id"))
    val w1 = Sources.shardedTableChanges(spark, path, cursor)
    val w2 = Sources.shardedTableChanges(spark, path, cursor)
    assert(w1.fromVersion == w2.fromVersion &&
      w1.toVersion == w2.toVersion)
    assert(w1.inserts.count() == 10L && w2.inserts.count() == 10L)
    w2.commit()
    assert(Sources.shardedTableChanges(spark, path, cursor).isCaughtUp)
    Sources.dropShardedTable(spark, path)
    new java.io.File(cursor).delete()
  }

  test("CDC cursor consumer parity under a maintained sink: " +
       "compaction windows deliver no phantom inserts") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_shcdcm").toString
    val cursor = s"$path.cursor"
    def batch(lo: Long, n: Long) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        concat(lit("d"), col("id") + lo).as("t"))
    var state = Map.empty[Long, String]
    def apply1(b: Sources.ShardedCdcBatch): Unit = {
      val dels = b.deletedKeys.collect().map(_.getLong(0)).toSet
      state = state -- dels
      state ++= b.inserts.select("doc_id", "t").collect()
        .map(r => r.getLong(0) -> r.getString(1))
    }
    (0 until 10).foreach { i =>
      Sources.shardedTableSinkBatchMaintained(batch(50L * i, 50),
        i.toLong, col("doc_id"), col("doc_id"), path, 2,
        Seq("doc_id"), compactWhenSmallDirs = 3, smallDirRows = 200L,
        keepVersions = 4)
      Sources.drainShardedTableChanges(spark, path, cursor)(apply1)
    }
    // every row delivered exactly once despite interleaved compaction
    // (op-filtered CDC skips reorganizations) and expiry (the cursor
    // never lags past the kept window because we drain per tick)
    assert(state.keySet == (0L until 500L).toSet)
    val want = Sources.readShardedTable(spark, path)
      .select("doc_id", "t").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(state == want)
    Sources.dropShardedTable(spark, path)
    new java.io.File(cursor).delete()
  }

  test("sharded table UPDATE by predicate: O(matched) atomic " +
       "delete+insert; untouched files; CDC delivers it; pinned " +
       "version unaffected") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_shupdate").toString
    val cursor = s"$path.cursor"
    def batch(lo: Long, n: Long) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        concat(lit("d"), col("id") + lo).as("t"))
    Sources.writeShardedTable(batch(0, 300), col("doc_id"),
      col("doc_id"), path, 4, Seq("doc_id"))
    Sources.drainShardedTableChanges(spark, path, cursor)(_ => ())
    def files(dir: String): Map[String, (Long, Long)] = {
      def walkF(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walkF) else Seq(f)
      walkF(new java.io.File(dir)).map(f =>
        (f.getPath, (f.length(), f.lastModified()))).toMap
    }
    val before = files(vdir(path, "data-v1"))
    val v2 = Sources.updateShardedTable(spark, path, "doc_id",
      pmod(col("doc_id"), lit(3)) === 0,
      Seq("t" -> concat(lit("u"), col("t"))), col("doc_id"),
      numShards = 2, statsCols = Seq("doc_id"))
    assert(v2 == 2L)
    assert(files(vdir(path, "data-v1")) == before) // never a rewrite
    val got = Sources.readShardedTable(spark, path)
      .select("doc_id", "t").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got.size == 300)
    (0L until 300L).foreach { k =>
      assert(got(k) == (if (k % 3 == 0) s"ud$k" else s"d$k"), s"k=$k")
    }
    // pinned pre-update version is untouched
    assert(Sources.readShardedTable(spark, path, version = Some(1L))
      .filter(col("t").startsWith("u")).count() == 0L)
    // the update flows through CDC as delete+insert of matched keys
    var dels = Set.empty[Long]; var ins = Map.empty[Long, String]
    Sources.drainShardedTableChanges(spark, path, cursor) { b =>
      dels ++= b.deletedKeys.collect().map(_.getLong(0))
      ins ++= b.inserts.select("doc_id", "t").collect()
        .map(r => r.getLong(0) -> r.getString(1))
    }
    assert(dels == (0L until 300L).filter(_ % 3 == 0).toSet)
    assert(ins.keySet == dels && ins.forall(_._2.startsWith("ud")))
    // no-match update: version unchanged
    assert(Sources.updateShardedTable(spark, path, "doc_id",
      col("doc_id") > 100000L, Seq("t" -> lit("x")), col("doc_id"),
      2, Seq("doc_id")) == v2)
    Sources.dropShardedTable(spark, path)
    new java.io.File(cursor).delete()
  }

  test("VACUUM: reclaims orphan dirs, stage debris and stale claims " +
       "past the grace period; live data and fresh debris untouched") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_shvacuum").toString
    def batch(lo: Long, n: Long) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        concat(lit("d"), col("id") + lo).as("t"))
    Sources.writeShardedTable(batch(0, 100), col("doc_id"),
      col("doc_id"), path, 2, Seq("doc_id"))
    Sources.appendShardedTable(batch(100, 50), col("doc_id"),
      col("doc_id"), path, 2, Seq("doc_id"))
    // fabricate crashed-commit debris: an orphan data dir, an orphan
    // tombstone dir, a leftover stage dir, a stale claim (version
    // beyond the last published — the writer-blocking kind)
    batch(900, 5).write.parquet(s"$path/data-v99-dead/shard=0")
    spark.range(3).select(col("id").as("doc_id"))
      .write.parquet(s"$path/del-v98-dead")
    batch(0, 1).write.parquet(s"$path/_manifest/.stage-v9-dead")
    new java.io.File(s"$path/_manifest/.claim-v9").createNewFile()
    // fresh debris + a long grace: NOTHING is touched
    assert(Sources.vacuumShardedTable(spark, path,
      graceMs = 3600 * 1000L).isEmpty)
    // negative grace (tests): everything stale goes, live data stays
    val deleted = Sources.vacuumShardedTable(spark, path,
      graceMs = -60000L).toSet
    assert(deleted == Set("data-v99-dead", "del-v98-dead",
      ".stage-v9-dead", ".claim-v9"), s"got $deleted")
    assert(Sources.readShardedTable(spark, path).count() == 150L)
    // claims of PUBLISHED versions are part of the commit record and
    // must survive vacuum
    assert(new java.io.File(s"$path/_manifest/.claim-v1").exists())
    assert(Sources.auditShardedTable(spark, path).count() == 0L)
    Sources.dropShardedTable(spark, path)
  }

  test("predicate-driven read: bounds extracted from the Column AST " +
       "prune like hand-written triples; ORs degrade to full scan, " +
       "never to wrong answers") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_shwhere").toString
    def batch(lo: Long, n: Long) = spark.range(n)
      .select((col("id") + lo).as("doc_id"), (col("id") % 7).as("v"),
        concat(lit("d"), col("id") + lo).as("t"))
    Sources.writeShardedTable(batch(0, 800), col("doc_id"),
      col("doc_id"), path, 8, Seq("doc_id"))
    // extraction shapes
    assert(Sources.predicateBounds(col("doc_id") === 5) ==
      Seq(("doc_id", 5L, 5L)))
    assert(Sources.predicateBounds(lit(5) <= col("doc_id")) ==
      Seq(("doc_id", 5L, Long.MaxValue)))
    assert(Sources.predicateBounds(
      col("doc_id").between(100, 199) && col("v") > 3 &&
        col("t").startsWith("d")) ==
      Seq(("doc_id", 100L, 199L), ("v", 4L, Long.MaxValue)))
    // intersect on the same column
    assert(Sources.predicateBounds(
      col("doc_id") >= 50 && col("doc_id") < 100) ==
      Seq(("doc_id", 50L, 99L)))
    // OR extracts nothing (safe, not wrong)
    assert(Sources.predicateBounds(
      col("doc_id") === 1 || col("doc_id") === 700).isEmpty)
    // pruning parity with hand-written triples + exact rows
    val auto = Sources.readShardedTableWhere(spark, path,
      col("doc_id").between(100, 199))
    val manual = Sources.readShardedTable(spark, path,
      preds = Seq(("doc_id", 100L, 199L)))
    assert(auto.inputFiles.toSet == manual.inputFiles.toSet)
    assert(auto.inputFiles.length <
      Sources.readShardedTable(spark, path).inputFiles.length)
    assert(auto.select("doc_id").collect().map(_.getLong(0)).toSet ==
      (100L to 199L).toSet)
    // OR predicate: full scan, correct rows
    val orRead = Sources.readShardedTableWhere(spark, path,
      col("doc_id") === 1 || col("doc_id") === 700)
    assert(orRead.select("doc_id").collect().map(_.getLong(0))
      .toSet == Set(1L, 700L))
    Sources.dropShardedTable(spark, path)
  }

  test("TIME TRAVEL: readShardedTableAsOf pins the snapshot current " +
       "at the instant; pre-history timestamps fail loudly") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_shasof").toString
    def batch(lo: Long, n: Long) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        concat(lit("d"), col("id") + lo).as("t"))
    Sources.writeShardedTable(batch(0, 100), col("doc_id"),
      col("doc_id"), path, 2, Seq("doc_id"))
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def mtime(v: Long) = fs.getFileStatus(
      new org.apache.hadoop.fs.Path(s"$path/_manifest/v$v"))
      .getModificationTime
    Thread.sleep(20)
    Sources.appendShardedTable(batch(100, 50), col("doc_id"),
      col("doc_id"), path, 2, Seq("doc_id"))
    assert(Sources.shardedVersionAt(spark, path, mtime(1L)) == 1L)
    assert(Sources.shardedVersionAt(spark, path,
      System.currentTimeMillis() + 1000) == 2L)
    assert(Sources.readShardedTableAsOf(spark, path, mtime(1L))
      .count() == 100L)
    assert(Sources.readShardedTableAsOf(spark, path,
      mtime(2L)).count() == 150L)
    intercept[IllegalArgumentException] {
      Sources.shardedVersionAt(spark, path, mtime(1L) - 100000)
    }
    Sources.dropShardedTable(spark, path)
  }

  test("many-dir FAST read path: 40-append table (evolution + " +
       "tombstones) reads the same rows as the logical state; pruning " +
       "and pinned versions still work") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_shfastread").toString
    def batch(lo: Long, n: Long) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        concat(lit("d"), col("id") + lo).as("t"))
    Sources.writeShardedTable(batch(0, 30), col("doc_id"),
      col("doc_id"), path, 2, Seq("doc_id"))
    (1 until 20).foreach { i =>
      Sources.appendShardedTable(batch(30L * i, 30), col("doc_id"),
        col("doc_id"), path, 1, Seq("doc_id"))
    }
    // evolution mid-chain, then more appends (heterogeneous dirs)
    (20 until 40).foreach { i =>
      Sources.appendShardedTable(
        batch(30L * i, 30).withColumn("v", col("doc_id") % 5),
        col("doc_id"), col("doc_id"), path, 1, Seq("doc_id"),
        allowNewColumns = (i == 20))
    }
    // tombstones over both halves of the chain
    Sources.deleteFromShardedTable(spark, path, "doc_id",
      spark.range(100).select((col("id") * 7).as("doc_id")))
    val got = Sources.readShardedTable(spark, path)
      .select("doc_id", "t", "v").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    val want = (0L until 1200L).filterNot(k => k % 7 == 0 && k < 700)
      .map(k => (k, s"d$k", if (k < 600) -1L else k % 5)).toSet
    assert(got == want)
    // shard column survives the scan with its usual type
    assert(Sources.readShardedTable(spark, path).schema("shard")
      .dataType == org.apache.spark.sql.types.IntegerType)
    // manifest pruning composes with the scan
    val pr = Sources.readShardedTable(spark, path,
      preds = Seq(("doc_id", 0L, 299L)))
    assert(pr.inputFiles.length <
      Sources.readShardedTable(spark, path).inputFiles.length)
    assert(pr.filter(col("doc_id") <= 299).count() ==
      (0L until 300L).count(k => !(k % 7 == 0)))
    // a pinned mid-chain version (few dirs) reads through the same
    // scan and agrees on the shared prefix
    assert(Sources.readShardedTable(spark, path, version = Some(5L))
      .count() == 150L)
    Sources.dropShardedTable(spark, path)
  }

  test("bloom build over a many-dir table (fast multi-leaf path) " +
       "prunes and answers identically") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_shbloomfast").toString
    def batch(lo: Long, n: Long) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        pmod(col("id") + lo, lit(101)).as("v"),
        concat(lit("d"), col("id") + lo).as("t"))
    Sources.writeShardedTable(batch(0, 40), col("doc_id"),
      col("doc_id"), path, 2, Seq("doc_id"))
    (1 until 40).foreach { i =>
      Sources.appendShardedTable(batch(40L * i, 40), col("doc_id"),
        col("doc_id"), path, 1, Seq("doc_id"))
    }
    Sources.buildShardedBloom(spark, path, "v", bits = 1 << 14, k = 3)
    val res = Sources.readShardedTablePointLookup(spark, path, "v",
      lit(13))
    // pruning bites (few of the 41 shard files opened) and the
    // filtered answer is exact
    assert(res.inputFiles.length <
      Sources.readShardedTable(spark, path).inputFiles.length)
    assert(res.filter(col("v") === 13).select("doc_id").collect()
      .map(_.getLong(0)).toSet ==
      (0L until 1600L).filter(_ % 101 == 13).toSet)
    Sources.dropShardedTable(spark, path)
  }

  test("DELETE WHERE: predicate delete tombstones exactly the " +
       "matching keys; no-match is a no-op") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_shdelwhere").toString
    def batch(lo: Long, n: Long) = spark.range(n)
      .select((col("id") + lo).as("doc_id"), (col("id") % 9).as("v"),
        concat(lit("d"), col("id") + lo).as("t"))
    Sources.writeShardedTable(batch(0, 300), col("doc_id"),
      col("doc_id"), path, 4, Seq("doc_id"))
    val v2 = Sources.deleteWhereShardedTable(spark, path, "doc_id",
      col("v") === 4 && col("doc_id") < 200)
    assert(v2 == 2L)
    val live = Sources.readShardedTable(spark, path)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(live == (0L until 300L)
      .filterNot(k => k % 9 == 4 && k < 200).toSet)
    // no-match: version unchanged
    assert(Sources.deleteWhereShardedTable(spark, path, "doc_id",
      col("doc_id") > 100000L) == v2)
    Sources.dropShardedTable(spark, path)
  }

  test("dedup sink screens through the bloom sidecar when one " +
       "exists; maintained dedup sink re-indexes and stays exact") {
    import org.apache.spark.sql.functions._
    // plain dedup sink: bloom built mid-stream must not change what
    // gets kept (only what gets READ to decide)
    val path = java.nio.file.Files
      .createTempDirectory("graft_shdedupbloom").toString
    def batch(lo: Long, n: Long) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        pmod(col("id") + lo, lit(37)).as("k"),
        concat(lit("d"), col("id") + lo).as("t"))
    def tick(i: Long) = Sources.shardedTableDedupSinkBatch(
      batch(25L * i, 25), i, "k", "doc_id", col("doc_id"), path, 2,
      Seq("doc_id"))
    tick(0); tick(1)
    Sources.buildShardedBloom(spark, path, "k", bits = 1 << 12, k = 3)
    tick(2); tick(3) // screened through the sidecar
    val got = Sources.readShardedTable(spark, path)
      .select("doc_id", "k").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // keep-first: key k kept by the smallest doc_id carrying it
    val want = (0L until 100L).map(d => (d, d % 37))
      .groupBy(_._2).map { case (_, ds) => ds.minBy(_._1) }.toSet
    assert(got.toSet == want && got.length == want.size)
    Sources.dropShardedTable(spark, path)
    // maintained dedup sink with periodic bloom refresh: exact under
    // many ticks + a replay, with bounded versions/dirs
    val path2 = java.nio.file.Files
      .createTempDirectory("graft_shdedupmaint").toString
    def mtick(i: Long) = Sources.shardedTableDedupSinkBatchMaintained(
      batch(25L * i, 25), i, "k", "doc_id", col("doc_id"), path2, 2,
      Seq("doc_id"), compactWhenSmallDirs = 3, smallDirRows = 500L,
      keepVersions = 4, bloomEveryVersions = 2, bloomBits = 1 << 12,
      bloomK = 3)
    (0L until 8L).foreach(mtick)
    mtick(5L) // replay: no-op
    val got2 = Sources.readShardedTable(spark, path2)
      .select("doc_id", "k").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val want2 = (0L until 200L).map(d => (d, d % 37))
      .groupBy(_._2).map { case (_, ds) => ds.minBy(_._1) }.toSet
    assert(got2.toSet == want2 && got2.length == want2.size)
    assert(Sources.shardedVersions(spark, path2).size <= 4)
    Sources.dropShardedTable(spark, path2)
  }

  test("merge sink enforces unique keys on the CREATE path too") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_shmdup").toString
    val dup = spark.range(20).select(pmod(col("id"), lit(10))
      .as("doc_id"), col("id").as("v"))
    intercept[IllegalArgumentException] {
      Sources.shardedTableMergeSinkBatch(dup, 0L, "doc_id",
        col("doc_id"), path, 2, Seq("doc_id"))
    }
    Sources.dropShardedTable(spark, path)
  }

  test("sharded table AUDIT under schema evolution: a stats column " +
       "added later does not flag pre-evolution dirs") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_shauditev").toString
    Sources.writeShardedTable(
      spark.range(100).select(col("id").as("doc_id"),
        concat(lit("d"), col("id")).as("t")),
      col("doc_id"), col("doc_id"), path, 4, Seq("doc_id"))
    // the evolved append ALSO tracks stats on the new column — old
    // dirs lack it entirely and must not be flagged as unreadable
    Sources.appendShardedTable(
      spark.range(100, 150).select(col("id").as("doc_id"),
        concat(lit("d"), col("id")).as("t"), (col("id") % 5).as("sc")),
      col("doc_id"), col("doc_id"), path, 2, Seq("doc_id", "sc"),
      allowNewColumns = true)
    assert(Sources.auditShardedTable(spark, path).count() == 0L)
    Sources.dropShardedTable(spark, path)
  }

  test("pruning keeps dirs with NULL stats: mixed statsCols across " +
       "appends never silently drop matching rows") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_shnullstats").toString
    def batch(lo: Long, n: Long) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        ((col("id") + lo) * 10).as("score"))
    // create tracks (doc_id, score); the append tracks doc_id ONLY —
    // its manifest rows carry null min_/max_score
    Sources.writeShardedTable(batch(0, 50), col("doc_id"),
      col("doc_id"), path, 2, Seq("doc_id", "score"))
    Sources.appendShardedTable(batch(1000, 50), col("doc_id"),
      col("doc_id"), path, 2, Seq("doc_id"))
    // a score bound matching ONLY the null-stat dir's rows: the
    // three-valued pruning test must keep that dir, not drop it
    val got = Sources.readShardedTable(spark, path,
        preds = Seq(("score", 10000L, 10100L)))
      .filter(col("score").between(10000, 10100))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (1000L to 1010L), s"null-stat dir was pruned: $got")
    // same through the predicate-driven surfaces: update and
    // delete-where must reach rows in null-stat dirs
    Sources.updateShardedTable(spark, path, "doc_id",
      col("score") === 10050, Seq("score" -> lit(-1L)),
      col("doc_id"), 2, Seq("doc_id"))
    assert(Sources.readShardedTable(spark, path)
      .filter(col("doc_id") === 1005).select("score")
      .head().getLong(0) == -1L)
    Sources.deleteWhereShardedTable(spark, path, "doc_id",
      col("score") === 10060)
    assert(Sources.readShardedTable(spark, path)
      .filter(col("doc_id") === 1006).count() == 0L)
    Sources.dropShardedTable(spark, path)
  }

  test("many-dir FAST read: evolved column null-fills when every " +
       "pruned leaf predates the evolution") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_shfastevo").toString
    def batch(lo: Long, n: Long) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        concat(lit("d"), col("id") + lo).as("t"))
    Sources.writeShardedTable(batch(0, 10), col("doc_id"),
      col("doc_id"), path, 1, Seq("doc_id"))
    (1 until 34).foreach { i =>
      Sources.appendShardedTable(batch(10L * i, 10), col("doc_id"),
        col("doc_id"), path, 1, Seq("doc_id"))
    }
    // the ONLY dir carrying `lang` sits far above the pruned range
    Sources.appendShardedTable(
      batch(100000, 10).withColumn("lang", lit("en")),
      col("doc_id"), col("doc_id"), path, 1, Seq("doc_id"),
      allowNewColumns = true)
    // prune to the 34 pre-evolution dirs: none of their files has
    // `lang`; the head schema has it — the read must null-fill, not
    // throw
    val pr = Sources.readShardedTable(spark, path,
      preds = Seq(("doc_id", 0L, 339L)))
    assert(pr.schema.fieldNames.contains("lang"))
    val rows2 = pr.filter(col("doc_id") <= 339).collect()
    assert(rows2.length == 340 && rows2.forall(_.getAs[String]("lang")
      == null))
    Sources.dropShardedTable(spark, path)
  }

  test("a RELEASED claim unblocks waiting composable writers " +
       "immediately (no deadline stall)") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_shclaimrel").toString
    def batch(lo: Long, n: Long) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        concat(lit("d"), col("id") + lo).as("t"))
    Sources.writeShardedTable(batch(0, 20), col("doc_id"),
      col("doc_id"), path, 1, Seq("doc_id"))
    // a "winner" claims v2 and then dies without publishing
    val claim = new java.io.File(s"$path/_manifest/.claim-v2")
    assert(claim.createNewFile())
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val t0 = System.nanoTime()
    val f = Future {
      Sources.appendShardedTable(batch(100, 20), col("doc_id"),
        col("doc_id"), path, 1, Seq("doc_id"))
    }
    Thread.sleep(500)
    assert(!f.isCompleted, "writer should wait on the live claim")
    assert(claim.delete()) // crash cleanup (vacuum / operator)
    val v = Await.result(f,
      scala.concurrent.duration.Duration(30, "s"))
    val elapsedMs = (System.nanoTime() - t0) / 1000000L
    assert(v == 2L)
    assert(elapsedMs < 20000,
      s"waiter stalled ${elapsedMs}ms after claim release")
    assert(Sources.readShardedTable(spark, path).count() == 40L)
    Sources.dropShardedTable(spark, path)
  }

  test("ClaimStore seam: an injected first-attempt denial is retried; " +
       "commits stay exactly-once") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_shclaimseam").toString
    def batch(lo: Long, n: Long) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        concat(lit("d"), col("id") + lo).as("t"))
    Sources.writeShardedTable(batch(0, 20), col("doc_id"),
      col("doc_id"), path, 1, Seq("doc_id"))
    val denied = new java.util.concurrent.atomic.AtomicInteger(0)
    val flaky = new Sources.ClaimStore {
      def tryClaim(fs: org.apache.hadoop.fs.FileSystem,
                   p: org.apache.hadoop.fs.Path): Boolean =
        if (denied.getAndIncrement() == 0) false // lose once, no file
        else Sources.AtomicCreateClaimStore.tryClaim(fs, p)
    }
    Sources.setClaimStore(flaky)
    try {
      // the denied attempt observes NO claim file, so the waiter
      // breaks straight back to the claim loop and wins on retry
      val v = Sources.appendShardedTable(batch(100, 20),
        col("doc_id"), col("doc_id"), path, 1, Seq("doc_id"))
      assert(v == 2L && denied.get() >= 2)
    } finally Sources.setClaimStore(Sources.AtomicCreateClaimStore)
    assert(Sources.readShardedTable(spark, path).count() == 40L)
    assert(Sources.auditShardedTable(spark, path).count() == 0L)
    Sources.dropShardedTable(spark, path)
  }

  test("ConditionalPutClaimStore protocol: lost requests retry, " +
       "committed-but-unacknowledged PUTs resolve by token (claim " +
       "WON, not wedged), losers never steal or release the claim") {
    import graft.sources.{ConditionalPutClaimStore, EmulatedObjectStore,
      ObjectStoreApi}
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cps").toString
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    def p(n: String) = new org.apache.hadoop.fs.Path(s"$dir/$n")

    // 1. LOST REQUEST: first put vanishes before effect — the retry
    // must land and win
    var mode: EmulatedObjectStore.Fault =
      EmulatedObjectStore.TransientBeforeEffect
    val store1 = new EmulatedObjectStore(_ => {
      val m = mode; mode = EmulatedObjectStore.NoFault; m })
    val cs1 = new ConditionalPutClaimStore(store1, backoffMs = 1)
    assert(cs1.tryClaim(fs, p("c1")))
    assert(fs.exists(p("c1")))

    // 2. AMBIGUOUS PUT: the store commits but the response is lost.
    // The claimer must recognize its own token on retry — claim WON
    // (a naive status-code reading would conclude "lost" and wedge
    // the version forever)
    mode = EmulatedObjectStore.TransientAfterEffect
    val cs2 = new ConditionalPutClaimStore(store1, backoffMs = 1)
    assert(cs2.tryClaim(fs, p("c2")))

    // 3. a SECOND claimer on the same key definitively loses, and its
    // release must NOT free the winner's claim
    val cs3 = new ConditionalPutClaimStore(store1, backoffMs = 1)
    assert(!cs3.tryClaim(fs, p("c2")))
    cs3.release(fs, p("c2"))
    assert(fs.exists(p("c2")), "loser's release stole the claim")
    // the winner's release IS honored (compare-and-delete on token)
    cs2.release(fs, p("c2"))
    assert(!fs.exists(p("c2")))

    // 4. UNRESOLVABLE: every attempt times out and nothing ever
    // lands — refuse to guess, loudly
    val dead = new EmulatedObjectStore(_ =>
      EmulatedObjectStore.TransientBeforeEffect)
    val cs4 = new ConditionalPutClaimStore(dead,
      maxRetries = 2, backoffMs = 1)
    val e = intercept[IllegalStateException] {
      cs4.tryClaim(fs, p("c4")) }
    assert(e.getMessage.contains("state unknown"))

    // 5. the emulated 412 is definitive: no fault, key exists, not
    // ours -> false without retries
    assert(store1.putIfAbsent(s"$dir/c5", "x".getBytes) ==
      ObjectStoreApi.Created)
    val cs5 = new ConditionalPutClaimStore(store1, backoffMs = 1)
    assert(!cs5.tryClaim(fs, p("c5")))
  }

  test("object-store claims end-to-end: concurrent appends through " +
       "the fault-injected conditional-PUT store stay exactly-once, " +
       "versions contiguous, audit clean") {
    import org.apache.spark.sql.functions._
    import graft.sources.{ConditionalPutClaimStore, EmulatedObjectStore}
    val path = java.nio.file.Files
      .createTempDirectory("graft_shobjstore").toString
    def batch(lo: Long, n: Long) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        concat(lit("d"), col("id") + lo).as("t"))
    val puts = new java.util.concurrent.atomic.AtomicLong
    val faults = new java.util.concurrent.atomic.AtomicLong
    val store = new EmulatedObjectStore(key =>
      if (!key.contains("graft_shobjstore")) EmulatedObjectStore.NoFault
      else (puts.getAndIncrement() % 3) match {
        case 0 => faults.incrementAndGet()
          EmulatedObjectStore.TransientAfterEffect
        case 1 => faults.incrementAndGet()
          EmulatedObjectStore.TransientBeforeEffect
        case _ => EmulatedObjectStore.NoFault
      })
    Sources.setClaimStore(new ConditionalPutClaimStore(store,
      backoffMs = 2))
    try {
      Sources.writeShardedTable(batch(0, 50), col("doc_id"),
        col("doc_id"), path, 2, Seq("doc_id"))
      val gate = new java.util.concurrent.CountDownLatch(1)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val fs = (0 until 2).map { w =>
        Future {
          gate.await()
          (0 until 3).foreach { i =>
            Sources.appendShardedTable(
              batch(1000 * (w + 1) + 100 * i, 30),
              col("doc_id"), col("doc_id"), path, 2, Seq("doc_id"))
          }
        }
      }
      gate.countDown()
      fs.foreach(f => Await.result(f, scala.concurrent.duration
        .Duration(120, "s")))
      assert(faults.get() >= 4, s"fault injector never fired")
      assert(Sources.shardedVersions(spark, path) == (1L to 7L))
      val got = Sources.readShardedTable(spark, path)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      val want = ((0L until 50L) ++
        (for (w <- 1 to 2; i <- 0 until 3; k <- 0 until 30)
          yield 1000L * w + 100L * i + k)).sorted
      assert(got == want)
      assert(Sources.auditShardedTable(spark, path).count() == 0L)
    } finally Sources.setClaimStore(Sources.AtomicCreateClaimStore)
    Sources.dropShardedTable(spark, path)
  }

  test("CDC cursor is never absent mid-commit: marker files advance " +
       "monotonically; legacy single-file cursors stay readable") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_shcdcmark").toString
    val cursor = s"$path/_cursors/c1"
    def batch(lo: Long, n: Long) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        concat(lit("d"), col("id") + lo).as("t"))
    Sources.writeShardedTable(batch(0, 20), col("doc_id"),
      col("doc_id"), path, 1, Seq("doc_id"))
    Sources.drainShardedTableChanges(spark, path, cursor)(_ => ())
    // committed: exactly one marker at v1, no bare cursor file
    val dir = new java.io.File(s"$path/_cursors")
    def marks() = dir.listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).sorted.toSeq // drop .crc sidecars
    assert(marks() == Seq("c1.v1"))
    Sources.appendShardedTable(batch(100, 20), col("doc_id"),
      col("doc_id"), path, 1, Seq("doc_id"))
    Sources.drainShardedTableChanges(spark, path, cursor)(_ => ())
    assert(marks() == Seq("c1.v2"))
    // a crash between marker create and GC leaves an older marker:
    // the reader must take the max, not re-bootstrap
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(s"$path/_cursors/c1.v1"), "1")
    Sources.appendShardedTable(batch(200, 20), col("doc_id"),
      col("doc_id"), path, 1, Seq("doc_id"))
    val w = Sources.shardedTableChanges(spark, path, cursor)
    assert(w.fromVersion == 2L && w.toVersion == 3L)
    w.commit()
    assert(marks() == Seq("c1.v3"))
    // legacy single-file cursor (pre-marker consumer) still resumes
    val legacy = s"$path/_cursors/old"
    java.nio.file.Files.writeString(java.nio.file.Path.of(legacy), "2")
    val lw = Sources.shardedTableChanges(spark, path, legacy)
    assert(lw.fromVersion == 2L && lw.toVersion == 3L)
    Sources.dropShardedTable(spark, path)
  }

  test("TYPE WIDENING: a long batch widens an int column; later int " +
       "batches up-cast; compaction never demotes the authority") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val path = java.nio.file.Files
      .createTempDirectory("graft_shwiden").toString
    def batch(lo: Long, n: Long, t: String) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        ((col("id") + lo) * 2).cast(t).as("score"))
    Sources.writeShardedTable(batch(0, 50, "int"), col("doc_id"),
      col("doc_id"), path, 2, Seq("doc_id"))
    assert(Sources.readShardedTable(spark, path).schema("score")
      .dataType == IntegerType)
    // widen: the long batch becomes the new authority
    Sources.appendShardedTable(batch(100, 50, "long"), col("doc_id"),
      col("doc_id"), path, 2, Seq("doc_id"))
    assert(Sources.readShardedTable(spark, path).schema("score")
      .dataType == LongType)
    // a straggler still writing int is up-cast, never flips back
    Sources.appendShardedTable(batch(200, 50, "int"), col("doc_id"),
      col("doc_id"), path, 2, Seq("doc_id"))
    assert(Sources.readShardedTable(spark, path).schema("score")
      .dataType == LongType)
    // incompatible type forks fail loudly
    intercept[IllegalArgumentException] {
      Sources.appendShardedTable(batch(300, 10, "string"),
        col("doc_id"), col("doc_id"), path, 2, Seq("doc_id"))
    }
    // fold ONLY pre-widening runs: the compacted dir takes the top
    // seq, so it must carry the widened type, not demote it
    Sources.compactShardedTable(spark, path, col("doc_id"),
      col("doc_id"), numShards = 2, statsCols = Seq("doc_id"),
      smallDirRows = Long.MaxValue / 4)
    assert(Sources.readShardedTable(spark, path).schema("score")
      .dataType == LongType)
    val got = Sources.readShardedTable(spark, path)
      .select("doc_id", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = ((0L until 50L) ++ (100L until 150L) ++
      (200L until 250L)).map(k => (k, k * 2)).toSet
    assert(got == want)
    Sources.dropShardedTable(spark, path)
  }

  test("COLUMN RENAME: metadata-only, old dirs translate, time " +
       "travel keeps era names, tombstones survive a key rename") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_shrename").toString
    def batch(lo: Long, n: Long, kName: String, vName: String) =
      spark.range(n).select((col("id") + lo).as(kName),
        concat(lit("d"), col("id") + lo).as(vName))
    Sources.writeShardedTable(batch(0, 100, "doc_id", "t"),
      col("doc_id"), col("doc_id"), path, 2, Seq("doc_id"))
    // v2: tombstone under the ORIGINAL key name
    Sources.deleteFromShardedTable(spark, path, "doc_id",
      spark.range(5).select((col("id") * 10).as("doc_id")))
    // v3: rename the VALUE column — no data touched
    val dirsBefore = new java.io.File(path).listFiles()
      .count(_.getName.startsWith("data-v"))
    Sources.renameShardedTableColumn(spark, path, "t", "txt")
    assert(new java.io.File(path).listFiles()
      .count(_.getName.startsWith("data-v")) == dirsBefore)
    assert(Sources.readShardedTable(spark, path).columns.toSet ==
      Set("doc_id", "txt", "shard"))
    // v4: rename the KEY column too
    Sources.renameShardedTableColumn(spark, path, "doc_id", "id")
    // v5: append under the NEW names
    Sources.appendShardedTable(batch(1000, 50, "id", "txt"),
      col("id"), col("id"), path, 2, Seq("id"))
    // v6: merge (tombstone now under the new key name) kills one old
    // and one new row and re-inserts them
    Sources.mergeShardedTable(
      batch(7, 1, "id", "txt").unionByName(batch(1007, 1, "id", "txt"))
        .withColumn("txt", concat(lit("m"), col("id"))),
      "id", col("id"), path, 2, Seq("id"))
    val got = Sources.readShardedTable(spark, path)
      .select("id", "txt").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got.size == 145) // 100 - 5 deleted + 50 appended
    assert(got(7L) == "m7" && got(1007L) == "m1007") // merged
    assert(got(1L) == "d1" && got(1001L) == "d1001") // translated
    assert(!got.contains(10L) && !got.contains(40L)) // old tombstone
    // time travel: a pre-rename version keeps its era's names
    assert(Sources.readShardedTable(spark, path, version = Some(2L))
      .columns.toSet == Set("doc_id", "t", "shard"))
    // renaming to an existing name fails loudly
    intercept[IllegalArgumentException] {
      Sources.renameShardedTableColumn(spark, path, "txt", "id")
    }
    // compaction folds pre- and post-rename runs into the new names
    Sources.compactShardedTable(spark, path, col("id"), col("id"),
      numShards = 2, statsCols = Seq("id"),
      smallDirRows = Long.MaxValue / 4)
    val got2 = Sources.readShardedTable(spark, path)
      .select("id", "txt").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got2 == got)
    assert(Sources.auditShardedTable(spark, path).count() == 0L)
    Sources.dropShardedTable(spark, path)
  }

  test("RENAME on a many-dir table: the read splits into two rename " +
       "eras and stays correct") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_shrenfast").toString
    def batch(lo: Long, n: Long, vName: String) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        concat(lit("d"), col("id") + lo).as(vName))
    Sources.writeShardedTable(batch(0, 10, "t"), col("doc_id"),
      col("doc_id"), path, 1, Seq("doc_id"))
    (1 until 34).foreach { i =>
      Sources.appendShardedTable(batch(10L * i, 10, "t"),
        col("doc_id"), col("doc_id"), path, 1, Seq("doc_id"))
    }
    Sources.renameShardedTableColumn(spark, path, "t", "txt")
    Sources.appendShardedTable(batch(1000, 10, "txt"), col("doc_id"),
      col("doc_id"), path, 1, Seq("doc_id"))
    val got = Sources.readShardedTable(spark, path)
      .select("doc_id", "txt").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val want = ((0L until 340L) ++ (1000L until 1010L))
      .map(k => (k, s"d$k")).toSet
    assert(got == want)
    Sources.dropShardedTable(spark, path)
  }

  test("PARTITION COLUMNS: declared at create, inherited by every " +
       "write; partition + stats pruning open only matching leaves") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_shpart").toString
    def batch(lo: Long, n: Long) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        concat(lit("s"), pmod(col("id") + lo, lit(4))).as("src"),
        concat(lit("d"), col("id") + lo).as("t"))
    Sources.writeShardedTable(batch(0, 200), col("doc_id"),
      col("doc_id"), path, 2, Seq("doc_id"),
      partitionCols = Seq("src"))
    // layout: data-v1-*/src=s0/shard=0 ... (partition dirs between)
    val v1 = vdir(path, "data-v1")
    assert(new java.io.File(v1).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).toSet ==
      Set("src=s0", "src=s1", "src=s2", "src=s3"))
    // appends INHERIT the partitioning with no caller plumbing
    Sources.appendShardedTable(batch(1000, 100), col("doc_id"),
      col("doc_id"), path, 2, Seq("doc_id"))
    assert(new java.io.File(vdir(path, "data-v2")).listFiles()
      .exists(_.getName.startsWith("src=")))
    // read-back parity, partition column present as a data column
    val all = Sources.readShardedTable(spark, path)
    assert(all.count() == 300)
    assert(all.columns.toSet ==
      Set("doc_id", "src", "t", "shard"))
    // PARTITION pruning: only src=s1 leaves are opened
    val pr = Sources.readShardedTableWhere(spark, path,
      col("src") === "s1")
    assert(pr.inputFiles.forall(_.contains("/src=s1/")),
      pr.inputFiles.mkString(","))
    assert(pr.count() == 75)
    // partition + stats pruning compose (doc_id bound AND src)
    val pr2 = Sources.readShardedTableWhere(spark, path,
      col("src") === "s2" && col("doc_id") < 100)
    assert(pr2.inputFiles.forall(f => f.contains("/src=s2/") &&
      f.contains("data-v1")))
    assert(pr2.count() == 25)
    // merge-on-read + tombstones work across the partition layout
    Sources.deleteFromShardedTable(spark, path, "doc_id",
      spark.range(50).select((col("id") * 4).as("doc_id")))
    Sources.mergeShardedTable(
      batch(0, 10).withColumn("t", concat(lit("m"), col("doc_id"))),
      "doc_id", col("doc_id"), path, 2, Seq("doc_id"))
    val got = Sources.readShardedTable(spark, path)
      .select("doc_id", "t").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // 300 - 50 deleted + 3 deleted keys the merge re-inserted = 253
    assert(got.size == 253)
    assert(got(11L) == "d11" && got(0L) == "m0" && got(8L) == "m8")
    assert(!got.contains(40L))
    // partition-aware compaction preserves the layout and the rows
    Sources.compactShardedTable(spark, path, col("doc_id"),
      col("doc_id"), numShards = 2, statsCols = Seq("doc_id"),
      smallDirRows = Long.MaxValue / 4)
    val got2 = Sources.readShardedTable(spark, path)
      .select("doc_id", "t").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got2 == got)
    assert(new java.io.File(vdir(path, "data-v5")).listFiles()
      .exists(_.getName.startsWith("src=")))
    // audit is clean at the (dir, shard) grain
    assert(Sources.auditShardedTable(spark, path).count() == 0L)
    // the DSv2 format prunes partitions from a pushed equality
    val v2df = spark.read.format("graft-sharded").load(path)
      .where(col("src") === "s3")
    assert(v2df.collect().map(_.getAs[String]("src")).forall(_ == "s3"))
    val scanned = graft.sources.GraftSharded.scanDataFrame(spark,
      path, None,
      Seq(org.apache.spark.sql.sources.EqualTo("src", "s3")),
      graft.sources.GraftSharded.tableSchema(spark, path, None))
    // tombstone key reads ride along in inputFiles — including the
    // merge's tombstone, which REFERENCES its data dir (data-v4) and
    // is read key-only across every partition by design. The DATA
    // side of the scan (the only live data dir after the compaction,
    // data-v5) must open only the matching partition's leaves.
    assert(scanned.inputFiles.filter(_.contains("/data-v5"))
      .forall(_.contains("/src=s3/")))
    assert(scanned.inputFiles.exists(_.contains("/data-v5")))
    // CDC inserts deliver partitioned dirs intact
    val ins = Sources.shardedTableInserts(spark, path, 1, 2)
    assert(ins.count() == 100 &&
      ins.columns.contains("src"))
    Sources.dropShardedTable(spark, path)
  }

  test("DSv2 connector: format reads answer the library reads — " +
       "latest, pinned version, time travel, tombstones") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_shdsv2").toString
    def batch(lo: Long, n: Long) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        ((col("id") + lo) * 3).as("score"),
        concat(lit("d"), col("id") + lo).as("t"))
    Sources.writeShardedTable(batch(0, 300), col("doc_id"),
      col("doc_id"), path, 4, Seq("doc_id", "score"))
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val t1 = fs.getFileStatus(new org.apache.hadoop.fs.Path(
      s"$path/_manifest/v1")).getModificationTime
    Thread.sleep(20)
    Sources.appendShardedTable(batch(1000, 100), col("doc_id"),
      col("doc_id"), path, 2, Seq("doc_id", "score"))
    Sources.deleteFromShardedTable(spark, path, "doc_id",
      spark.range(10).select((col("id") * 11).as("doc_id")))
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "score", "t").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    // latest (tombstones applied)
    val v2 = spark.read.format("graft-sharded").load(path)
    assert(rowsOf(v2) == rowsOf(Sources.readShardedTable(spark, path)))
    // filter parity + count(*) through column pruning
    val box = col("doc_id").between(50, 149) && col("score") < 400
    assert(rowsOf(v2.where(box)) ==
      rowsOf(Sources.readShardedTableWhere(spark, path, box)))
    assert(v2.count() ==
      Sources.readShardedTable(spark, path).count())
    // the scan reports its pushed filters in the executed plan
    val plan = v2.where(col("doc_id") <= 100)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("LessThanOrEqual(doc_id,100)"), plan)
    // pinned version
    assert(spark.read.format("graft-sharded").option("version", 1)
      .load(path).count() == 300L)
    // time travel
    assert(spark.read.format("graft-sharded")
      .option("asOfTimestamp", t1).load(path).count() == 300L)
    Sources.dropShardedTable(spark, path)
  }

  test("DSv2 WRITE: df.write.format(graft-sharded) creates, appends " +
       "and overwrites through the snapshot writers") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_shdsv2w").toString + "/t"
    def batch(lo: Long, n: Long) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        concat(lit("s"), pmod(col("id") + lo, lit(3))).as("src"),
        concat(lit("d"), col("id") + lo).as("t"))
    // CREATE via append mode on an absent path, partitioned
    batch(0, 120).write.format("graft-sharded")
      .option("idCol", "doc_id").option("numShards", 4)
      .partitionBy("src")
      .mode("append").save(path)
    assert(Sources.shardedVersions(spark, path) == Seq(1L))
    assert(new java.io.File(vdir(path, "data-v1")).listFiles()
      .exists(_.getName.startsWith("src=")))
    // APPEND inherits the layout; the library read agrees
    batch(1000, 60).write.format("graft-sharded")
      .option("idCol", "doc_id").mode("append").save(path)
    assert(Sources.readShardedTable(spark, path).count() == 180)
    // the format read + pushed partition filter sees the writes
    val pr = spark.read.format("graft-sharded").load(path)
      .where(col("src") === "s1")
    assert(pr.count() == 60)
    // OVERWRITE publishes a fresh-manifest snapshot; old version
    // still pinnable
    batch(5000, 30).write.format("graft-sharded")
      .option("idCol", "doc_id").option("numShards", 2)
      .mode("overwrite").save(path)
    assert(spark.read.format("graft-sharded").load(path)
      .count() == 30)
    assert(spark.read.format("graft-sharded").option("version", 2)
      .load(path).count() == 180)
    // schema drift fails loudly through the append checks
    intercept[Exception] {
      spark.range(3).select(col("id").as("doc_id"))
        .write.format("graft-sharded").mode("append").save(path)
    }
    Sources.dropShardedTable(spark, path)
  }

  test("DSv2 statistics: manifest byte counts size the pruned scan, " +
       "so a small sharded table broadcasts in joins") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_shstats").toString
    def batch(lo: Long, n: Long) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        concat(lit("d"), col("id") + lo).as("t"))
    Sources.writeShardedTable(batch(0, 200), col("doc_id"),
      col("doc_id"), path, 4, Seq("doc_id"))
    Sources.appendShardedTable(batch(1000, 200), col("doc_id"),
      col("doc_id"), path, 4, Seq("doc_id"))
    val full = Sources.shardedTableScanBytes(spark, path)
    val pruned = Sources.shardedTableScanBytes(spark, path,
      preds = Seq(("doc_id", 0L, 199L)))
    assert(full.exists(_ > 0) && pruned.exists(_ > 0))
    assert(pruned.get < full.get, s"pruned $pruned vs full $full")
    // the STATIC plan (pre-AQE) broadcasts the small relation — that
    // decision comes from the relation's reported sizeInBytes, not
    // from runtime adaptation
    val big = spark.range(200000).select(col("id").as("doc_id"),
      (col("id") * 2).as("x"))
    val joined = big.join(
      spark.read.format("graft-sharded").load(path)
        .select("doc_id", "t"),
      "doc_id")
    assert(joined.queryExecution.sparkPlan.toString
      .contains("BroadcastHashJoin"),
      joined.queryExecution.sparkPlan.toString.take(800))
    Sources.dropShardedTable(spark, path)
  }

  test("DSv2 connector: pushed filters prune the same files as " +
       "readShardedTableWhere") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.sources
    val path = java.nio.file.Files
      .createTempDirectory("graft_shdsv2prune").toString
    def batch(lo: Long, n: Long) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        concat(lit("d"), col("id") + lo).as("t"))
    Sources.writeShardedTable(batch(0, 100), col("doc_id"),
      col("doc_id"), path, 4, Seq("doc_id"))
    (1 until 5).foreach { i =>
      Sources.appendShardedTable(batch(100L * i, 100), col("doc_id"),
        col("doc_id"), path, 4, Seq("doc_id"))
    }
    val filters: Seq[sources.Filter] = Seq(
      sources.GreaterThanOrEqual("doc_id", 120L),
      sources.LessThanOrEqual("doc_id", 180L))
    val schema = graft.sources.GraftSharded.tableSchema(spark, path,
      None)
    val scanned = graft.sources.GraftSharded.scanDataFrame(spark,
      path, None, filters, schema)
    val lib = Sources.readShardedTableWhere(spark, path,
      col("doc_id").between(120, 180))
    assert(scanned.inputFiles.toSet == lib.inputFiles.toSet)
    // genuinely pruned: fewer files than the unfiltered read
    assert(scanned.inputFiles.length <
      Sources.readShardedTable(spark, path).inputFiles.length)
    // and the same rows
    assert(scanned.select("doc_id").collect().map(_.getLong(0)).sorted
      .toSeq == (120L to 180L))
    Sources.dropShardedTable(spark, path)
  }

  test("FAST READ generalized (r12): a 32+-dir PARTITIONED table " +
       "reads through the explicit-schema fast path — values, " +
       "pruning and tombstones intact") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_fastpart").toString
    def batch(lo: Long, n: Long) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        concat(lit("s"), pmod(col("id") + lo, lit(2))).as("src"),
        concat(lit("d"), col("id") + lo).as("t"))
    Sources.writeShardedTable(batch(0, 20), col("doc_id"),
      col("doc_id"), path, 2, Seq("doc_id"),
      partitionCols = Seq("src"))
    (1 until 34).foreach { i =>
      Sources.appendShardedTable(batch(20L * i, 20), col("doc_id"),
        col("doc_id"), path, 2, Seq("doc_id"))
    }
    Sources.deleteFromShardedTable(spark, path, "doc_id",
      spark.range(10).select((col("id") * 7).as("doc_id")))
    val all = Sources.readShardedTable(spark, path)
    // 34 contributing dirs — well past the threshold
    assert(all.inputFiles.filter(_.contains("/data-v"))
      .map(_.split("/data-v")(1).split('/').head).distinct.length
      >= 32)
    val got = all.select("doc_id", "src", "t").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val want = (0L until 680L).filterNot(k => k % 7 == 0 && k < 70)
      .map(k => (k, s"s${k % 2}", s"d$k")).toSet
    assert(got == want)
    // partition pruning still holds on the many-dir scan
    val pr = Sources.readShardedTableWhere(spark, path,
      col("src") === "s1")
    assert(pr.inputFiles.filter(_.contains("/data-v"))
      .forall(_.contains("/src=s1/")))
    assert(pr.count() == want.count(_._2 == "s1"))
    Sources.dropShardedTable(spark, path)
  }

  test("FAST READ generalized (r12): a 32+-dir WIDENED table (int -> " +
       "long mid-chain) stays readable — the advice-flagged " +
       "mergeSchema crash falls through to the explicit-schema path") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_fastwide").toString
    def batchInt(lo: Long, n: Long) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        (col("id") + lo).cast("int").as("score"))
    def batchLong(lo: Long, n: Long) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        (col("id") + lo + 1000000000000L).as("score"))
    Sources.writeShardedTable(batchInt(0, 20), col("doc_id"),
      col("doc_id"), path, 2, Seq("doc_id"))
    // the widening write — newest dir becomes the long authority
    Sources.appendShardedTable(batchLong(20, 20), col("doc_id"),
      col("doc_id"), path, 2, Seq("doc_id"))
    (2 until 35).foreach { i =>
      Sources.appendShardedTable(batchLong(20L * i, 20), col("doc_id"),
        col("doc_id"), path, 2, Seq("doc_id"))
    }
    val all = Sources.readShardedTable(spark, path)
    assert(all.schema("score").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(all.count() == 700)
    // pre-widening rows up-cast, post-widening rows intact
    val m = all.select("doc_id", "score").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(5L) == 5L && m(30L) == 30L + 1000000000000L)
    Sources.dropShardedTable(spark, path)
  }

  test("FAST READ generalized (r12): a 32+-dir RENAMED table reads " +
       "one scan per rename era with per-era physical names") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_fastren").toString
    def batch(lo: Long, n: Long, c: String) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        concat(lit("d"), col("id") + lo).as(c))
    Sources.writeShardedTable(batch(0, 20, "title"), col("doc_id"),
      col("doc_id"), path, 2, Seq("doc_id"))
    (1 until 17).foreach { i =>
      Sources.appendShardedTable(batch(20L * i, 20, "title"),
        col("doc_id"), col("doc_id"), path, 2, Seq("doc_id"))
    }
    Sources.renameShardedTableColumn(spark, path, "title", "headline")
    (17 until 35).foreach { i =>
      Sources.appendShardedTable(batch(20L * i, 20, "headline"),
        col("doc_id"), col("doc_id"), path, 2, Seq("doc_id"))
    }
    val all = Sources.readShardedTable(spark, path)
    assert(all.columns.toSet == Set("doc_id", "headline", "shard"))
    val got = all.select("doc_id", "headline").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 700 && got(3L) == "d3" && got(690L) == "d690")
    Sources.dropShardedTable(spark, path)
  }

  test("partition values that need Hive escaping ('=', ':', ' ') " +
       "commit, read back, and prune correctly") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_escpart").toString
    val df = spark.range(40).select(col("id").as("doc_id"),
      when(col("id") % 2 === 0, lit("a=b c"))
        .otherwise(lit("x:y%z")).as("src"),
      concat(lit("d"), col("id")).as("t"))
    Sources.writeShardedTable(df, col("doc_id"), col("doc_id"),
      path, 2, Seq("doc_id"), partitionCols = Seq("src"))
    val all = Sources.readShardedTable(spark, path)
    assert(all.count() == 40)
    assert(all.select("src").distinct().collect()
      .map(_.getString(0)).toSet == Set("a=b c", "x:y%z"))
    // append inherits and re-escapes; pruning matches the RAW value
    Sources.appendShardedTable(
      spark.range(5).select((col("id") + 100).as("doc_id"),
        lit("a=b c").as("src"),
        concat(lit("d"), col("id") + 100).as("t")),
      col("doc_id"), col("doc_id"), path, 2, Seq("doc_id"))
    val pr = Sources.readShardedTable(spark, path,
      partPreds = Seq(("src", "a=b c")))
    assert(pr.count() == 25)
    // genuinely pruned: fewer files than the unfiltered read
    assert(pr.inputFiles.length <
      Sources.readShardedTable(spark, path).inputFiles.length)
    // the audit recomputes cleanly through the escaped leaves
    assert(Sources.auditShardedTable(spark, path).count() == 0L)
    Sources.dropShardedTable(spark, path)
  }

  test("a commit lays out the leaves df.write.partitionBy does (escaped, " +
       "date and timestamp values), one part file each, and leaves no " +
       "_temporary, _SUCCESS or hidden file behind") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_leaves").toString
    val df = spark.range(24).select(col("id").as("doc_id"),
      when(col("id") % 2 === 0, lit("a=b c"))
        .otherwise(lit("x:y%z")).as("s"),
      date_add(to_date(lit("2024-02-28")), (col("id") % 3).cast("int"))
        .as("d"),
      timestamp_millis(lit(1704164645500L) + col("id") % 2 * 3601000L)
        .as("ts"))
    Sources.writeShardedTable(df, col("doc_id"), col("doc_id"), path, 2,
      Seq("doc_id"), partitionCols = Seq("s", "d", "ts"))
    def under(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => f +: (if (f.isDirectory) under(f)
        else Nil))
    def leaves(root: java.io.File) = under(root)
      .filter(_.getName.startsWith("part-"))
      .map(f => root.toPath.relativize(f.getParentFile.toPath).toString)
    val dataDir = new java.io.File(vdir(path, "data-v1"))
    val written = under(dataDir).filterNot(_.isDirectory)
    val parts = written.filter(_.getName.startsWith("part-"))
    assert(parts.forall(_.getName.endsWith(".parquet")))
    assert(leaves(dataDir).size == leaves(dataDir).toSet.size,
      s"a leaf with more than one part file: ${leaves(dataDir)}")
    // every other file is a part file's checksum
    assert(written.filterNot(parts.contains).map(_.getName).toSet ==
      parts.map(f => s".${f.getName}.crc").toSet,
      written.map(_.getName).mkString(","))
    assert(!under(dataDir).exists(_.getName == "_temporary"))
    // Spark's own writer over the same rows, each with its shard
    val ref = new java.io.File(s"$path-ref")
    df.join(Sources.readShardedTable(spark, path)
        .select("doc_id", "shard"), "doc_id")
      .write.partitionBy("s", "d", "ts", "shard").parquet(ref.toString)
    assert(leaves(dataDir).toSet == leaves(ref).toSet)
    assert(leaves(dataDir).size == 12, leaves(dataDir).mkString(","))
    assert(Sources.readShardedTable(spark, path).count() == 24L)
    Sources.dropShardedTable(spark, path)
    org.apache.commons.io.FileUtils.deleteDirectory(ref)
  }

  test("a write-task failure fails the commit in its write job: readers " +
       "keep the previous version, nothing stays persisted, vacuum " +
       "reclaims the orphan dir, and a retry commits") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_writefail").toString
    def batch(lo: Long, n: Long) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        concat(lit("d"), col("id") + lo).as("t"))
    val v1 = Sources.writeShardedTable(batch(0, 100), col("doc_id"),
      col("doc_id"), path, 2, Seq("doc_id"))
    def append() = Sources.appendShardedTable(batch(100, 50),
      col("doc_id"), col("doc_id"), path, 2, Seq("doc_id"))
    val before = persistedRdds
    // lzo is a codec name the write accepts whose codec class is
    // absent: planning passes, and the task that opens a file fails
    val codec = "spark.sql.parquet.compression.codec"
    spark.conf.set(codec, "lzo")
    var failure: Throwable = null
    val jobs = try TestSpark.jobsDuring {
      failure = intercept[org.apache.spark.SparkException](append())
    } finally spark.conf.unset(codec)
    // range sample, sort-and-count, then the write job that failed
    assert(jobs == 3, s"jobs $jobs")
    assert(Iterator.iterate(failure)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("LzoCodec")),
      failure.toString)
    assert(Sources.shardedVersions(spark, path) == Seq(v1))
    assert(Sources.readShardedTable(spark, path).count() == 100L)
    assert((persistedRdds -- before).isEmpty,
      s"left persisted: ${(persistedRdds -- before).toSeq.sorted}")
    assert(Sources.vacuumShardedTable(spark, path, graceMs = -60000L)
      .map(vtag) == Seq("data-v2"))
    assert(append() == v1 + 1)
    assert(Sources.readShardedTable(spark, path).count() == 150L)
    assert(Sources.auditShardedTable(spark, path).count() == 0L)
    Sources.dropShardedTable(spark, path)
  }

  test("renaming a declared PARTITION column is rejected (later " +
       "writes derive the layout from part_<c> manifest names)") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_renpart").toString
    Sources.writeShardedTable(
      spark.range(10).select(col("id").as("doc_id"),
        lit("a").as("src")),
      col("doc_id"), col("doc_id"), path, 2, Seq("doc_id"),
      partitionCols = Seq("src"))
    val e = intercept[IllegalArgumentException] {
      Sources.renameShardedTableColumn(spark, path, "src", "origin")
    }
    assert(e.getMessage.contains("partition column"))
    // non-partition columns still rename fine afterwards
    Sources.renameShardedTableColumn(spark, path, "doc_id", "doc")
    assert(Sources.readShardedTable(spark, path).columns
      .contains("doc"))
    Sources.dropShardedTable(spark, path)
  }

  test("DSv2 append with a partitionBy that diverges from the " +
       "table's declared layout errors instead of silently " +
       "inheriting") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_dsv2part").toString
    val df = spark.range(10).select(col("id").as("doc_id"),
      lit("a").as("src"))
    df.write.format("graft-sharded").option("idCol", "doc_id")
      .partitionBy("src").mode("overwrite").save(path)
    // matching partitionBy appends fine
    df.write.format("graft-sharded").option("idCol", "doc_id")
      .partitionBy("src").mode("append").save(path)
    // a DIVERGING partitionBy must error, not silently inherit
    val e = intercept[Exception] {
      df.write.format("graft-sharded").option("idCol", "doc_id")
        .partitionBy("doc_id").mode("append").save(path)
    }
    assert(e.getMessage.contains("partition") ||
      Option(e.getCause).exists(_.getMessage.contains("partition")))
    assert(Sources.readShardedTable(spark, path).count() == 20)
    Sources.dropShardedTable(spark, path)
  }

  test("GraftCatalog: pure-SQL lifecycle — CREATE/INSERT/SELECT/" +
       "time travel/RENAME COLUMN/DROP, partitioned tables included") {
    import org.apache.spark.sql.functions._
    val wh = java.nio.file.Files
      .createTempDirectory("graft_cat").toString
    spark.conf.set("spark.sql.catalog.gcat",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE gcat.ns")
    spark.sql("""CREATE TABLE gcat.ns.t (doc_id BIGINT, src STRING,
      v BIGINT) USING `graft-sharded` PARTITIONED BY (src)
      TBLPROPERTIES ('idCol'='doc_id', 'numShards'='2')""")
    assert(spark.sql("SHOW TABLES IN gcat.ns").collect()
      .map(_.getString(1)).toSeq == Seq("t"))
    // empty table scans as empty with the declared schema
    assert(spark.sql("SELECT * FROM gcat.ns.t").count() == 0)
    spark.range(20).select(col("id").as("doc_id"),
        concat(lit("s"), pmod(col("id"), lit(2))).as("src"),
        (col("id") * 10).as("v"))
      .createOrReplaceTempView("cat_in")
    spark.sql("INSERT INTO gcat.ns.t SELECT * FROM cat_in " +
      "WHERE doc_id < 10")
    spark.sql("INSERT INTO gcat.ns.t SELECT * FROM cat_in " +
      "WHERE doc_id >= 10")
    assert(spark.sql("SELECT * FROM gcat.ns.t").count() == 20)
    // partition layout came from PARTITIONED BY
    val tdir = s"$wh/ns/t"
    assert(Sources.shardedTablePartitionCols(spark, tdir) ==
      Seq("src"))
    // filtered SQL read — correct rows
    assert(spark.sql("SELECT doc_id FROM gcat.ns.t WHERE src = 's1' " +
        "AND doc_id >= 10").collect().map(_.getLong(0)).sorted.toSeq ==
      (11L until 20L by 2).toSeq)
    // time travel by VERSION and by TIMESTAMP
    assert(spark.sql("SELECT * FROM gcat.ns.t VERSION AS OF 1")
      .count() == 10)
    val ts = java.time.Instant.now().plusSeconds(60).toString
    assert(spark.sql(
      s"SELECT * FROM gcat.ns.t TIMESTAMP AS OF '$ts'").count() == 20)
    // metadata-only rename, visible to the next SQL read
    spark.sql("ALTER TABLE gcat.ns.t RENAME COLUMN v TO val")
    assert(spark.sql("SELECT sum(val) FROM gcat.ns.t").head()
      .getLong(0) == (0L until 20L).map(_ * 10).sum)
    // the version-pinned read keeps its era's name
    assert(spark.sql("SELECT * FROM gcat.ns.t VERSION AS OF 1")
      .columns.contains("v"))
    spark.sql("DROP TABLE gcat.ns.t")
    assert(spark.sql("SHOW TABLES IN gcat.ns").count() == 0)
    spark.sql("DROP NAMESPACE gcat.ns")
  }

  test("GraftCatalog: pushed predicates prune the same files as the " +
       "library read (parity with the q581 path-based pin)") {
    import org.apache.spark.sql.functions._
    val wh = java.nio.file.Files
      .createTempDirectory("graft_cat2").toString
    spark.conf.set("spark.sql.catalog.gcat2",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcat2.warehouse", wh)
    spark.sql("CREATE NAMESPACE gcat2.ns")
    spark.sql("""CREATE TABLE gcat2.ns.t (doc_id BIGINT, txt STRING)
      USING `graft-sharded`
      TBLPROPERTIES ('idCol'='doc_id', 'numShards'='8')""")
    spark.range(400).select(col("id").as("doc_id"),
        concat(lit("d"), col("id")).as("txt"))
      .createOrReplaceTempView("cat2_in")
    spark.sql("INSERT INTO gcat2.ns.t SELECT * FROM cat2_in")
    val sqlRead = spark.sql(
      "SELECT doc_id FROM gcat2.ns.t WHERE doc_id BETWEEN 40 AND 90")
    // the catalog resolves to the SAME scan machinery the q581
    // path-based pin covers: the planned files for the pushed bounds
    // must match the library read's exactly (DataSourceV2Relation
    // does not surface inputFiles, so compare through the planner)
    val filters: Seq[org.apache.spark.sql.sources.Filter] = Seq(
      org.apache.spark.sql.sources.GreaterThanOrEqual("doc_id", 40L),
      org.apache.spark.sql.sources.LessThanOrEqual("doc_id", 90L))
    val scanned = graft.sources.GraftSharded.scanDataFrame(spark,
      s"$wh/ns/t", None, filters,
      graft.sources.GraftSharded.tableSchema(spark, s"$wh/ns/t", None))
    val lib = Sources.readShardedTableWhere(spark, s"$wh/ns/t",
      col("doc_id").between(40, 90))
    assert(scanned.inputFiles.toSet == lib.inputFiles.toSet)
    assert(scanned.inputFiles.length <
      Sources.readShardedTable(spark, s"$wh/ns/t").inputFiles.length)
    assert(sqlRead.collect().map(_.getLong(0)).sorted.toSeq ==
      (40L to 90L))
    spark.sql("DROP TABLE gcat2.ns.t")
  }

  test("aggregate pushdown: count/min/max answered from the manifest " +
       "— zero data files opened; tombstones or missing stats fall " +
       "back to the scan") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_aggpush").toString
    def batch(lo: Long, n: Long) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        (col("id") + lo).cast("int").as("score"),
        concat(lit("d"), col("id") + lo).as("txt"))
    Sources.writeShardedTable(batch(0, 100), col("doc_id"),
      col("doc_id"), path, 2, Seq("doc_id", "score"))
    Sources.appendShardedTable(batch(100, 100), col("doc_id"),
      col("doc_id"), path, 2, Seq("doc_id", "score"))
    val df = spark.read.format("graft-sharded").load(path)
    val agg = df.agg(count(lit(1)).as("n"),
      min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"),
      min(col("score")).as("smn"), max(col("score")).as("smx"))
    // the plan carries the manifest-only scan, not a data scan
    assert(agg.queryExecution.executedPlan.toString
      .contains("GraftShardedAggScan"))
    val r = agg.head()
    assert(r.getLong(0) == 200 && r.getLong(1) == 0 &&
      r.getLong(2) == 199 && r.getInt(3) == 0 && r.getInt(4) == 199)
    // PROOF no data file is opened: corrupt every data file — the
    // manifest-answered aggregate still works
    def dataFiles() = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(path)).filter(f =>
        f.getPath.contains("/data-v") && f.getName.endsWith(".parquet"))
    }
    // the frame is planned BEFORE the files vanish (schema inference
    // needs a footer); the aggregate itself must not touch data
    val prePlanned = spark.read.format("graft-sharded").load(path)
    dataFiles().foreach(f => java.nio.file.Files.delete(f.toPath))
    assert(prePlanned.agg(count(lit(1))).head().getLong(0) == 200)
    Sources.dropShardedTable(spark, path)
    // fallback: with a live tombstone the manifest cannot vouch —
    // the aggregate runs as a scan and stays CORRECT
    Sources.writeShardedTable(batch(0, 100), col("doc_id"),
      col("doc_id"), path, 2, Seq("doc_id"))
    Sources.deleteFromShardedTable(spark, path, "doc_id",
      spark.range(10).select(col("id").as("doc_id")))
    val df2 = spark.read.format("graft-sharded").load(path)
    val agg2 = df2.agg(count(lit(1)).as("n"), max(col("doc_id")))
    assert(!agg2.queryExecution.executedPlan.toString
      .contains("GraftShardedAggScan"))
    assert(agg2.head().getLong(0) == 90)
    // and min/max on a column with no recorded stats falls back too
    val agg3 = df2.agg(min(col("score")))
    assert(!agg3.queryExecution.executedPlan.toString
      .contains("GraftShardedAggScan"))
    assert(agg3.head().getInt(0) == 10)
    Sources.dropShardedTable(spark, path)
  }

  test("GROUPED aggregate pushdown: GROUP BY a partition column is " +
       "answered per-group from the manifest; non-partition grouping " +
       "falls back") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_agggrp").toString
    def batch(lo: Long, n: Long) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        concat(lit("s"), pmod(col("id") + lo, lit(3))).as("src"))
    Sources.writeShardedTable(batch(0, 90), col("doc_id"),
      col("doc_id"), path, 2, Seq("doc_id"),
      partitionCols = Seq("src"))
    Sources.appendShardedTable(batch(90, 90), col("doc_id"),
      col("doc_id"), path, 2, Seq("doc_id"))
    val df = spark.read.format("graft-sharded").load(path)
    val g = df.groupBy(col("src")).agg(count(lit(1)).as("n"),
      min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
    assert(g.queryExecution.executedPlan.toString
      .contains("GraftShardedAggScan"))
    val got = g.collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == Map(
      "s0" -> ((60L, 0L, 177L)),
      "s1" -> ((60L, 1L, 178L)),
      "s2" -> ((60L, 2L, 179L))))
    // grouping by a NON-partition column cannot come from the
    // manifest — plan falls back to the scan, values stay right
    val g2 = df.groupBy(col("doc_id") % 2).agg(count(lit(1)))
    assert(!g2.queryExecution.executedPlan.toString
      .contains("GraftShardedAggScan"))
    assert(g2.collect().map(_.getLong(1)).sorted.toSeq == Seq(90L, 90L))
    Sources.dropShardedTable(spark, path)
  }

  test("FILTERED aggregate pushdown: partition-equality predicates " +
       "stay manifest-answered (zero data files); any other filter " +
       "shape falls back to the scan and stays correct") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_aggfilt").toString
    def batch(lo: Long, n: Long) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        concat(lit("s"), pmod(col("id") + lo, lit(3))).as("src"))
    Sources.writeShardedTable(batch(0, 90), col("doc_id"),
      col("doc_id"), path, 2, Seq("doc_id"),
      partitionCols = Seq("src"))
    Sources.appendShardedTable(batch(90, 90), col("doc_id"),
      col("doc_id"), path, 2, Seq("doc_id"))
    val df = spark.read.format("graft-sharded").load(path)
    def planOf(d: org.apache.spark.sql.DataFrame) =
      d.queryExecution.executedPlan.toString

    // WHERE part = v, global aggregate: pushed, exact
    val a1 = df.filter(col("src") === "s1")
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("mn"),
        max(col("doc_id")).as("mx"))
    assert(planOf(a1).contains("GraftShardedAggScan"))
    assert(a1.head() == org.apache.spark.sql.Row(60L, 1L, 178L))

    // IN-list + GROUP BY the partition column: per-group, pushed
    val a2 = df.filter(col("src").isin("s0", "s2"))
      .groupBy(col("src")).agg(count(lit(1)).as("n"))
    assert(planOf(a2).contains("GraftShardedAggScan"))
    assert(a2.collect().map(r => r.getString(0) -> r.getLong(1))
      .toMap == Map("s0" -> 60L, "s2" -> 60L))

    // a filter selecting NO partition: count 0, null bounds — exact
    val a3 = df.filter(col("src") === "zz")
      .agg(count(lit(1)).as("n"), max(col("doc_id")).as("mx"))
    assert(planOf(a3).contains("GraftShardedAggScan"))
    val r3 = a3.head()
    assert(r3.getLong(0) == 0L && r3.isNullAt(1))

    // PROOF the filtered aggregate opens zero data files
    def dataFiles() = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(path)).filter(f =>
        f.getPath.contains("/data-v") && f.getName.endsWith(".parquet"))
    }
    val prePlanned = spark.read.format("graft-sharded").load(path)
    dataFiles().foreach(f => java.nio.file.Files.delete(f.toPath))
    assert(prePlanned.filter(col("src") === "s1").agg(count(lit(1)))
      .head().getLong(0) == 60L)
    Sources.dropShardedTable(spark, path)

    // rebuild for the fallback shapes (data files are gone above)
    Sources.writeShardedTable(batch(0, 90), col("doc_id"),
      col("doc_id"), path, 2, Seq("doc_id"),
      partitionCols = Seq("src"))
    val df2 = spark.read.format("graft-sharded").load(path)
    // non-partition filter: falls back, correct
    val f1 = df2.filter(col("doc_id") < 30)
      .agg(count(lit(1)).as("n"))
    assert(!planOf(f1).contains("GraftShardedAggScan"))
    assert(f1.head().getLong(0) == 30L)
    // MIXED filter (partition-equality AND a data predicate): any
    // non-partition-equality conjunct disqualifies — falls back
    val f2 = df2.filter(col("src") === "s1" && col("doc_id") < 30)
      .agg(count(lit(1)).as("n"))
    assert(!planOf(f2).contains("GraftShardedAggScan"))
    assert(f2.head().getLong(0) == 10L)
    // range predicate ON the partition column: not equality — falls
    // back, correct
    val f3 = df2.filter(col("src") > "s0").agg(count(lit(1)).as("n"))
    assert(!planOf(f3).contains("GraftShardedAggScan"))
    assert(f3.head().getLong(0) == 60L)
    Sources.dropShardedTable(spark, path)
  }

  test("the read under an ADVERSARIAL root (an enclosing directory " +
       "named like a data dir) keys the partition join from the path " +
       "tail — full rows, one scan at 1, 3 and 36 dirs") {
    import org.apache.spark.sql.functions._
    // the table lives under .../data-v2-archive/tbl: a first-match
    // regex on '/(data|del)-v<digits>.../' binds the OUTER segment
    // and silently drops every row at the broadcast join
    val outer = java.nio.file.Files
      .createTempDirectory("graft_advroot").toString
    val path = s"$outer/data-v2-archive/tbl"
    def batch(lo: Long, n: Long) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        concat(lit("s"), pmod(col("id") + lo, lit(3))).as("src"),
        concat(lit("d"), col("id") + lo).as("t"))
    def check(nDirs: Int): Unit = {
      val df = Sources.readShardedTable(spark, path)
      val got = df.select("doc_id", "src").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == (0L until 30L * nDirs)
        .map(k => (k, s"s${k % 3}")).toSet)
      // one scan whatever the dir count (no rename, one era)
      assert(dataScans(df, path) == 1, s"$nDirs dirs")
    }
    Sources.writeShardedTable(batch(0, 30), col("doc_id"),
      col("doc_id"), path, 1, Seq("doc_id"), Seq("src"))
    check(1)
    (1 until 36).foreach { i =>
      Sources.appendShardedTable(batch(30L * i, 30), col("doc_id"),
        col("doc_id"), path, 1, Seq("doc_id"))
      if (i == 2) check(3)
    }
    check(36)
    Sources.dropShardedTable(spark, path)
  }

  test("scan-shape pin: the partitioned + renamed + tombstoned " +
       "shapes plan one data scan per rename era at 1, 3 and 35 dirs") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_fastpin").toString
    def batch(lo: Long, n: Long, c: String) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        concat(lit("s"), pmod(col("id") + lo, lit(2))).as("src"),
        concat(lit("d"), col("id") + lo).as(c))
    def check(n: Long, c: String, dead: Long => Boolean,
              eras: Int): Unit = {
      val df = Sources.readShardedTable(spark, path)
      assert(df.columns.contains(c))
      assert(df.count() == (0L until n).count(k => !dead(k)))
      assert(dataScans(df, path) == eras, s"$n rows")
    }
    Sources.writeShardedTable(batch(0, 20, "t"), col("doc_id"),
      col("doc_id"), path, 1, Seq("doc_id"), Seq("src"))
    Sources.deleteFromShardedTable(spark, path, "doc_id",
      spark.range(2).select((col("id") * 11).as("doc_id")))
    check(20, "t", k => k % 11 == 0 && k < 22, eras = 1)
    // a rename between dirs 2 and 3 splits the scan in two eras
    Sources.appendShardedTable(batch(20, 20, "t"), col("doc_id"),
      col("doc_id"), path, 1, Seq("doc_id"))
    Sources.renameShardedTableColumn(spark, path, "t", "txt")
    Sources.appendShardedTable(batch(40, 20, "txt"), col("doc_id"),
      col("doc_id"), path, 1, Seq("doc_id"))
    check(60, "txt", k => k % 11 == 0 && k < 22, eras = 2)
    (3 until 35).foreach { i =>
      Sources.appendShardedTable(batch(20L * i, 20, "txt"),
        col("doc_id"), col("doc_id"), path, 1, Seq("doc_id"))
    }
    Sources.deleteFromShardedTable(spark, path, "doc_id",
      spark.range(20).select((col("id") * 11).as("doc_id")))
    check(700, "txt", k => k % 11 == 0 && k < 220, eras = 2)
    Sources.dropShardedTable(spark, path)
  }

  test("GraftCatalog: ALTER TABLE RENAME TO relocates a MANAGED " +
       "table's absolute manifest/bloom paths — every snapshot, " +
       "tombstone and point lookup survives the move") {
    import org.apache.spark.sql.functions._
    val wh = java.nio.file.Files
      .createTempDirectory("graft_cat_mv").toString
    spark.conf.set("spark.sql.catalog.gmv",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gmv.warehouse", wh)
    spark.sql("CREATE NAMESPACE gmv.ns")
    spark.sql("""CREATE TABLE gmv.ns.t (doc_id BIGINT, src STRING,
      v BIGINT) USING `graft-sharded` PARTITIONED BY (src)
      TBLPROPERTIES ('idCol'='doc_id', 'numShards'='2')""")
    spark.range(40).select(col("id").as("doc_id"),
        concat(lit("s"), pmod(col("id"), lit(2))).as("src"),
        (col("id") * 10).as("v"))
      .createOrReplaceTempView("mv_in")
    spark.sql("INSERT INTO gmv.ns.t SELECT * FROM mv_in " +
      "WHERE doc_id < 20")
    spark.sql("INSERT INTO gmv.ns.t SELECT * FROM mv_in " +
      "WHERE doc_id >= 20")
    val oldDir = s"$wh/ns/t"
    // tombstones + a bloom sidecar: both store absolute data_dir
    // paths and must survive the move
    Sources.deleteFromShardedTable(spark, oldDir, "doc_id",
      spark.range(4).select((col("id") * 9).as("doc_id")))
    Sources.buildShardedBloom(spark, oldDir, "v", bits = 1 << 12)
    spark.sql("ALTER TABLE gmv.ns.t RENAME TO ns.t2")
    val newDir = s"$wh/ns/t2"
    assert(!new java.io.File(oldDir).exists())
    // full read by NAME: 40 rows minus the 4 tombstoned keys
    val want = (0L until 40L).filterNot(k => k % 9 == 0 && k < 28)
    assert(spark.sql("SELECT doc_id FROM gmv.ns.t2").collect()
      .map(_.getLong(0)).sorted.toSeq == want)
    // time travel still resolves EVERY historical snapshot (each
    // manifest's data_dir rows were rewritten, not just the head)
    assert(spark.sql("SELECT * FROM gmv.ns.t2 VERSION AS OF 1")
      .count() == 20)
    // the bloom sidecar moved AND points at the new data dirs
    val probe = Sources.readShardedTablePointLookup(spark, newDir,
      "v", lit(110L)).filter(col("v") === 110L)
    assert(probe.collect().map(_.getAs[Long]("doc_id")).toSeq ==
      Seq(11L))
    // the old name is gone; the new one lists
    assert(spark.sql("SHOW TABLES IN gmv.ns").collect()
      .map(_.getString(1)).toSeq == Seq("t2"))
    spark.sql("DROP TABLE gmv.ns.t2")
    spark.sql("DROP NAMESPACE gmv.ns")
  }

  test("GraftCatalog procedures: pure-SQL maintenance lifecycle — " +
       "CALL compact/rewrite_zorder/build_bloom/expire_snapshots/" +
       "vacuum by table name; reads stay correct throughout") {
    import org.apache.spark.sql.functions._
    val wh = java.nio.file.Files
      .createTempDirectory("graft_cat_proc").toString
    spark.conf.set("spark.sql.catalog.gpr",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gpr.warehouse", wh)
    spark.sql("CREATE NAMESPACE gpr.ns")
    spark.sql("""CREATE TABLE gpr.ns.t (doc_id BIGINT, x BIGINT,
      y BIGINT) USING `graft-sharded`
      TBLPROPERTIES ('idCol'='doc_id', 'numShards'='2')""")
    spark.range(300).select(col("id").as("doc_id"),
        (col("id") % 17).as("x"), (col("id") % 23).as("y"))
      .createOrReplaceTempView("proc_in")
    (0 until 4).foreach { i =>
      spark.sql(s"INSERT INTO gpr.ns.t SELECT * FROM proc_in " +
        s"WHERE doc_id % 4 = $i")
    }
    val tdir = s"$wh/ns/t"
    assert(Sources.shardedVersions(spark, tdir).size == 4)
    def total() = spark.sql("SELECT count(*) FROM gpr.ns.t")
      .head().getLong(0)
    assert(total() == 300)

    // COMPACT by name: 4 small dirs fold into one snapshot
    val cv = spark.sql(
      "CALL gpr.system.compact(table => 'ns.t', " +
        "small_dir_rows => 100000)").collect()
    assert(cv.map(_.getLong(0)).toSeq == Seq(5L))
    assert(total() == 300)

    // REWRITE_ZORDER by name: re-cluster along (x, y)
    val zv = spark.sql(
      "CALL gpr.system.rewrite_zorder(table => 'ns.t', " +
        "z_cols => 'x,y')").collect()
    assert(zv.map(_.getLong(0)).toSeq == Seq(6L))
    assert(total() == 300)

    // BUILD_BLOOM by name, then the library point lookup uses it
    spark.sql("CALL gpr.system.build_bloom(table => 'ns.t', " +
      "col => 'doc_id', bits => 4096)")
    assert(Sources.readShardedTablePointLookup(spark, tdir,
        "doc_id", lit(123L)).filter(col("doc_id") === 123L)
      .count() == 1L)

    // EXPIRE old snapshots, VACUUM the unreferenced dirs (grace 0)
    val exp = spark.sql(
      "CALL gpr.system.expire_snapshots(table => 'ns.t', " +
        "keep => 1)").collect()
    assert(exp.map(_.getLong(0)).toSeq == (1L to 5L))
    val vac = spark.sql(
      "CALL gpr.system.vacuum(table => 'ns.t', grace_ms => 0)")
      .collect()
    assert(total() == 300)
    // the z-ordered rewrite is now the only live snapshot
    assert(Sources.shardedVersions(spark, tdir) == Seq(6L))

    // defaulted parameters parse (keep defaults to 3 — no-op here)
    spark.sql("CALL gpr.system.expire_snapshots(table => 'ns.t')")
    assert(total() == 300)
    spark.sql("DROP TABLE gpr.ns.t")
    spark.sql("DROP NAMESPACE gpr.ns")
  }

  test("GraftCatalog: RENAME COLUMN on a partition column is " +
       "rejected even before the first snapshot exists") {
    val wh = java.nio.file.Files
      .createTempDirectory("graft_cat_rc").toString
    spark.conf.set("spark.sql.catalog.grc",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.grc.warehouse", wh)
    spark.sql("CREATE NAMESPACE grc.ns")
    spark.sql("""CREATE TABLE grc.ns.t (doc_id BIGINT, src STRING)
      USING `graft-sharded` PARTITIONED BY (src)
      TBLPROPERTIES ('idCol'='doc_id', 'numShards'='2')""")
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE grc.ns.t RENAME COLUMN src TO origin")
    }
    assert(e.getMessage.contains("partition column"))
    // non-partition rename on the EMPTY table is still fine
    spark.sql("ALTER TABLE grc.ns.t RENAME COLUMN doc_id TO id")
    assert(spark.sql("SELECT * FROM grc.ns.t").columns.toSeq ==
      Seq("id", "src"))
    spark.sql("DROP TABLE grc.ns.t")
    spark.sql("DROP NAMESPACE grc.ns")
  }

  test("CDC startingVersion=latest base persists across source " +
       "restarts (re-resolving against a moved head would skip " +
       "WAL-logged windows)") {
    val meta = java.nio.file.Files
      .createTempDirectory("graft_cdcbase").toString
    var resolves = 0
    val b1 = graft.sources.GraftShardedCdcSource.persistentBase(
      spark, meta, () => { resolves += 1; 7L })
    // a restart re-resolving would see a moved head (9) — the
    // persisted base must win
    val b2 = graft.sources.GraftShardedCdcSource.persistentBase(
      spark, meta, () => { resolves += 1; 9L })
    assert(b1 == 7L && b2 == 7L && resolves == 1)
  }

  test("MERGE tombstone is a data-dir REFERENCE: no del- dir written; " +
       "the tombstone survives a compaction that folds its data dir; " +
       "vacuum and expiry keep the referenced dir alive; duplicate-key " +
       "batches still fail loudly") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_shmergeref").toString
    def batch(lo: Long, n: Long, tag: String) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        concat(lit(tag), col("id") + lo).as("t"))
    def dirNames() = new java.io.File(path).listFiles()
      .map(_.getName).filter(n => n.startsWith("data-v") ||
        n.startsWith("del-v")).toSet
    def state() = Sources.readShardedTable(spark, path)
      .select("doc_id", "t").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    // v1: one big dir (300 rows)
    Sources.writeShardedTable(batch(0, 300, "old"), col("doc_id"),
      col("doc_id"), path, 4, Seq("doc_id"))
    // v2, v3: two small merges — their tombstones must reference the
    // merge data dirs instead of writing separate key files
    Sources.mergeShardedTable(batch(100, 50, "new"), "doc_id",
      col("doc_id"), path, numShards = 2, statsCols = Seq("doc_id"))
    Sources.mergeShardedTable(batch(200, 20, "new2"), "doc_id",
      col("doc_id"), path, numShards = 2, statsCols = Seq("doc_id"))
    assert(!dirNames().exists(_.startsWith("del-v")),
      s"merge wrote a separate key file: ${dirNames()}")
    val expect = (0L until 300L).map(k =>
      k -> (if (k >= 100 && k < 150) s"new$k"
            else if (k >= 200 && k < 220) s"new2$k"
            else s"old$k")).toMap
    assert(state() == expect)
    val mergeDirs = dirNames().filter(n =>
      vtag(n) == "data-v2" || vtag(n) == "data-v3")
    assert(mergeDirs.size == 2)
    // v4: compaction folds BOTH small merge dirs (50+20 rows) but must
    // keep their tombstone rows — dropping them would resurrect the
    // old copies of 100..149 / 200..219 still in the big v1 dir
    Sources.compactShardedTable(spark, path, col("doc_id"),
      col("doc_id"), numShards = 2, statsCols = Seq("doc_id"),
      smallDirRows = 100L)
    assert(state() == expect, "compaction resurrected merged-over rows")
    // the folded-but-referenced dirs stay on disk through vacuum
    // (tombstone rows pin them)
    Sources.vacuumShardedTable(spark, path, graceMs = -60000L)
    assert(mergeDirs.subsetOf(dirNames()),
      s"vacuum removed a tombstone-referenced dir: ${dirNames()}")
    assert(state() == expect)
    // ... and through expiry of the pre-compaction manifests
    Sources.expireShardedSnapshots(spark, path, keep = 1)
    assert(mergeDirs.subsetOf(dirNames()),
      s"expiry removed a tombstone-referenced dir: ${dirNames()}")
    assert(state() == expect)
    // a MAJOR rewrite drops the tombstones; expiry then reclaims the
    // now-unreferenced merge dirs
    Sources.rewriteShardedTable(spark, path, col("doc_id"),
      col("doc_id"), numShards = 2, statsCols = Seq("doc_id"))
    Sources.expireShardedSnapshots(spark, path, keep = 1)
    assert(dirNames().intersect(mergeDirs).isEmpty,
      s"rewrite+expiry left dead dirs: ${dirNames()}")
    assert(state() == expect)
    // the duplicate-key guard (previously the key file's distinct
    // count) still fires
    val dup = intercept[IllegalArgumentException] {
      Sources.mergeShardedTable(
        batch(0, 5, "x").union(batch(0, 1, "x")), "doc_id",
        col("doc_id"), path, 2, Seq("doc_id"))
    }
    assert(dup.getMessage.contains("duplicate key"))
    Sources.dropShardedTable(spark, path)
  }

  test("FOOTER-derived manifest stats equal the recomputed per-leaf " +
       "truth: exact bounds, null bounds for all-null leaves, " +
       "partition-valued stats columns, audit containment clean") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_shfooter").toString
    // score is null on an entire leading id range, so at least one
    // shard's score stats must come out null (all-null leaf bounds)
    val docs = spark.range(400).select(col("id").as("doc_id"),
      when(col("id") < 100, lit(null).cast("long"))
        .otherwise(col("id") * 7).as("score"),
      (col("id") % 3).cast("int").as("grp"))
    Sources.writeShardedTable(docs, col("doc_id"), col("doc_id"),
      path, numShards = 4, statsCols = Seq("doc_id", "score", "grp"),
      partitionCols = Seq("grp"))
    val mf = Sources.shardedManifest(spark, path)
      .filter(col("kind") === "data")
      .select("leaf", "n_rows", "min_doc_id", "max_doc_id",
        "min_score", "max_score", "min_grp", "max_grp", "data_dir")
      .collect()
    assert(mf.nonEmpty)
    val dd = mf.head.getString(8)
    mf.foreach { r =>
      val leaf = r.getString(0)
      val actual = spark.read.parquet(s"$dd/$leaf")
        .agg(count(lit(1)), min(col("doc_id")), max(col("doc_id")),
          min(col("score")), max(col("score"))).head()
      assert(r.getLong(1) == actual.getLong(0), s"n_rows $leaf")
      assert(r.getLong(2) == actual.getLong(1) &&
        r.getLong(3) == actual.getLong(2), s"doc_id bounds $leaf")
      // score: null manifest bound iff the leaf has no non-null score
      if (actual.isNullAt(3))
        assert(r.isNullAt(4) && r.isNullAt(5), s"score null $leaf")
      else
        assert(r.getLong(4) == actual.getLong(3) &&
          r.getLong(5) == actual.getLong(4), s"score bounds $leaf")
      // grp is a partition column used as a stats column: bounds are
      // the leaf's own partition value
      val g = leaf.split('/').head.stripPrefix("grp=").toLong
      assert(r.getLong(6) == g && r.getLong(7) == g, s"grp $leaf")
    }
    // the audit recomputes and demands containment — footer stats
    // must satisfy it exactly
    assert(Sources.auditShardedTable(spark, path).count() == 0L)
    Sources.dropShardedTable(spark, path)
  }

  test("audit fast path DECODES tombstone key pages: a key file with " +
       "corrupt data pages but an intact footer is reported") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_shdelcorrupt").toString
    Sources.writeShardedTable(
      spark.range(20000).select(col("id").as("doc_id"),
        (col("id") * 2).as("v")),
      col("doc_id"), col("doc_id"), path, 4, Seq("doc_id"))
    Sources.deleteFromShardedTable(spark, path, "doc_id",
      spark.range(10000).select((col("id") * 2).as("doc_id")))
    // corrupt the key file's DATA pages, leaving the footer (at the
    // tail) intact: footer-level row counts still answer a count(*),
    // so only a check that decodes the key column can catch this
    val delDir = vdir(path, "del-v2")
    val pf = new java.io.File(delDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).maxBy(_.length())
    val raf = new java.io.RandomAccessFile(pf, "rw")
    try {
      assert(raf.length() > 2048, s"key file too small: ${raf.length()}")
      raf.seek(4) // just past the PAR1 magic: first page header + data
      raf.write(Array.fill[Byte](512)(0))
    } finally raf.close()
    val findings = Sources.auditShardedTable(spark, path)
      .select("check", "data_dir").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(findings.exists { case (c, d) =>
      c == "tombstone_unreadable" && d.contains("del-v2") },
      s"corrupt tombstone not flagged: ${findings.toSeq}")
    Sources.dropShardedTable(spark, path)
  }

  test("sharded write commits under a session maxRecordsPerFile of 1") {
    import org.apache.spark.sql.functions._
    val conf = "spark.sql.files.maxRecordsPerFile"
    val prior = spark.conf.getOption(conf)
    val path = java.nio.file.Files
      .createTempDirectory("graft_shmaxrec").toString
    // 4 leaves of 100 rows each: a per-file cap of 1 would split every
    // leaf into 100 part files if the writer honoured it
    val in = spark.range(400)
      .select(col("id").as("doc_id"), (col("id") % 7).as("v"))
    spark.conf.set(conf, "1")
    try {
      Sources.writeShardedTable(in, col("doc_id"), col("doc_id"), path,
        4, Seq("doc_id"))
      val back = Sources.readShardedTable(spark, path)
      assert(back.count() == 400L)
      assert(rows(back.select("doc_id", "v")) == rows(in))
      Sources.dropShardedTable(spark, path)
    } finally prior match {
      case Some(v) => spark.conf.set(conf, v)
      case None => spark.conf.unset(conf)
    }
  }

  test("an empty MERGE is a no-op: the initial change load of a fully " +
       "tombstoned source leaves a non-empty replica untouched") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files
      .createTempDirectory("graft_emptymerge").toString
    val src = s"$base/src"
    val replica = s"$base/replica"
    def docs(lo: Long, n: Long) = spark.range(lo, lo + n)
      .select(col("id").as("doc_id"), concat(lit("d"), col("id")).as("t"))
    Sources.writeShardedTable(docs(0, 30), col("doc_id"), col("doc_id"),
      src, 2, Seq("doc_id"))
    Sources.deleteFromShardedTable(spark, src, "doc_id",
      docs(0, 30).select("doc_id"))
    val rv = Sources.writeShardedTable(docs(100, 40), col("doc_id"),
      col("doc_id"), replica, 2, Seq("doc_id"))
    val before = rows(Sources.readShardedTable(spark, replica))
    val batch = Sources.shardedTableChanges(spark, src,
      s"$base/cursor")
    // the initial load's emptiness is not known from the manifest
    assert(batch.hasInserts)
    assert(Sources.mergeShardedTable(batch.inserts, "doc_id",
      col("doc_id"), replica, 2, Seq("doc_id")) == rv)
    // an empty frame merged directly: same no-op
    assert(Sources.mergeShardedTable(docs(0, 0), "doc_id", col("doc_id"),
      replica, 2, Seq("doc_id")) == rv)
    assert(Sources.shardedVersions(spark, replica) == Seq(rv))
    assert(rows(Sources.readShardedTable(spark, replica)) == before)
    Sources.dropShardedTable(spark, src)
    Sources.dropShardedTable(spark, replica)
  }

  test("a computed order column is evaluated once per input row, and " +
       "still lays shards out in key order") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_ordonce").toString
    val evals = spark.sparkContext.longAccumulator("graft-order-evals")
    val key = udf { (id: Long) => evals.add(1L); (id * 7919L) % 1000L }
    val n = 2000L
    Sources.writeShardedTable(
      spark.range(n).select(col("id").as("doc_id")), col("doc_id"),
      key(col("doc_id")), path, 4, Seq("doc_id"))
    assert(evals.value == n,
      s"order key evaluated ${evals.value} times for $n rows")
    // shards are contiguous runs of (key, doc_id)
    val byShard = Sources.readShardedTable(spark, path).collect()
      .map(r => r.getAs[Int]("shard") ->
        (((r.getAs[Long]("doc_id") * 7919L) % 1000L),
          r.getAs[Long]("doc_id")))
      .groupBy(_._1).toSeq.sortBy(_._1).map(_._2.map(_._2))
    assert(byShard.map(_.length).sum == n)
    byShard.sliding(2).foreach { case Seq(a, b) =>
      assert(Ordering[(Long, Long)].lteq(a.max, b.min))
    }
    Sources.dropShardedTable(spark, path)
  }

  test("footer schemas equal Spark's inferred dir schemas on an " +
       "evolved, widened, renamed, partitioned table, and its reads " +
       "return every row") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.StructType
    import spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("graft_footerparity").toString
    Sources.writeShardedTable(
      Seq((1L, "a", 10, "t1"), (2L, "b", 20, "t2"), (3L, "a", 30, "t3"))
        .toDF("doc_id", "src", "score", "title"),
      col("doc_id"), col("doc_id"), path, 2, Seq("doc_id"),
      partitionCols = Seq("src"))
    // evolved: adds `lang`
    Sources.appendShardedTable(
      Seq((4L, "b", 40, "t4", "en"), (5L, "c", 50, "t5", "de"))
        .toDF("doc_id", "src", "score", "title", "lang"),
      col("doc_id"), col("doc_id"), path, 2, Seq("doc_id"),
      allowNewColumns = true)
    // widened: score int -> long
    Sources.appendShardedTable(
      Seq((6L, "a", 6000000000L, "t6", "fr"))
        .toDF("doc_id", "src", "score", "title", "lang"),
      col("doc_id"), col("doc_id"), path, 2, Seq("doc_id"))
    Sources.renameShardedTableColumn(spark, path, "title", "headline")
    Sources.appendShardedTable(
      Seq((7L, "c", 70L, "t7", "en"))
        .toDF("doc_id", "src", "score", "headline", "lang"),
      col("doc_id"), col("doc_id"), path, 2, Seq("doc_id"))
    Sources.deleteFromShardedTable(spark, path, "doc_id",
      Seq(2L).toDF("doc_id"))
    val dirs = new java.io.File(path).listFiles().map(_.getName)
      .filter(n => n.startsWith("data-v") || n.startsWith("del-v"))
      .sorted.toSeq
    assert(dirs.count(_.startsWith("data-v")) == 4 &&
      dirs.count(_.startsWith("del-v")) == 1)
    // a file-source relation marks every column nullable, whatever the
    // footer (or a passed schema) says — compare modulo nullability
    def nullable(s: StructType) =
      StructType(s.fields.map(_.copy(nullable = true)))
    dirs.foreach { d =>
      val inferred = spark.read.parquet(s"$path/$d").schema
      val want = StructType(inferred.fields
        .filterNot(f => f.name == "shard" || f.name == "src"))
      assert(nullable(Sources.fileSchema(spark, s"$path/$d")) == want, d)
    }
    val got = Sources.readShardedTable(spark, path)
      .select("doc_id", "src", "score", "headline", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3), Option(r.getString(4)))).toSet
    assert(got == Set((1L, "a", 10L, "t1", None),
      (3L, "a", 30L, "t3", None), (4L, "b", 40L, "t4", Some("en")),
      (5L, "c", 50L, "t5", Some("de")),
      (6L, "a", 6000000000L, "t6", Some("fr")),
      (7L, "c", 70L, "t7", Some("en"))))
    Sources.dropShardedTable(spark, path)
  }

  private def persistedRdds =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("a stats column missing from the input fails before the cumsum: " +
       "the error names it, nothing stays persisted, no data dir") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_missingstat").toString
    val before = persistedRdds
    val e = intercept[IllegalArgumentException] {
      Sources.writeShardedTable(spark.range(20).toDF("doc_id"),
        col("doc_id"), col("doc_id"), path, 2, Seq("doc_id", "nope"))
    }
    assert(e.getMessage.contains("nope"), e.getMessage)
    assert((persistedRdds -- before).isEmpty,
      s"left persisted: ${(persistedRdds -- before).toSeq.sorted}")
    assert(!new java.io.File(path).listFiles()
      .exists(_.getName.startsWith("data-v")))
    Sources.dropShardedTable(spark, path)
  }

  test("non-integral stats columns record null bounds, so pruning keeps " +
       "their leaves; exotic partition values keep their raw strings") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files
      .createTempDirectory("graft_statstypes").toString
    val docs = spark.range(20).select(col("id").as("doc_id"),
      (col("id") + 0.5).as("x"), concat(lit("d"), col("id")).as("t"),
      timestamp_seconds(col("id")).as("ts"),
      ((col("id") % 3) + 0.5).as("g"))
    def write(name: String, statsCols: Seq[String],
              partitionCols: Seq[String] = Nil): String = {
      val path = s"$base/$name"
      Sources.writeShardedTable(docs, col("doc_id"), col("doc_id"), path,
        numShards = 4, statsCols = statsCols,
        partitionCols = partitionCols)
      path
    }
    def dataMf(path: String) = Sources.shardedManifest(spark, path)
      .filter(col("kind") === "data").collect()
    def assertNullBounds(path: String, c: String): Unit =
      dataMf(path).foreach { r =>
        assert(r.isNullAt(r.fieldIndex(s"min_$c")) &&
          r.isNullAt(r.fieldIndex(s"max_$c")), s"$c bounds: $r")
      }
    // double: a long-cast bound [0, 4] on shard 0 would prune x = 4.5
    val dbl = write("dbl", Seq("doc_id", "x"))
    assert(Sources.readShardedTableWhere(spark, dbl, col("x") > 4)
      .count() == 16L)
    assertNullBounds(dbl, "x")
    // integral columns keep exact bounds beside them
    assert(dataMf(dbl)
      .forall(r => !r.isNullAt(r.fieldIndex("min_doc_id"))))
    val str = write("str", Seq("doc_id", "t"))
    assertNullBounds(str, "t")
    assert(Sources.readShardedTable(spark, str).count() == 20L)
    val ts = write("ts", Seq("ts"))
    assertNullBounds(ts, "ts")
    // a double PARTITION column: raw on-disk value strings, and a
    // stats column over it records null bounds like any double
    val part = write("part", Seq("doc_id", "g"), partitionCols = Seq("g"))
    assert(dataMf(part).map(_.getAs[String]("part_g")).toSet ==
      Set("0.5", "1.5", "2.5"))
    assertNullBounds(part, "g")
    assert(Sources.readShardedTable(spark, part).count() == 20L)
    Seq(dbl, str, ts, part).foreach { p =>
      assert(Sources.auditShardedTable(spark, p).count() == 0L, p)
    }
    Seq(dbl, str, ts, part).foreach(Sources.dropShardedTable(spark, _))
  }

  test("a null or empty partition value fails the commit before " +
       "publish, with nothing left persisted") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_nullpart").toString
    def docs(p: org.apache.spark.sql.Column) = spark.range(12)
      .select(col("id").as("doc_id"), p.as("p"))
    val v1 = Sources.writeShardedTable(
      docs(when(col("id") % 2 === 0, "a").otherwise("b")), col("doc_id"),
      col("doc_id"), path, 2, Seq("doc_id"), partitionCols = Seq("p"))
    Seq(when(col("id") < 3, lit(null).cast("string")).otherwise("a"),
        when(col("id") < 3, lit("")).otherwise("a")).foreach { p =>
      val before = persistedRdds
      val e = intercept[IllegalArgumentException] {
        Sources.appendShardedTable(docs(p), col("doc_id"), col("doc_id"),
          path, 2, Seq("doc_id"))
      }
      assert(e.getMessage.contains("non-null and non-empty"),
        e.getMessage)
      assert(Sources.shardedVersions(spark, path) == Seq(v1))
      assert((persistedRdds -- before).isEmpty,
        s"left persisted: ${(persistedRdds -- before).toSeq.sorted}")
    }
    assert(Sources.readShardedTable(spark, path).count() == 12L)
    Sources.dropShardedTable(spark, path)
  }

  test("a compaction whose small runs are all tombstoned publishes a " +
       "manifest-only version that drops them") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_compactdead").toString
    def batch(lo: Long, n: Long) = spark.range(n)
      .select((col("id") + lo).as("doc_id"),
        concat(lit("d"), col("id") + lo).as("t"))
    Sources.writeShardedTable(batch(0, 400), col("doc_id"),
      col("doc_id"), path, 4, Seq("doc_id"))
    Sources.appendShardedTable(batch(1000, 20), col("doc_id"),
      col("doc_id"), path, 2, Seq("doc_id"), batchId = 7L)
    Sources.appendShardedTable(batch(1020, 20), col("doc_id"),
      col("doc_id"), path, 2, Seq("doc_id"), batchId = 8L)
    val v4 = Sources.deleteFromShardedTable(spark, path, "doc_id",
      spark.range(1000, 1040).select(col("id").as("doc_id")))
    def dataDirs(): Set[String] = Sources.shardedManifest(spark, path)
      .filter(col("kind") === "data").select("data_dir").distinct()
      .collect().map(r => vtag(r.getString(0).split('/').last)).toSet
    assert(dataDirs() == Set("data-v1", "data-v2", "data-v3"))
    def read() = Sources.readShardedTable(spark, path)
      .select("doc_id", "t").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val before = read()
    assert(before.length == 400)
    val pinnedBefore = persistedRdds
    val v = Sources.compactShardedTable(spark, path, col("doc_id"),
      col("doc_id"), numShards = 2, statsCols = Seq("doc_id"),
      smallDirRows = 100L)
    assert(v == v4 + 1)
    // the small dirs are gone from the manifest and no dir was written
    assert(dataDirs() == Set("data-v1"))
    assert(!new java.io.File(path).list().exists(n =>
      vtag(n) == s"data-v$v"))
    assert(read() == before)
    // the dropped runs' batch ids survive as ledger rows
    assert(Sources.committedBatchIds(spark, path) == Set(7L, 8L))
    assert(Sources.auditShardedTable(spark, path).count() == 0L)
    assert((persistedRdds -- pinnedBefore).isEmpty,
      s"left persisted: ${(persistedRdds -- pinnedBefore).toSeq.sorted}")
    Sources.dropShardedTable(spark, path)
  }

  test("partition values that need Hive escaping read back at 1, 3 " +
       "and 32 dirs in one scan: full, pruned, DSv2, audit") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_escfast").toString
    def batch(lo: Long) = spark.range(4).select(
      (col("id") + lo).as("doc_id"),
      when(col("id") % 2 === 0, lit("a=b c"))
        .otherwise(lit("x:y%z")).as("src"),
      concat(lit("d"), col("id") + lo).as("t"))
    def got(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "src", "t").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    def check(nDirs: Int): Unit = {
      val want = (0L until 4L * nDirs).map(i =>
        (i, if (i % 2 == 0) "a=b c" else "x:y%z", s"d$i")).toSet
      val df = Sources.readShardedTable(spark, path)
      assert(got(df) == want)
      assert(dataScans(df, path) == 1, s"$nDirs dirs")
      assert(got(Sources.readShardedTable(spark, path,
        partPreds = Seq(("src", "x:y%z")))) ==
        want.filter(_._2 == "x:y%z"))
      assert(got(spark.read.format("graft-sharded").load(path)) == want)
      assert(Sources.auditShardedTable(spark, path).count() == 0L)
    }
    Sources.writeShardedTable(batch(0), col("doc_id"), col("doc_id"),
      path, 1, Seq("doc_id"), partitionCols = Seq("src"))
    check(1)
    (1 until 32).foreach { i =>
      Sources.appendShardedTable(batch(4L * i), col("doc_id"),
        col("doc_id"), path, 1, Seq("doc_id"))
      if (i == 2) check(3)
    }
    assert(new java.io.File(path).list()
      .count(_.startsWith("data-v")) == 32)
    check(32)
    Sources.dropShardedTable(spark, path)
  }

  test("a STRING partition column whose newer dirs hold only " +
       "numeric-looking values reads as STRING at 2 and 33 dirs") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_partnum").toString
    def batch(lo: Long, vals: (String, String)) = spark.range(4).select(
      (col("id") + lo).as("doc_id"),
      when(col("id") % 2 === 0, lit(vals._1))
        .otherwise(lit(vals._2)).as("src"))
    def src(k: Long) =
      if (k < 4) (if (k % 2 == 0) "a" else "b")
      else (if (k % 2 == 0) "1" else "2")
    def check(nDirs: Int): Unit = {
      val df = Sources.readShardedTable(spark, path)
      assert(df.schema("src").dataType ==
        org.apache.spark.sql.types.StringType)
      assert(df.select("doc_id", "src").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet ==
        (0L until 4L * nDirs).map(k => (k, src(k))).toSet)
      assert(Sources.auditShardedTable(spark, path).count() == 0L)
    }
    Sources.writeShardedTable(batch(0, ("a", "b")), col("doc_id"),
      col("doc_id"), path, 1, Seq("doc_id"), partitionCols = Seq("src"))
    Sources.appendShardedTable(batch(4, ("1", "2")), col("doc_id"),
      col("doc_id"), path, 1, Seq("doc_id"))
    check(2)
    (2 until 33).foreach { i =>
      Sources.appendShardedTable(batch(4L * i, ("1", "2")),
        col("doc_id"), col("doc_id"), path, 1, Seq("doc_id"))
    }
    check(33)
    Sources.dropShardedTable(spark, path)
  }

  test("a rewrite of a table without batch ids aborts when a commit " +
       "lands between its read and its publish — the commit is kept") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files
      .createTempDirectory("graft_rwrace").toString
    def batch(lo: Long, n: Long) = spark.range(n).select(
      (col("id") + lo).as("doc_id"), concat(lit("d"), col("id") + lo)
        .as("t"))
    Sources.writeShardedTable(batch(0, 40), col("doc_id"), col("doc_id"),
      path, 2, Seq("doc_id"))
    RewriteRace.arm(() => Sources.appendShardedTable(batch(1000, 5),
      col("doc_id"), col("doc_id"), path, 1, Seq("doc_id")))
    // the order key is analyzed after the rewrite resolved and read
    // its snapshot: its first type query runs the append to completion
    val err = intercept[IllegalStateException](
      Sources.rewriteShardedTable(spark, path, col("doc_id"),
        org.apache.spark.sql.graftbridge.ColumnBridge.column(
          RaceKey(org.apache.spark.sql.graftbridge.ColumnBridge
            .expr(col("doc_id")))), 2, Seq("doc_id")))
    assert(RewriteRace.fired.get())
    assert(err.getMessage.contains("concurrent commit landed"),
      err.getMessage)
    assert(Sources.readShardedTable(spark, path).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq ==
      ((0L until 40L) ++ (1000L until 1005L)))
    assert(Sources.auditShardedTable(spark, path)
      .filter(col("check") =!= "orphan_dir").count() == 0L)
    Sources.dropShardedTable(spark, path)
  }

  test("small-table read schema: names, types, order and nullability " +
       "of plain, partitioned, evolved, widened, renamed and " +
       "tombstoned tables of 1-3 dirs") {
    import org.apache.spark.sql.functions._
    def base(lo: Long, n: Long) = spark.range(n).select(
      (col("id") + lo).as("doc_id"),
      concat(lit("s"), pmod(col("id") + lo, lit(2))).as("src"),
      concat(lit("d"), col("id") + lo).as("t"))
    def keys(ks: Long*) =
      spark.createDataFrame(ks.map(Tuple1(_))).toDF("doc_id")
    def app(path: String, df: org.apache.spark.sql.DataFrame,
            evolve: Boolean = false): Unit =
      Sources.appendShardedTable(df, col("doc_id"), col("doc_id"), path,
        2, Seq("doc_id"), allowNewColumns = evolve)
    def write(path: String, df: org.apache.spark.sql.DataFrame,
              parts: Seq[String] = Nil): Unit =
      Sources.writeShardedTable(df, col("doc_id"), col("doc_id"), path,
        2, Seq("doc_id"), parts)
    val noSrc = (lo: Long) => base(lo, 6).drop("src")
    // each kind: the steps that take it from 1 to 3 data dirs
    val kinds: Seq[(String, Seq[String => Unit])] = Seq(
      "plain" -> Seq(p => write(p, noSrc(0)), p => app(p, noSrc(10)),
        p => app(p, noSrc(20))),
      "partitioned" -> Seq(p => write(p, base(0, 6), Seq("src")),
        p => app(p, base(10, 6)), p => app(p, base(20, 6))),
      "evolved" -> Seq(p => write(p, noSrc(0)),
        p => app(p, noSrc(10).withColumn("v", col("doc_id") % 3), true),
        p => app(p, noSrc(20).withColumn("v", col("doc_id") % 3))),
      "widened" -> Seq(
        p => write(p, noSrc(0).withColumn("score",
          col("doc_id").cast("int"))),
        p => app(p, noSrc(10).withColumn("score", col("doc_id") + 1L)),
        p => app(p, noSrc(20).withColumn("score", col("doc_id") + 1L))),
      "renamed" -> Seq(
        p => { write(p, noSrc(0))
               Sources.renameShardedTableColumn(spark, p, "t", "txt") },
        p => app(p, noSrc(10).withColumnRenamed("t", "txt")),
        p => app(p, noSrc(20).withColumnRenamed("t", "txt"))),
      "tombstoned" -> Seq(
        p => { write(p, noSrc(0))
               Sources.deleteFromShardedTable(spark, p, "doc_id",
                 keys(1L, 2L)) },
        p => app(p, noSrc(10)),
        p => { app(p, noSrc(20))
               Sources.deleteFromShardedTable(spark, p, "doc_id",
                 keys(11L, 21L)) }))
    val got = kinds.flatMap { case (kind, steps) =>
      val path = java.nio.file.Files
        .createTempDirectory(s"graft_rschema_$kind").toString
      val out = steps.zipWithIndex.map { case (step, i) =>
        step(path)
        s"$kind/${i + 1}" -> Sources.readShardedTable(spark, path)
          .schema.fields.map(f =>
            s"${f.name}:${f.dataType.simpleString}:${f.nullable}")
          .mkString(",")
      }
      Sources.dropShardedTable(spark, path)
      out
    }
    // the schemas these reads returned before the read had one scan
    // shape (captured from the per-dir union those sizes took)
    val want = Seq(
      "plain/1" ->
        "doc_id:bigint:true,t:string:true,shard:int:true",
      "plain/2" ->
        "doc_id:bigint:true,t:string:true,shard:int:true",
      "plain/3" ->
        "doc_id:bigint:true,t:string:true,shard:int:true",
      "partitioned/1" ->
        "doc_id:bigint:true,t:string:true,src:string:true,shard:int:true",
      "partitioned/2" ->
        "doc_id:bigint:true,t:string:true,src:string:true,shard:int:true",
      "partitioned/3" ->
        "doc_id:bigint:true,t:string:true,src:string:true,shard:int:true",
      "evolved/1" ->
        "doc_id:bigint:true,t:string:true,shard:int:true",
      "evolved/2" ->
        "doc_id:bigint:true,t:string:true,v:bigint:true,shard:int:true",
      "evolved/3" ->
        "doc_id:bigint:true,t:string:true,v:bigint:true,shard:int:true",
      "widened/1" ->
        "doc_id:bigint:true,t:string:true,score:int:true,shard:int:true",
      "widened/2" ->
        "doc_id:bigint:true,t:string:true,score:bigint:true,shard:int:true",
      "widened/3" ->
        "doc_id:bigint:true,t:string:true,score:bigint:true,shard:int:true",
      "renamed/1" ->
        "doc_id:bigint:true,txt:string:true,shard:int:true",
      "renamed/2" ->
        "doc_id:bigint:true,txt:string:true,shard:int:true",
      "renamed/3" ->
        "doc_id:bigint:true,txt:string:true,shard:int:true",
      "tombstoned/1" ->
        "doc_id:bigint:true,t:string:true,shard:int:true",
      "tombstoned/2" ->
        "doc_id:bigint:true,t:string:true,shard:int:true",
      "tombstoned/3" ->
        "doc_id:bigint:true,t:string:true,shard:int:true")
    assert(got == want)
  }
}

/** A one-shot hook for the rewrite race spec: the first call of [[fire]]
  * runs the armed commit on its own thread and waits for it. */
object RewriteRace {
  val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
  @volatile private var commit: () => Any = () => ()
  def arm(c: () => Any): Unit = { commit = c; fired.set(false) }
  def fire(): Unit =
    if (fired.compareAndSet(false, true)) {
      val t = new Thread(() => { commit(); () })
      t.start(); t.join()
    }
}

/** An order key that is its child, and that fires [[RewriteRace]] the
  * first time the analyzer asks its type — on the committing thread,
  * after the commit resolved and read its snapshot, before any job of
  * the commit runs. */
final case class RaceKey(
    child: org.apache.spark.sql.catalyst.expressions.Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen
      .CodegenFallback {
  override def dataType: org.apache.spark.sql.types.DataType = {
    if (child.resolved) RewriteRace.fire()
    child.dataType
  }
  override protected def nullSafeEval(input: Any): Any = input
  override protected def withNewChildInternal(
      c: org.apache.spark.sql.catalyst.expressions.Expression): RaceKey =
    copy(child = c)
}
