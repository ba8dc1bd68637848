package graft.sources

import java.util
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead,
  SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder,
  SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo,
  SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister,
  Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 READ connector for the sharded table: the library's
  * compile-once query surface (reference `core.cljc:15-18` — build the
  * reader once, run it over any input) exposed to EVERY Spark
  * consumer, not just `Sources` callers:
  *
  * {{{
  *   spark.read.format("graft-sharded").load(path)          // latest
  *     .where($"doc_id".between(10, 99))                    // pruned
  *   spark.read.format("graft-sharded")
  *     .option("version", 3).load(path)                     // pinned
  *   spark.read.format("graft-sharded")
  *     .option("asOfTimestamp", tsMillis).load(path)        // time travel
  *   CREATE TEMPORARY VIEW corpus
  *     USING `graft-sharded` OPTIONS (path '/data/corpus')  -- plain SQL
  * }}}
  *
  * Pushdown: the scan builder accepts every `sources.Filter` it can
  * evaluate as a `Column` (reported via `pushedFilters`, visible in
  * `.explain`), extracts conservative per-column [lo, hi] bounds from
  * the integral comparisons among them, and plans the scan through
  * [[Sources.readShardedTable]]'s manifest pruning — the exact same
  * stats/tombstone machinery as `readShardedTableWhere`, now driven
  * from Spark's own pushdown instead of a library-API `Column`.
  * Column pruning flows through `pruneColumns` into the final select,
  * so `SELECT count(*)` never deserializes a data column.
  *
  * Execution rides the [[V1Scan]] bridge: the scan hands Spark a
  * `BaseRelation with TableScan` whose RDD is the library-planned
  * DataFrame's internal-row RDD. The merge-on-read tombstone
  * anti-join, schema-evolution null-fill, and the one multi-leaf scan
  * per rename era are all plans Catalyst already optimizes — re-deriving
  * them row-by-row inside a `PartitionReader` would duplicate the
  * engine below the engine. At 100 TB the costs stay where the
  * library read put them: manifest KB on the driver, pruned shard
  * scans on the executors. */
class GraftShardedDataSource extends TableProvider
    with DataSourceRegister {

  override def shortName(): String = "graft-sharded"

  // writes to a NOT-YET-EXISTING table must not call inferSchema —
  // with external metadata Spark hands getTable the query's schema
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap)
      : StructType =
    GraftSharded.tableSchema(SparkSession.active,
      GraftSharded.pathOf(options.asCaseSensitiveMap()),
      GraftSharded.versionOf(SparkSession.active,
        options.asCaseSensitiveMap()))

  override def getTable(schema: StructType,
                        partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new GraftShardedTable(GraftSharded.pathOf(properties), schema,
      GraftSharded.versionOf(SparkSession.active, properties),
      partitioning)
}

private[graft] class GraftShardedTable(path: String,
                                         tschema: StructType,
                                         version: Option[Long],
                                         partitioning_ : Array[Transform] =
                                           Array.empty,
                                         writeDefaults:
                                           Map[String, String] =
                                           Map.empty)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String =
    s"graft-sharded:$path" + version.map(v => s"@v$v").getOrElse("")
  override def schema(): StructType = tschema
  // report the writer-declared partitioning back (Spark cross-checks
  // a partitionBy() on write against the table's)
  override def partitioning(): Array[Transform] = partitioning_
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    new GraftShardedScanBuilder(path, tschema, version)

  /** WRITE surface over the V1 bridge — the snapshot writers already
    * ARE distributed writes with their own atomic commit, so the
    * insert delegates straight to them:
    *
    * {{{
    *   df.write.format("graft-sharded")
    *     .option("idCol", "doc_id")        // row id (default: 1st col)
    *     .option("orderCol", "doc_id")     // range-shard order (= id)
    *     .option("numShards", 16)          // default 16
    *     .option("statsCols", "doc_id")    // default: idCol
    *     .partitionBy("source")            // creation only
    *     .mode("append").save(path)        // append | overwrite
    * }}}
    *
    * append creates the table when absent, else appends (schema
    * checks, widening and partition inheritance all apply); overwrite
    * publishes a fresh-manifest snapshot (old versions stay readable
    * until expiry — the table-format overwrite, not an rm -rf).
    * ErrorIfExists/Ignore are not supported for path-based V2 writes;
    * streaming writes go through the foreachBatch sink bodies. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: org.apache.spark.sql
                .Dataset[Row], overwriteFlag: Boolean): Unit = {
              // catalog tables carry their write knobs (idCol,
              // numShards, ...) as TABLE properties — a SQL INSERT
              // passes no reader/writer options, so the stored
              // defaults fill any the caller omitted
              val merged = new java.util.HashMap[String, String]()
              writeDefaults.foreach { case (k, v) => merged.put(k, v) }
              info.options().forEach((k, v) => merged.put(k, v))
              GraftSharded.insertInto(path, data.toDF(),
                overwrite || overwriteFlag,
                new CaseInsensitiveStringMap(merged), partitioning_)
            }
          }
      }
    }
}

private[graft] class GraftShardedScanBuilder(path: String,
                                               tschema: StructType,
                                               version: Option[Long])
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read
      .SupportsPushDownAggregates {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = tschema
  private var agg: Option[(StructType, Seq[Seq[Any]])] = None

  /** Accept the filters we can evaluate as Columns; everything else
    * goes back to Spark as a post-scan filter. Accepted filters are
    * APPLIED exactly (not just used for pruning), so reporting them
    * as pushed is sound. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ours, theirs) =
      filters.partition(f => GraftSharded.filterColumn(f).isDefined)
    pushed = ours
    theirs
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // keep the TABLE's field order/types; Spark's required set can be
    // empty (count(*)) or reordered
    val want = requiredSchema.fieldNames.toSet
    required = StructType(tschema.fields.filter(f => want(f.name)))
  }

  /** AGGREGATE pushdown — `count(*)`, and `min`/`max` on integral
    * stats columns, answered from the manifest's `n_rows` and
    * `min_/max_` bounds WITHOUT opening a single data file. Pushed
    * only when the answer is exact:
    *
    *  - no pushed data filters (manifest pruning is a SUPERSET
    *    guarantee — fine for scans, wrong for aggregates),
    *  - no GROUP BY, and
    *  - [[Sources.shardedManifestAggView]] vouches for the snapshot:
    *    zero live tombstones, and (for min/max) a non-null recorded
    *    bound on EVERY data leaf — a leaf written without stats for
    *    the column could hide values, so it disqualifies the column.
    *
    * Complete pushdown: the scan returns the one aggregated row. */
  override def supportCompletePushDown(
      a: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Boolean =
    aggAnswer(a).isDefined

  override def pushAggregation(
      a: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Boolean =
    aggAnswer(a) match {
      case Some(ans) => agg = Some(ans); true
      case None => false
    }

  private def aggAnswer(
      a: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Option[(StructType, Seq[Seq[Any]])] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate._
    import org.apache.spark.sql.types._
    val spark = SparkSession.active
    def colOf(e: org.apache.spark.sql.connector.expressions
        .Expression): Option[String] = e match {
      case nr: NamedReference if nr.fieldNames().length == 1 =>
        Some(nr.fieldNames()(0))
      case _ => None
    }
    def back(v: Long, dt: DataType): Any = dt match {
      case ByteType => v.toByte
      case ShortType => v.toShort
      case IntegerType => v.toInt
      case _ => v
    }
    // raw partition-value string -> the table column's type
    def fromRaw(s: String, dt: DataType): Option[Any] = dt match {
      case StringType => Some(s)
      case IntegerType => scala.util.Try(s.trim.toInt).toOption
      case LongType => scala.util.Try(s.trim.toLong).toOption
      case ShortType => scala.util.Try(s.trim.toShort).toOption
      case ByteType => scala.util.Try(s.trim.toByte).toOption
      case _ => None
    }
    // PARTITION-EQUALITY pushed filters stay exact under the manifest
    // view (partition pruning is exact, unlike the superset stats
    // pruning): `count(*)/min/max ... WHERE part = v` resolves the
    // selected leaf groups from the manifest and aggregates only
    // those. ANY other pushed filter shape disqualifies the pushdown.
    // Supported raw-value types only — a filter column the manifest's
    // raw strings cannot be EXACTLY converted to must bail, never
    // silently drop groups.
    def rawOk(dt: DataType): Boolean = dt match {
      case StringType | ByteType | ShortType | IntegerType | LongType =>
        true
      case _ => false
    }
    val partColsOfTable: Seq[String] =
      if (pushed.isEmpty) Seq.empty
      else if (Sources.shardedVersions(spark, path).isEmpty)
        return None
      else Sources.shardedTablePartitionCols(spark, path)
    // classify each pushed filter: Left(col) = IsNotNull on a
    // partition column (Catalyst adds one beside every equality),
    // Right(col -> values) = an equality/IN selection; anything else
    // disqualifies
    val eqSels: Seq[Option[Either[String, (String, Seq[Any])]]] =
      pushed.toSeq.map {
        case org.apache.spark.sql.sources.IsNotNull(c)
            if partColsOfTable.contains(c) =>
          Some(Left(c))
        case org.apache.spark.sql.sources.EqualTo(c, v)
            if partColsOfTable.contains(c) && v != null =>
          Some(Right(c -> Seq(v)))
        case org.apache.spark.sql.sources.EqualNullSafe(c, v)
            if partColsOfTable.contains(c) && v != null =>
          Some(Right(c -> Seq(v)))
        case org.apache.spark.sql.sources.In(c, vs)
            if partColsOfTable.contains(c) && vs.nonEmpty &&
              !vs.contains(null) =>
          Some(Right(c -> vs.toSeq))
        case _ => None
      }
    if (eqSels.exists(_.isEmpty)) return None
    // several filters on one column intersect their admitted values
    val selByCol: Map[String, Set[Any]] = eqSels.flatten
      .collect { case Right(x) => x }
      .groupBy(_._1).map { case (c, xs) =>
        c -> xs.map(_._2.toSet).reduce(_ intersect _) }
    val notNullCols: Set[String] = eqSels.flatten
      .collect { case Left(c) => c }.toSet
    val filterCols = (selByCol.keys ++ notNullCols).toSeq.distinct
      .sorted
    val fFields = filterCols.map(c =>
      tschema.fields.find(_.name == c).getOrElse(return None))
    if (fFields.exists(f => !rawOk(f.dataType))) return None

    // GROUP BY is pushable only over declared PARTITION columns — the
    // manifest keeps one row per (partition leaf, shard), so grouped
    // counts/bounds are exact per group under the same withholding
    // rules as the global view
    val groupCols = a.groupByExpressions().toSeq.map(colOf)
    if (groupCols.exists(_.isEmpty)) return None
    val gCols = groupCols.flatten
    val gFields = gCols.map(c =>
      tschema.fields.find(_.name == c).getOrElse(return None))
    def mergeViews(vs: Seq[Sources.ShardedAggView])
        : Sources.ShardedAggView = {
      if (vs.isEmpty) return Sources.ShardedAggView(0L, Map.empty)
      val common = vs.map(_.bounds.keySet).reduce(_ intersect _)
      Sources.ShardedAggView(vs.map(_.rowCount).sum,
        common.map(c => c -> (vs.map(_.bounds(c)._1).min,
          vs.map(_.bounds(c)._2).max)).toMap)
    }
    val allCols = (filterCols ++ gCols).distinct
    val groups: Seq[(Seq[String], Sources.ShardedAggView)] =
      if (allCols.isEmpty)
        Sources.shardedManifestAggView(spark, path, version)
          .map(v => Seq((Seq.empty[String], v))).getOrElse(return None)
      else {
        val raw = Sources.shardedManifestAggViewBy(spark, path,
          allCols, version).getOrElse(return None)
        val selected = raw.filter { case (key, _) =>
          filterCols.forall { c =>
            val rv = key(allCols.indexOf(c))
            val dt = fFields(filterCols.indexOf(c)).dataType
            if (rv == null) false // IsNotNull and equality both reject
            else selByCol.get(c) match {
              case None => true // IsNotNull only: non-null suffices
              // a raw value that fails exact conversion cannot match
              // a TYPED equality value of that type — exclusion exact
              case Some(vals) => fromRaw(rv, dt).exists(vals.contains)
            }
          }
        }
        if (gCols.isEmpty) Seq((Seq.empty[String],
          mergeViews(selected.map(_._2))))
        else selected
          .groupBy { case (key, _) =>
            gCols.map(c => key(allCols.indexOf(c))) }
          .toSeq
          .map { case (k, xs) => (k, mergeViews(xs.map(_._2))) }
          .sortBy(_._1.mkString("\u0000"))
      }
    def aggOuts(view: Sources.ShardedAggView)
        : Seq[Option[(StructField, Any)]] =
      a.aggregateExpressions().toSeq.map {
        case _: CountStar =>
          Some((StructField("count(*)", LongType, nullable = false),
            view.rowCount: Any))
        case m: Min =>
          for {
            c <- colOf(m.column())
            f <- tschema.fields.find(_.name == c)
            if Sources.exactStatsType(f.dataType)
            // min over ZERO selected rows is exactly null; otherwise
            // a recorded bound on every contributing leaf is required
            b <- if (view.rowCount == 0L) Some(None)
                 else view.bounds.get(c).map(Some(_))
          } yield (StructField(s"min($c)", f.dataType),
            b.map(x => back(x._1, f.dataType)).orNull)
        case m: Max =>
          for {
            c <- colOf(m.column())
            f <- tschema.fields.find(_.name == c)
            if Sources.exactStatsType(f.dataType)
            b <- if (view.rowCount == 0L) Some(None)
                 else view.bounds.get(c).map(Some(_))
          } yield (StructField(s"max($c)", f.dataType),
            b.map(x => back(x._2, f.dataType)).orNull)
        case _ => None
      }
    val rows = groups.map { case (key, view) =>
      val keyVals = key.zip(gFields).map { case (raw, f) =>
        fromRaw(raw, f.dataType).getOrElse(return None) }
      val outs = aggOuts(view)
      if (outs.exists(_.isEmpty)) return None
      (keyVals ++ outs.flatten.map(_._2), outs.flatten.map(_._1))
    }
    if (rows.isEmpty) return None
    Some((StructType(gFields ++ rows.head._2), rows.map(_._1)))
  }

  override def build(): Scan = agg match {
    case Some((schema, rows)) =>
      new GraftShardedAggScan(path, version, schema, rows)
    case None =>
      new GraftShardedScan(path, version, pushed, required)
  }
}

/** The manifest-answered aggregate scan: metadata-scale local rows
  * (one per partition-value group; one total), zero data files. */
private[graft] class GraftShardedAggScan(path: String,
                                           version: Option[Long],
                                           outSchema: StructType,
                                           rows: Seq[Seq[Any]])
    extends V1Scan {
  override def readSchema(): StructType = outSchema
  override def description(): String =
    s"GraftShardedAggScan(path=$path, manifest-only " +
      s"[${outSchema.fieldNames.mkString(", ")}], n=${rows.size})"
  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = outSchema
      override def needConversion: Boolean = false
      override def sizeInBytes: Long =
        rows.size.toLong * outSchema.fields.length * 8L
      override def buildScan(): RDD[Row] =
        context.sparkSession.createDataFrame(
            java.util.Arrays.asList(rows.map(Row.fromSeq): _*),
            outSchema)
          .queryExecution.toRdd.asInstanceOf[RDD[Row]]
    }.asInstanceOf[T]
}

private[graft] class GraftShardedScan(path: String,
                                        version: Option[Long],
                                        pushed: Array[Filter],
                                        required: StructType)
    extends V1Scan {

  override def readSchema(): StructType = required

  override def description(): String =
    s"GraftShardedScan(path=$path" +
      version.map(v => s", version=$v").getOrElse("") +
      s", pushed=[${pushed.mkString(", ")}])"

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = required
      // the scan DataFrame is already internal rows; skip the
      // Row-roundtrip (the standard DataFrame-backed-relation idiom)
      override def needConversion: Boolean = false
      // join-planning statistics from the manifest's per-leaf byte
      // counts (pruned by the pushed filters): a small or
      // tightly-pruned table reports its true size, so Spark
      // BROADCASTS it instead of shuffling the other join side —
      // unknown sizes (pre-n_bytes manifests) keep the conservative
      // default, never masquerading as broadcastable
      override def sizeInBytes: Long =
        Sources.shardedTableScanBytes(context.sparkSession, path,
            GraftSharded.filterBounds(pushed),
            GraftSharded.filterPartEquals(pushed), version)
          .getOrElse(super.sizeInBytes)
      override def buildScan(): RDD[Row] =
        GraftSharded.scanDataFrame(context.sparkSession, path, version,
            pushed, required)
          .queryExecution.toRdd.asInstanceOf[RDD[Row]]
    }.asInstanceOf[T]
}

/** The connector's planning core, kept as plain functions so the spec
  * suite can pin pruning parity against the library read paths. */
object GraftSharded {

  private[graft] def pathOf(props: util.Map[String, String]): String = {
    val p = props.get("path")
    require(p != null && p.nonEmpty,
      "graft-sharded: a table path is required — " +
        "spark.read.format(\"graft-sharded\").load(path)")
    p
  }

  /** Resolve the pinned snapshot from `version` / `asOfTimestamp`
    * options (None = latest). */
  private[graft] def versionOf(spark: SparkSession,
                                 props: util.Map[String, String])
      : Option[Long] = {
    val v = Option(props.get("version")).map(_.trim.toLong)
    val ts = Option(props.get("asOfTimestamp")).map(_.trim.toLong)
    require(v.isEmpty || ts.isEmpty,
      "graft-sharded: pass either version or asOfTimestamp, not both")
    v.orElse(ts.map(t =>
      Sources.shardedVersionAt(spark, pathOf(props), t)))
  }

  private[graft] def tableSchema(spark: SparkSession, path: String,
                                   version: Option[Long]): StructType =
    // memoized by snapshot fingerprint: loadTable/inferSchema run once
    // per SQL STATEMENT, and building the full read plan for `.schema`
    // each time was a per-statement Catalyst constant (r14)
    Sources.shardedTableReadSchema(spark, path, version)

  /** The `sources.Filter`s we can evaluate exactly as Columns.
    * Anything unconvertible stays with Spark — never a correctness
    * risk, only a missed pushdown. */
  private[graft] def filterColumn(f: Filter)
      : Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    f match {
      case sources.EqualTo(a, v) => Some(col(a) === lit(v))
      case sources.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
      case sources.GreaterThan(a, v) => Some(col(a) > lit(v))
      case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case sources.LessThan(a, v) => Some(col(a) < lit(v))
      case sources.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
      case sources.In(a, vs) => Some(col(a).isin(vs.toSeq: _*))
      case sources.IsNull(a) => Some(col(a).isNull)
      case sources.IsNotNull(a) => Some(col(a).isNotNull)
      case sources.StringStartsWith(a, v) => Some(col(a).startsWith(v))
      case sources.StringEndsWith(a, v) => Some(col(a).endsWith(v))
      case sources.StringContains(a, v) => Some(col(a).contains(v))
      case sources.Not(c) => filterColumn(c).map(!_)
      case sources.And(l, r) =>
        for (lc <- filterColumn(l); rc <- filterColumn(r))
          yield lc && rc
      case sources.Or(l, r) =>
        for (lc <- filterColumn(l); rc <- filterColumn(r))
          yield lc || rc
      case _ => None
    }
  }

  /** Conservative per-column [lo, hi] bounds from the pushed filters —
    * the `sources.Filter` twin of [[Sources.predicateBounds]], feeding
    * the same manifest pruning. Only top-level conjuncts contribute
    * (an OR can only widen, so it is skipped), and only integral
    * literals (the manifest records long bounds, for integral
    * columns only). */
  private[graft] def filterBounds(filters: Seq[Filter])
      : Seq[(String, Long, Long)] = {
    def long(v: Any): Option[Long] = v match {
      case i: Int => Some(i.toLong)
      case l: Long => Some(l)
      case s: Short => Some(s.toLong)
      case b: Byte => Some(b.toLong)
      case _ => None
    }
    def bounds(f: Filter): Seq[(String, Long, Long)] = f match {
      case sources.EqualTo(a, v) =>
        long(v).map(x => (a, x, x)).toSeq
      case sources.GreaterThan(a, v) =>
        long(v).map(x => (a, x + 1, Long.MaxValue)).toSeq
      case sources.GreaterThanOrEqual(a, v) =>
        long(v).map(x => (a, x, Long.MaxValue)).toSeq
      case sources.LessThan(a, v) =>
        long(v).map(x => (a, Long.MinValue, x - 1)).toSeq
      case sources.LessThanOrEqual(a, v) =>
        long(v).map(x => (a, Long.MinValue, x)).toSeq
      case sources.In(a, vs) =>
        val ls = vs.toSeq.flatMap(long)
        if (ls.nonEmpty && ls.length == vs.length)
          Seq((a, ls.min, ls.max))
        else Nil
      case sources.And(l, r) => bounds(l) ++ bounds(r)
      case _ => Nil
    }
    filters.flatMap(bounds).groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (c, bs) => (c, bs.map(_._2).max, bs.map(_._3).min) }
  }

  /** String-equality conjuncts among the pushed filters — partition
    * pruning for tables with declared partition columns (the
    * `sources.Filter` twin of `predicatePartEquals`). */
  private[graft] def filterPartEquals(filters: Seq[Filter])
      : Seq[(String, String)] = {
    def eqs(f: Filter): Seq[(String, String)] = f match {
      case sources.EqualTo(a, v: String) => Seq((a, v))
      case sources.And(l, r) => eqs(l) ++ eqs(r)
      case _ => Nil
    }
    filters.flatMap(eqs).distinct
  }

  /** The write path behind the format: resolve the knobs from write
    * options, then delegate to the snapshot writers (whose claim
    * commit, schema checks, widening and partition inheritance all
    * apply unchanged). Partitioning transforms apply at CREATION
    * only — identity transforms name the partition columns. */
  private[graft] def insertInto(path: String, df: DataFrame,
                                overwrite: Boolean,
                                options: CaseInsensitiveStringMap,
                                partitioning: Array[Transform]): Unit = {
    import org.apache.spark.sql.functions.col
    val idCol = Option(options.get("idCol"))
      .getOrElse(df.columns.head)
    require(df.columns.contains(idCol),
      s"graft-sharded write: idCol $idCol not in ${df.columns.toSeq}")
    val orderCol = Option(options.get("orderCol")).getOrElse(idCol)
    val numShards = Option(options.get("numShards"))
      .map(_.trim.toInt).getOrElse(16)
    val statsCols = Option(options.get("statsCols"))
      .map(_.split(",").map(_.trim).toSeq).getOrElse(Seq(idCol))
    val partCols = partitioning.toSeq.flatMap { t =>
      if (t.name == "identity")
        t.references.toSeq.map(_.fieldNames.mkString("."))
      else sys.error(s"graft-sharded write: unsupported partition " +
        s"transform ${t.describe()} — only plain columns")
    }
    val spark = df.sparkSession
    val exists = Sources.shardedVersions(spark, path).nonEmpty
    if (overwrite || !exists)
      Sources.writeShardedTable(df, col(idCol), col(orderCol), path,
        numShards, statsCols, partitionCols = partCols)
    else {
      // append INHERITS the table's layout; a writer that passed a
      // partitionBy believing it changed the layout must hear NO, not
      // get the inherited one silently
      val inherited = Sources.shardedTablePartitionCols(spark, path)
      require(partCols.isEmpty || partCols == inherited,
        s"graft-sharded append: partitionBy(${partCols.mkString(",")}) " +
          s"does not match the table's declared partition columns " +
          s"(${if (inherited.isEmpty) "none" else inherited.mkString(",")}) " +
          "— the layout is fixed at creation; drop the partitionBy or " +
          "overwrite the table")
      Sources.appendShardedTable(df, col(idCol), col(orderCol), path,
        numShards, statsCols)
    }
    ()
  }

  /** Plan the scan: manifest-pruned read (stats bounds + partition
    * equality from the pushed filters), exact pushed predicates
    * applied, then the pruned projection — identical machinery to
    * `readShardedTableWhere(...).select(...)`. */
  private[graft] def scanDataFrame(spark: SparkSession, path: String,
                                     version: Option[Long],
                                     pushed: Seq[Filter],
                                     required: StructType): DataFrame = {
    import org.apache.spark.sql.functions.col
    // a catalog-created table that has never been inserted into has no
    // snapshot yet — scan as empty with the declared schema
    if (Sources.shardedVersions(spark, path).isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], required)
    val base = Sources.readShardedTable(spark, path,
      filterBounds(pushed), version,
      partPreds = filterPartEquals(pushed))
    val filtered = pushed.flatMap(filterColumn)
      .foldLeft(base)(_.filter(_))
    filtered.select(required.fieldNames.map(col).toSeq: _*)
  }
}
