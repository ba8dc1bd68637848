package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tools.FuzzConformance.Spec
import graft.sources.Sources

/** Differential conformance fuzzing for the SHARDED-TABLE semantics:
  * seeded chains of table ops run through [[Sources]], with the final
  * logical state replayed in closed-form DuckDB SQL from the same
  * draw. The hand-written table queries (q523/q527/q531-q538) each pin
  * ONE operation; these specs pin the INTERACTIONS — a merge
  * re-inserting keys an earlier delete removed, a compaction in the
  * middle of a tombstone chain, a schema evolution or a column rename
  * between them, and a final read through every read surface.
  *
  * One op algebra ([[Op]]), one oracle fold ([[fold]]), one executor
  * ([[run]]) and one final read ([[finalRead]]) serve five families;
  * each family is a [[Family]] draw config (see [[families]]).
  *
  * Oracle model (EVENT/KILLER): every write/append/merge/update/z
  * overwrite contributes an insert EVENT (predicate over doc_id
  * residues, value expression, lang-carrying flag, step number); every
  * delete/merge/update contributes a KILLER (predicate, step). A row of
  * event e survives iff no killer with a LARGER step covers it —
  * exactly the sequence-number semantics the tombstones implement. The
  * SQL replay is one UNION ALL term per event. Compact, expire and
  * renames are logical no-ops (a rename changes only the final column
  * names; widening is value-invariant). Batches derive from the
  * ORIGINAL documents rows on both engines, so value expressions stay
  * closed-form at any scale factor.
  *  - A predicate UPDATE re-inserts only the rows PRESENT at its step,
  *    so its event predicate is `u AND P_s`, where P_s — the presence
  *    of a doc at step s — is closed-form: OR over earlier events e of
  *    (e.pred AND no killer between e.step and s). Its killer is just
  *    `u` (killing an absent row is a no-op). The SET expression
  *    depends only on doc_id, which keeps the replay provenance-free.
  *  - A mid-chain z-order write is table OVERWRITE (fresh manifest):
  *    the fold resets to a single event.
  *  - Uniqueness (updateShardedTable requires unique matched keys): in
  *    the families that update, every event-inserting op also kills
  *    all older copies of the docs it inserts and the initial write is
  *    unique per doc, so doc_id stays unique through any chain.
  *
  * Each family draws from its own fixed seed, so no family shifts
  * another's draws (nor the [[FuzzConformance]] / [[FuzzEvalCrawl]]
  * streams). Within a family the draw order — header, ops, final-read
  * draws, pre-flight redraws — is part of its byte-stable identity. */
object FuzzTable {

  /** One table op. `(m, r)` names the residue class `doc_id % m = r`;
    * `d` is the amount an inserted row's n_chars is raised by. */
  private[graft] sealed trait Op
  private[graft] final case class Append(m: Int, r: Int, d: Long,
                                         kind: AppendKind) extends Op
  private[graft] final case class Merge(m: Int, r: Int, d: Long) extends Op
  /** predicate UPDATE: n_chars := (doc_id % 400) + c on present rows */
  private[graft] final case class Update(m: Int, r: Int, c: Long) extends Op
  /** delete by a key frame */
  private[graft] final case class Delete(m: Int, r: Int) extends Op
  /** delete by a predicate over the table */
  private[graft] final case class DeleteWhere(m: Int, r: Int) extends Op
  private[graft] case object Compact extends Op
  private[graft] final case class Expire(keep: Int) extends Op
  /** z-ordered OVERWRITE of the table with one class */
  private[graft] final case class ZReset(m: Int, r: Int, d: Long) extends Op
  /** rename the value column to `val<ix>` */
  private[graft] final case class RenameVal(ix: Int) extends Op
  /** rename the key column to `key<ix>` */
  private[graft] final case class RenameKey(ix: Int) extends Op

  private[graft] sealed trait AppendKind
  private[graft] case object Plain extends AppendKind
  /** add-column evolution: the first one adds `lang` to the table */
  private[graft] case object Evolve extends AppendKind
  /** type widening: the value column goes from INT to BIGINT */
  private[graft] case object Widen extends AppendKind

  /** The table's initial column shape. */
  private[graft] sealed trait Shape
  /** every documents column, written and merged full-width */
  private[graft] case object FullRows extends Shape
  /** doc_id, source, n_chars */
  private[graft] case object Narrow extends Shape
  /** doc_id, source and n_chars as INT (a Widen append makes it BIGINT) */
  private[graft] case object IntValue extends Shape

  /** How a family's oracle SQL is written out (each byte-stable). */
  private[graft] sealed trait Layout
  /** one presence predicate and one nested CASE, folded op by op */
  private[graft] case object Nested extends Layout
  /** UNION ALL terms, select list over two lines */
  private[graft] case object Wrapped extends Layout
  /** UNION ALL terms, select list on one line */
  private[graft] case object Inline extends Layout
  /** Wrapped, key aliased to its final name, ORDER BY position */
  private[graft] case object Aliased extends Layout

  /** The surface the final read goes through. */
  private[graft] sealed trait Surface
  /** `readShardedTable`, or `readShardedTableWhere` under a box */
  private[graft] case object Library extends Surface
  /** DSv2 `spark.read.format("graft-sharded")`, box as pushed filters */
  private[graft] case object Format extends Surface
  /** pure SQL through [[graft.sources.GraftCatalog]] */
  private[graft] case object Catalog extends Surface

  /** One family's draw config: seed, names, op table and header draws
    * are data; [[draws]], [[fold]] and [[run]] interpret them. */
  private[graft] final case class Family(
      tag: String, seed: Long, first: Int, count: Int,
      table: IndexedSeq[Gen], nOps: Range,
      zInitial: Boolean = false, partitioned: Boolean = false,
      lookup: Boolean = false, box: Boolean = false,
      surfaces: Boolean = false, shape: Shape = Narrow,
      layout: Layout = Inline, preflight: Boolean = false)

  /** One chain: initial class union `w` mod `m0`, header draws, ops
    * and the final read (bloom point `lookup`, predicate `box` as
    * (doc_id lo, doc_id hi, n_chars max), and its surface). */
  private[graft] final case class Draw(m0: Int, w: Set[Int], nShards: Int,
                                       zInitial: Boolean,
                                       partitioned: Boolean, ops: Seq[Op],
                                       lookup: Option[Int],
                                       box: Option[(Long, Long, Long)],
                                       surface: Surface)

  /** A family's seeded stream, plus the rename counter of the chain
    * being drawn. */
  private[graft] final class Rnd(seed: Long) {
    private val r = new scala.util.Random(seed)
    var renames = 0
    def int(n: Int): Int = r.nextInt(n)
    def bool(): Boolean = r.nextBoolean()
  }
  private[graft] type Gen = Rnd => Op

  private def onClass(f: (Int, Int) => Op): Gen = d => {
    val m = 2 + d.int(7); f(m, d.int(m))
  }
  private def withAmount(f: (Int, Int, Long) => Op): Gen = d => {
    val m = 2 + d.int(7); val r = d.int(m); f(m, r, 1000L * (1 + d.int(9)))
  }
  private val delete = onClass(Delete)
  private val deleteWhere = onClass(DeleteWhere)
  private val merge = withAmount(Merge)
  private val update = withAmount(Update)
  private val zReset = withAmount(ZReset)
  private def append(k: AppendKind) = withAmount(Append(_, _, _, k))
  private val compact: Gen = _ => Compact
  private val expire: Gen = d => Expire(1 + d.int(3))
  private val renameVal: Gen = d => { d.renames += 1; RenameVal(d.renames) }
  private val renameKey: Gen = d => { d.renames += 1; RenameKey(d.renames) }
  private val presenceOps = Vector(merge, merge, update, update, delete,
    deleteWhere, compact, expire, zReset, zReset)

  private[graft] val families: Seq[Family] = Seq(
    // tfuzz (r9): delete / merge / compact over full-width rows
    Family("tfuzz", 20260816L, 539, 12,
      Vector(delete, delete, merge, merge, compact), 2 to 4,
      shape = FullRows, layout = Nested),
    // tfuzz2 (r10): where table formats rot — an add-column evolution
    // mid tombstone chain (compaction must null-fill across it), plain
    // appends after it (the newest dir is the schema authority),
    // snapshot expiry, duplicate doc_ids from overlapping appends that
    // a merge must kill in one shot, and a bloom point-lookup read
    Family("tfuzz2", 20260817L, 554, 10,
      Vector(append(Plain), append(Plain), append(Evolve), delete,
        delete, merge, merge, compact, expire), 3 to 5,
      lookup = true, layout = Wrapped),
    // tfuzz3: z-order writes (initial and mid-chain overwrite),
    // predicate UPDATE and DELETE-where, and a predicate box read whose
    // pruning runs against MIXED stats columns (z dirs track
    // (doc_id, n_chars), merge/update dirs doc_id only, so NULL
    // n_chars bounds must keep their dirs)
    Family("tfuzz3", 20260818L, 573, 8, presenceOps, 3 to 5,
      zInitial = true, box = true, preflight = true),
    // tfuzz4: type widening (INT value, a widening append flips it to
    // BIGINT; later narrow writers up-cast) and manifest-level renames
    // of the value AND key columns — tombstones must keep killing
    // across a key rename, compaction must fold pre-rename runs
    Family("tfuzz4", 20260819L, 583, 8,
      Vector(merge, merge, append(Widen), append(Plain), delete, delete,
        renameVal, renameKey, compact, expire), 3 to 5,
      shape = IntValue, layout = Aliased, preflight = true),
    // tfuzz5 (r12): tfuzz3's chains with the final read drawn across
    // the DSv2 format read, catalog SQL (an external LOCATION table)
    // and the library read as control; half the tables are created
    // PARTITIONED BY source
    Family("tfuzz5", 20260912L, 595, 8, presenceOps, 3 to 5,
      partitioned = true, box = true, surfaces = true, preflight = true))

  /** A draw that passes the pre-flight returns at least this many rows. */
  private[graft] val MinRows = 20

  private def draw(f: Family, d: Rnd): Draw = {
    d.renames = 0
    val m0 = 2 + d.int(5)
    val w0 = (0 until m0).filter(_ => d.bool()).toSet
    val w = if (w0.isEmpty) Set(d.int(m0)) else w0
    val nShards = 1 + d.int(8)
    val zInitial = f.zInitial && d.bool()
    val partitioned = f.partitioned && d.bool()
    val drawn = Seq.fill(f.nOps.start + d.int(f.nOps.size))(
      f.table(d.int(f.table.size))(d))
    // a partitioned table keeps its layout: a z overwrite becomes a
    // merge of the same class (its randomness is consumed either way)
    val ops = if (!partitioned) drawn else drawn.map {
      case ZReset(m, r, dd) => Merge(m, r, dd)
      case op => op
    }
    val lookup = if (f.lookup && d.int(3) == 0) Some(d.int(50)) else None
    val box =
      if (!f.box || d.bool()) None
      else Some((d.int(200).toLong, (200 + d.int(300)).toLong,
        Seq(4000L, 20000L, 1000000L)(d.int(3))))
    val surface =
      if (f.surfaces) Seq(Format, Catalog, Library)(d.int(3)) else Library
    Draw(m0, w, nShards, zInitial, partitioned, ops, lookup, box, surface)
  }

  /** The family's chains in spec order, pre-flight redraws applied. */
  private[graft] def draws(f: Family): Seq[Draw] = {
    val rnd = new Rnd(f.seed)
    (0 until f.count).map { _ =>
      var d = draw(f, rnd)
      while (f.preflight && finalCount(d) < MinRows) d = draw(f, rnd)
      d
    }
  }

  def specs: Seq[Spec] = families.flatMap { f =>
    draws(f).zipWithIndex.map { case (d, i) =>
      Spec(s"q${f.first + i}_${f.tag}", run(f, d, i), oracleSql(f, d))
    }
  }

  /** Data-free pre-flight over doc_id 0..499 (the documents table's id
    * space at every test sf): fold the chain per doc, tracking presence
    * and a conservative value UPPER bound (base n_chars <= 553; merge
    * and z overwrite add d; update sets (doc_id%400)+c <= 399+c; no
    * family draws both appends and a box), and count the docs the final
    * read would return. */
  private[graft] def finalCount(d: Draw): Int = {
    val present = Array.tabulate(500)(doc => d.w.contains(doc % d.m0))
    val valMax = Array.fill(500)(553L)
    def each(m: Int, r: Int)(f: Int => Unit): Unit =
      (0 until 500).filter(_ % m == r).foreach(f)
    d.ops.foreach {
      case Append(m, r, _, _) => each(m, r)(present(_) = true)
      case Merge(m, r, dd) => each(m, r) { doc =>
        present(doc) = true; valMax(doc) = 553L + dd }
      case Update(m, r, c) => each(m, r) { doc =>
        if (present(doc)) valMax(doc) = 399L + c }
      case Delete(m, r) => each(m, r)(present(_) = false)
      case DeleteWhere(m, r) => each(m, r)(present(_) = false)
      case ZReset(m, r, dd) => for (doc <- 0 until 500) {
        present(doc) = doc % m == r; valMax(doc) = 553L + dd }
      case Compact | Expire(_) | RenameVal(_) | RenameKey(_) => ()
    }
    (0 until 500).count { doc =>
      present(doc) && d.box.forall { case (lo, hi, k) =>
        doc >= lo && doc <= hi && valMax(doc) <= k }
    }
  }

  // ---- the oracle ----------------------------------------------------

  private final case class Ev(pred: String, value: String,
                              hasLang: Boolean, step: Int)
  /** The fold's result: events in order, killers, final column names. */
  private final case class Replay(events: List[Ev],
                                  killers: List[(String, Int)],
                                  evolved: Boolean, key: String,
                                  value: String)

  private def cls(m: Int, r: Int) = s"doc_id % $m = $r"
  private def initialPred(d: Draw) =
    d.w.toSeq.sorted.map(cls(d.m0, _)).mkString("(", " OR ", ")")
  private def killersAfter(killers: List[(String, Int)], step: Int) =
    killers.filter(_._2 > step).map(_._1).sorted
  private def boxSql(d: Draw) = d.box.map { case (lo, hi, k) =>
    s" WHERE doc_id BETWEEN $lo AND $hi AND n_chars <= $k"
  }.getOrElse("")

  private def fold(d: Draw): Replay = {
    var events = List(Ev(initialPred(d), "n_chars", hasLang = false, 0))
    var killers = List.empty[(String, Int)]
    var evolved = false
    var key = "doc_id"
    var value = "n_chars"
    def presence(): String = events.reverse.map { e =>
      val later = killersAfter(killers, e.step)
      if (later.isEmpty) s"(${e.pred})"
      else s"((${e.pred}) AND NOT ${later.mkString("(", " OR ", ")")})"
    }.mkString("(", " OR ", ")")
    d.ops.zipWithIndex.foreach { case (op, ix) =>
      val s = ix + 1
      op match {
        case Append(m, r, dd, kind) =>
          if (kind == Evolve) evolved = true
          events ::= Ev(cls(m, r), s"n_chars + $dd", evolved, s)
        case Merge(m, r, dd) =>
          killers ::= (cls(m, r), s)
          events ::= Ev(cls(m, r), s"n_chars + $dd", evolved, s)
        case Update(m, r, c) =>
          val p = presence() // BEFORE this op's own killer/event
          killers ::= (cls(m, r), s)
          events ::= Ev(s"(${cls(m, r)}) AND $p", s"(doc_id % 400) + $c",
            evolved, s)
        case Delete(m, r) => killers ::= (cls(m, r), s)
        case DeleteWhere(m, r) => killers ::= (cls(m, r), s)
        case ZReset(m, r, dd) =>
          events = List(Ev(cls(m, r), s"n_chars + $dd", evolved, s))
          killers = Nil
        case RenameVal(i) => value = s"val$i"
        case RenameKey(i) => key = s"key$i"
        case Compact | Expire(_) => ()
      }
    }
    Replay(events.reverse, killers, evolved, key, value)
  }

  private[graft] def oracleSql(f: Family, d: Draw): String =
    if (f.layout == Nested) nestedSql(d) else unionSql(f, d)

  /** tfuzz's oracle, older than the event/killer model and kept in its
    * form: presence ANDs out a delete's class and ORs in a merge's,
    * whose value wraps one more CASE (later merges nest OUTSIDE
    * earlier ones — last writer wins). */
  private def nestedSql(d: Draw): String = {
    var present = initialPred(d)
    var value = "n_chars"
    d.ops.foreach {
      case Delete(m, r) => present = s"($present) AND NOT (${cls(m, r)})"
      case Merge(m, r, dd) =>
        present = s"($present) OR (${cls(m, r)})"
        value = s"CASE WHEN ${cls(m, r)} THEN n_chars + $dd ELSE $value END"
      case _ => ()
    }
    s"SELECT doc_id, source, CAST($value AS BIGINT) AS n_chars\n" +
      s"           FROM documents WHERE $present ORDER BY doc_id"
  }

  private def unionSql(f: Family, d: Draw): String = {
    val rp = fold(d)
    val nl = "\n            "
    val br = if (f.layout == Inline) " " else nl
    val key = if (f.layout == Aliased) s"doc_id AS ${rp.key}" else "doc_id"
    val probe = d.lookup.map(x => s" AND doc_id = $x").getOrElse("")
    val terms = rp.events.map { e =>
      val later = killersAfter(rp.killers, e.step)
      val kill =
        if (later.isEmpty) "" else later.mkString(" AND NOT (", " OR ", ")")
      val lang =
        if (!rp.evolved) ""
        else if (e.hasLang) ", lang"
        else ", CAST(NULL AS VARCHAR) AS lang"
      s"SELECT $key, source,${br}CAST(${e.value} AS BIGINT) AS " +
        s"${rp.value}$lang${nl}FROM documents WHERE (${e.pred})$kill$probe"
    }
    // lang sorts NULLS FIRST to match Spark's asc default (mixed
    // null/value ties happen when a pre- and post-evolution event
    // insert the same doc at the same value)
    val order =
      if (f.layout == Aliased) "1, 3"
      else "doc_id, n_chars" + (if (rp.evolved) ", lang NULLS FIRST" else "")
    terms.mkString("SELECT * FROM (\n", "\nUNION ALL\n",
      s"\n)${boxSql(d)} ORDER BY $order")
  }

  // ---- the executor --------------------------------------------------

  /** Runs chain `i` of family `f` through [[Sources]] and returns its
    * final read, ordered like the oracle. */
  private def run(f: Family, d: Draw, i: Int)
      : (SparkSession, String) => DataFrame = (s, dir) => {
    import graft.Checkpoints.CheckpointOps
    val path = java.nio.file.Files
      .createTempDirectory(s"graft_${f.tag}_").toString
    val docs = s.read.parquet(s"$dir/documents.parquet")
    def ofClass(m: Int, r: Int) =
      docs.filter(pmod(col("doc_id"), lit(m)) === r)
    var key = "doc_id"
    var value = "n_chars"
    var valType = if (f.shape == IntValue) "int" else "long"
    var evolved = false
    // the rows an insert writes, in the table's current shape
    def shaped(b: DataFrame, v: Column): DataFrame =
      if (f.shape == FullRows) b.withColumn("n_chars", v)
      else b.select(Seq(col("doc_id").as(key), col("source"),
        v.cast(valType).as(value)) ++
        (if (evolved) Seq(col("lang")) else Nil): _*)
    def batch(m: Int, r: Int, dd: Long) =
      shaped(ofClass(m, r), col("n_chars") + dd)
    val initial = docs.filter(d.w.toSeq.sorted
      .map(r => pmod(col("doc_id"), lit(d.m0)) === r).reduce(_ || _))
    val base =
      if (f.shape == FullRows) initial else shaped(initial, col("n_chars"))
    if (d.zInitial)
      Sources.writeShardedTableZOrdered(base, col("doc_id"),
        Seq("doc_id", "n_chars"), path, numShards = d.nShards)
    else
      Sources.writeShardedTable(base, col("doc_id"), col("doc_id"), path,
        numShards = d.nShards, statsCols = Seq("doc_id"),
        partitionCols = if (d.partitioned) Seq("source") else Nil)
    d.ops.foreach {
      case Append(m, r, dd, kind) =>
        val addsColumn = kind == Evolve && !evolved
        if (kind == Evolve) evolved = true
        if (kind == Widen) valType = "long"
        Sources.appendShardedTable(batch(m, r, dd), col(key), col(key),
          path, numShards = 2, statsCols = Seq(key),
          allowNewColumns = addsColumn)
      case Merge(m, r, dd) =>
        Sources.mergeShardedTable(batch(m, r, dd), key, col(key), path,
          numShards = 2, statsCols = Seq(key))
      case Update(m, r, c) =>
        Sources.updateShardedTable(s, path, key,
          pmod(col(key), lit(m)) === r,
          Seq(value -> (pmod(col(key), lit(400)) + c).cast("long")),
          col(key), numShards = 2, statsCols = Seq(key))
      case Delete(m, r) =>
        Sources.deleteFromShardedTable(s, path, key,
          ofClass(m, r).select(col("doc_id").as(key)))
      case DeleteWhere(m, r) =>
        Sources.deleteWhereShardedTable(s, path, key,
          pmod(col(key), lit(m)) === r)
      case ZReset(m, r, dd) =>
        Sources.writeShardedTableZOrdered(batch(m, r, dd), col(key),
          Seq(key, value), path, numShards = 2)
      case Compact =>
        Sources.compactShardedTable(s, path, col(key), col(key),
          numShards = 4, statsCols = Seq(key),
          smallDirRows = Long.MaxValue / 4)
      case Expire(keep) =>
        Sources.expireShardedSnapshots(s, path, keep)
      case RenameVal(ix) =>
        Sources.renameShardedTableColumn(s, path, value, s"val$ix")
        value = s"val$ix"
      case RenameKey(ix) =>
        Sources.renameShardedTableColumn(s, path, key, s"key$ix")
        key = s"key$ix"
    }
    val cols = Seq(col(key), col("source"),
      col(value).cast("long").as(value)) ++
      (if (evolved) Seq(col("lang")) else Nil)
    val res = finalRead(s, f, d, path, i).select(cols: _*).cut()
    if (d.surface == Catalog) s.sql(s"DROP TABLE gfuzz.t5.c$i")
    Sources.dropShardedTable(s, path)
    val order =
      if (f.layout == Nested) Seq(col(key))
      else Seq(col(key), col(value)) ++
        (if (evolved) Seq(col("lang").asc_nulls_first) else Nil)
    res.orderBy(order: _*)
  }

  /** The final read of chain `i` through its drawn surface. */
  private def finalRead(s: SparkSession, f: Family, d: Draw,
                        path: String, i: Int): DataFrame = {
    val box = d.box.map { case (lo, hi, k) =>
      col("doc_id").between(lo, hi) && col("n_chars") <= k }
    (d.lookup, d.surface) match {
      case (Some(x), _) =>
        Sources.buildShardedBloom(s, path, "doc_id", bits = 1 << 14, k = 3)
        Sources.readShardedTablePointLookup(s, path, "doc_id",
          lit(x.toLong)).filter(col("doc_id") === x)
      case (None, Format) =>
        val f0 = s.read.format("graft-sharded").load(path)
        box.fold(f0)(f0.where)
      case (None, Catalog) =>
        // ONE process-wide fuzz warehouse: catalog confs are
        // session-global, so a per-chain temp dir would silently
        // repoint earlier registrations
        val wh = s"${System.getProperty("java.io.tmpdir")}" +
          s"/graft_${f.tag}_warehouse"
        s.conf.set("spark.sql.catalog.gfuzz", "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.gfuzz.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS gfuzz.t5")
        s.sql(s"DROP TABLE IF EXISTS gfuzz.t5.c$i")
        s.sql(s"""CREATE TABLE gfuzz.t5.c$i
              (doc_id BIGINT, source STRING, n_chars BIGINT)
              USING `graft-sharded` LOCATION '$path'
              TBLPROPERTIES ('idCol'='doc_id')""")
        s.sql(s"SELECT doc_id, source, n_chars FROM gfuzz.t5.c$i${boxSql(d)}")
      case (None, Library) => box match {
        case Some(p) => Sources.readShardedTableWhere(s, path, p)
        case None => Sources.readShardedTable(s, path)
      }
    }
  }
}
