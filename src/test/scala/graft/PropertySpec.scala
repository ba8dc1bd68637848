package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.apache.spark.sql.functions._
import graft.dsl.Domain._
import graft.dsl.Range._

/** Port of the reference's property-based layer (`test/core.clj:7-48`):
  * random nested structures generated from the domain shape, engine
  * result compared against an independent Scala-collections oracle.
  * Trial counts follow the reference (20 per property, sizes <= 10). */
class PropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val params =
    SCTest.Parameters.default.withMinSuccessfulTests(10).withWorkers(1)

  private val keyGen = Gen.oneOf("a", "b", "c", "d", "e")
  private val nested: Gen[Map[String, Map[String, Int]]] =
    Gen.mapOf(Gen.zip(keyGen,
      Gen.mapOf(Gen.zip(keyGen, Gen.choose(0, 100))).map(_.take(5))))
      .map(_.take(5))

  test("swap-key-order property (test/core.clj:51-59)") {
    val prop = Prop.forAll(nested) { m =>
      val oracle: Map[String, Map[String, Int]] =
        (for { (k1, inner) <- m.toSeq; (k2, v) <- inner.toSeq }
          yield (k2, k1, v))
          .groupBy(_._1)
          .map { case (k2, xs) => k2 -> xs.map(t => t._2 -> t._3).toMap }
      val in = Seq(m).toDF("value")
      val got = Transform(
        Entries(Seq((KAll(Leaf("k1")): DKey) ->
          Entries(Seq((KAll(Leaf("k2")): DKey) -> Leaf("v"))))),
        RMap(col("k2"), RMap(col("k1"), RScalar(col("v")))))
        .nested(in)
        .collect()(0)
      val res =
        if (got.isNullAt(0)) Map.empty[String, Map[String, Int]]
        else got.getAs[Map[String, Map[String, Int]]](0)
          .map { case (k, v) => k -> v.toMap }.toMap
      res == oracle
    }
    val r = SCTest.check(params, prop)
    assert(r.passed, r.status.toString)
  }

  test("n-at-a-time chunking equals grouped() with null tail (test/core.clj:93-115)") {
    val vecs: Gen[List[Int]] = Gen.listOf(Gen.choose(0, 100)).map(_.take(9))
    val prop = Prop.forAll(vecs) { xs =>
      val oracle: List[(Any, Any)] = xs.grouped(2).map { g =>
        (g.head: Any, if (g.size > 1) (g(1): Any) else (null: Any))
      }.toList
      val in = Seq(xs).toDF("value")
      val got = Transform(
        Vec(Seq(Leaf("a"), Leaf("b"))),
        RRows(Seq("a" -> col("a"), "b" -> col("b"))))
        .apply(in).collect().map(r => (r.get(0), r.get(1))).toList
      // chunk order within one array is preserved by the lowering's
      // chunk-index sequence; compare as multisets to stay partition-safe
      got.groupBy(identity).view.mapValues(_.size).toMap ==
        oracle.groupBy(identity).view.mapValues(_.size).toMap
    }
    val r = SCTest.check(params, prop)
    assert(r.passed, r.status.toString)
  }

  test("where placement never changes results, only work (README.md:301-312)") {
    val flat: Gen[List[(String, Int)]] =
      Gen.listOfN(12, Gen.zip(keyGen, Gen.choose(0, 50)))
    val prop = Prop.forAll(flat) { xs =>
      val oracle = xs.filter(t => t._1 != "a" && t._2 % 2 == 0)
        .map(_._2).sorted
      val in = xs.toDF("k", "v")
      val got = Transform(rows("k", "v"),
        RList(col("v"), sorted = true),
        where = Seq(col("k") =!= "a", pmod(col("v"), lit(2)) === 0))
        .nested(in).collect()(0)
      val res = if (got.isNullAt(0)) Nil else got.getSeq[Int](0).toList
      res == oracle
    }
    val r = SCTest.check(params, prop)
    assert(r.passed, r.status.toString)
  }

  test("3-level nesting: {a {b [v]}} -> {b [v]} regroup (README.md:91-151)") {
    val gen: Gen[Map[String, Map[String, List[Int]]]] =
      Gen.mapOf(Gen.zip(keyGen,
        Gen.mapOf(Gen.zip(keyGen,
          Gen.listOf(Gen.choose(0, 50)).map(_.take(4)))).map(_.take(4))))
        .map(_.take(4))
    val prop = Prop.forAll(gen) { m =>
      val oracle: Map[String, List[Int]] =
        (for { (_, inner) <- m.toSeq; (b, vs) <- inner.toSeq; v <- vs }
          yield (b, v))
          .groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).sorted.toList }
      val in = Seq(m).toDF("value")
      val got = Transform(
        Entries(Seq((KAll(Leaf("a")): DKey) ->
          Entries(Seq((KAll(Leaf("b")): DKey) -> Vec(Leaf("v")))))),
        RMap(col("b"), RList(col("v"), sorted = true)))
        .nested(in).collect()(0)
      val res = if (got.isNullAt(0)) Map.empty[String, List[Int]]
        else got.getAs[Map[String, scala.collection.Seq[Int]]](0)
          .map { case (k, v) => k -> v.toList }.toMap
      res == oracle
    }
    val r = SCTest.check(params, prop)
    assert(r.passed, r.status.toString)
  }

  test("set range dedups values per group (README.md:94-129)") {
    val flat: Gen[List[(String, Int)]] =
      Gen.listOfN(15, Gen.zip(keyGen, Gen.choose(0, 5))) // collisions likely
    val prop = Prop.forAll(flat) { xs =>
      val oracle = xs.groupBy(_._1).map { case (k, vs) =>
        k -> vs.map(_._2).distinct.sorted }
      val in = xs.toDF("k", "v")
      val got = Transform(rows("k", "v"),
        RMap(col("k"), RSet(col("v"))))
        .apply(in).collect()
        .map(r => r.getString(0) -> r.getSeq[Int](1).toList).toMap
      got == oracle
    }
    val r = SCTest.check(params, prop)
    assert(r.passed, r.status.toString)
  }

  test("asof backward join matches the per-row max-before oracle") {
    // right keys/times occasionally null: null never equi-matches and a
    // null time is never "at or before" anything (SQL/ASOF semantics)
    val optInt = Gen.frequency(9 -> Gen.choose(1, 3).map(Option(_)),
                               1 -> Gen.const(Option.empty[Int]))
    val gen: Gen[(List[(Int, Int)], List[(Option[Int], Option[Int], Int)])] =
      Gen.zip(
        Gen.listOfN(10, Gen.zip(Gen.choose(1, 3), Gen.choose(0, 30))),
        Gen.listOfN(10, Gen.zip(optInt,
          Gen.frequency(9 -> Gen.choose(0, 30).map(Option(_)),
                        1 -> Gen.const(Option.empty[Int])),
          Gen.choose(100, 999))))
    val prop = Prop.forAll(gen) { case (ls, rsRaw) =>
      // make (k, rt) unique on the right so the matched payload is
      // well-defined (ties would be arbitrary in both engines)
      val rs = rsRaw.groupBy(t => (t._1, t._2)).values.map(_.head).toList
      val oracle = ls.map { case (k, t) =>
        val cands = rs.filter(r =>
          r._1.contains(k) && r._2.exists(_ <= t))
        (k, t, if (cands.isEmpty) None
               else Some(cands.maxBy(_._2.get)._3))
      }.groupBy(identity).view.mapValues(_.size).toMap
      val left = ls.toDF("k", "t")
      val right = rs.toDF("k", "rt", "v")
      def run(d: org.apache.spark.sql.DataFrame) = d.collect()
        .map(r => (r.getInt(0), r.getInt(1),
                   if (r.isNullAt(2)) None else Some(r.getInt(2))))
        .toList.groupBy(identity).view.mapValues(_.size).toMap
      val got = run(graft.ops.Relational.asofJoinBackward(left, right,
        "k", "t", "rt", Map("v" -> "av")))
      // the skew-bucketed form must satisfy the same oracle (bucket size
      // chosen so chunks, carry-ins, and empty buckets all occur)
      val gotBucketed = run(graft.ops.Relational.asofJoinBackwardBucketed(
        left, right, "k", "t", "rt", Map("v" -> "av"),
        bucketOf = tc => floor(tc / 7)))
      got == oracle && gotBucketed == oracle
    }
    val r = SCTest.check(params, prop)
    assert(r.passed, r.status.toString)
  }

  test("root chunking under declared order equals grouped() for any k") {
    val gen: Gen[(Int, List[Int])] = Gen.zip(
      Gen.choose(2, 4),
      Gen.listOfN(11, Gen.choose(0, 1000)).map(_.distinct))
    val prop = Prop.forAll(gen) { case (k, ids) =>
      val oracle = ids.sorted.grouped(k).map { g =>
        (0 until k).map(j => if (j < g.size) (g(j): Any) else (null: Any))
      }.toList
      val in = scala.util.Random.shuffle(ids).toDF("id")
      val pats = (0 until k).map(j =>
        Entries(Seq((KField("id"): DKey) -> Leaf(s"e$j"))): graft.dsl.Domain)
      val got = Transform(Vec(pats),
          RRows((0 until k).map(j => s"e$j" -> col(s"e$j"))),
          rootOrder = Seq("id"))
        .apply(in).collect().map(_.toSeq.toIndexedSeq).toList
      got.sortBy(_.head.asInstanceOf[Int]) ==
        oracle.sortBy(_.head.asInstanceOf[Int])
    }
    val r = SCTest.check(params, prop)
    assert(r.passed, r.status.toString)
  }

  test("group-by-key collects all values (README.md:91-129)") {
    val flat: Gen[List[(String, Int)]] =
      Gen.listOfN(12, Gen.zip(keyGen, Gen.choose(0, 50)))
    val prop = Prop.forAll(flat) { xs =>
      val oracle = xs.groupBy(_._1).map { case (k, vs) =>
        k -> vs.map(_._2).sorted }
      val in = xs.toDF("k", "v")
      val got = Transform(rows("k", "v"),
        RMap(col("k"), RList(col("v"), sorted = true)))
        .apply(in).collect()
        .map(r => r.getString(0) -> r.getSeq[Int](1).toList).toMap
      got == oracle
    }
    val r = SCTest.check(params, prop)
    assert(r.passed, r.status.toString)
  }

  test("kCorePeel equals a driver-side reference peel on random graphs") {
    val edgeGen: Gen[List[(Long, Long)]] =
      Gen.listOfN(18, Gen.zip(Gen.choose(1L, 8L), Gen.choose(1L, 8L)))
    val prop = Prop.forAll(edgeGen, Gen.choose(1, 3),
                           Gen.choose(1, 4)) { (es, k, rounds) =>
      // reference: canonicalize, then `rounds` exact peels
      var e = es.collect { case (a, b) if a != b =>
        (math.min(a, b), math.max(a, b)) }.distinct
      for (_ <- 1 to rounds) {
        val deg = e.flatMap(p => Seq(p._1, p._2))
          .groupBy(identity).view.mapValues(_.size).toMap
        val keep = deg.filter(_._2 >= k).keySet
        e = e.filter(p => keep(p._1) && keep(p._2))
      }
      val want = e.flatMap(p => Seq(p._1, p._2))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val got = ops.Graph.kCorePeel(es.toDF("x", "y"), col("x"), col("y"),
          k, rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got == want
    }
    val r = SCTest.check(params, prop)
    assert(r.passed, r.status.toString)
  }

  test("skyline2D equals the quadratic domination scan on random points") {
    val ptsGen: Gen[List[(Long, Long)]] = Gen.nonEmptyListOf(
      Gen.zip(Gen.choose(0L, 12L), Gen.choose(0L, 12L)))
    val prop = Prop.forAll(ptsGen) { pts =>
      val want = pts.zipWithIndex.filterNot { case ((x, y), i) =>
        pts.zipWithIndex.exists { case ((ox, oy), j) =>
          j != i && ox <= x && oy >= y && (ox < x || oy > y)
        }
      }.map(_._1).groupBy(identity).view.mapValues(_.size).toMap
      val got = ops.Relational.skyline2D(pts.toDF("x", "y"),
          col("x"), col("y"), partitions = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(identity).view.mapValues(_.size).toMap
      got == want
    }
    val r = SCTest.check(params, prop)
    assert(r.passed, r.status.toString)
  }

  test("stripBoilerplate equals a driver-side DF filter on random docs") {
    val vocab = Vector("a", "b", "c", "d", "e")
    val docGen: Gen[List[String]] = Gen.listOfN(6,
      Gen.listOfN(5, Gen.oneOf(vocab)).map(_.mkString(" ")))
    val prop = Prop.forAll(docGen, Gen.choose(1, 3)) { (texts, num) =>
      val den = 4
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val n = docs.length
      val dfCnt = docs.flatMap { case (id, t) =>
        t.split(" ").filter(_.nonEmpty).distinct.map(w => (w, id)) }
        .groupBy(_._1).view.mapValues(_.size).toMap
      val boiler = dfCnt.filter { case (_, c) => c * den > n * num }.keySet
      val want = docs.map { case (id, t) =>
        val segs = t.split(" ").filter(_.nonEmpty).toSeq
        val kept = segs.filterNot(boiler)
        id -> ((kept.mkString(" "), kept.size.toLong,
          (segs.size - kept.size).toLong))
      }.toMap
      val got = ops.Dedup.stripBoilerplate(docs.toDF("id0", "txt"),
          col("id0"), col("txt"), " ", num, den)
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
      got == want
    }
    val r = SCTest.check(params, prop)
    assert(r.passed, r.status.toString)
  }

  test("equiDepthHistogram partitions all rows with ordered buckets") {
    val valGen: Gen[List[Long]] =
      Gen.nonEmptyListOf(Gen.choose(-50L, 50L))
    val prop = Prop.forAll(valGen, Gen.choose(2, 6)) { (vs, k) =>
      val rows = ops.Relational.equiDepthHistogram(
          vs.toDF("v"), col("v"), k)
        .collect().map(r => (r.getInt(0), r.getLong(1),
          r.getLong(2), r.getLong(3)))
      val total = rows.map(_._2).sum == vs.length.toLong
      val ordered = rows.sortBy(_._1).sliding(2).forall {
        case Array((_, _, _, hi1), (_, _, lo2, _)) => hi1 <= lo2
        case _ => true
      }
      val bounds = rows.forall { case (b, _, lo, hi) =>
        b >= 0 && b < k && lo <= hi }
      total && ordered && bounds
    }
    val r = SCTest.check(params, prop)
    assert(r.passed, r.status.toString)
  }

  test("labelPropagation equals a driver-side sync LPA on random graphs") {
    val edgeGen: Gen[List[(Long, Long)]] =
      Gen.listOfN(16, Gen.zip(Gen.choose(1L, 7L), Gen.choose(1L, 7L)))
    val prop = Prop.forAll(edgeGen, Gen.choose(1, 4)) { (es, rounds) =>
      val e = es.collect { case (a, b) if a != b =>
        (math.min(a, b), math.max(a, b)) }.distinct
      val adj = (e ++ e.map(_.swap)).groupBy(_._1).view
        .mapValues(_.map(_._2)).toMap
      var lbl = adj.keySet.map(n => n -> n).toMap
      for (_ <- 1 to rounds) {
        lbl = adj.map { case (n, nbs) =>
          // most frequent neighbor label, ties to the smallest
          val hist = nbs.map(lbl).groupBy(identity).view
            .mapValues(_.size).toMap
          val mx = hist.values.max
          n -> hist.collect { case (l, c) if c == mx => l }.min
        }
      }
      val got = ops.Graph.labelPropagation(es.toDF("x", "y"),
          col("x"), col("y"), rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got == lbl
    }
    val r = SCTest.check(params, prop)
    assert(r.passed, r.status.toString)
  }

  test("asofJoinForward equals a driver-side nearest-follower scan") {
    // unique (k, rt) on the right so the matched payload is
    // well-defined (the op documents ties as engine-arbitrary)
    val leftGen: Gen[List[(Long, Long)]] =
      Gen.listOfN(8, Gen.zip(Gen.choose(1L, 3L), Gen.choose(0L, 30L)))
    val rightGen: Gen[List[(Long, Long)]] =
      Gen.listOfN(8, Gen.zip(Gen.choose(1L, 3L), Gen.choose(0L, 30L)))
        .map(_.distinct)
    val prop = Prop.forAll(leftGen, rightGen) { (ls, rs0) =>
      val rs = rs0.zipWithIndex.map { case ((k, t), i) =>
        (k, t, s"p$i") }
      val want = ls.map { case (k, t) =>
        val cand = rs.filter(r => r._1 == k && r._2 >= t)
        (k, t, if (cand.isEmpty) None
               else Some(cand.minBy(r => (r._2, r._3))._3))
      }.groupBy(x => x).view.mapValues(_.size).toMap
      val got = ops.Relational.asofJoinForward(
          ls.toDF("k", "t"), rs.toDF("k", "rt", "p"),
          "k", "t", "rt", Map("p" -> "pv"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1),
          Option(r.getString(r.fieldIndex("pv")))))
        .groupBy(x => x).view.mapValues(_.size).toMap
      // rs has unique (k, rt) so min-by-(rt, p) == min-by-rt: the
      // reference is deterministic exactly where the op promises it
      got == want
    }
    val r = SCTest.check(params, prop)
    assert(r.passed, r.status.toString)
  }

  test("weighted quantile: driver-oracle equality + monotone in q") {
    // 1-4 groups; small values share buckets' edges, full-range values
    // land in far-apart buckets; zero weights make ties at the threshold
    val value = Gen.oneOf(Gen.choose(-50L, 50L),
      Gen.choose(Long.MinValue, Long.MaxValue))
    val gen = Gen.choose(1, 4).flatMap(groups => Gen.nonEmptyListOf(
      Gen.zip(Gen.choose(1, groups).map(i => s"g$i"), value,
        Gen.choose(0L, 9L))).map(_.take(12)))
    val prop = Prop.forAll(gen) { gvw =>
      val df = gvw.toDF("g", "v", "w")
      def q(n: Int, d: Int): Map[String, Long] =
        ops.Relational.weightedQuantile(df, col("g"), col("v"),
          col("w"), n, d).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      // driver oracle: smallest v with cumw*den >= tot*num over each
      // group's per-value-collapsed ascending walk
      def oracle(num: Int, den: Int): Map[String, Long] =
        WeightedQuantileOracle(
          gvw.map { case (g, v, w) => (Some(g), Some(v), Some(w)) },
          num, den).map { case (g, v, _) => g.get -> v.get }.toMap
      val (q14, q12, q910, q11) = (q(1, 4), q(1, 2), q(9, 10), q(1, 1))
      q12 == oracle(1, 2) && q14 == oracle(1, 4) &&
        q910 == oracle(9, 10) &&
        // monotone: a higher quantile never selects a smaller value
        q12.keys.forall(g =>
          q14(g) <= q12(g) && q12(g) <= q910(g) && q910(g) <= q11(g))
    }
    val r = SCTest.check(params, prop)
    assert(r.passed, r.status.toString)
  }

  test("capped sessions match a driver replay; cap only ever splits") {
    val gen = Gen.nonEmptyListOf(Gen.choose(0L, 5000L)).map(_.take(20))
    val prop = Prop.forAll(gen) { ts0 =>
      val ts = ts0.distinct.sorted
      val df = ts.zipWithIndex.map { case (t, i) => (1L, i.toLong, t) }
        .toDF("u", "o", "sec")
        .withColumn("ts", timestamp_seconds(col("sec")))
      def engine(gap: Long, cap: Long): (Long, Long, Long) = {
        val r = ops.Events.sessionStatsCapped(df, col("u"), col("ts"),
          col("o"), gap, cap).collect().head
        (r.getLong(1), r.getLong(2), r.getLong(3))
      }
      def replay(gap: Long, cap: Long): (Long, Long, Long) = {
        var start = ts.head; var prev = ts.head
        var n = 1L; var longest = 0L
        ts.tail.foreach { t =>
          if (t - prev > gap || t - start > cap) {
            longest = math.max(longest, prev - start)
            start = t; n += 1
          }
          prev = t
        }
        (ts.size.toLong, n, math.max(longest, prev - start))
      }
      val cases = Seq((300L, 900L), (100L, 100L), (1000L, 4000L))
      cases.forall { case (g, c) =>
        val e = engine(g, c)
        e == replay(g, c) &&
          // the cap can only SPLIT relative to plain gap sessions
          e._2 >= engine(g, 1000000L)._2
      }
    }
    val r = SCTest.check(params, prop)
    assert(r.passed, r.status.toString)
  }

  test("interval merge: spans disjoint, cover every input, keep mass") {
    val gen = Gen.nonEmptyListOf(
      Gen.zip(Gen.choose(0L, 60L), Gen.choose(0L, 15L))).map(_.take(15))
    val prop = Prop.forAll(gen) { se =>
      val iv = se.map { case (s, len) => ("k", s, s + len) }
      val spans = ops.Events.mergeIntervals(
          iv.toDF("k", "s", "e"), col("k"), col("s"), col("e"))
        .collect().map(r => (r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
      // disjoint with real gaps between consecutive spans
      val disjoint = spans.sliding(2).forall {
        case Array((_, e1), (s2, _)) => s2 > e1
        case _ => true
      }
      // every input interval sits inside exactly one span
      val covered = iv.forall { case (_, s, e) =>
        spans.count(sp => sp._1 <= s && e <= sp._2) == 1 }
      // covered mass equals the exact union length (point-count oracle)
      val unionLen = iv.flatMap { case (_, s, e) => s until e }
        .distinct.size.toLong
      val spanLen = spans.map { case (s, e) => e - s }.sum
      disjoint && covered && spanLen == unionLen
    }
    val r = SCTest.check(params, prop)
    assert(r.passed, r.status.toString)
  }
}
