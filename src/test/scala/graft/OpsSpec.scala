package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops._

/** Dedup / similarity operators against exact ground truth. */
class OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import TestSpark.sf0001

  private def docs = spark.read.parquet(s"$sf0001/documents.parquet")
  private def embs = spark.read.parquet(s"$sf0001/embeddings.parquet")

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("minhash LSH finds exactly the true jaccard pairs on this corpus") {
    val truth = pairSet(Dedup.jaccardPairs(docs, col("doc_id"), col("text"), 0.6))
    val lsh = pairSet(Dedup.minhashLshPairs(docs, col("doc_id"), col("text"), 0.6))
    assert(lsh == truth)
    assert(truth.nonEmpty) // corpus has planted near-dups
  }

  test("prefix-filtered pairs equal the exact word-jaccard join") {
    // driver-side exact reference: all-pairs over the full corpus
    val sets = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0),
                 Option(r.getString(1)).getOrElse("")
                   .split(" ").filter(_.nonEmpty).toSet))
      .filter(_._2.nonEmpty)
    val expected = (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      co = (sa & sb).size
      if co * 20 >= (sa.size + sb.size - co) * 19
    } yield (a, b)).toSet
    val got = pairSet(Dedup.prefixFilterPairs(
      docs, col("doc_id"), col("text"), tauNum = 19, tauDen = 20))
    assert(got == expected)
    assert(expected.nonEmpty) // corpus has planted near-dups
  }

  test("deletion-neighborhood pairs equal brute-force symdiff <= 1") {
    val sets = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0),
                 Option(r.getString(1)).getOrElse("")
                   .split(" ").filter(_.nonEmpty).toSet))
      .filter(_._2.nonEmpty)
    val expected = (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      d = (sa -- sb).size + (sb -- sa).size
      if d <= 1
    } yield (a, b, d)).toSet
    val got = Dedup.deletionNeighborPairs(docs, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == expected)
    assert(expected.nonEmpty) // corpus has planted near-dups
  }

  test("deletion-neighborhood catches add, remove, and swap of one token") {
    import spark.implicits._
    val d = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma"),          // 1 minus delta  -> symdiff 1
      (3L, "alpha beta gamma delta eps"),// 1 plus eps     -> symdiff 1
      (4L, "alpha beta gamma zeta"),     // swap vs 1: symdiff 2 ->
                                         // excluded; vs 2: +zeta -> 1
      (5L, "delta gamma beta alpha")     // same set as 1, reordered -> 0
    ).toDF("doc_id", "text")
    val got = Dedup.deletionNeighborPairs(d, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == Set((1L, 2L, 1), (1L, 3L, 1), (1L, 5L, 0),
                      (2L, 4L, 1), (2L, 5L, 1), (3L, 5L, 1)))
  }

  test("incremental deletion screen equals brute force across the split") {
    val sets = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0),
                 Option(r.getString(1)).getOrElse("")
                   .split(" ").filter(_.nonEmpty).toSet))
      .filter(_._2.nonEmpty)
    val expected = (for {
      (a, sa) <- sets if a % 2 == 1
      (b, sb) <- sets if b % 2 == 0
      d = (sa -- sb).size + (sb -- sa).size
      if d <= 1
    } yield (a, b, d)).toSet
    val got = Dedup.deletionNeighborPairsBetween(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0),
        col("doc_id"), col("doc_id"), col("text"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == expected)
    assert(expected.nonEmpty)
  }

  test("hard negatives exclude same-label neighbors and fill the top-k") {
    import spark.implicits._
    // 1-D directions: label 0 vectors point +x, label 1 point -x; the
    // nearest same-direction vector is ALWAYS same-label, so a
    // post-filter top-k would differ from the fused anti-filter
    val vs = Seq(
      (0L, Array(1.0f, 0.0f), 0L), (1L, Array(0.9f, 0.1f), 0L),
      (2L, Array(0.8f, 0.2f), 0L), (3L, Array(-1.0f, 0.0f), 1L),
      (4L, Array(-0.9f, -0.1f), 1L), (5L, Array(0.0f, 1.0f), 2L))
      .toDF("vec_id", "embedding", "lbl")
    val got = Similarity.hardNegatives(
        vs, vs.filter(col("vec_id") === 0),
        col("vec_id"), col("embedding"), col("lbl"),
        col("vec_id"), col("embedding"), col("lbl"), k = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getInt(4)))
    // for the +x query: best non-0-label is the orthogonal label-2
    // (cos 0), then the -x label-1s (cos < 0); never vec 1 or 2
    assert(got.map(_._1).toSeq == Seq(5L, 4L))
    assert(got.forall(_._2 != 0L))
  }

  test("prefix filtering is exact under a corpus-wide stop token") {
    import spark.implicits._
    // every doc shares "the" (hot token, sorts LAST in the canonical
    // order); pairs must still surface even though "the" never enters
    // any prefix. J(1,2) = 3/5 = 0.6 >= 3/5; J with doc 3 is below.
    val d = Seq(
      (1L, "the alpha beta gamma xray"),
      (2L, "the alpha beta gamma yankee"),
      (3L, "the zulu omega psi chi")).toDF("doc_id", "text")
    val got = pairSet(Dedup.prefixFilterPairs(
      d, col("doc_id"), col("text"), tauNum = 3, tauDen = 5))
    assert(got == Set((1L, 2L)))
  }

  test("simhash candidates are a high-recall subset of true pairs") {
    val truth = pairSet(Dedup.jaccardPairs(docs, col("doc_id"), col("text"), 0.6))
    val sim = pairSet(Dedup.simhashPairs(docs, col("doc_id"), col("text"), 0.6))
    assert(sim.subsetOf(truth))           // precision 1 (exact-verified)
    assert(sim.size * 2 >= truth.size)    // recall >= 0.5 (banding bound)
  }

  test("cosine LSH recovers planted duplicate vectors (scale path)") {
    // plant exact-direction duplicates: id+10000, scaled 1.1 (cos == 1)
    val planted = embs.limit(20)
      .select((col("vec_id") + 10000).as("vec_id"),
              transform(col("embedding"), x => x * lit(1.1f)).as("embedding"))
    val corpus = embs.select("vec_id", "embedding").union(planted)
    val found = pairSet(Similarity.cosinePairsLsh(
      corpus, col("vec_id"), col("embedding"), tau = 0.99))
    val expected = (0L until 20L).map(i => (i, i + 10000)).toSet
    assert(expected.subsetOf(found), s"missing: ${expected -- found}")
    // verify step guarantees precision at tau
    assert(found.forall { case (a, b) => b - a == 10000 })
  }

  test("connected components label every node with its component min") {
    import spark.implicits._
    // two clusters + a chain long enough to need pointer jumping, with
    // ids deliberately ordered so min-labels must flow AGAINST edge
    // direction, plus a duplicate and a reversed pair
    val edges = Seq(
      (2L, 1L), (2L, 3L), (3L, 4L),                 // cluster min 1
      (10L, 11L), (11L, 10L), (10L, 11L),           // dup + reversed
      (20L, 21L), (21L, 22L), (22L, 23L), (23L, 24L),
      (24L, 25L), (25L, 26L), (26L, 27L)            // diameter-7 chain
    ).toDF("id1", "id2")
    val want = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L) ++
      (20L to 27L).map(_ -> 20L).toMap
    // both the driver union-find fast path (default threshold) and the
    // distributed propagation loop (threshold 0) must agree
    for (thr <- Seq(100000L, 0L)) {
      val got = Dedup.connectedComponents(edges, col("id1"), col("id2"),
          driverThreshold = thr)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"driverThreshold=$thr")
    }
  }

  test("connected components match a union-find oracle on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    for (_ <- 0 until 5) {
      val n = 30
      val edges = Seq.fill(25)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // driver-side union-find ground truth
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(x => x -> find(x)).toMap
      // distributed path forced (threshold 0): the random graphs are the
      // differential test that the loop matches plain union-find
      val got = Dedup.connectedComponents(
          edges.toDF("id1", "id2"), col("id1"), col("id2"),
          driverThreshold = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want)
    }
  }

  test("cluster dedup keeps one survivor per component, pair policy may not") {
    import spark.implicits._
    // star: 3~1 and 3~2 similar, 1~2 not. Pair policy drops only the
    // higher id of each PAIR (3), keeping 1 AND 2; cluster policy keeps
    // exactly the component min (1). Build texts that realize it: t1/t2
    // each share >=60% shingles with t3 but <60% with each other.
    val a = (1 to 8).map(i => s"a$i").mkString(" ")   // 6 shingles a1..a6
    val b = (1 to 8).map(i => s"b$i").mkString(" ")
    val t3 = a + " " + b                               // shares all of each
    val docsDf = Seq((1L, a), (2L, b), (3L, t3)).toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(docsDf, col("doc_id"), col("text"), 0.4)
    assert(pairSet(pairs) == Set((1L, 3L), (2L, 3L)))
    val kept = Pipeline(docsDf, "doc_id", "text")
      .removeNearDupClusters(0.4).result
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L))
    val keptPairPolicy = Pipeline(docsDf, "doc_id", "text")
      .removeNearDups(0.4).result
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptPairPolicy == Set(1L, 2L))
  }

  test("cosine LSH at tau 0.4 (q49 config) equals the exact pairs") {
    // the corpus's true pairs sit at cosine 0.40-0.55 (no planted
    // high-cosine dups), so recall must hold right at the threshold:
    // nPlanes=2/tables=24, deterministic seeded planes (tuning math in
    // Similarity.cosinePairsLsh; recall at sf0.01/sf0.1 is checked by
    // q49's exact-pairs oracle, embeddingPairsSql, in Verify and Bench)
    val exact = pairSet(Dedup.embeddingPairs(
      embs, col("vec_id"), col("embedding"), tau = 0.4))
    val lsh = pairSet(Similarity.cosinePairsLsh(
      embs, col("vec_id"), col("embedding"), tau = 0.4,
      nPlanes = 2, tables = 24))
    assert(lsh == exact)
    assert(exact.nonEmpty)
  }

  test("cosine LSH silently excludes null embeddings like the exact path") {
    // a null vector must be dropped (as Dedup.embeddingPairs drops it via
    // the null-cosine filter), NOT abort the job through the dim check
    val withNull = embs.limit(20).select("vec_id", "embedding")
      .union(spark.range(1).select(
        lit(99999L).as("vec_id"),
        lit(null).cast("array<float>").as("embedding")))
    val found = pairSet(Similarity.cosinePairsLsh(
      withNull, col("vec_id"), col("embedding"), tau = 0.99))
    assert(!found.exists { case (a, b) => a == 99999L || b == 99999L })
  }

  test("topKPerGroup rejects a keepRankAs name that already exists") {
    val ex = intercept[IllegalArgumentException] {
      Relational.topKPerGroup(docs, Seq(col("source")),
        Seq(col("doc_id").asc), 3, keepRankAs = Some("doc_id"))
    }
    assert(ex.getMessage.contains("doc_id"))
  }

  test("asofJoinBackward rejects reserved working columns on the left") {
    val left = docs.select(col("doc_id"), col("doc_id").as("__t"))
    val ex = intercept[IllegalArgumentException] {
      Relational.asofJoinBackward(left, docs.select("doc_id"),
        key = "doc_id", leftTime = "doc_id", rightTime = "doc_id",
        payload = Map("doc_id" -> "other"))
    }
    assert(ex.getMessage.contains("__t"))
  }

  test("asofJoinBackward rejects payload names colliding with the left") {
    val left = docs.select(col("doc_id"), col("source"))
    val ex = intercept[IllegalArgumentException] {
      Relational.asofJoinBackward(left, docs.select("doc_id"),
        key = "doc_id", leftTime = "doc_id", rightTime = "doc_id",
        payload = Map("doc_id" -> "source")) // would clobber left.source
    }
    assert(ex.getMessage.contains("source"))
    val ex2 = intercept[IllegalArgumentException] {
      Relational.asofJoinBackwardBucketed(left, docs.select("doc_id"),
        key = "doc_id", leftTime = "doc_id", rightTime = "doc_id",
        payload = Map("doc_id" -> "source"), bucketOf = identity)
    }
    assert(ex2.getMessage.contains("source"))
  }

  test("topKPerGroup rejects a pre-existing __rn working column") {
    val ex = intercept[IllegalArgumentException] {
      Relational.topKPerGroup(
        docs.select(col("doc_id"), col("doc_id").as("__rn")),
        Seq(col("doc_id")), Seq(col("doc_id").asc), 3)
    }
    assert(ex.getMessage.contains("__rn"))
  }

  test("paragraph dedup keeps first occurrence corpus-wide, reassembles in order") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "a|b|c"),  // all first occurrences
      (2L, "b|d"),    // b dupes doc1 -> "d"
      (3L, "a|b"),    // fully duplicated -> ""
      (4L, "c|c"),    // c dupes doc1 (both copies) -> ""
      (5L, "e|e")     // within-doc dup: first copy survives -> "e"
    ).toDF("id", "text")
    val got = Dedup.dedupParagraphs(corpus, col("id"), col("text"), sep = "|")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a|b|c", 2L -> "d", 3L -> "", 4L -> "", 5L -> "e"))
  }

  test("decontamination flags exactly the docs sharing an eval n-gram") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "p q r s t u"),      // contains eval 4-gram "q r s t"
      (2L, "a b c d e f"),      // clean
      (3L, "x y z w q r s t")   // contaminated too
    ).toDF("id", "text")
    val ev = Seq("m n q r s t o").toDF("etext")
    val hits = Dedup.contaminatedDocs(corpus, ev,
        col("id"), col("text"), col("etext"), n = 4)
    assert(hits.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 3L -> 1L))
    // eval shingle set must broadcast: the corpus side never shuffles
    assert(hits.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"))
    val clean = Dedup.decontaminate(corpus, ev,
        col("id"), col("text"), col("etext"), n = 4)
    assert(clean.select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("exact dedup keeps the first doc per key deterministically") {
    val kept = Dedup.exactKeepFirst(docs,
      concat_ws(" ", slice(split(col("text"), " "), 1, 8)), col("doc_id"))
    val n = kept.count()
    assert(n < docs.count()) // planted near-dups share prefixes
    // kept ids are group minima: re-running yields the identical set
    assert(kept.collect().map(_.getLong(1)).toSet ==
      Dedup.exactKeepFirst(docs,
        concat_ws(" ", slice(split(col("text"), " "), 1, 8)), col("doc_id"))
        .collect().map(_.getLong(1)).toSet)
  }

  test("IVF ANN finds planted duplicates at rank 1 (probe path)") {
    // a scaled copy has cosine 1 with its source and lands in the same
    // Voronoi cell, so nProbe >= 1 must surface it first
    val planted = embs.limit(10)
      .select((col("vec_id") + 10000).as("vec_id"),
              transform(col("embedding"), x => x * lit(1.1f)).as("embedding"))
    val corpus = embs.select("vec_id", "embedding").union(planted)
    val got = Similarity.ivfTopK(corpus, planted,
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        k = 3)
      .filter(col("rank") === 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    (0L until 10L).foreach { i =>
      assert(got(i + 10000) == i, s"query ${i + 10000} should rank $i first")
    }
  }

  test("kmeans training tightens clusters and plugs into IVF") {
    val k = 8
    val trained = Similarity.kmeansCentroids(embs,
      col("vec_id"), col("embedding"), k, iters = 3)
    assert(trained.size == k && trained.forall(_.nonEmpty))
    // mean best-centroid cosine must not degrade vs the untrained init
    def meanBest(cents: Seq[Seq[Double]]): Double = {
      import graft.functions.VectorFunctions._
      val c = typedlit(cents)
      embs.select(
          array_max(transform(sequence(lit(0), lit(k - 1)), i =>
            cosine(toDouble(col("embedding")), element_at(c, i + 1))))
            .as("best"))
        .agg(avg("best")).collect()(0).getDouble(0)
    }
    val init = embs.orderBy("vec_id").limit(k)
      .collect().map(_.getSeq[Float](1).map(_.toDouble).toIndexedSeq).toIndexedSeq
    assert(meanBest(trained) >= meanBest(init) - 1e-9)
    // trained centroids drive the same probe machinery
    val got = Similarity.ivfTopK(embs, embs.filter(col("vec_id") < 3),
      col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
      k = 3, nLists = k, nProbe = 3, trained = Some(trained))
    assert(got.count() == 9)
  }

  test("Pipeline funnel equals the hand-assembled q42 stages") {
    val p = Pipeline(docs, "doc_id", "text")
      .filterLang("en")
      .filterQuality(4500)
      .dedupExactByPrefix(8)
      .removeNearDups(0.8)
    val got = p.result.select("doc_id").collect().map(_.getLong(0)).toSet

    // hand-assembled reference (the q42 shape)
    val lang = TextAnalysis.langIdOf(docs, col("doc_id"), col("text"))
      .filter(col("pred_lang") === "en").select("doc_id")
    val qual = TextAnalysis.quality(docs, col("doc_id"), col("text"))
      .filter(col("quality_x1e4") >= 4500).select("doc_id")
    val pool = docs.join(lang, "doc_id").join(qual, "doc_id")
    val kept = Dedup.exactKeepFirst(pool,
        concat_ws(" ", slice(split(col("text"), " "), 1, 8)), col("doc_id"))
      .select(col("kept").as("doc_id"))
    val surv = pool.join(kept, "doc_id")
    val nd = Dedup.jaccardPairs(surv, col("doc_id"), col("text"), 0.8)
      .select(col("id2").as("doc_id")).distinct()
    val want = surv.join(nd, Seq("doc_id"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet

    assert(got == want && got.nonEmpty)
    // monotone shrinkage and stats shape
    assert(got.size <= docs.count())
    val st = p.stats.collect()(0)
    assert(st.getLong(0) == got.size && st.getLong(1) > 0)
    // the LSH variant removes the same near-dups on this corpus
    val lsh = Pipeline(docs, "doc_id", "text")
      .filterLang("en").filterQuality(4500)
      .dedupExactByPrefix(8).removeNearDupsLsh(0.8)
      .result.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(lsh == got)
  }

  test("compression ratio separates repetitive from natural text") {
    val sq = spark
    import sq.implicits._
    val rows = Seq(
      ("spam", "buy now " * 200),
      ("prose", docs.select("text").collect()(0).getString(0)))
      .toDF("kind", "text")
      .select(col("kind"),
        TextAnalysis.compressionRatio(col("text")).as("ratio"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rows("spam") < 0.1)              // repeated block crushes
    assert(rows("prose") > rows("spam"))    // natural text compresses less
    assert(rows.values.forall(v => v > 0.0 && v <= 1.5))
  }

  test("repetition signals match hand-computed gram masses") {
    val sq = spark
    import sq.implicits._
    // "a b a b a": 2-grams [a b, b a, a b, b a] — every gram repeats,
    // top gram mass 2*3/12, dup mass (12-6)/12; 3-grams [a b a, b a b,
    // a b a] — top 2*5/15, dup (15-10)/15. "x" is too short for any
    // gram (both signals 0); "p q r" has all-unique grams (dup 0, top
    // = one gram's mass / total).
    val out = TextAnalysis.repetitionSignals(
        Seq((1L, "a b a b a"), (2L, "x"), (3L, "p q r"))
          .toDF("doc_id", "text"),
        col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(out(1L) == ((5, 5000L, 5000L, 6667L, 3333L)))
    assert(out(2L) == ((1, 0L, 0L, 0L, 0L)))
    assert(out(3L) == ((3, 5000L, 0L, 10000L, 0L)))
  }

  test("hash split partitions every row exactly once, stable under reorder") {
    val ids = docs.select("doc_id")
    val split = Sampling.hashSplit(ids, col("doc_id"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val byLabel = split.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = ids.count()
    assert(byLabel.values.sum == n)                 // total partition
    assert(byLabel.keySet.subsetOf(Set("train", "val", "test")))
    assert(byLabel("train") > byLabel.getOrElse("val", 0L))
    // label is a pure function of the id: shuffling the input changes
    // nothing
    val reordered = Sampling.hashSplit(
        ids.orderBy(col("doc_id").desc), col("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val direct = split.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(reordered == direct)
  }

  test("hash sampling is monotone in fraction and seed-sensitive") {
    val ids = docs.select("doc_id")
    def kept(frac: Double, seed: Long = 0L): Set[Long] =
      Sampling.sampleByHash(ids, col("doc_id"), frac, seed)
        .collect().map(_.getLong(0)).toSet
    val half = kept(0.5)
    assert(kept(0.25).subsetOf(half))    // nested thresholds
    assert(half.subsetOf(kept(1.0)))
    assert(kept(1.0).size == ids.count())
    assert(kept(0.0).isEmpty)
    assert(kept(0.5, seed = 7L) != half) // different seed, different draw
  }

  test("corpus mixture keeps each source at its own deterministic rate") {
    val d = docs
    def src(name: String) =
      d.filter(col("source") === name).select("doc_id")
    val mixed = Sampling.mixCorpora(Seq(
        ("a", src("src0"), 1.0), ("b", src("src1"), 0.0)),
      col("doc_id"))
    val bySrc = mixed.groupBy("mix_source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("a") == src("src0").count()) // rate 1.0 keeps all
    assert(!bySrc.contains("b"))              // rate 0.0 keeps none
  }

  test("compiled transform is reusable across inputs (transformer, O2)") {
    val sq = spark
    import sq.implicits._
    import graft.dsl.Domain._
    import graft.dsl.Range._
    val fn = Transform.compile(rows("k", "v"),
      RMap(col("k"), RAgg(sum(col("v")))))
    val a = fn(Seq(("x", 1), ("x", 2)).toDF("k", "v"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val b = fn(Seq(("y", 5)).toDF("k", "v"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(a == Set(("x", 3L)) && b == Set(("y", 5L)))
  }

  test("regex token counts exceed whitespace counts on punctuated text") {
    val tc = TextAnalysis.tokenCounts(docs, col("doc_id"), col("text"))
      .collect()
    assert(tc.nonEmpty)
    // BPE-ish splitting never merges across whitespace, so it can only
    // produce >= as many tokens
    assert(tc.forall(r => r.getInt(2) >= r.getInt(1)))
  }

  test("asof backward join picks greatest right time <= left time") {
    val sq = spark
    import sq.implicits._
    val left = Seq((1L, 10L), (1L, 20L), (2L, 5L)).toDF("k", "t")
    val right = Seq((1L, 8L, "a"), (1L, 15L, "b"), (1L, 20L, "c"),
                    (3L, 1L, "x")).toDF("k", "rt", "v")
    val out = Relational.asofJoinBackward(left, right,
        key = "k", leftTime = "t", rightTime = "rt", payload = Map("v" -> "av"))
      .select("k", "t", "av").collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)))).toSet
    assert(out == Set(
      (1L, 10L, Some("a")),   // 8 <= 10 < 15
      (1L, 20L, Some("c")),   // equal time matches (>= semantics)
      (2L, 5L, None)))        // no right rows for key 2
  }

  test("asof forward join picks smallest right time >= left time") {
    val sq = spark
    import sq.implicits._
    val left = Seq((1L, 10L), (1L, 20L), (1L, 25L), (2L, 5L))
      .toDF("k", "t")
    val right = Seq((1L, 8L, "a"), (1L, 15L, "b"), (1L, 20L, "c"),
                    (3L, 1L, "x")).toDF("k", "rt", "v")
    val out = Relational.asofJoinForward(left, right,
        key = "k", leftTime = "t", rightTime = "rt", payload = Map("v" -> "av"))
      .select("k", "t", "av").collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)))).toSet
    assert(out == Set(
      (1L, 10L, Some("b")),   // 10 < 15, nearest follower
      (1L, 20L, Some("c")),   // equal time matches (>= semantics)
      (1L, 25L, None),        // nothing follows
      (2L, 5L, None)))        // no right rows for key 2
  }

  test("asofJoinForward rejects reserved and colliding names") {
    val sq = spark
    import sq.implicits._
    val bad = Seq((1L, 2L)).toDF("k", "__t")
    intercept[IllegalArgumentException] {
      Relational.asofJoinForward(bad, bad.select(col("k"), col("__t")),
        "k", "__t", "__t", Map("k" -> "k2"))
    }
    val l2 = Seq((1L, 2L, "x")).toDF("k", "t", "existing")
    intercept[IllegalArgumentException] {
      Relational.asofJoinForward(l2, l2.select(col("k"), col("t")),
        "k", "t", "t", Map("t" -> "existing"))
    }
  }

  test("asof join returns the matched row's null payload, not an older value") {
    val sq = spark
    import sq.implicits._
    val left = Seq((1L, 10L)).toDF("k", "t")
    val right = Seq((1L, 1L, Some("old")), (1L, 5L, Option.empty[String]))
      .toDF("k", "rt", "v")
    val out = Relational.asofJoinBackward(left, right,
        "k", "t", "rt", Map("v" -> "av")).collect()(0)
    // matched row is (rt=5, v=null): carrying columns independently with
    // ignoreNulls would wrongly resurrect "old" from rt=1
    assert(out.isNullAt(out.fieldIndex("av")))
  }

  test("setSplit tags intersect/except legs with set semantics") {
    val sq = spark
    import sq.implicits._
    val a = Seq(1, 2, 2, 3).toDF("x")
    val b = Seq(3, 4).toDF("x")
    val got = Relational.setSplit(a, b).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(got == Set((3, "both"), (1, "a_only"), (2, "a_only"), (4, "b_only")))
  }

  test("salted two-stage aggregation equals the plain aggregation") {
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
    val plain = li.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val salted = Relational.saltedAgg(li, Seq(col("l_returnflag")), 8,
        partial = Seq("n" -> count(lit(1)), "s" -> sum(col("l_quantity"))),
        merge = Seq("n" -> sum(col("n")), "s" -> sum(col("s"))))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(salted == plain)
  }

  test("brute-force ANN ranks are deterministic and self-free") {
    val r = Similarity.bruteForceTopK(embs, embs.filter(col("vec_id") < 5),
      col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), 3)
      .collect()
    assert(r.length == 15)
    assert(r.forall(row => row.getLong(0) != row.getLong(1)))
    val ranks = r.groupBy(_.getLong(0)).values.map(_.map(_.getInt(3)).sorted.toSeq)
    assert(ranks.forall(_ == Seq(1, 2, 3)))
  }

  test("stratified sampling respects per-stratum rates and the default") {
    val d = docs.select("doc_id", "lang")
    val out = Sampling.stratifiedSample(d, col("doc_id"), col("lang"),
      Seq("en" -> 0.5, "de" -> 1.0), defaultRate = 0.0)
    val byLang = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = d.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang("de") == total("de"))          // rate 1.0 keeps all
    assert(byLang("en") < total("en"))           // rate 0.5 drops some
    assert(byLang.keySet == Set("en", "de"))     // default 0 drops rest
    // deterministic: identical second run
    val again = Sampling.stratifiedSample(d, col("doc_id"), col("lang"),
      Seq("en" -> 0.5, "de" -> 1.0), defaultRate = 0.0)
      .collect().map(_.getLong(0)).toSet
    assert(again == out.collect().map(_.getLong(0)).toSet)
  }

  test("PII redaction scrubs emails, IPs, digit runs in order") {
    import spark.implicits._
    val d = Seq(
      (1L, "mail bob.smith@corp.example.com then 10.1.2.3 acct 123456789 x"),
      (2L, "no pii here"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val r = TextAnalysis.redactPii(d, col("doc_id"), col("text"))
      .orderBy("doc_id").collect()
    assert(r(0).getString(1) == "mail <EMAIL> then <IP> acct <NUM> x")
    assert((r(0).getInt(2), r(0).getInt(3), r(0).getInt(4)) == ((1, 1, 1)))
    assert(r(1).getString(1) == "no pii here")
    assert((r(1).getInt(2), r(1).getInt(3), r(1).getInt(4)) == ((0, 0, 0)))
    assert(r(2).isNullAt(1) && r(2).isNullAt(2))
    // the email pass removes its digits before the IP/number passes:
    // an address with a dotted-quad local part is ONE email, zero IPs
    val t = Seq((1L, "a 1.2.3.4@x.co b")).toDF("doc_id", "text")
    val row = TextAnalysis.redactPii(t, col("doc_id"), col("text")).head()
    assert(row.getString(1) == "a <EMAIL> b")
    assert((row.getInt(2), row.getInt(3)) == ((1, 0)))
  }

  test("unigram NLL matches the hand-computed corpus model") {
    import spark.implicits._
    // corpus: a:2 b:2 c:1, total 5
    val d = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val r = TextAnalysis.unigramNll(d, col("doc_id"), col("text"))
      .orderBy("doc_id").collect()
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r(0).getLong(1) == 3 &&
           r(0).getDouble(2) == r6(math.log(5.0 / 2)))
    assert(r(1).getLong(1) == 2 &&
           r(1).getDouble(2) == r6((math.log(5.0 / 2) + math.log(5.0)) / 2))
  }

  test("bigram NLL matches the hand-computed smoothed model") {
    import spark.implicits._
    // bigrams: d1 = "a b","b a"; d2 = "b a". c12("a b")=1, c12("b a")=2;
    // ctx(a)=1, ctx(b)=2; V=3 (a, b, and d3's x — vocab is UNIGRAM,
    // so the single-token doc still contributes to V while emitting
    // no bigram row of its own.
    val d = Seq((1L, "a b a"), (2L, "b a"), (3L, "x"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.bigramNll(d, col("doc_id"), col("text"))
      .orderBy("doc_id").collect()
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.length == 2)
    assert(r(0).getLong(1) == 2 &&
           r(0).getDouble(2) ==
             r6((math.log(4.0 / 2) + math.log(5.0 / 3)) / 2))
    assert(r(1).getLong(1) == 1 &&
           r(1).getDouble(2) == r6(math.log(5.0 / 3)))
  }

  test("JL projection preserves collinearity and coarse geometry") {
    import spark.implicits._
    val p = Similarity.jlProject(embs, col("vec_id"), col("embedding"),
        dim = 64, k = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      .groupBy(_._1).map { case (id, rows) =>
        id -> rows.sortBy(_._2).map(_._3) }
    assert(p.size == embs.count() && p.head._2.length == 16)
    // linear map: a scaled copy projects to an exactly-parallel vector
    val planted = embs.limit(5)
      .select((col("vec_id") + 10000).as("vec_id"),
              transform(col("embedding"), x => x * lit(2.0f))
                .as("embedding"))
    val pp = Similarity.jlProject(planted, col("vec_id"),
        col("embedding"), dim = 64, k = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      .groupBy(_._1).map { case (id, rows) =>
        id -> rows.sortBy(_._2).map(_._3) }
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    }
    pp.foreach { case (id, v) =>
      assert(cos(v.toSeq, p(id - 10000).toSeq) > 0.999999, s"id $id") }
    // coarse geometry: projected cosine tracks original cosine on a
    // sample of pairs (JL with k=16 is lossy; demand correlation, not
    // precision)
    val origs = embs.limit(40)
      .select(col("vec_id"), graft.functions.VectorFunctions
        .toDouble(col("embedding")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val ids = origs.keys.toSeq.sorted
    val pairs = for (i <- ids.indices; j <- (i + 1) until ids.length
                     if (i + j) % 7 == 0) yield (ids(i), ids(j))
    val diffs = pairs.map { case (a, b) =>
      math.abs(cos(origs(a).toSeq, origs(b).toSeq) -
               cos(p(a).toSeq, p(b).toSeq)) }
    assert(diffs.nonEmpty)
    assert(diffs.sum / diffs.size < 0.25,
      f"mean distortion ${diffs.sum / diffs.size}%.3f")
  }

  test("projected ANN still finds planted duplicates at rank 1") {
    // collinearity survives any linear map, so a scaled copy is
    // cosine-1 in the 16-dim space too — the projected index cannot
    // miss exact duplicates, only near ones (probabilistically)
    val planted = embs.limit(10)
      .select((col("vec_id") + 10000).as("vec_id"),
              transform(col("embedding"), x => x * lit(1.5f))
                .as("embedding"))
    val corpus = embs.select("vec_id", "embedding").union(planted)
    val p = Similarity.jlProjectVec(corpus, col("vec_id"),
      col("embedding"), dim = 64, k = 16)
    val r = Similarity.bruteForceTopK(
        p, p.filter(col("vec_id") >= 10000),
        col("vec_id"), col("proj"), col("vec_id"), col("proj"), k = 1)
      .select("qid", "nbr").collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    (0 until 10).foreach { i =>
      assert(r(i + 10000L) == i.toLong, s"query ${i + 10000}") }
  }

  test("SpaceSaving hitters: exact under capacity, bounded over it") {
    import spark.implicits._
    // exact regime on real tokens: equals the plain count top-k
    val tok = docs.select(col("source"),
        explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
    val got = Sketches.heavyHitters(tok, Seq(col("source")),
        col("tok"), k = 3, capacity = 1 << 17)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
                 r.getLong(3)))
    assert(got.nonEmpty && got.forall(_._4 == 0L)) // err 0 everywhere
    val want = tok.groupBy("source", "tok").count().collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .groupBy(_._1).toSeq.flatMap { case (_, rows) =>
        rows.sortBy(t => (-t._3, t._2)).take(3).toSeq }.toSet
    assert(got.map(t => (t._1, t._2, t._3)).toSet == want)
    // bounded regime: planted hitter at 45% frequency, capacity 16,
    // 200 cold singletons force constant eviction
    val stream = (Seq.fill(180)("hot") ++
      (0 until 200).map(i => s"cold$i")).map(("g", _))
    val skew = stream.toDF("g", "item")
    val hh = Sketches.heavyHitters(skew, Seq(col("g")), col("item"),
        k = 16, capacity = 16)
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    val n = stream.size.toLong
    val hot = hh.find(_._1 == "hot")
    assert(hot.isDefined, "item above n/capacity must be present")
    val (_, est, err) = hot.get
    assert(est >= 180L && est - err <= 180L, s"est=$est err=$err")
    assert(hh.forall { case (_, e2, r2) => e2 - r2 >= 0 && r2 <= n / 16 })
  }

  test("contamination matrix equals per-suite single runs") {
    val corpus = docs.filter(!col("source").isin("src0", "src1"))
    val evals = docs.filter(col("source").isin("src0", "src1"))
    val m = Dedup.contaminationMatrix(corpus, evals,
        col("doc_id"), col("text"), col("source"), col("text"), n = 4)
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(m.nonEmpty)
    for (su <- Seq("src0", "src1")) {
      val single = Dedup.contaminatedDocs(corpus,
          evals.filter(col("source") === su),
          col("doc_id"), col("text"), col("text"), n = 4)
        .collect().map(r => (r.getLong(0), su) -> r.getLong(1)).toMap
      assert(m.filter(_._1._2 == su) == single, su)
    }
  }

  test("DSIR weights match a driver-side hashed-bucket model") {
    import spark.implicits._
    val B = 16
    val docs = Seq((1L, "a b"), (2L, "c c"), (3L, "a c"))
    val tgtTexts = Seq("a b")
    val d = docs.toDF("doc_id", "text")
    val r = TextAnalysis.dsirWeights(d, col("doc_id"), col("text"),
        tgtTexts.toDF("text"), col("text"), buckets = B)
      .orderBy("doc_id").collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    // driver-side reference: same hash, same smoothing, same rounding
    def toks(ts: Seq[String]) =
      ts.flatMap(_.split(" ", -1)).filter(_.nonEmpty)
    def bucket(t: String) = (graft.functions.PortableHash.h31(t) % B).toInt
    val raw = toks(docs.map(_._2)).groupBy(bucket)
      .map { case (b, o) => b -> o.size.toLong }
    val tgt = toks(tgtTexts).groupBy(bucket)
      .map { case (b, o) => b -> o.size.toLong }
    val (tr, tt) = (raw.values.sum, tgt.values.sum)
    def lo(b: Int): Long = math.round(
      (math.log((tgt.getOrElse(b, 0L) + 1.0) / (tt + B)) -
       math.log((raw.getOrElse(b, 0L) + 1.0) / (tr + B))) * 1e6)
    docs.foreach { case (id, text) =>
      val ts = toks(Seq(text))
      assert(r(id) == (ts.map(t => lo(bucket(t))).sum, ts.size.toLong),
        s"doc $id")
    }
  }

  test("DSIR separates target-like documents on the real corpus") {
    val d = docs
    val r = TextAnalysis.dsirWeights(d, col("doc_id"), col("text"),
        d.filter(col("source") === "src0"), col("text"))
      .join(d.select("doc_id", "source"), "doc_id")
    val m = r.groupBy(col("source") === "src0")
      .agg(avg(col("dsir_logw"))).collect()
      .map(x => x.getBoolean(0) -> x.getDouble(1)).toMap
    assert(m(true) > m(false)) // target docs price above background
  }

  test("prototypicality prunes exactly each cluster's top head") {
    import org.apache.spark.sql.expressions.Window
    val cents = Similarity.kmeansCentroids(
      embs, col("vec_id"), col("embedding"), k = 4, iters = 1)
    val r = Similarity.prototypicality(
      embs, col("vec_id"), col("embedding"), cents, 0.25, partitions = 7)
    // flag equals the single-task window form (differential check of
    // the prefix-sum ranking; the oracle pins scores/assignment)
    val w = Window.partitionBy("cid")
      .orderBy(col("proto_score").desc, col("vec_id"))
    val ref = r
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("cid")))
      .withColumn("keepRef",
        (col("rn") - 1) >= floor(col("n") * 0.25).cast("long"))
    assert(ref.filter(col("keep") =!= col("keepRef")).count() == 0)
    // each cluster pruned floor(n/4) rows, and nothing vanished
    val per = ref.groupBy("cid")
      .agg(count(lit(1)).as("n"),
           sum(when(!col("keep"), 1L).otherwise(0L)).as("pruned"))
      .collect()
    assert(per.nonEmpty)
    per.foreach(row =>
      assert(row.getLong(2) == row.getLong(1) / 4,
        s"cluster ${row.get(0)}"))
    assert(r.count() == embs.count())
  }

  test("bloom-prefiltered decontamination equals the exact path") {
    val corpus = docs.filter(col("source") =!= "src0")
    val eval = docs.filter(col("source") === "src0")
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = m(Dedup.contaminatedDocs(corpus, eval,
      col("doc_id"), col("text"), col("text"), n = 4))
    val bloom = m(Dedup.bloomContaminatedDocs(corpus, eval,
      col("doc_id"), col("text"), col("text"), n = 4))
    assert(bloom == exact)
    assert(exact.nonEmpty)
  }

  test("extended Pipeline stages equal their hand-assembled ops") {
    val evalSet = docs.filter(col("source") === "src0")
    val p = Pipeline(docs, "doc_id", "text")
      .filterRepetition(maxDupX1e4 = 6000)
      .decontaminateAgainst(evalSet, col("text"), n = 4)
      .sampleStratified(col("lang"), Seq("en" -> 1.0, "de" -> 0.5))
      .redactPii()
    // hand-assembled equivalent
    val rep = TextAnalysis.repetitionSignals(docs, col("doc_id"),
        col("text"), Seq(2))
      .filter(col("dup2_x1e4") <= 6000).select("doc_id")
    val base = docs.join(rep, "doc_id")
    val decon = Dedup.decontaminate(base, evalSet, col("doc_id"),
      col("text"), col("text"), n = 4, minHits = 1)
    val strat = Sampling.stratifiedSample(decon, col("doc_id"),
      col("lang"), Seq("en" -> 1.0, "de" -> 0.5))
    val want = TextAnalysis.redactPii(strat, col("doc_id"), col("text"))
      .select("doc_id", "clean_text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val got = p.result.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == want)
    assert(got.nonEmpty)
    // terminal forms run on the surviving corpus
    assert(p.chunks(window = 40, stride = 30).count() >= p.result.count())
    val manifest = p.packed(seqLen = 128)
    assert(manifest.select("doc_id").distinct().count() == p.result.count())
    val batches = p.batched(bucketWidth = 32, batchSize = 16)
    assert(batches.count() == p.result.count()) // docs have text -> n>0
    val shards = p.sharded(numShards = 4)
    assert(shards.count() == p.result.count())
    assert(shards.select("shard").distinct().count() == 4)
    val up = p.upsampled(rate = 2.0)
    assert(up.count() == 2 * p.result.count())
    // curation stage: the kept set equals the hand-assembled cut
    val q = Pipeline(docs, "doc_id", "text")
      .keepTopQuality(col("source"), 0.25).result
    val scored = TextAnalysis.quality(docs, col("doc_id"), col("text"))
      .select(col("doc_id"), col("quality_x1e4"))
      .join(docs, "doc_id")
    val wantTop = Relational.topFractionPerGroup(scored, col("source"),
        col("quality_x1e4"), col("doc_id"), 0.25)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(q.select("doc_id").collect().map(_.getLong(0)).toSet == wantTop)
    assert(q.columns.toSet == docs.columns.toSet)
    // DSIR gate: kept set equals the hand-assembled integer cut at a
    // data-derived median threshold (a tiny target corpus prices most
    // docs below 0 — smoothing mass dominates — so 0 would keep none)
    val tgt = docs.filter(col("source") === "src0")
    val scoredD = TextAnalysis.dsirWeights(docs, col("doc_id"),
        col("text"), tgt, col("text"))
      .select("doc_id", "w_micro_sum", "n_tokens").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val means = scoredD.map(t => t._2.toDouble / t._3).sorted
    val thr = math.floor(means(means.length / 2)).toLong
    val dg = Pipeline(docs, "doc_id", "text")
      .filterDsir(tgt, col("text"), minMeanMicro = thr).result
    val wantDsir = scoredD
      .filter(t => t._2 >= thr * t._3).map(_._1).toSet
    assert(dg.select("doc_id").collect().map(_.getLong(0)).toSet
      == wantDsir)
    assert(wantDsir.nonEmpty && wantDsir.size < docs.count())
  }

  test("semantic dedup stage equals the hand-assembled drop") {
    val p = Pipeline(embs.withColumnRenamed("vec_id", "doc_id"),
        "doc_id", "text2") // text col unused by this stage
      .removeSemanticDups(embs, col("vec_id"), col("embedding"),
        tau = 0.4)
    val drop = Similarity.semDedupPairs(embs, col("vec_id"),
        col("embedding"), 0.4).select("id2").distinct()
      .collect().map(_.getLong(0)).toSet
    val got = p.result.select("doc_id").collect().map(_.getLong(0)).toSet
    val all = embs.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got == all -- drop)
    assert(drop.nonEmpty)
  }

  test("token chunking covers every token with stride-spaced windows") {
    import spark.implicits._
    // 7 tokens, window 3, stride 2: starts 0,2,4 — the last window
    // already reaches the end, so no partial tail. 8 tokens: starts
    // 0,2,4,6 with a partial "g h" tail.
    val d = Seq((1L, "a b c d e f g"), (2L, "x y"),
      (3L, "a b c d e f g h")).toDF("doc_id", "text")
    val r = TextAnalysis.chunkTokens(d, col("doc_id"), col("text"), 3, 2)
      .orderBy("doc_id", "chunk_id").collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getString(2), x.getInt(3)))
    assert(r.toSeq == Seq(
      (1L, 0, "a b c", 3), (1L, 1, "c d e", 3), (1L, 2, "e f g", 3),
      (2L, 0, "x y", 2),
      (3L, 0, "a b c", 3), (3L, 1, "c d e", 3), (3L, 2, "e f g", 3),
      (3L, 3, "g h", 2)))
  }

  test("sequence packing tiles the token stream, any partition count") {
    def manifest(parts: Int) = Packing.packSequences(
        docs, col("doc_id"), col("text"), seqLen = 64, partitions = parts)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3))).toSet
    val m = manifest(4)
    // partition count must not change the manifest (prefix sum is a
    // function of the total order only)
    assert(manifest(11) == m)
    // every doc's spans concatenate to exactly [0, n_tok)
    val byDoc = m.groupBy(_._2)
    val nTok = docs.select(col("doc_id"), size(split(col("text"), " ")))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    for ((doc, spans) <- byDoc) {
      val sorted = spans.toSeq.sortBy(_._1)
      assert(sorted.head._3 == 0L)
      assert(sorted.last._4 == nTok(doc).toLong)
      sorted.sliding(2).foreach {
        case Seq((_, _, _, hi), (_, _, lo, _)) => assert(hi == lo)
        case _ =>
      }
    }
    // every sequence except the last holds exactly 64 tokens
    val seqFill = m.groupBy(_._1).view
      .mapValues(_.toSeq.map(s => s._4 - s._3).sum)
    val lastSeq = seqFill.keys.max
    assert(seqFill.collect {
      case (s, tot) if s != lastSeq => tot }.forall(_ == 64L))
  }

  test("packing splits a doc longer than the sequence length") {
    import spark.implicits._
    // doc 2 has 25 tokens with offset 10 -> spans sequences 1,2,3 of
    // length 10; doc 1 fills sequence 0 and the start of 1
    val d = Seq((1L, ("a " * 14).trim), (2L, ("b " * 25).trim))
      .toDF("doc_id", "text")
    val m = Packing.packSequences(d, col("doc_id"), col("text"),
        seqLen = 10, partitions = 3)
      .orderBy("seq_id", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(m.toSeq == Seq(
      (0L, 1L, 0L, 10L),   // doc1 tokens 0-10 fill seq 0
      (1L, 1L, 10L, 14L),  // doc1 tail
      (1L, 2L, 0L, 6L),    // doc2 head completes seq 1
      (2L, 2L, 6L, 16L),   // doc2 middle fills seq 2 alone
      (3L, 2L, 16L, 25L))) // doc2 tail
  }

  test("salted join equals the plain join on skewed keys") {
    import spark.implicits._
    // power-law left: one hot key with 5k rows, a long tail
    val left = ((1 to 5000).map(i => (1L, i.toLong)) ++
      (2 to 50).map(k => (k.toLong, 0L))).toDF("k", "payload")
    val right = Seq((1L, "hot"), (2L, "a"), (99L, "unmatched"))
      .toDF("k", "name")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("k", "payload", "name").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSeq.sorted
    val plainInner = rows(left.join(right, "k"))
    assert(rows(Relational.saltedJoin(left, right, "k", 8)) == plainInner)
    val plainLeft = rows(left.join(right, Seq("k"), "left"))
    assert(rows(Relational.saltedJoin(left, right, "k", 8, "left"))
      == plainLeft)
    assert(plainLeft.size == plainInner.size + 48) // k=3..50 unmatched
    // null keys never equi-match, salted or not
    val lNull = left.union(Seq((null.asInstanceOf[java.lang.Long], 7L))
      .toDF("k", "payload"))
    def rowsN(df: org.apache.spark.sql.DataFrame) = df
      .select("k", "payload", "name").collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSeq.sorted
    assert(rowsN(Relational.saltedJoin(lNull, right, "k", 8, "left"))
      == rowsN(lNull.join(right, Seq("k"), "left")))
  }

  test("range-partitioned sorted write emits disjoint ordered files") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sorted").toString
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    graft.sources.Sources.writeSortedParquet(li, dir,
      Seq("l_orderkey"), partitions = 4)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath)
    assert(files.length >= 2, s"expected multiple range files in $dir")
    // each file internally sorted; file key ranges must not overlap
    val ranges = files.map { f =>
      val keys = spark.read.parquet(f).select("l_orderkey")
        .collect().map(_.getLong(0))
      assert(keys.sameElements(keys.sorted), s"unsorted file $f")
      (keys.min, keys.max)
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi <= lo,
        s"overlapping ranges: hi=$hi lo=$lo")
      case _ =>
    }
    // total content preserved
    assert(spark.read.parquet(dir).count() == li.count())
  }

  test("aggregator top-k equals the window top-k (partial-agg path)") {
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select(col("l_returnflag").as("g"),
              col("l_extendedprice").as("score"),
              col("l_orderkey").as("id"))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("g", "id", "score", "rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    val window = rows(Relational.topKPerGroup(li, Seq(col("g")),
      Seq(col("score").desc, col("id").asc), 7,
      keepRankAs = Some("rank")))
    val agg = rows(Relational.topKScored(li, col("g"), col("score"),
      col("id"), 7))
    assert(agg == window)
    assert(agg.nonEmpty)
  }

  test("kneserNeyNll matches a hand-computed KN model") {
    val sq = spark
    import sq.implicits._
    val docs = Seq((1L, "a b a b a c"), (2L, "b a")).toDF("doc_id", "text")
    // corpus bigrams: doc1 = ab, ba, ab, ba, ac; doc2 = ba.
    // c12: ab=2, ba=3, ac=1; ctx: a=3, b=3; nf: a=2, b=1;
    // np: a=1(ba), b=1(ab), c=1(ac); bigram types tt=3; d=0.75
    val d = 0.75
    def p(c12: Double, ctx: Double, nf: Double, np: Double): Double =
      (c12 - d) / ctx + d * nf / ctx * (np * 1.0 / 3)
    val pab = p(2, 3, 2, 1); val pba = p(3, 3, 1, 1); val pac = p(1, 3, 2, 1)
    def r6(x: Double) = math.round(x * 1e6) / 1e6
    val want = Map(
      1L -> (5L, r6(-(math.log(pab) * 2 + math.log(pba) * 2 +
        math.log(pac)) / 5)),
      2L -> (1L, r6(-math.log(pba))))
    val got = ops.TextAnalysis.kneserNeyNll(docs, col("doc_id"),
        col("text"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet == want.keySet)
    for ((k, (n, v)) <- want) {
      assert(got(k)._1 == n, s"doc $k bigram count")
      assert(math.abs(got(k)._2 - v) < 1e-9, s"doc $k: ${got(k)._2} vs $v")
    }
    // the Kneser-Ney point: equal raw counts, different continuation
    // mass => different probability (add-k would tie them)
    assert(p(1, 3, 2, 2) > p(1, 3, 2, 1))
  }

  test("c4Screen applies the paper's default line rules") {
    val sq = spark
    import sq.implicits._
    val goodLine = "This sentence has more than five words total."
    val doc = Seq(
      goodLine,
      "Too short here.",                       // < 5 words → dropped
      "No terminal punctuation on this line",  // no [.!?"] → dropped
      "Enable javascript to view this page.",  // line-blocker → dropped
      goodLine + " Again!",
      "A third fine sentence closes the document?").mkString("\n")
    val docs = Seq(
      (1L, doc),                               // keeps 3 lines → kept
      (2L, s"$goodLine\nlorem ipsum dolor."),  // corpus blocker → drop
      (3L, s"$goodLine\nfunction() { code }"), // brace blocker → drop
      (4L, goodLine),                          // 1 kept line < 3 → drop
      (5L, null.asInstanceOf[String]))         // null text → drop
      .toDF("doc_id", "text")
    val got = ops.TextAnalysis.c4Screen(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(r.fieldIndex("keep")),
         if (r.isNullAt(r.fieldIndex("clean_text"))) None
         else Some(r.getString(r.fieldIndex("clean_text"))))).toMap
    assert(got(1L) == ((true, Some(Seq(goodLine, goodLine + " Again!",
      "A third fine sentence closes the document?").mkString("\n")))))
    assert(got(2L)._1 == false && got(2L)._2.isEmpty)
    assert(got(3L)._1 == false)
    assert(got(4L)._1 == false)
    assert(got(5L)._1 == false)
  }

  test("applyUpsert: update wins, insert lands, tombstone deletes") {
    val sq = spark
    import sq.implicits._
    val base = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("k", "name", "v")
    val changes = Seq(
      (2L, "b2", 21L, false),  // update
      (4L, "d", 40L, false),   // insert
      (3L, "c", 30L, true),    // tombstone
      (9L, "x", 0L, true))     // tombstone for an absent key: no-op
      .toDF("k", "name", "v", "del")
    val got = Relational.applyUpsert(base, changes, "k", col("del"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(got == Set((1L, "a", 10L), (2L, "b2", 21L), (4L, "d", 40L)))
    // missing columns and missing key are rejected up front
    intercept[IllegalArgumentException] {
      Relational.applyUpsert(base, changes.drop("v"), "k", col("del"))
    }
    intercept[IllegalArgumentException] {
      Relational.applyUpsert(base.drop("k"), changes, "k", col("del"))
    }
  }

  test("scd2 builds validity intervals; open-ended current state") {
    val sq = spark
    import sq.implicits._
    val obs = Seq((1L, 10L, 100L, "s1"), (1L, 20L, 101L, "s2"),
                  (1L, 20L, 102L, "s3"), (2L, 5L, 103L, "s4"))
      .toDF("k", "t", "eid", "state")
    val got = ops.Events.scd2(obs, col("k"), col("t"), col("eid"),
        Seq(col("state")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    // equal timestamps order by the event id, so s2 closes at s3's ts
    assert(got == Set(
      (1L, 10L, "s1", Some(20L)),
      (1L, 20L, "s2", Some(20L)),
      (1L, 20L, "s3", None),
      (2L, 5L, "s4", None)))
  }

  test("canonicalizeUrl collapses case/port/slash/tracking/fragment noise") {
    val sq = spark
    import sq.implicits._
    val cases = Seq(
      // the same page six ways
      "HTTP://Example.COM:80/a/?utm_source=x&id=1#top",
      "http://example.com/a?id=1",
      "http://example.com/a/?id=1&utm_campaign=z",
      "http://EXAMPLE.com:80/a?gclid=abc&id=1",
      "http://example.com/a/?fbclid=f&id=1#frag",
      "http://example.com/a?ref=tw&id=1",
      // param ORDER must not matter
      "https://h.com/p?b=2&a=1",
      "https://h.com/p?a=1&b=2",
      // default 443 stripped; explicit nonstandard port kept
      "HTTPS://H.com:443/p?a=1&b=2",
      "https://h.com:8080/p",
      // no query, root path, bare host
      "http://x.com/",
      "http://x.com",
      // not a URL
      "no scheme here")
    val got = cases.toDF("u")
      .select(graft.ops.TextAnalysis.canonicalizeUrl(col("u")).as("c"))
      .collect().map(r => Option(r.getString(0)))
    assert(got.take(6).distinct.toSeq ==
      Seq(Some("http://example.com/a?id=1")))
    assert(got(6) == got(7) && got(7) == got(8) &&
      got(6) == Some("https://h.com/p?a=1&b=2"))
    assert(got(9) == Some("https://h.com:8080/p"))
    assert(got(10) == Some("http://x.com") && got(11) == got(10))
    assert(got(12).isEmpty)
  }

  test("HLL sketch rollup equals direct sketching, tracks exact counts") {
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
    // sketch at the finest granularity once...
    val fine = Sketches.distinctSketches(li,
      Seq(col("l_returnflag"), col("l_linestatus")), col("l_partkey"))
      .localCheckpoint()
    // ...then answer the coarser question by MERGING, corpus untouched
    val rolled = Sketches.rollupDistinct(fine, Seq(col("l_returnflag")))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val exact = li.groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rolled.keySet == exact.keySet)
    for ((k, d) <- exact)
      assert(math.abs(rolled(k) - d).toDouble / d < 0.05,
        s"$k: rolled=${rolled(k)} exact=$d") // ~3x the lgK=12 rsd
    // union is lossless over register maxima: merging the fine
    // sketches must estimate exactly what direct coarse sketching does
    val direct = Sketches.rollupDistinct(
        Sketches.distinctSketches(li, Seq(col("l_returnflag"),
          col("l_linestatus")), col("l_partkey")),
        Seq(col("l_returnflag")))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(direct == rolled)
  }

  test("link prediction: RA/CN hand case, existing edges and hubs out") {
    import spark.implicits._
    // 4-cycle 1-2-3-4-1: the two diagonals are the only predictions,
    // each with two degree-2 common neighbors -> cn 2, ra 1000000
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("a", "b")
    val got = Graph.linkPrediction(cyc, col("a"), col("b"),
        topK = 10, maxDegree = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == Set((1L, 3L, 2L, 1000000L), (2L, 4L, 2L, 1000000L)))
    // star 0-{1..5}: every leaf pair shares only the hub; capping the
    // hub's apex role (deg 5 > 4) leaves nothing to predict...
    val star = (1L to 5L).map(i => (0L, i)).toDF("a", "b")
    assert(Graph.linkPrediction(star, col("a"), col("b"),
      topK = 10, maxDegree = 4).count() == 0)
    // ...and with the cap lifted, all C(5,2) leaf pairs appear with
    // the hub's exact 1/5 contribution
    val full = Graph.linkPrediction(star, col("a"), col("b"),
        topK = 100, maxDegree = 64).collect()
    assert(full.length == 10 &&
      full.forall(r => r.getLong(2) == 1L && r.getLong(3) == 200000L))
  }

  test("hop distances / sampled closeness: path-graph hand case") {
    import spark.implicits._
    // path 1-2-3-4-5, seeds {1, 5}, horizon 2
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val seeds = Seq(1L, 5L).toDF("id")
    val d = Graph.hopDistances(e, col("a"), col("b"), seeds, maxHops = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2))
      .toMap
    assert(d == Map((1L, 1L) -> 0, (2L, 1L) -> 1, (3L, 1L) -> 2,
      (5L, 5L) -> 0, (4L, 5L) -> 1, (3L, 5L) -> 2))
    val c = Graph.sampledCloseness(e, col("a"), col("b"), seeds, 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(c == Map(1L -> ((1L, 0L)), 2L -> ((1L, 1L)),
      3L -> ((2L, 4L)), 4L -> ((1L, 1L)), 5L -> ((1L, 0L))))
    // maxHops 0: seeds only
    assert(Graph.hopDistances(e, col("a"), col("b"), seeds, 0)
      .count() == 2)
  }

  test("linear attribution: equal split, floor remainder, gates") {
    import spark.implicits._
    def t(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000)
    val ev = Seq(
      // user 1: three touches then a purchase -> 333333 ppm each
      (1L, t(0), "click", 10L), (1L, t(10), "view", 11L),
      (1L, t(20), "click", 12L), (1L, t(30), "purchase", 13L),
      // user 2: touch outside the window -> unattributed
      (2L, t(0), "view", 20L), (2L, t(9000), "purchase", 21L),
      // user 3: touch after the only purchase -> unattributed
      (3L, t(100), "purchase", 30L), (3L, t(200), "click", 31L))
      .toDF("user_id", "ts", "event_type", "event_id")
    val got = Events.linearAttribution(ev, col("user_id"), col("ts"),
        col("event_type"), col("event_id"),
        touchTypes = Seq("click", "view"), convType = "purchase",
        withinSeconds = 3600L)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    // clicks: 3 touches, 2 attributed (user 1's two), 2 * 333333
    assert(got("click") == ((3L, 2L, 666666L)))
    // views: 2 touches, 1 attributed, 333333; the 1-ppm-per-conversion
    // remainder (999999 != 1000000) stays unassigned by design
    assert(got("view") == ((2L, 1L, 333333L)))
  }

  test("position attribution: 40/20/40, small-path and gate cases") {
    import spark.implicits._
    def t(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000)
    val ev = Seq(
      // user 1: click, view, view, click -> purchase:
      //   first click 400000, last click 400000, two middle views
      //   200000 div 2 = 100000 each
      (1L, t(0), "click", 10L), (1L, t(10), "view", 11L),
      (1L, t(20), "view", 12L), (1L, t(30), "click", 13L),
      (1L, t(40), "purchase", 14L),
      // user 2: single view -> whole credit
      (2L, t(0), "view", 20L), (2L, t(10), "purchase", 21L),
      // user 3: two clicks -> 500000 each
      (3L, t(0), "click", 30L), (3L, t(5), "click", 31L),
      (3L, t(10), "purchase", 32L),
      // user 4: touch outside window -> unattributed
      (4L, t(0), "click", 40L), (4L, t(9000), "purchase", 41L))
      .toDF("user_id", "ts", "event_type", "event_id")
    val got = Events.positionAttribution(ev, col("user_id"), col("ts"),
        col("event_type"), col("event_id"),
        touchTypes = Seq("click", "view"), convType = "purchase",
        withinSeconds = 3600L)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    // clicks: 5 touches, 4 attributed: 400000+400000 (user 1) +
    // 500000+500000 (user 3) = 1800000
    assert(got("click") == ((5L, 4L, 1800000L)))
    // views: 3 touches, 3 attributed: 100000+100000 (middles) +
    // 1000000 (single) = 1200000
    assert(got("view") == ((3L, 3L, 1200000L)))
  }

  test("point-in-time join: valid version, gap, open version, pre-history") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // user 1: [10:00,11:00) gold, GAP, [12:00, open) silver
    val dim = Seq(
      (1L, "gold", t("2024-01-01 10:00:00"),
        Option(t("2024-01-01 11:00:00"))),
      (1L, "silver", t("2024-01-01 12:00:00"), None: Option[java.sql.Timestamp]))
      .toDF("k", "attr", "eff_from", "eff_to")
    val facts = Seq(
      (1L, 1L, t("2024-01-01 09:00:00")),  // pre-history -> null
      (1L, 2L, t("2024-01-01 10:00:00")),  // boundary: eff_from inclusive
      (1L, 3L, t("2024-01-01 10:59:59")),  // inside gold
      (1L, 4L, t("2024-01-01 11:00:00")),  // eff_to exclusive -> gap null
      (1L, 5L, t("2024-01-01 11:30:00")),  // in the gap -> null (no
                                           // resurrection of expired gold)
      (1L, 6L, t("2024-01-01 23:00:00")))  // open version matches
      .toDF("k", "fid", "ts")
    val got = Relational.pointInTimeJoin(facts, dim, key = "k",
        factTime = "ts", effFrom = "eff_from", effTo = "eff_to",
        payload = Map("attr" -> "tier"))
      .collect().map(r => r.getLong(1) -> Option(r.getString(3))).toMap
    assert(got == Map(1L -> None, 2L -> Some("gold"), 3L -> Some("gold"),
      4L -> None, 5L -> None, 6L -> Some("silver")))
  }

  test("KMV theta set ops: exact below saturation, bounded above it") {
    import spark.implicits._
    // exact regime: all distinct hashes retained (k > distinct count)
    // — theta = M, so EVERY estimate collapses to the true set size
    val a = (1 to 30).map(i => ("g", s"u$i")).toDF("g", "key")
    val b = (21 to 45).map(i => ("g", s"u$i")).toDF("g", "key")
    val k = 64
    val sa = Sketches.kmvSketch(a, Seq(col("g")), col("key"), k)
    val sb = Sketches.kmvSketch(b, Seq(col("g")), col("key"), k)
    val r = Sketches.kmvSetOps(sa, sb, Seq("g"), k).collect().head
    assert(r.getLong(1) == 30 && r.getLong(2) == 25) // |A|, |B|
    assert(r.getLong(3) == 45)                       // |A ∪ B|
    assert(r.getLong(4) == 10)                       // |A ∩ B| (21..30)
    assert(r.getLong(5) == 20)                       // |A ∖ B| (1..20)
    // saturated regime on the real table: estimates within ~4/sqrt(k)
    val o = spark.read.parquet(s"$sf0001/orders.parquet")
    val oa = o.filter(col("o_orderdate") < lit("1998-01-01"))
    val ob = o.filter(col("o_orderdate") >= lit("1998-01-01"))
    val est = Sketches.kmvSetOps(
      Sketches.kmvSketch(oa, Seq(lit(1).as("g")), col("o_custkey"), k),
      Sketches.kmvSketch(ob, Seq(lit(1).as("g")), col("o_custkey"), k),
      Seq("g"), k).collect().head
    def exact(df: org.apache.spark.sql.DataFrame): Long =
      df.select(countDistinct(col("o_custkey"))).collect().head.getLong(0)
    val (na, nb) = (exact(oa), exact(ob))
    val nu = exact(oa.select("o_custkey").union(ob.select("o_custkey")))
    val tol = 4.0 / math.sqrt(k)
    assert(math.abs(est.getLong(1) - na).toDouble / na < tol)
    assert(math.abs(est.getLong(2) - nb).toDouble / nb < tol)
    assert(math.abs(est.getLong(3) - nu).toDouble / nu < tol)
    val ni = na + nb - nu
    // intersection error is relative to the UNION (theta framework
    // bound), not the intersection itself
    assert(math.abs(est.getLong(4) - ni).toDouble / nu < tol)
    // internal consistency: A = (A ∩ B) + (A ∖ B) under the SAME theta
    assert(est.getLong(4) + est.getLong(5) > 0)
    // groups absent from one side estimate against the empty sketch
    val lop = Sketches.kmvSetOps(sa,
      Sketches.kmvSketch(b.filter(lit(false)), Seq(col("g")),
        col("key"), k), Seq("g"), k).collect().head
    assert(lop.getLong(1) == 30 && lop.getLong(2) == 0 &&
           lop.getLong(4) == 0 && lop.getLong(5) == 30)
  }

  test("KMV rollup equals direct coarse sketching (lossless union)") {
    val o = spark.read.parquet(s"$sf0001/orders.parquet")
    val k = 64
    val fine = Sketches.kmvSketch(o,
      Seq(col("o_orderpriority"), year(col("o_orderdate")).as("yr")),
      col("o_custkey"), k)
    val rolled = Sketches.kmvRollup(fine, Seq(col("o_orderpriority")), k)
      .collect().map(r => r.getString(0) ->
        ((r.getSeq[Long](1), r.getLong(2)))).toMap
    val direct = Sketches.kmvSketch(o, Seq(col("o_orderpriority")),
        col("o_custkey"), k)
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(rolled.keySet == direct.keySet)
    for ((g, ks) <- direct)
      assert(rolled(g)._1 == ks, s"$g: rolled sketch != direct sketch")
    // the rollup's estimates track the exact distinct counts
    val exact = o.groupBy("o_orderpriority")
      .agg(countDistinct(col("o_custkey")).as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((g, d) <- exact)
      assert(math.abs(rolled(g)._2 - d).toDouble / d < 4.0 / math.sqrt(k),
        s"$g: est ${rolled(g)._2} vs exact $d")
  }

  test("sketch profile tracks exact stats within documented bounds") {
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
    val approx = Sketches.profile(li, Seq(col("l_returnflag")),
        col("l_extendedprice")).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getSeq[Double](3))).toMap
    val exact = li.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
           countDistinct(col("l_extendedprice")).as("d"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(approx.keySet == exact.keySet)
    for ((k, (n, d)) <- exact) {
      val (an, ad, qs) = approx(k)
      assert(an == n)                              // count is exact
      assert(math.abs(ad - d).toDouble / d < 0.15) // 3x rsd=0.05
      assert(qs.size == 3 && qs == qs.sorted)      // quantiles ordered
    }
    // the exact scalar twin (oracle-checked as q80) agrees with the
    // inline exact stats, and the sketch's quantiles land within 5% of
    // the exact interpolated percentiles
    val exactTwin = Sketches.profileExact(li, Seq(col("l_returnflag")),
        col("l_extendedprice")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        Seq(r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(exactTwin.keySet == exact.keySet)
    for ((k, (n, d)) <- exact) {
      val (tn, td, tqs) = exactTwin(k)
      assert(tn == n && td == d)
      val (_, _, qs) = approx(k)
      for ((aq, eq) <- qs.zip(tqs))
        assert(math.abs(aq - eq) / eq < 0.05, s"$k: approx $aq vs $eq")
    }
  }

  test("quantized ANN with exact rescore recovers the brute-force top-k") {
    def res(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    val exact = res(Similarity.bruteForceTopK(embs,
      embs.filter(col("vec_id") < 10),
      col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), 5))
    val quant = res(Similarity.quantizedTopK(embs,
      embs.filter(col("vec_id") < 10),
      col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), 5))
    // same (query, rank) keys; recall@5 of the quantized shortlist path
    assert(quant.keySet == exact.keySet)
    val agree = exact.count { case (k, v) => quant.get(k).contains(v) }
    assert(agree >= (exact.size * 0.8).toInt,
      s"quantized path agreed on $agree/${exact.size} (need >= 80%)")
  }

  test("PQ/ADC ANN recovers the brute-force top-k on clustered data") {
    import spark.implicits._
    // PQ's operating regime is a corpus with local structure (codes
    // reconstruct well); on the isotropic random fixture an 8-entry
    // codebook is lossy by construction, so recall asserts on a
    // PLANTED corpus: 8 prototypes, 16 members each, deterministic
    // per-member perturbation small enough that clusters stay apart
    val protos = embs.orderBy("vec_id").limit(8).collect()
      .map(_.getSeq[Float](1).toArray)
    val corpus = (0 until 128).map { i =>
      val p = protos(i / 16)
      (i.toLong, p.indices.map(d =>
        p(d) + ((i * 31 + d) % 7 - 3) * 1e-3f).toArray)
    }.toDF("vec_id", "embedding")
    def res(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    val exact = res(Similarity.bruteForceTopK(corpus,
      corpus.filter(col("vec_id") < 10),
      col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), 5))
    val pq = res(Similarity.pqTopK(corpus,
      corpus.filter(col("vec_id") < 10),
      col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), 5))
    assert(pq.keySet == exact.keySet)
    val agree = exact.count { case (k, v) => pq.get(k).contains(v) }
    assert(agree >= (exact.size * 0.9).toInt,
      s"PQ path agreed on $agree/${exact.size} (need >= 90%)")
  }

  test("PQ rescore scores are exact cosines even on hostile data") {
    // on the random fixture recall is data-limited, but the precision
    // contract must hold: every returned (qid, nbr) carries the same
    // round-6 cosine the exhaustive ranking assigns that pair
    val full = Similarity.bruteForceTopK(embs,
        embs.filter(col("vec_id") < 10),
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        499).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val pq = Similarity.pqTopK(embs, embs.filter(col("vec_id") < 10),
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), 5)
      .collect()
    assert(pq.length == 50)
    pq.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(full(key) == r.getDouble(2),
        s"$key: pq score ${r.getDouble(2)} != exact ${full(key)}")
    }
  }

  test("IVF-PQ residual ANN recovers the brute-force top-k on clusters") {
    import spark.implicits._
    // planted corpus with prototypes INTERLEAVED by id (i % 8, not
    // i / 16): the trainers seed from the first rows by id, and a
    // block layout would hand all 8 coarse seeds to ONE prototype —
    // a degenerate init that tests the fixture, not the index
    val protos = embs.orderBy("vec_id").limit(8).collect()
      .map(_.getSeq[Float](1).toArray)
    val corpus = (0 until 128).map { i =>
      val p = protos(i % 8)
      (i.toLong, p.indices.map(d =>
        p(d) + ((i * 31 + d) % 7 - 3) * 1e-3f).toArray)
    }.toDF("vec_id", "embedding")
    def res(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    val exact = res(Similarity.bruteForceTopK(corpus,
      corpus.filter(col("vec_id") < 10),
      col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), 5))
    val ivfpq = res(Similarity.ivfPqTopK(corpus,
      corpus.filter(col("vec_id") < 10),
      col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), 5))
    assert(ivfpq.keySet == exact.keySet)
    val agree = exact.count { case (k, v) => ivfpq.get(k).contains(v) }
    assert(agree >= (exact.size * 0.9).toInt,
      s"IVF-PQ agreed on $agree/${exact.size} (need >= 90%)")
    // determinism: the full train->route->encode->rank chain rerun is
    // bit-identical (fixed-point arithmetic end to end)
    assert(res(Similarity.ivfPqTopK(corpus,
      corpus.filter(col("vec_id") < 10),
      col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
      5)) == ivfpq)
  }

  test("IVF-PQ SAMPLED training (trainTarget < corpus) holds recall") {
    import spark.implicits._
    // same interleaved planted-cluster fixture as the full-train test,
    // but trainTarget=32 forces sm = 128/32 = 4: both trainers see only
    // the ~32-row MINSTD-residue sample while route/encode cover all
    // 128 rows — recall against brute force must hold anyway (the
    // 100 TB cold-build lever can't cost correctness)
    val protos = embs.orderBy("vec_id").limit(8).collect()
      .map(_.getSeq[Float](1).toArray)
    val corpus = (0 until 128).map { i =>
      val p = protos(i % 8)
      (i.toLong, p.indices.map(d =>
        p(d) + ((i * 31 + d) % 7 - 3) * 1e-3f).toArray)
    }.toDF("vec_id", "embedding")
    def res(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    val exact = res(Similarity.bruteForceTopK(corpus,
      corpus.filter(col("vec_id") < 10),
      col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), 5))
    val sampledBuild = res(Similarity.ivfPqTopK(corpus,
      corpus.filter(col("vec_id") < 10),
      col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
      5, trainTarget = 32L))
    assert(sampledBuild.keySet == exact.keySet)
    val agree = exact.count { case (k, v) =>
      sampledBuild.get(k).contains(v) }
    assert(agree >= (exact.size * 0.9).toInt,
      s"sampled-train IVF-PQ agreed on $agree/${exact.size} (need >= 90%)")
    // deterministic: the sampled build replays bit-identically
    assert(res(Similarity.ivfPqTopK(corpus,
      corpus.filter(col("vec_id") < 10),
      col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
      5, trainTarget = 32L)) == sampledBuild)
  }

  test("IVF-PQ rescore precision and empty-corpus degenerate") {
    val full = Similarity.bruteForceTopK(embs,
        embs.filter(col("vec_id") < 10),
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"),
        499).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val got = Similarity.ivfPqTopK(embs, embs.filter(col("vec_id") < 10),
        col("vec_id"), col("embedding"), col("vec_id"), col("embedding"), 5)
      .collect()
    assert(got.length == 50)
    got.foreach { r =>
      assert(full((r.getLong(0), r.getLong(1))) == r.getDouble(2))
    }
    assert(Similarity.ivfPqTopK(embs.filter(col("vec_id") < 0),
      embs.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
      col("vec_id"), col("embedding"), 5).count() == 0)
  }

  test("PQ codebooks: shapes, determinism, degenerate corpora") {
    val books = Similarity.pqCodebooks(embs, col("vec_id"),
      col("embedding"), m = 8, ksub = 8, iters = 1)
    assert(books.size == 8 && books.forall(_.size == 8) &&
           books.forall(_.forall(_.size == 8)))
    // retrain is bit-identical (fixed-point arithmetic, ordered init)
    assert(books == Similarity.pqCodebooks(embs, col("vec_id"),
      col("embedding"), m = 8, ksub = 8, iters = 1))
    // corpus smaller than ksub clamps; empty corpus yields Nil
    val tiny = Similarity.pqCodebooks(embs.filter(col("vec_id") < 3),
      col("vec_id"), col("embedding"), m = 8, ksub = 8, iters = 1)
    assert(tiny.forall(_.size == 3))
    assert(Similarity.pqCodebooks(embs.filter(col("vec_id") < 0),
      col("vec_id"), col("embedding"), 8, 8, 1).isEmpty)
    // empty corpus flows through pqTopK as an empty result
    assert(Similarity.pqTopK(embs.filter(col("vec_id") < 0),
      embs.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
      col("vec_id"), col("embedding"), 5).count() == 0)
  }

  test("duplicate spans cut later occurrences only, first kept") {
    import spark.implicits._
    // doc 1: spans A|B ; doc 2: spans B|C (B repeated) ; doc 3: A only
    val a = (1 to 4).map(i => s"a$i").mkString(" ")
    val b = (1 to 4).map(i => s"b$i").mkString(" ")
    val c = (1 to 4).map(i => s"c$i").mkString(" ")
    val d = Seq((1L, s"$a $b"), (2L, s"$b $c"), (3L, a))
      .toDF("doc_id", "text")
    val cuts = Dedup.duplicateSpans(d, col("doc_id"), col("text"),
      window = 4).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSet
    // B's first occurrence is (doc 1, chunk 1) -> cut (doc 2, chunk 0);
    // A's first is (doc 1, chunk 0) -> cut doc 3's only span
    assert(cuts == Set((2L, 0, 0L, 4L), (3L, 0, 0L, 4L)))
    // dup-free corpus -> empty manifest
    val clean = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    assert(Dedup.duplicateSpans(clean, col("doc_id"), col("text"),
      4).count() == 0)
  }

  test("dedupSpans splices repeated spans out and reassembles in order") {
    import spark.implicits._
    val a = (1 to 4).map(i => s"a$i").mkString(" ")
    val b = (1 to 4).map(i => s"b$i").mkString(" ")
    val c = (1 to 4).map(i => s"c$i").mkString(" ")
    val d = Seq((1L, s"$a $b"), (2L, s"$b $c"), (3L, a), (4L, null))
      .toDF("doc_id", "text")
    val out = Dedup.dedupSpans(d, col("doc_id"), col("text"), window = 4)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc 1 keeps both spans; doc 2 loses B (kept-first in doc 1) but
    // keeps C; doc 3's lone span duplicates A -> empty; null text -> ""
    assert(out == Map(1L -> s"$a $b", 2L -> c, 3L -> "", 4L -> ""))
    // dup-free corpus is reassembled verbatim
    val clean = Seq((1L, s"$a $b"), (2L, c)).toDF("doc_id", "text")
    val verbatim = Dedup.dedupSpans(clean, col("doc_id"), col("text"), 4)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(verbatim == Map(1L -> s"$a $b", 2L -> c))
  }

  test("tokenBudget equals the naive one-task window form (differential)") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // skewed groups: g0 has 60 docs, g1 has 3, g2 has 1
    val rows = (1L to 60L).map(i => (i, "g0", i % 7 + 1)) ++
      Seq((101L, "g1", 5L), (102L, "g1", 5L), (103L, "g1", 5L),
          (200L, "g2", 9L))
    val d = rows.toDF("id", "grp", "n")
    val budgets = Map("g0" -> 50L, "g1" -> 10L, "g2" -> 4L)
    val fast = Sampling.tokenBudget(d, col("id"), col("grp"), col("n"),
        budgets, partitions = 5)
      .select("id").collect().map(_.getLong(0)).toSet
    val w = Window.partitionBy(col("grp"))
      .orderBy(Sampling.idHash(col("id")), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val budgetOf = budgets.foldLeft(lit(null).cast("long")) {
      case (acc, (g, b)) => when(col("grp") === g, b).otherwise(acc) }
    val naive = d.withColumn("cum", sum(col("n")).over(w))
      .filter(col("cum") <= budgetOf)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(fast == naive)
    assert(naive.nonEmpty && !naive.contains(200L)) // g2: 9 > 4 -> dropped
  }

  test("temperature mixing upweights small sources, alpha=1 is natural") {
    import spark.implicits._
    val big = (1L to 1000L).map(i => (i, "b")).toDF("id", "payload")
    val small = (10001L to 10100L).map(i => (i, "s")).toDF("id", "payload")
    val mixed = Sampling.mixCorporaTemperature(
        Seq("big" -> big, "small" -> small), col("id"), alpha = 0.5)
      .groupBy("mix_source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // rate_small = 1 (most upweighted); rate_big = (1000/100)^-0.5 = 0.316
    assert(mixed("small") == 100L)
    assert(mixed("big") > 250 && mixed("big") < 390, mixed.toString)
    // alpha = 1: natural proportions, every source kept whole
    val nat = Sampling.mixCorporaTemperature(
        Seq("big" -> big, "small" -> small), col("id"), alpha = 1.0)
    assert(nat.count() == 1100L)
  }

  test("crossSplitPairs surfaces pair members missing from the splits frame") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("id1", "id2")
    // 4 unassigned; 5 AND 6 unassigned (both-null: not cross-split)
    val splits = Seq((1L, "train"), (2L, "test"), (3L, "train"))
      .toDF("doc_id", "split")
    val out = Dedup.crossSplitPairs(pairs, splits, col("doc_id"),
        col("split"))
      .collect().map(r => (r.getLong(1), r.getLong(0),
        Option(r.getString(2)), Option(r.getString(3)))).toSet
    assert(out == Set(
      (1L, 2L, Some("train"), Some("test")),   // genuine leakage
      (3L, 4L, Some("train"), None)))          // unassigned surfaces
  }

  test("topFractionPerGroup ranks null scores last, keeps null groups") {
    import spark.implicits._
    val d = Seq((1L, "g", Some(10L)), (2L, "g", Some(5L)),
                (3L, "g", Option.empty[Long]), (4L, "g", Some(7L)),
                (5L, null.asInstanceOf[String], Some(1L)),
                (6L, null.asInstanceOf[String], Some(2L)))
      .toDF("id", "grp", "score")
    val kept = Relational.topFractionPerGroup(d, col("grp"), col("score"),
        col("id"), 0.5).select("id").collect().map(_.getLong(0)).toSet
    // g: top 2 of 4 by score = ids 1 (10) and 4 (7); the null score
    // ranks LAST, never in the cut. null group: its own group of 2,
    // top 1 = id 6 (score 2)
    assert(kept == Set(1L, 4L, 6L))
  }

  test("tokenBudget is partition-count invariant") {
    import graft.functions.TextFunctions.tokens
    val d = docs.withColumn("n_tok", size(tokens(col("text"))).cast("long"))
    val budgets = (0 until 20).map(i => s"src$i" -> 700L).toMap
    def run(p: Int) = Sampling.tokenBudget(d, col("doc_id"),
        col("source"), col("n_tok"), budgets, partitions = p)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val r2 = run(2)
    assert(r2 == run(17) && r2 == run(64))
    assert(r2.nonEmpty)
  }

  test("NB classifier separates seed from background; unknown scored smoothed") {
    import spark.implicits._
    val pos = Seq("good clean prose text", "clean good text").toDF("text")
    val neg = Seq("spam junk garbage words bad", "junk spam words").toDF("text")
    val corpus = Seq((1L, "good clean text"), (2L, "spam junk words"),
                     (3L, "zzz yyy")).toDF("doc_id", "text")
    val out = TextAnalysis.nbQualityScore(corpus, col("doc_id"),
        col("text"), pos, col("text"), neg, col("text"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L)._3 > 0, s"seed-like doc should score > 0: ${out(1L)}")
    assert(out(2L)._3 < 0, s"background doc should score < 0: ${out(2L)}")
    // doc 3 is all-unknown: each token scores the smoothed-unknown
    // log-odds ln(1/(np+v)) - ln(1/(nn+v)); np=7, nn=8, v=9
    val unk = math.round(
      (math.log(1.0 / (7 + 9)) - math.log(1.0 / (8 + 9))) * 1e6)
    assert(out(3L)._1 == 2 * unk && out(3L)._2 == 2L)
    // derived mean is the integer pair's ratio
    assert(math.abs(out(1L)._3 - out(1L)._1 / 1e6 / out(1L)._2) < 1e-12)
  }

  test("keepBestPerCluster keeps argmax score, min-id on ties, singletons") {
    import spark.implicits._
    // cluster {1,2,3} via chain 1-2, 2-3; doc 4 is a singleton
    val d = Seq((1L, 10L, "a"), (2L, 30L, "b"), (3L, 30L, "c"),
                (4L, 5L, "d")).toDF("doc_id", "score", "payload")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2")
    val kept = Dedup.keepBestPerCluster(d, pairs, col("doc_id"),
      col("score")).select("doc_id").collect().map(_.getLong(0)).toSet
    // best score 30 is tied between 2 and 3 -> min id 2; singleton 4 stays
    assert(kept == Set(2L, 4L))
    // empty pair list -> everything survives
    val none = spark.emptyDataset[(Long, Long)].toDF("id1", "id2")
    assert(Dedup.keepBestPerCluster(d, none, col("doc_id"),
      col("score")).count() == 4)
  }

  test("tokenBudget takes hash-ordered head per group, exact boundary") {
    import spark.implicits._
    val d = Seq((1L, "g1", 4L), (2L, "g1", 4L), (3L, "g1", 4L),
                (4L, "g2", 10L), (5L, "gX", 1L))
      .toDF("id", "grp", "n")
    // g1 budget fits exactly two docs (8 tokens); g2's first doc equals
    // its budget exactly (boundary is inclusive); gX has no budget
    val kept = Sampling.tokenBudget(d, col("id"), col("grp"), col("n"),
        Map("g1" -> 8L, "g2" -> 10L), partitions = 3)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept.contains(4L) && !kept.contains(5L))
    assert(kept.count(Set(1L, 2L, 3L)) == 2)
    // the two survivors are the first two in idHash order — replay it
    val order = d.filter(col("grp") === "g1")
      .select(col("id"), Sampling.idHash(col("id")).as("h"))
      .collect().map(r => (r.getLong(1), r.getLong(0))).sorted.map(_._2)
    assert(kept.intersect(Set(1L, 2L, 3L)) == order.take(2).toSet)
    // null tokens cost 0: they fit ANY budget (even 0 — the rule is
    // "running total through the row <= budget", and 0 <= 0)
    val z = Seq((1L, "g", null.asInstanceOf[java.lang.Long]),
                (2L, "g", java.lang.Long.valueOf(3L)))
      .toDF("id", "grp", "n")
    val zeroKept = Sampling.tokenBudget(z, col("id"), col("grp"),
        col("n"), Map("g" -> 0L))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(zeroKept == Set(1L))
    assert(Sampling.tokenBudget(z, col("id"), col("grp"), col("n"),
      Map("g" -> 3L)).count() == 2)
  }

  test("semdedup pairs: within-cluster subset of exact; k=1 is exact") {
    val exact = pairSet(Dedup.embeddingPairs(
      embs, col("vec_id"), col("embedding"), 0.4))
    val sem = pairSet(Similarity.semDedupPairs(
      embs, col("vec_id"), col("embedding"), 0.4, k = 8, iters = 2))
    // precision 1 (exact-verified within clusters), cross-cluster pairs
    // pruned by design — so a subset, non-trivially populated
    assert(sem.subsetOf(exact))
    assert(sem.nonEmpty)
    // one cluster routes every vector together → exact baseline
    val one = pairSet(Similarity.semDedupPairs(
      embs, col("vec_id"), col("embedding"), 0.4, k = 1, iters = 1))
    assert(one == exact)
  }

  test("length-bucketed batches: shape invariants, any partition count") {
    val m = Packing.lengthBucketBatches(docs, col("doc_id"), col("text"),
      bucketWidth = 32, batchSize = 16)
    val rows = m.collect()
    assert(rows.nonEmpty)
    // every doc exactly once; pad < width; slot < batchSize
    assert(rows.map(_.getAs[Long]("doc_id")).distinct.length == rows.length)
    assert(rows.forall { r =>
      val pad = r.getAs[Long]("pad"); pad >= 0 && pad < 32 })
    assert(rows.forall { r =>
      val s = r.getAs[Long]("slot"); s >= 0 && s < 16 })
    // batches are full except possibly the last one of each bucket
    val perBatch = rows.groupBy(r =>
      (r.getAs[Long]("bucket"), r.getAs[Long]("batch")))
    val lastOf = perBatch.keys.groupBy(_._1).map { case (b, ks) =>
      b -> ks.map(_._2).max }
    perBatch.foreach { case ((b, i), g) =>
      assert(g.length <= 16)
      if (i < lastOf(b)) assert(g.length == 16,
        s"non-final batch ($b, $i) has ${g.length} docs") }
    // the prefix-sum rank is partition-count-invariant
    val alt = Packing.lengthBucketBatches(docs, col("doc_id"), col("text"),
      32, 16, partitions = 7).collect()
    assert(alt.map(_.toSeq).toSet == rows.map(_.toSeq).toSet)
  }

  test("top-fraction curation equals the window rank, any partitioning") {
    import org.apache.spark.sql.expressions.Window
    val scored = TextAnalysis.quality(docs, col("doc_id"), col("text"))
      .select(col("doc_id"), col("quality_x1e4"))
      .join(docs.select("doc_id", "source"), "doc_id")
      .select("doc_id", "source", "quality_x1e4")
    val got = Relational.topFractionPerGroup(scored, col("source"),
      col("quality_x1e4"), col("doc_id"), fraction = 0.25)
      .collect().map(_.getLong(0)).toSet
    // reference: the plain (skew-prone) window form
    val w = Window.partitionBy("source")
      .orderBy(col("quality_x1e4").desc, col("doc_id"))
    val want = scored
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy("source")))
      .filter(col("rn") <= floor(col("n") * 0.25))
      .collect().map(_.getLong(0)).toSet
    assert(got == want)
    assert(got.nonEmpty)
    // partition-count invariance + the [0,1] edges
    val alt = Relational.topFractionPerGroup(scored, col("source"),
      col("quality_x1e4"), col("doc_id"), 0.25, partitions = 7)
      .collect().map(_.getLong(0)).toSet
    assert(alt == got)
    assert(Relational.topFractionPerGroup(scored, col("source"),
      col("quality_x1e4"), col("doc_id"), 0.0).count() == 0L)
    assert(Relational.topFractionPerGroup(scored, col("source"),
      col("quality_x1e4"), col("doc_id"), 1.0).count() == scored.count())
  }

  test("epoch upsampling repeats full epochs and samples the fraction") {
    val n = docs.count()
    val up = Sampling.epochUpsample(docs.select("doc_id"), col("doc_id"),
      rate = 2.5).collect()
    val byEpoch = up.groupBy(_.getAs[Long]("epoch")).view
      .mapValues(_.length.toLong).toMap
    assert(byEpoch(0L) == n && byEpoch(1L) == n) // full copies
    // the fractional epoch keeps ~half (hash threshold at 0.5)
    assert(byEpoch(2L) > n / 4 && byEpoch(2L) < 3 * n / 4)
    // integer rate = exactly that many full copies, no extras
    assert(Sampling.epochUpsample(docs.select("doc_id"), col("doc_id"),
      rate = 1.0).count() == n)
    assert(Sampling.epochUpsample(docs.select("doc_id"), col("doc_id"),
      rate = 0.0).count() == 0L)
  }

  test("shuffle shards: balanced, contiguous, seed-sensitive") {
    val rows = Packing.shuffleShards(docs, col("doc_id"), numShards = 8)
      .collect()
    val byShard = rows.groupBy(_.getAs[Long]("shard"))
    val sizes = byShard.values.map(_.length)
    assert(byShard.keySet == (0L until 8L).toSet)
    assert(sizes.max - sizes.min <= 1) // round-robin deal → balanced
    byShard.foreach { case (_, g) => // positions contiguous from 0
      assert(g.map(_.getAs[Long]("pos_in_shard")).sorted.toSeq ==
        (0L until g.length).toSeq) }
    // deterministic and partition-count-invariant
    val again = Packing.shuffleShards(docs, col("doc_id"), 8,
      partitions = 5).collect()
    assert(again.map(_.toSeq).toSet == rows.map(_.toSeq).toSet)
    // a different seed deals a different permutation
    val seeded = Packing.shuffleShards(docs, col("doc_id"), 8, seed = 7L)
      .collect()
    assert(seeded.map(_.toSeq).toSet != rows.map(_.toSeq).toSet)
  }

  /** Driver-side reference of the winnowing selection — same pack/fold
    * hashes, scala collections. */
  private def winnowRef(text: String, k: Int, w: Int): Set[Long] = {
    val P = 2147483647L
    val toks = text.split(" ", -1)
    val packs = toks.map(t =>
      31L * t.length + (if (t.isEmpty) 0L else t.charAt(0).toLong))
    val gh =
      if (packs.length >= k) (0 to packs.length - k).map { i =>
        (1 until k).foldLeft((7L * 31 + packs(i)) % P)(
          (a, j) => (a * 31 + packs(i + j)) % P)
      } else Seq.empty[Long]
    if (gh.isEmpty) Set.empty
    else (0 until math.max(gh.length - w + 1, 1))
      .map(j => gh.slice(j, j + w).min).toSet
  }

  test("winnowing equals the driver reference on the real corpus") {
    val out = TextAnalysis.winnowFingerprints(
        docs, col("doc_id"), col("text"), k = 3, w = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ref = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)))
      .collect { case (id, Some(t)) if winnowRef(t, 3, 4).nonEmpty =>
        id -> winnowRef(t, 3, 4) }.toMap
    assert(out == ref)
    assert(ref.nonEmpty)
  }

  test("winnowing guarantee: a shared >= w+k-1 token run shares a fp") {
    import spark.implicits._
    // two docs sharing a 6-token run (w+k-1 = 4+3-1 = 6) amid noise
    val shared = "alpha beta gamma delta epsilon zeta"
    val d = Seq((1L, s"one two three $shared four five six"),
                (2L, s"seven eight $shared nine ten eleven twelve"))
      .toDF("doc_id", "text")
    val fps = TextAnalysis.winnowFingerprints(
        d, col("doc_id"), col("text"), k = 3, w = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((fps(1L) intersect fps(2L)).nonEmpty)
    // density: selection is sublinear (~2/(w+1) of grams kept)
    val nGrams = shared.split(" ").length + 7 - 2 // doc1: 13 toks, 11 grams
    assert(fps(1L).size < nGrams)
  }

  test("rule violations count in one pass, null predicates violate") {
    import spark.implicits._
    val d = Seq((1L, Some("ok")), (2L, None), (3L, Some("bad")))
      .toDF("id", "s")
    val out = Checks.ruleViolations(d, Seq(
        "s_null" -> col("s").isNull,
        "s_is_bad" -> (col("s") === "bad"),      // null s -> null -> bad
        "id_big" -> (col("id") > 100L)))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("s_null" -> 1L, "s_is_bad" -> 2L, "id_big" -> 0L))
    assert(Checks.duplicateKeys(d.union(d), col("id")).count() == 3)
    assert(Checks.duplicateKeys(d, col("id")).count() == 0)
  }

  test("keyedDiff classifies added/removed/changed/unchanged, null-safe") {
    import spark.implicits._
    val old = Seq((1L, Some("a")), (2L, Some("b")), (3L, Option.empty[String]),
                  (4L, Some("d"))).toDF("id", "fp")
    val neu = Seq((1L, Some("a")), (2L, Some("B")), (3L, Option.empty[String]),
                  (5L, Some("e"))).toDF("id", "fp")
    val out = Checks.keyedDiff(old, neu, col("id"), col("id"),
        col("fp"), col("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "unchanged", // both null fingerprints: present, equal
      4L -> "removed", 5L -> "added"))
  }

  test("modePerGroup takes max count, smallest value on ties") {
    import spark.implicits._
    val d = Seq(("a", 3L), ("a", 3L), ("a", 5L), ("a", 5L), ("a", 9L),
                ("b", 7L), ("b", 1L))
      .toDF("g", "v")
    val m = Relational.modePerGroup(d, col("g"), col("v"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(m("a") == (2L, 3L)) // 3 and 5 tie at 2 — smallest wins
    assert(m("b") == (1L, 1L)) // all tie at 1 — smallest value
  }

  test("exactCorr matches the built-in corr within float tolerance") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val d = (1 to 500).map { i =>
      val x = rnd.nextInt(100).toLong
      ("g" + (i % 2), x, 3 * x + rnd.nextInt(40).toLong) }
      .toDF("g", "x", "y")
    val got = Relational.exactCorr(d, col("g"), col("x"), col("y"))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val want = d.groupBy("g").agg(corr(col("x"), col("y")).as("c"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    got.foreach { case (g, v) =>
      assert(math.abs(v - want(g)) < 1e-6, s"$g: $v vs ${want(g)}")
      assert(v > 0.9, s"$g: planted strong positive correlation") }
  }

  test("fuzzy matching equals the naive all-pairs filter (lossless block)") {
    import spark.implicits._
    val d = Seq("red widget", "ted widget", "red gadget", "bolt",
                "boltt", "bbolttt", "entirely different", "")
      .map(Tuple1(_)).toDF("name")
    val got = Relational.fuzzyMatchPairs(d, col("name"), maxDist = 2)
      .select("name1", "name2").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val n = d.distinct().withColumnRenamed("name", "n1")
    val want = n.crossJoin(d.distinct().withColumnRenamed("name", "n2"))
      .filter(col("n1") < col("n2") &&
              levenshtein(col("n1"), col("n2")) <= 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == want)
    // the length window is the lossless part: bolt<->bbolttt differ by
    // 3 chars in length and must be absent; bolt<->boltt present
    assert(want.contains(("bolt", "boltt")))
    assert(!want.contains(("bbolttt", "bolt")))
  }

  test("rangeJoin equals the naive BETWEEN join, edge-inclusive") {
    import spark.implicits._
    val pts = Seq((1L, 0.0), (2L, 10.0), (3L, 10.5), (4L, 25.0),
                  (5L, 99.9), (6L, -3.0)).toDF("pid", "v")
    val ivs = Seq(("a", 0.0, 10.0), ("b", 10.0, 20.0), ("c", 30.0, 25.0),
                  ("d", 90.0, 200.0)).toDF("iv", "lo", "hi")
    val got = Relational.rangeJoin(pts, ivs, col("v"), col("lo"),
        col("hi"), bucketWidth = 7L)
      .select("pid", "iv").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val want = pts.join(ivs, col("v") >= col("lo") && col("v") <= col("hi"))
      .select("pid", "iv").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == want)
    // boundary 10.0 is in BOTH a and b (inclusive ends); empty interval
    // c matches nothing; negative point 6 matches nothing
    assert(want.contains((2L, "a")) && want.contains((2L, "b")))
    assert(!want.exists(_._2 == "c"))
  }

  test("rangeJoin plans a bucket equi-join, not a nested loop") {
    import spark.implicits._
    val pts = (1L to 100L).map(i => (i, i.toDouble)).toDF("pid", "v")
    val ivs = Seq(("x", 10.0, 40.0), ("y", 35.0, 90.0))
      .toDF("iv", "lo", "hi")
    val df = Relational.rangeJoin(pts, ivs, col("v"), col("lo"),
      col("hi"), bucketWidth = 25L)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!p.contains("BroadcastNestedLoopJoin") &&
           !p.contains("CartesianProduct"), p.take(2000))
  }

  test("rrf fusion rewards agreement across lists, needs only ranks") {
    import spark.implicits._
    // doc 100 is mid-rank in BOTH lists; docs 1 and 2 top one list
    // each but miss the other — agreement must win under RRF
    val l1 = Seq((1L, 1L, 1), (1L, 100L, 2), (1L, 3L, 3))
      .toDF("qid", "doc_id", "rank")
    val l2 = Seq((1L, 2L, 1), (1L, 100L, 2), (1L, 4L, 3))
      .toDF("qid", "doc_id", "rank")
    val fused = Retrieval.rrfFuse(Seq(l1, l2), k = 5)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getInt(3)))
    assert(fused.head._1 == 100L) // 2/(60+2) beats 1/61
    assert(fused.map(_._1).toSet == Set(100L, 1L, 2L, 3L, 4L))
    // ties (1 vs 2, 3 vs 4: identical contributions) break by doc id
    val order = fused.map(_._1).toSeq
    assert(order.indexOf(1L) < order.indexOf(2L))
    assert(order.indexOf(3L) < order.indexOf(4L))
  }

  test("hash features match a driver-side reference, dups identical") {
    import spark.implicits._
    val P = 2147483647L
    def h(t: String) = t.foldLeft(7L)((a, c) => (a * 31 + c.toLong) % P)
    def ref(text: String, dim: Int): Map[Int, Long] =
      text.split(" ", -1).filter(_.nonEmpty)
        .groupBy(identity).view.mapValues(_.length.toLong).toMap.toSeq
        .map { case (t, tf) =>
          val hv = h(t)
          ((hv % dim).toInt, (1L - 2L * ((hv * 48271L) % P % 2L)) * tf) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val d = Seq((1L, "spark hash spark table"),
                (2L, "spark hash spark table"), // exact dup of 1
                (3L, "window sort"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.hashFeatures(d, col("doc_id"), col("text"),
        dim = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1).view
      .mapValues(_.map(t => t._2 -> t._3).toMap).toMap
    assert(out(1L) == ref("spark hash spark table", 16))
    assert(out(3L) == ref("window sort", 16))
    assert(out(1L) == out(2L)) // featurization is content-determined
  }

  test("incremental LSH pairs equal the inverted-index exact pairs") {
    val odd = docs.filter(col("doc_id") % 2 === 1)
    val even = docs.filter(col("doc_id") % 2 === 0)
    val exact = Dedup.jaccardPairsBetween(odd, even,
        col("doc_id"), col("doc_id"), col("text"), col("text"), tau = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bIx = Dedup.minhashIndex(odd, col("doc_id"), col("text"))
    val cIx = Dedup.minhashIndex(even, col("doc_id"), col("text"))
    val lsh = Dedup.minhashLshPairsBetween(bIx, cIx, tau = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact)
    assert(exact.nonEmpty)
    // shared ids never self-pair (the post-merge re-run hazard)
    val selfRun = Dedup.minhashLshPairsBetween(bIx, bIx, tau = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(selfRun.forall { case (a, b) => a != b })
  }

  test("funnel requires strictly-ordered stage completion") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    val ev = Seq(
      // user 1: full funnel in order
      (1L, t("2024-01-01 10:00:00"), "signup"),
      (1L, t("2024-01-01 11:00:00"), "view"),
      (1L, t("2024-01-01 12:00:00"), "click"),
      // user 2: clicked BEFORE viewing — click must not complete
      (2L, t("2024-01-01 10:00:00"), "signup"),
      (2L, t("2024-01-01 09:00:00"), "click"),
      (2L, t("2024-01-01 11:00:00"), "view"),
      // user 3: never signed up — absent from the funnel
      (3L, t("2024-01-01 08:00:00"), "view"),
      // user 4: signup only
      (4L, t("2024-01-01 07:00:00"), "signup")
    ).toDF("user_id", "ts", "event_type")
    val f = Events.funnel(ev, col("user_id"), col("ts"),
        col("event_type"), Seq("signup", "view", "click"))
      .collect().map(r => r.getLong(0) ->
        (Option(r.getTimestamp(1)), Option(r.getTimestamp(2)),
         Option(r.getTimestamp(3)))).toMap
    assert(f.keySet == Set(1L, 2L, 4L))
    assert(f(1L) == (Some(t("2024-01-01 10:00:00")),
      Some(t("2024-01-01 11:00:00")), Some(t("2024-01-01 12:00:00"))))
    // user 2's click at 09:00 precedes the view at 11:00 — no click
    assert(f(2L)._2 == Some(t("2024-01-01 11:00:00")) &&
           f(2L)._3.isEmpty)
    assert(f(4L)._2.isEmpty && f(4L)._3.isEmpty) // nulls propagate
  }

  test("event transitions lag within user, tie-broken by event id") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    val ev = Seq(
      (10L, 1L, t("2024-01-01 10:00:00"), "a"),
      (11L, 1L, t("2024-01-01 11:00:00"), "b"),
      (12L, 1L, t("2024-01-01 11:00:00"), "c"), // tie: id 11 before 12
      (20L, 2L, t("2024-01-01 09:00:00"), "b"), // other user: no a->b
      (21L, 2L, t("2024-01-01 10:00:00"), "a")
    ).toDF("event_id", "user_id", "ts", "event_type")
    val m = Events.eventTransitions(ev, col("user_id"), col("ts"),
        col("event_type"), col("event_id"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(m == Map(("a", "b") -> 1L, ("b", "c") -> 1L,
                    ("b", "a") -> 1L))
  }

  test("windowed funnel rejects conversions outside the step bound") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    val ev = Seq(
      (1L, t("2024-01-01 10:00:00"), "signup"),
      (1L, t("2024-01-01 10:30:00"), "view"),   // inside 1h window
      (2L, t("2024-01-01 10:00:00"), "signup"),
      (2L, t("2024-01-01 12:00:01"), "view")    // outside 1h: no view
    ).toDF("user_id", "ts", "event_type")
    val f = Events.funnel(ev, col("user_id"), col("ts"),
        col("event_type"), Seq("signup", "view"),
        withinSeconds = Some(3600L))
      .collect().map(r => r.getLong(0) -> Option(r.getTimestamp(2))).toMap
    assert(f(1L).contains(t("2024-01-01 10:30:00")))
    assert(f(2L).isEmpty)
    // boundary: exactly the window is IN (<=)
    val edge = Seq(
      (3L, t("2024-01-01 10:00:00"), "signup"),
      (3L, t("2024-01-01 11:00:00"), "view")
    ).toDF("user_id", "ts", "event_type")
    val g = Events.funnel(edge, col("user_id"), col("ts"),
        col("event_type"), Seq("signup", "view"),
        withinSeconds = Some(3600L)).collect()
    assert(!g.head.isNullAt(2))
  }

  test("retention counts a user once per active day against its cohort") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    val ev = Seq(
      (1L, t("2024-01-01 10:00:00"), "view"),
      (1L, t("2024-01-01 23:00:00"), "click"), // same day: counts once
      (1L, t("2024-01-03 10:00:00"), "view"),  // offset 2
      (2L, t("2024-01-01 09:00:00"), "view"),
      (2L, t("2024-01-02 09:00:00"), "view"),  // offset 1
      (3L, t("2024-01-02 12:00:00"), "view")   // its own cohort
    ).toDF("user_id", "ts", "event_type")
    val m = Events.retentionCohorts(ev, col("user_id"), col("ts"))
      .collect().map(r => (r.getTimestamp(0).toString.take(10),
        r.getInt(1)) -> r.getLong(2)).toMap
    assert(m == Map(
      ("2024-01-01", 0) -> 2L, ("2024-01-01", 1) -> 1L,
      ("2024-01-01", 2) -> 1L, ("2024-01-02", 0) -> 1L))
  }

  test("power iteration recovers a planted dominant direction") {
    import spark.implicits._
    val dim = 8
    val u = Array(0.6, -0.3, 0.5, 0.1, -0.4, 0.2, -0.2, 0.1)
    val rnd = new scala.util.Random(7)
    // strong signal along u, weak isotropic noise
    val rows = (0 until 200).map { i =>
      val a = if (i % 2 == 0) 3.0 else -3.0
      (i.toLong, (0 until dim).map(j =>
        (a * u(j) + 0.05 * rnd.nextGaussian()).toFloat).toArray)
    }
    val d = rows.toDF("vec_id", "embedding")
    val pc = Similarity.topPrincipalComponent(d, col("vec_id"),
      col("embedding"), iters = 3)
    val v = pc.sortBy(_._1).map(_._2.toDouble / 1e6).toArray
    val cos = {
      val dot = v.zip(u).map { case (a, b) => a * b }.sum
      dot / (math.sqrt(v.map(x => x * x).sum) *
             math.sqrt(u.map(x => x * x).sum))
    }
    assert(math.abs(cos) > 0.99, s"recovered direction cos=$cos")
  }

  test("deflated power iteration recovers two planted directions") {
    import spark.implicits._
    val dim = 8
    val u1 = Array(0.6, -0.3, 0.5, 0.1, -0.4, 0.2, -0.2, 0.1)
    val u2 = Array(0.3, 0.6, 0.0, -0.5, 0.2, 0.4, 0.1, -0.2)
    // Gram-Schmidt u2 against u1 so the planted pair is orthogonal
    val d11 = u1.map(x => x * x).sum
    val d12 = u1.zip(u2).map { case (a, b) => a * b }.sum
    val u2o = u2.zip(u1).map { case (b, a) => b - d12 / d11 * a }
    val rnd = new scala.util.Random(11)
    val rows = (0 until 300).map { i =>
      val a = if (i % 2 == 0) 4.0 else -4.0   // strong along u1
      val b = if (i % 3 == 0) 2.0 else -1.0   // weaker along u2o
      (i.toLong, (0 until dim).map(j =>
        (a * u1(j) + b * u2o(j) + 0.03 * rnd.nextGaussian()).toFloat)
        .toArray)
    }
    val d = rows.toDF("vec_id", "embedding")
    val out = Similarity.topPrincipalComponents(d, col("vec_id"),
        col("embedding"), m = 2, iters = 3)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    def comp(k: Int): Array[Double] = out.filter(_._1 == k)
      .sortBy(_._2).map(_._3.toDouble / 1e6)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) *
             math.sqrt(b.map(x => x * x).sum))
    }
    val v1 = comp(1); val v2 = comp(2)
    assert(math.abs(cos(v1, u1)) > 0.99, s"pc1 cos=${cos(v1, u1)}")
    assert(math.abs(cos(v2, u2o)) > 0.95, s"pc2 cos=${cos(v2, u2o)}")
    assert(math.abs(cos(v1, v2)) < 0.1, // deflation orthogonalizes
      s"pc1·pc2 cos=${cos(v1, v2)}")
    // component 1 is exactly the single-component trainer's output
    val pc1 = Similarity.topPrincipalComponent(d, col("vec_id"),
      col("embedding"), iters = 3).sortBy(_._1).map(_._2)
    assert(out.filter(_._1 == 1).sortBy(_._2).map(_._3).toSeq ==
      pc1.toSeq)
  }

  test("removeTopComponent leaves vectors orthogonal to the direction") {
    val pc = Similarity.topPrincipalComponent(embs, col("vec_id"),
      col("embedding"), iters = 2)
    val u = pc.sortBy(_._1).map(_._2.toDouble / 1e6)
    val norm = math.sqrt(u.map(x => x * x).sum)
    val un = u.map(_ / norm)
    val out = Similarity.removeTopComponent(embs, col("vec_id"),
      col("embedding"), pc)
    val rows = out.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val v = r.getSeq[Double](1)
      val proj = v.zip(un).map { case (a, b) => a * b }.sum
      assert(math.abs(proj) < 1e-9, s"vec ${r.getLong(0)} proj=$proj")
    }
  }

  test("bm25 ranks term coverage, rarity, and length-norm correctly") {
    import spark.implicits._
    val d = Seq(
      (1L, "needle common common common"),        // rare term, short doc
      (2L, "needle " + ("common " * 60).trim),    // rare term, long doc
      (3L, ("common " * 10).trim),                // common term only
      (4L, "unrelated words entirely here")
    ).toDF("doc_id", "text")
    val qs = Seq((1L, "needle common")).toDF("qid", "qtext")
    val out = Retrieval.bm25(d, col("doc_id"), col("text"),
        qs, col("qid"), col("qtext"), k = 4)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getInt(3)))
    // both needle docs beat the common-only doc (idf dominance); the
    // short needle doc beats the long one (length normalization); the
    // no-match doc is absent entirely
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L))
  }

  test("containment pairs catch a shared passage global jaccard misses") {
    import spark.implicits._
    // a 12-token passage embedded in two long otherwise-disjoint docs:
    // global jaccard is far below any useful tau, but winnowing
    // guarantees shared fingerprints from the common run
    val passage = (1 to 12).map(i => s"shared$i").mkString(" ")
    val noise1 = (1 to 80).map(i => s"left$i").mkString(" ")
    val noise2 = (1 to 80).map(i => s"right$i").mkString(" ")
    val d = Seq((1L, s"$noise1 $passage"), (2L, s"$passage $noise2"),
                (3L, (1 to 90).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "text")
    val jac = pairSet(Dedup.jaccardPairs(d, col("doc_id"), col("text"), 0.2))
    assert(!jac.contains((1L, 2L))) // diluted below tau
    // the guarantee is >= 1 DISTINCT shared fp per shared run (window
    // minima inside one run can all collapse to the run's min gram),
    // so the spec asserts at minShared = 1
    val cont = Dedup.winnowContainmentPairs(d, col("doc_id"), col("text"),
        minShared = 1, maxDocFreq = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cont == Set((1L, 2L)))
  }

  test("pageRank matches a hand-replayed fixed-point iteration") {
    import spark.implicits._
    // two baskets: {1,2} and {1,2,3} — edges 1↔2 (w=2), 1↔3, 2↔3 (w=1)
    val baskets = Seq((10L, 1L), (10L, 2L),
                      (20L, 1L), (20L, 2L), (20L, 3L))
      .toDF("o", "p")
    val e = Graph.coOccurrenceEdges(baskets, col("o"), col("p"))
    val ew = e.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(ew == Map((1L, 2L) -> 2L, (2L, 1L) -> 2L, (1L, 3L) -> 1L,
                     (3L, 1L) -> 1L, (2L, 3L) -> 1L, (3L, 2L) -> 1L))
    // driver replay of the same integer arithmetic
    val outW = Map(1L -> 3L, 2L -> 3L, 3L -> 2L)
    var r = Map(1L -> 1000000L, 2L -> 1000000L, 3L -> 1000000L)
    for (_ <- 0 until 2) {
      val inbound = ew.toSeq
        .map { case ((s, d), w) => d -> (r(s) * w) / outW(s) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum)
      r = inbound.map { case (d, s) => d -> (150000L + 17L * s / 20L) }
        .toMap
    }
    val got = Graph.pageRank(e, iters = 2).collect()
      .map(row => row.getLong(0) -> row.getLong(1)).toMap
    assert(got == r)
    // mass sanity: teleport floor holds, hub (deg-2 node 1) outranks
    // the rest symmetrically with node 2, leaf 3 trails
    assert(got.values.forall(_ >= 150000L))
    assert(got(1L) == got(2L) && got(3L) < got(1L))
  }

  test("triangleCounts enumerates each triangle once per corner") {
    import spark.implicits._
    // K4 on {1,2,3,4} (4 triangles, each node in 3) plus a pendant
    // 4–5 edge (in no triangle) and noise: duplicate + reversed edges
    val k4 = for { a <- 1L to 4L; b <- 1L to 4L if a != b } yield (a, b)
    val edges = (k4 ++ Seq((4L, 5L), (1L, 2L), (2L, 1L)))
      .toDF("x", "y")
    val got = Graph.triangleCounts(edges, col("x"), col("y"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangle wedge volume matches the out-degree bound formula") {
    import spark.implicits._
    // dup/reversed noise MUST vanish before orientation: a surviving
    // multi-edge would inflate out-degrees and mint phantom wedges
    val k4 = for { a <- 1L to 4L; b <- 1L to 4L if a != b } yield (a, b)
    val edges = (k4 ++ k4 ++ Seq((4L, 5L), (5L, 4L), (1L, 2L)))
      .toDF("x", "y")
    val oriented = Graph.orientedEdges(edges, col("x"), col("y"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // canonical K4 + pendant = 7 distinct edges, each oriented once
    assert(oriented.length == 7 && oriented.distinct.length == 7)
    // wedge volume two ways: Σ_s C(outdeg(s), 2) from the oriented
    // list must equal the enumeration join's row count
    val outDeg = oriented.groupBy(_._1).view.mapValues(_.size)
    val wedgeFormula = outDeg.values.map(d => d.toLong * (d - 1) / 2).sum
    val o = Graph.orientedEdges(edges, col("x"), col("y"))
    val wedgeRows = o.as("a")
      .join(o.as("b"), col("a.s") === col("b.s") && col("a.d") < col("b.d"))
      .count()
    assert(wedgeRows == wedgeFormula)
    assert(wedgeFormula <= 7L * 7L) // O(m·√m) bound sanity
  }

  test("kCorePeel removes cascades round by round, fixed-round exact") {
    import spark.implicits._
    // K4 on {1,2,3,4} (3-core) + a path 4–5–6 hanging off it, plus
    // dup/reversed noise. Peeling k=2: round 1 drops 6 (deg 1), which
    // leaves 5 at deg 1 — the CASCADE only falls in round 2. A 1-round
    // peel must still show 5; a 2-round peel reaches the stable 2-core.
    val k4 = for { a <- 1L to 4L; b <- 1L to 4L if a != b } yield (a, b)
    val edges = (k4 ++ Seq((4L, 5L), (5L, 6L), (5L, 4L), (6L, 5L)))
      .toDF("x", "y")
    def run(rounds: Int) =
      Graph.kCorePeel(edges, col("x"), col("y"), k = 2, rounds = rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(1) == Map(1L -> 3L, 2L -> 3L, 3L -> 3L,
                         4L -> 4L, 5L -> 1L))
    val stable = Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L)
    assert(run(2) == stable)
    // extra rounds past the fixed point are no-ops (crosses the
    // round-5 localCheckpoint cut)
    assert(run(7) == stable)
  }

  test("personalizedPageRank pins teleport mass to the seed set") {
    import spark.implicits._
    // 2-cycle 1↔2, seed {1}. Exact integer trace: r0 = (1e6, 0);
    // r1 = (150000, 850000); r2 = (150000+17·850000/20,
    // 17·150000/20) = (872500, 127500).
    val edges = Seq((1L, 2L, 1L), (2L, 1L, 1L)).toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("id")
    val got = Graph.personalizedPageRank(edges, seeds, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 872500L, 2L -> 127500L))
    // a node never reached from the seeds holds no rank: 3↔4 island
    val withIsland = edges.unionByName(
      Seq((3L, 4L, 1L), (4L, 3L, 1L)).toDF("src", "dst", "w"))
    val ranks = Graph.personalizedPageRank(withIsland, seeds, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ranks == Map(1L -> 872500L, 2L -> 127500L))
  }

  test("labelPropagation: two cliques joined by a bridge, min tie-break") {
    import spark.implicits._
    // K3 {1,2,3} — bridge 3–4 — K3 {4,5,6}. Hand-traced sync rounds
    // with the min tie-break: r1 = {1→2, 2→1, 3→1, 4→3, 5→4, 6→4};
    // r2 = {1→1, 2→1, 3→1, 4→4, 5→3, 6→3} (5 and 6 tie {3,4} → 3);
    // r3 settles both cliques: {1,2,3}→1, and {4,5,6}→3 — the right
    // clique's community name is the label the BRIDGE injected in r1,
    // which then won 4's 2-of-3 neighbor vote. Two communities, split
    // exactly at the bridge.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L),
                    (4L, 5L), (4L, 6L), (5L, 6L)).toDF("x", "y")
    def run(rounds: Int): Map[Long, Long] =
      Graph.labelPropagation(edges, col("x"), col("y"), rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(2) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
                         4L -> 4L, 5L -> 3L, 6L -> 3L))
    assert(run(3) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
                         4L -> 3L, 5L -> 3L, 6L -> 3L))
    // reversed/dup edges canonicalize away — same communities
    val noisy = edges.unionByName(
      Seq((2L, 1L), (3L, 2L), (6L, 4L)).toDF("x", "y"))
    assert(Graph.labelPropagation(noisy, col("x"), col("y"), 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      run(3))
  }

  test("tableChecksum is row-order invariant and change-sensitive") {
    import spark.implicits._
    val a = Seq((1L, "x"), (2L, "y"), (3L, Option.empty[String].orNull))
      .toDF("id0", "s")
    def sums(d: org.apache.spark.sql.DataFrame) = {
      val r = Relational.tableChecksum(d).collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val base = sums(a)
    // partitioning / row order never moves the checksum
    assert(sums(a.repartition(5)) == base)
    assert(sums(a.orderBy(desc("id0"))) == base)
    // a single changed value moves it; null vs empty are distinct
    assert(sums(a.withColumn("s",
      when(col("id0") === 2, "z").otherwise(col("s")))) != base)
    assert(sums(a.na.fill("", Seq("s"))) != base)
  }

  test("pseudonymizeColumns keeps joinability, hides the raw id") {
    import spark.implicits._
    val d1 = Seq((7L, "a"), (8L, "b")).toDF("uid", "v1")
    val d2 = Seq((7L, "c"), (9L, "d")).toDF("uid", "v2")
    val p1 = Relational.pseudonymizeColumns(d1, "salt!", Seq("uid"))
    val p2 = Relational.pseudonymizeColumns(d2, "salt!", Seq("uid"))
    // same salt → same pseudonym → the join still finds uid 7
    val joined = p1.join(p2, "uid").collect()
    assert(joined.length == 1 && joined(0).getAs[String]("v1") == "a")
    // pseudonyms are 64-hex and never the raw value; new salt unlinks
    assert(p1.collect().forall(_.getString(0).matches("[0-9a-f]{64}")))
    val other = Relational.pseudonymizeColumns(d1, "salt2", Seq("uid"))
    assert(p1.join(other.withColumnRenamed("v1", "v3"), "uid").count() == 0)
  }

  test("ancestorClosure doubles to exactly the bounded chain") {
    import spark.implicits._
    // chain 1→2→3→4→5 (parent pointers), plus a 2-node tree 10→11
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
                    (10L, 11L)).toDF("c", "p")
    def run(d: Int): Set[(Long, Long, Long)] =
      Graph.ancestorClosure(edges, col("c"), col("p"), d)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getLong(2))).toSet
    // maxDepth 3: node 1 reaches 2,3,4; never 5
    assert(run(3) == Set(
      (1L, 2L, 1L), (1L, 3L, 2L), (1L, 4L, 3L),
      (2L, 3L, 1L), (2L, 4L, 2L), (2L, 5L, 3L),
      (3L, 4L, 1L), (3L, 5L, 2L), (4L, 5L, 1L),
      (10L, 11L, 1L)))
    // maxDepth past the longest chain is the full closure, stable
    assert(run(4) == run(9) && run(4).size == 11)
  }

  test("spanMaskManifest: stratified non-overlapping spans, clamped") {
    import spark.implicits._
    val docs = Seq((5L, 60L), (6L, 2L), (7L, 10L)).toDF("id0", "n0")
    // 15%-ish at spanLen 3 on n=60 → 3 spans in 20-token strata
    val spans = Packing.spanMaskManifest(docs, col("id0"), col("n0"),
        spanLen = 3, maskNum = 3, maskDen = 20, seed = 7L)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3)))
    val d5 = spans.filter(_._1 == 5L).sortBy(_._2)
    assert(d5.length == 3)
    d5.foreach { case (_, k, st, en) =>
      assert(en == st + 3)
      assert(st >= k * 20 && en <= (k + 1) * 20) // stays in stratum
    }
    // too short for one span → no rows
    assert(!spans.exists(_._1 == 6L))
    // full-rate clamp: n=10, rate 1 → nSpans = n div spanLen = 3,
    // stratum 3, zero freedom → exactly back-to-back spans
    val full = Packing.spanMaskManifest(docs.filter(col("id0") === 7),
        col("id0"), col("n0"), spanLen = 3, maskNum = 1, maskDen = 1)
      .collect().map(r => (r.getLong(2), r.getLong(3))).sorted
    assert(full.toSeq == Seq((0L, 3L), (3L, 6L), (6L, 9L)))
  }

  test("stripBoilerplate drops high-DF segments, keeps order") {
    import spark.implicits._
    // 'foot' is in 3/4 docs (df > 1/2), 'rare'/'mid' are not; doc 4
    // is ALL boilerplate and must survive as an empty row, not vanish
    val df = Seq(
      (1L, "rare foot end"), (2L, "foot mid"), (3L, "mid end x"),
      (4L, "foot")
    ).toDF("id0", "txt")
    val out = Dedup.stripBoilerplate(df, col("id0"), col("txt"),
        sep = " ", maxDocNum = 1, maxDocDen = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == (("rare end", 2L, 1L)))
    assert(out(2L) == (("mid", 1L, 1L)))
    assert(out(3L) == (("mid end x", 3L, 0L)))
    assert(out(4L) == (("", 0L, 1L)))
  }

  test("joinExplosionReport predicts exact inner-join sizes per key") {
    import spark.implicits._
    val l = Seq("a", "a", "a", "b", "c").toDF("k")
    val r = Seq("a", "b", "b", "b", "d").toDF("k")
    val rep = Relational.joinExplosionReport(l, r, col("k"), col("k"))
      .collect().map(x => (x.getString(0), x.getLong(1),
        x.getLong(2), x.getLong(3)))
    // only shared keys forecast; a: 3*1=3, b: 1*3=3 (tie → key asc);
    // the forecast must equal the real inner-join row count
    assert(rep.toSeq == Seq(("a", 3L, 1L, 3L), ("b", 1L, 3L, 3L)))
    assert(rep.map(_._4).sum ==
      l.join(r, "k").count())
  }

  test("profileColumns: one-scan nulls/distincts/typed extremes") {
    import spark.implicits._
    val df = Seq(
      (Some(10L), Some("b")), (Some(2L), None),
      (None, Some("a")), (Some(10L), Some("c"))
    ).toDF("num", "s")
    val got = Relational.profileColumns(df)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
         r.getString(4), r.getString(5))).toMap
    // numeric extremes are typed: min 2, max 10 — lexicographic
    // string-cast would have said min "10", max "2"
    assert(got("num") == ((3L, 1L, 2L, "2", "10")))
    assert(got("s") == ((3L, 1L, 3L, "a", "c")))
  }

  test("snapshotDiff classifies adds/removes/changes, null-safe") {
    import spark.implicits._
    val oldSnap = Seq(
      (1L, Some("a"), 10L), (2L, Some("b"), 20L),
      (3L, Option.empty[String], 30L), (5L, Some("e"), 50L)
    ).toDF("id0", "s", "n")
    val newSnap = Seq(
      (2L, Some("B"), 20L),             // s changed
      (3L, Some("c"), 31L),             // null→value AND n changed
      (4L, Some("d"), 40L),             // added
      (5L, Some("e"), 50L)              // identical → no row
    ).toDF("id0", "s", "n")
    val got = Relational.snapshotDiff(oldSnap, newSnap, col("id0"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getString(2))).toSet
    assert(got == Set(
      (1L, "removed", ""), (2L, "changed", "s"),
      (3L, "changed", "n,s"), (4L, "added", "")))
  }

  test("equiDepthHistogram: uniform 1..8 into 4 exact buckets") {
    import spark.implicits._
    // internal boundaries = interpolated quartiles of 1..8:
    // (2.75, 4.5, 6.25) → buckets {1,2|3,4|5,6|7,8}, 2 rows each
    val df = (1L to 8L).toDF("v")
    val got = Relational.equiDepthHistogram(df, col("v"), k = 4)
      .collect().map(r => (r.getInt(0),
        r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set((0, 2L, 1L, 2L), (1, 2L, 3L, 4L),
                      (2, 2L, 5L, 6L), (3, 2L, 7L, 8L)))
    // boundary-valued rows fall LEFT: constant column → one bucket
    val const = Seq.fill(6)(42L).toDF("v")
    val one = Relational.equiDepthHistogram(const, col("v"), k = 3)
      .collect()
    assert(one.length == 1 && one(0).getInt(0) == 0 &&
      one(0).getLong(1) == 6L)
  }

  test("equiDepthHistogramApprox tracks the exact histogram") {
    import spark.implicits._
    val vs = (1L to 5000L).map(i => (i * 7919L) % 10007L)
    val df = vs.toDF("v")
    def toMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getInt(0) -> r.getLong(1)).toMap
    val exact = toMap(Relational.equiDepthHistogram(df, col("v"), 8)
      .collect())
    val approx = toMap(
      Relational.equiDepthHistogramApprox(df, col("v"), 8).collect())
    // same buckets, per-bucket counts within the sketch's rank error
    // (n/accuracy = 0.5 at default accuracy — effectively exact here,
    // allow a loose band anyway)
    assert(exact.keySet == approx.keySet)
    exact.foreach { case (b, n) =>
      assert(math.abs(approx(b) - n) <= vs.length / 100,
        s"bucket $b: approx ${approx(b)} vs exact $n")
    }
    assert(approx.values.sum == vs.length.toLong)
  }

  test("skewReport matches a hand-computed distribution") {
    import spark.implicits._
    // per-key counts: a→6, b→2, c→1, d→1 (10 rows, 4 keys)
    val df = (Seq.fill(6)("a") ++ Seq.fill(2)("b") ++ Seq("c", "d"))
      .toDF("k")
    val r = Relational.skewReport(df, col("k")).collect()(0)
    assert(r.getAs[Long]("n_keys") == 4L)
    assert(r.getAs[Long]("total_rows") == 10L)
    assert(r.getAs[Long]("max_cnt") == 6L)
    // counts sorted: [1,1,2,6]; p50 = interp(1.5)=1.5, p90 = 4.8,
    // p99 between 2 and 6 at fraction .97 → 5.88
    assert(r.getAs[Double]("p50_cnt") == 1.5)
    assert(math.abs(r.getAs[Double]("p90_cnt") - 4.8) < 1e-9)
    assert(math.abs(r.getAs[Double]("p99_cnt") - 5.88) < 1e-9)
    assert(r.getAs[Long]("top1_ppm") == 600000L)
    assert(r.getAs[Long]("top10_ppm") == 1000000L) // ≤10 keys: all rows
  }

  test("pageRank at 50 iterations (lineage checkpoints) stays exact") {
    import spark.implicits._
    val baskets = Seq((10L, 1L), (10L, 2L),
                      (20L, 1L), (20L, 2L), (20L, 3L))
      .toDF("o", "p")
    val e = Graph.coOccurrenceEdges(baskets, col("o"), col("p"))
    val ew = e.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val outW = Map(1L -> 3L, 2L -> 3L, 3L -> 2L)
    var r = Map(1L -> 1000000L, 2L -> 1000000L, 3L -> 1000000L)
    for (_ <- 0 until 50) {
      val inbound = ew.toSeq
        .map { case ((s, d), w) => d -> (r(s) * w) / outW(s) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum)
      r = inbound.map { case (d, s) => d -> (150000L + 17L * s / 20L) }
        .toMap
    }
    // crosses four localCheckpoint cuts; values must be bit-identical
    // to the uncut driver replay
    val got = Graph.pageRank(e, iters = 50).collect()
      .map(row => row.getLong(0) -> row.getLong(1)).toMap
    assert(got == r)
  }

  test("intervalOverlapJoin counts bucket-spanning pairs exactly once") {
    import spark.implicits._
    // [0,10000] spans 3 hourly buckets shared with [5000,9000];
    // [9000,9000] touches it at a point (overlap 0); [20000,30000] is
    // disjoint; empty (e<s) and null rows drop
    val iv = Seq((1L, 0L, 10000L), (2L, 5000L, 9000L),
                 (3L, 9000L, 9000L), (4L, 20000L, 30000L),
                 (5L, 50L, 10L))
      .toDF("id", "s", "e")
      .union(Seq((6L, Option.empty[Long], Option(1L)))
        .toDF("id", "s", "e"))
    val got = Relational.intervalOverlapJoin(
        iv, col("id"), col("s"), col("e"),
        iv, col("id"), col("s"), col("e"),
        bucketSize = 3600L, strictPairs = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(got == Set((1L, 2L, 4000L), (1L, 3L, 0L), (2L, 3L, 0L)))
  }

  test("scd2Intervals collapses repeats and closes versions in order") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000L)
    // user 1: A A B A  → A[1,3) B[3,4) A[4,∞); user 2: single version
    val log = Seq((1L, 1L, "A"), (1L, 2L, "A"), (1L, 3L, "B"),
                  (1L, 4L, "A"), (2L, 5L, "X"))
      .map { case (u, t0, a) => (u, ts(t0), a, t0) }
      .toDF("u", "t", "a", "eid")
    val got = Events.scd2Intervals(log, col("u"), col("t"), col("a"),
        col("eid"))
      .orderBy("key", "eff_from").collect()
      .map(r => (r.getLong(0), r.getString(1),
                 r.getTimestamp(2).getTime / 1000L,
                 Option(r.getTimestamp(3)).map(_.getTime / 1000L),
                 r.getBoolean(4)))
    assert(got.toSeq == Seq(
      (1L, "A", 1L, Some(3L), false),
      (1L, "B", 3L, Some(4L), false),
      (1L, "A", 4L, None, true),
      (2L, "X", 5L, None, true)))
  }

  test("rollingTimeAgg: inclusive bounds, same-ts peers, gaps shrink") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(d: Long) = new Timestamp(d * 86400L * 1000L)
    // days 0, 0 (peer), 7 (boundary: still inside [0,7]), 20 (gap)
    val rows = Seq((1L, 0L, 10L), (2L, 0L, 20L), (3L, 7L, 5L),
                   (4L, 20L, 1L))
      .map { case (id, d, v) => (id, ts(d), v) }.toDF("id", "t", "v")
    val got = Relational.rollingTimeAgg(rows, lit(1), col("t"), col("v"),
        windowSeconds = 7L * 86400)
      .select("id", "roll_sum", "roll_n").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 30L, 2L), (2L, 30L, 2L), // peers share frame
                      (3L, 35L, 3L),                // boundary inclusive
                      (4L, 1L, 1L)))                // gap reset
  }

  test("source reputation drops dup-heavy sources, keeps clean ones") {
    import spark.implicits._
    val good = (1L to 10L).map(i =>
      (i, "good", s"the quick brown fox number $i jumps of and to in"))
    // 10 docs, 2 distinct texts → 800 permille duplicates
    val spammy = (11L to 20L).map(i =>
      (i, "spam", s"buy now ${i % 2} the of and to in a repeated line"))
    val out = TextAnalysis.filterBySourceReputation(
        (good ++ spammy).toDF("doc_id", "src", "text"),
        col("src"), col("doc_id"), col("text"),
        maxDupPermille = 100, minMeanQualityX1e4 = 0L)
      .collect().map(r => (r.getLong(1), r.getString(0))).toSet
    assert(out.map(_._2) == Set("good"))
    assert(out.map(_._1) == (1L to 10L).toSet)
  }

  test("tokenBudgetBestFirst keeps the quality-ordered head per group") {
    import spark.implicits._
    // grp A: scores 9,8,7,... sizes 10 each, budget 25 → top 2 survive
    // (cum 10, 20; the 7-score doc would hit 30 > 25)
    val d = (1L to 5L).map(i => (i, "A", 10L, 10L - i))
      .toDF("id", "grp", "n", "sc")
    val kept = Sampling.tokenBudgetBestFirst(d, col("id"), col("grp"),
        col("n"), col("sc"), Map("A" -> 25L))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L)) // the two highest scores
    // score ties fall back to id order: same scores, budget fits 3
    val ties = (1L to 5L).map(i => (i, "A", 10L, 7L))
      .toDF("id", "grp", "n", "sc")
    val keptTies = Sampling.tokenBudgetBestFirst(ties, col("id"),
        col("grp"), col("n"), col("sc"), Map("A" -> 30L))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(keptTies == Set(1L, 2L, 3L))
  }

  test("weightedSample tracks weights and excludes nonpositive mass") {
    import spark.implicits._
    // id 1 holds half the total mass; across seeds it should win the
    // k=1 slot about half the time (uniform would give it 1/10)
    val d = ((1L, 9000L) +: (2L to 10L).map(i => (i, 1000L)))
      .toDF("id", "w").withColumn("grp", lit("g"))
    val wins = (0 until 40).count { seed =>
      Sampling.weightedSample(d, col("id"), col("grp"), col("w"),
          k = 1, seed = seed.toLong)
        .select("id").collect().head.getLong(0) == 1L
    }
    assert(wins >= 12 && wins <= 28, s"heavy item won $wins/40")
    // zero/negative/null weights carry no selection mass
    val z = Seq((1L, 0L), (2L, -5L), (3L, 10L)).toDF("id", "w")
      .withColumn("grp", lit("g"))
    val kept = Sampling.weightedSample(z, col("id"), col("grp"),
        col("w"), k = 3).select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L))
  }

  test("robustWinsorize: MAD flags the outlier the mean would absorb") {
    import spark.implicits._
    // 20 tight values + one wild outlier; med=111 (rank 11 of 21),
    // mad=5 → cut at 3.5*5=17.5; only the outlier's dev (99889) clears
    val vals = (1L to 20L).map(i => (i, 100L + i)) :+ (21L, 100000L)
    val d = vals.toDF("id", "v").withColumn("g", lit("x"))
    val out = Checks.robustWinsorize(d, col("g"), col("id"), col("v"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    assert(out(21L)._3)                        // flagged
    assert(vals.init.forall(v => !out(v._1)._3)) // no false flags
    // winsorized to rank-based p95 (rank (95*21)//100 = 19 → v=119)
    assert(out(21L)._2 == 119L)
    // p05: rank max(1, 105//100 = 1) → v=101; min stays itself
    assert(out(1L)._2 == 101L && !out(1L)._3)
  }

  test("kFoldLeakageSafe keeps components together, balances folds") {
    import spark.implicits._
    val ids = (1L to 500L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (50L, 60L)).toDF("id1", "id2")
    val out = Sampling.kFoldLeakageSafe(ids, col("doc_id"), pairs,
        col("id1"), col("id2"), k = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Set(out(1L), out(2L), out(3L)).size == 1)
    assert(out(50L) == out(60L))
    // singletons match the plain assignment; folds roughly balanced
    val plain = Sampling.kFold(ids, col("doc_id"), k = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val members = Set(1L, 2L, 3L, 50L, 60L)
    out.foreach { case (id, f) =>
      if (!members.contains(id)) assert(f == plain(id)) }
    val sizes = plain.values.groupBy(identity).map(_._2.size)
    assert(sizes.size == 5 && sizes.forall(s => s > 50 && s < 150))
  }

  test("leakage-safe split keeps each near-dup component in one split") {
    import spark.implicits._
    val ids = (1L to 200L).toDF("doc_id")
    // chain 1-2-3 (transitive), pair 50-60, pair 7-199
    val pairs = Seq((1L, 2L), (2L, 3L), (50L, 60L), (7L, 199L))
      .toDF("id1", "id2")
    val out = Sampling.leakageSafeSplit(ids, col("doc_id"), pairs,
        col("id1"), col("id2"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.size == 200)
    assert(Set(out(1L), out(2L), out(3L)).size == 1)
    assert(out(50L) == out(60L))
    assert(out(7L) == out(199L))
    // singletons fall back to the plain per-id assignment
    val plain = Sampling.hashSplit(ids, col("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val members = Set(1L, 2L, 3L, 50L, 60L, 7L, 199L)
    out.foreach { case (id, s) =>
      if (!members.contains(id)) assert(s == plain(id), s"id $id") }
    // and the clustered assignment is the representative's plain one
    assert(out(1L) == plain(1L) && out(50L) == plain(50L) &&
           out(7L) == plain(7L))
  }

  test("joinSizeEstimate is one-sided and exact at wide widths") {
    import spark.implicits._
    val a = (Seq.fill(30)("x") ++ Seq.fill(10)("y") ++ Seq.fill(5)("z"))
      .map(("g", _)).toDF("grp", "it")
    val b = (Seq.fill(7)("x") ++ Seq.fill(3)("y") ++ Seq.fill(20)("w"))
      .map(("g", _)).toDF("grp", "it")
    val exact = 30L * 7 + 10L * 3 // z and w don't meet
    def est(width: Int): Long = Sketches.joinSizeEstimate(
        Sketches.countMin(a, col("grp"), col("it"), 3, width),
        Sketches.countMin(b, col("grp"), col("it"), 3, width))
      .collect().head.getLong(1)
    assert(est(2) >= exact)       // collisions only inflate
    assert(est(1024) == exact)    // no collisions → exact
  }

  test("trimmedMean drops the tails by rank and averages the body") {
    import spark.implicits._
    val d = ((1L to 20L) :+ 1000L).zipWithIndex
      .map { case (v, i) => (i.toLong, "g", v) }.toDF("id", "g", "v")
    val out = Checks.trimmedMean(d, col("g"), col("id"), col("v"))
      .collect().head
    // n=21: drop rn <= (50*21)//1000 = 1 and rn > (950*21)//1000 = 19
    // → keep values 2..19: n=18, sum=189, mean 10.5
    assert((out.getLong(1), out.getLong(2), out.getLong(3)) ==
      ((18L, 189L, 10500000L)))
  }

  test("contentChunks tiles exactly and survives an insertion") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val base = Seq.fill(200)("w" + rng.nextInt(50))
    val edited = base.take(100) ++ Seq("inserted", "tokens", "here") ++
      base.drop(100)
    val docs = Seq((1L, base.mkString(" ")), (2L, edited.mkString(" ")))
      .toDF("doc_id", "text")
    val out = TextAnalysis.contentChunks(docs, col("doc_id"),
        col("text")).collect()
      .groupBy(_.getLong(0))
    // spans tile each doc: contiguous, 1-based, ending at n
    Seq(1L -> 200, 2L -> 203).foreach { case (id, n) =>
      val spans = out(id).sortBy(_.getInt(1))
        .map(r => (r.getInt(2), r.getInt(3)))
      assert(spans.head._1 == 1 && spans.last._2 == n)
      spans.sliding(2).foreach { case Array(a, b) =>
        assert(b._1 == a._2 + 1); case _ => }
    }
    // content-defined: most chunk hashes survive the mid-doc insertion
    val h1 = out(1L).map(_.getLong(5)).toSet
    val h2 = out(2L).map(_.getLong(5)).toSet
    val shared = (h1 & h2).size
    assert(shared >= h1.size - 3,
      s"only $shared of ${h1.size} chunks survived the insertion")
  }

  test("rollingActiveUsers covers the trailing window with zero gaps") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(day: Int) = new Timestamp(day * 86400L * 1000L)
    val ev = Seq((1L, ts(10)), (2L, ts(10)), (1L, ts(13)))
      .toDF("u", "t")
    val out = Events.rollingActiveUsers(ev, col("u"), col("t"),
        windowDays = 7)
      .collect().map(r => r.getDate(0).toString ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out.size == 4) // spine days 10..13, gaps included
    assert(out("1970-01-11") == ((2L, 2L, 1000L)))
    assert(out("1970-01-12") == ((0L, 2L, 0L))) // gap day, wau carries
    assert(out("1970-01-14") == ((1L, 2L, 500L)))
  }

  test("survivalCurve builds the KM life table in log space") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(day: Int) = new Timestamp(day * 86400L * 1000L)
    // all sign up day 0; A,B convert day 1, C day 3, D never
    // (censored at the day-3 horizon)
    val ev = (Seq("A", "B", "C", "D").zipWithIndex.map { case (u, i) =>
        (i.toLong * 4 + 1, ts(0), u, "signup") } ++ Seq(
        (101L, ts(1), "A", "purchase"), (102L, ts(1), "B", "purchase"),
        (103L, ts(3), "C", "purchase")))
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = Events.survivalCurve(ev, col("user_id"), col("ts"),
        col("event_type"), "signup", "purchase")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // t=1: risk 4, 2 events → ln(1/2); t=3: risk 2, 1 event + 1
    // censored → another ln(1/2)
    assert(out(1L) == ((4L, 2L, 0L, -693147L)))
    assert(out(3L) == ((2L, 1L, 1L, -1386294L)))
    assert(out.size == 2)
  }

  test("sortedNeighborhoodPairs compares rank-neighbors only") {
    import spark.implicits._
    val d = Seq((1L, "aaa"), (2L, "aab"), (3L, "zzz")).toDF("id", "k")
    val out = Relational.sortedNeighborhoodPairs(d, col("id"),
        col("k"), window = 1, maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(4)))
    // (aaa, aab) adjacent and dist 1; (aab, zzz) adjacent but dist 3;
    // (aaa, zzz) outside the window entirely
    assert(out.toSeq == Seq((1L, 2L, 1)))
  }

  test("sessionAssociations computes support, confidence, and lift") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000L)
    // 4 sessions (distinct users, so gaps don't merge): {a,b},{a,b},
    // {a},{c} → n_a=3, n_b=2, n_ab=2, ns=4
    val ev = Seq(
      (1L, 1L, "a"), (2L, 1L, "b"),
      (3L, 2L, "a"), (4L, 2L, "b"),
      (5L, 3L, "a"), (6L, 4L, "c")).map { case (eid, u, t) =>
        (eid, ts(eid * 10), u, t) }
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = Events.sessionAssociations(ev, col("user_id"), col("ts"),
        col("event_type"), col("event_id"), gapSeconds = 1800L,
        minSupport = 1L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // conf a→b = 2/3 → 666‰; lift = (2·4)/(3·2) = 4/3 → 1333333 micro
    assert(out(("a", "b")) == ((2L, 666L, 1333333L)))
    assert(out.size == 1)
  }

  test("psiDrift is zero on identical snapshots, positive on shift") {
    import spark.implicits._
    val a = (Seq.fill(50)(1L) ++ Seq.fill(50)(2L)).toDF("bin")
    val b = (Seq.fill(90)(1L) ++ Seq.fill(10)(2L)).toDF("bin")
    val same = Checks.psiDrift(a, a, col("bin"))
      .collect().map(_.getLong(3))
    assert(same.forall(_ == 0L))
    val drift = Checks.psiDrift(a, b, col("bin"))
      .collect().map(_.getLong(3)).sum
    assert(drift > 250000L, s"psi $drift") // way past the 0.25 alarm
  }

  test("chiSquareContrib is zero under independence, positive under bias") {
    import spark.implicits._
    val indep = (for { g <- Seq("s1", "s2"); c <- Seq("en", "de");
                       _ <- 1 to 25 } yield (g, c)).toDF("g", "c")
    val iOut = Checks.chiSquareContrib(indep, col("g"), col("c"))
      .collect().map(r => r.getLong(2)).sum
    assert(iOut == 0L)
    val biased = (Seq.fill(40)(("s1", "en")) ++ Seq.fill(10)(("s1", "de")) ++
                  Seq.fill(10)(("s2", "en")) ++ Seq.fill(40)(("s2", "de")))
      .toDF("g", "c")
    val bOut = Checks.chiSquareContrib(biased, col("g"), col("c"))
      .collect().map(r => r.getLong(2)).sum
    assert(bOut > 30000000L, s"chi2 $bOut") // 36.0 in micro units
  }

  test("giniConcentration: 0 when even, (n-1)/n when one group holds all") {
    import spark.implicits._
    val even = Seq(("a", 10L), ("b", 10L), ("c", 10L), ("d", 10L))
      .toDF("g", "v")
    val g0 = Checks.giniConcentration(even, col("g"), col("v"))
      .collect().head
    assert((g0.getLong(0), g0.getLong(1), g0.getLong(2)) ==
      ((4L, 40L, 0L)))
    val one = Seq(("a", 0L), ("b", 0L), ("c", 0L), ("d", 100L))
      .toDF("g", "v")
    val g1 = Checks.giniConcentration(one, col("g"), col("v"))
      .collect().head.getLong(2)
    assert(g1 == 750000L) // (n-1)/n = 0.75
  }

  test("skyline2d keeps exactly the non-dominated rows") {
    import spark.implicits._
    // (5,1) and (1,5) are frontier corners; (3,3) survives (nobody
    // beats it on both); (2,2) is dominated by (3,3); (3,1) by (3,3)
    // via the equal-x rule; duplicated frontier point both survive
    val d = Seq((1L, 5L, 1L), (2L, 1L, 5L), (3L, 3L, 3L),
                (4L, 2L, 2L), (5L, 3L, 1L), (6L, 3L, 3L))
      .toDF("id", "x", "y")
    val out = Relational.skyline2d(d, col("id"), col("x"), col("y"))
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 2L, 3L, 6L))
  }

  test("paretoClasses cuts at inclusive cumulative shares") {
    import spark.implicits._
    val d = Seq((1L, 80L), (2L, 15L), (3L, 5L)).toDF("e", "v")
    val out = Relational.paretoClasses(d, col("e"), col("v"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out("A") == ((1L, 80L, 800L)))
    assert(out("B") == ((1L, 15L, 150L)))
    assert(out("C") == ((1L, 5L, 50L)))
  }

  test("columnProfile counts nulls and exact distincts per column") {
    import spark.implicits._
    val d = Seq((Some(1L), Some("x")), (Some(1L), None),
                (None, Some("y"))).toDF("a", "b")
    val out = Checks.columnProfile(d, Seq("a", "b"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out("a") == ((3L, 1L, 1L)))
    assert(out("b") == ((3L, 1L, 2L)))
  }

  test("histogram floors negative bins and emits empty bins") {
    import spark.implicits._
    val d = Seq(-11L, -1L, 0L, 9L, 35L).toDF("v")
    val out = Checks.histogram(d, col("v"), binWidth = 10L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // -11 → bin -2; -1 → bin -1 (floor, NOT trunc-to-zero); 0,9 →
    // bin 0; 35 → bin 3; bins 1,2 explicit zeros
    assert(out(-2L) == ((-20L, -11L, 1L)))
    assert(out(-1L) == ((-10L, -1L, 1L)))
    assert(out(0L) == ((0L, 9L, 2L)))
    assert(out(1L) == ((10L, 19L, 0L)) && out(2L) == ((20L, 29L, 0L)))
    assert(out(3L) == ((30L, 39L, 1L)))
    assert(out.size == 6)
  }

  test("benfordAudit reads decimal heads and excludes nonpositives") {
    import spark.implicits._
    val d = Seq(100L, 19L, 25L, 999L, 1L, 0L, -7L).toDF("v")
    val out = Checks.benfordAudit(d, col("v"))
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // digits: 1 (100, 19, 1), 2 (25), 9 (999); 0 and -7 excluded
    assert(out(1)._1 == 3L && out(2)._1 == 1L && out(9)._1 == 1L)
    assert(out(1)._2 == 600000L) // 3/5 in micro units
    assert(out(1)._3 == 301030L) // log10(2) micro
    assert(out.size == 3)
  }

  test("rfmSegments cuts rank-exact tiers per dimension") {
    import spark.implicits._
    // 6 customers, 1 order each on distinct days/amounts: every
    // dimension splits 2/2/2 and r,f,m tiers follow the metric order
    val orders = (1L to 6L).map(i => (i, i * 10, i * 100L))
      .toDF("cust", "day", "cents")
    val out = Relational.rfmSegments(orders, col("cust"), col("day"),
        col("cents"), buckets = 3)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) ->
        r.getLong(3)).toMap
    // f is constant (1 per customer) → f tiers split by id ties; r and
    // m both follow i, so r_bucket == m_bucket always
    assert(out.values.sum == 6L)
    assert(out.keys.forall { case (r, _, m) => r == m })
    val rTotals = out.groupBy(_._1._1).map { case (k, v) =>
      k -> v.values.sum }
    assert(rTotals == Map(1 -> 2L, 2 -> 2L, 3 -> 2L))
  }

  test("mixtureEntropy: uniform two-way mix is ln 2, pure shard is 0") {
    import spark.implicits._
    val d = (Seq.fill(50)(("s1", "a")) ++ Seq.fill(50)(("s1", "b")) ++
             Seq.fill(30)(("s2", "a"))).toDF("shard", "src")
    val out = Checks.mixtureEntropy(d, col("shard"), col("src"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // H(s1) = ln(100) - 2*floor(50 ln 50 *1e6+.5)/100 ≈ ln 2
    assert(out("s1")._1 == 100L && out("s1")._2 == 2L)
    assert(math.abs(out("s1")._3 - 693147L) <= 1L, out("s1").toString)
    assert(out("s2") == ((30L, 1L, 0L)))
  }

  test("dedupThresholdCurve buckets exactly and accumulates downward") {
    import spark.implicits._
    // docs 1,2 identical (jaccard 1 → bucket 10); doc 3 shares one of
    // its three shingles with them: co=1, na=2, nb=3 → 10//4 = 2
    val docs = Seq((1L, "a b c d"), (2L, "a b c d"),
                   (3L, "a b c x y")).toDF("doc_id", "text")
    val out = Dedup.dedupThresholdCurve(docs, col("doc_id"),
        col("text"), minBucket = 0)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(out(10) == ((1L, 1L)))
    assert(out(2) == ((2L, 3L))) // pairs (1,3) and (2,3), cum includes 10
    assert(out.size == 2)
  }

  test("markovAccuracy scores the argmax model on the pair stream") {
    import spark.implicits._
    import java.sql.Timestamp
    // one user, type sequence a b a b a c b → pairs a→b ×2, a→c,
    // b→a ×2, c→b; model a→b, b→a, c→b
    val seqTypes = Seq("a", "b", "a", "b", "a", "c", "b")
    val ev = seqTypes.zipWithIndex.map { case (t, i) =>
      (i.toLong, new Timestamp(i * 1000L), 1L, t) }
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = Events.markovAccuracy(ev, col("user_id"), col("ts"),
        col("event_type"), col("event_id"))
      .collect().map(r => r.getString(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(out("a") == (("b", 3L, 2L, 666L)))
    assert(out("b") == (("a", 2L, 2L, 1000L)))
    assert(out("c") == (("b", 1L, 1L, 1000L)))
  }

  test("coverageNovelty credits first contribution only") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d"), (2L, "a b c d"), (3L, "x y"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.coverageNovelty(docs, col("doc_id"),
        col("text"), n = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == ((2L, 2L, 1000L))) // both shingles first-seen
    assert(out(2L) == ((2L, 0L, 0L)))    // pure rehash
    assert(out(3L) == ((0L, 0L, 0L)))    // too short for a shingle
  }

  test("sessionPaths orders by (ts, event_id) and splits on the gap") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000L)
    val ev = Seq(
      (10L, ts(100), 1L, "view"), (11L, ts(100), 1L, "click"), // tie
      (12L, ts(200), 1L, "purchase"),
      (13L, ts(5000), 1L, "error")) // > 1800s gap → session 2
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = Events.sessionPaths(ev, col("user_id"), col("ts"),
        col("event_type"), col("event_id"), gapSeconds = 1800L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(3), r.getString(4))).toMap
    assert(out((1L, 1L)) == ((3L, "view>click>purchase")))
    assert(out((1L, 2L)) == ((1L, "error")))
  }

  test("kAnonymityAudit counts small equivalence classes") {
    import spark.implicits._
    // classes: ("a") x1, ("b") x2, ("c") x5 → at k=3: 3 rows, 2
    // classes at risk
    val d = (Seq("a") ++ Seq.fill(2)("b") ++ Seq.fill(5)("c")).toDF("q")
    val r = Checks.kAnonymityAudit(d, Seq(col("q")), k = 3L)
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4)) == ((8L, 3L, 3L, 2L, 375L)))
  }

  test("strataOverlap: identical strata hit 1.0, disjoint pairs absent") {
    import spark.implicits._
    val docs = Seq(
      ("s1", "alpha beta gamma delta"), ("s2", "alpha beta gamma delta"),
      ("s3", "one two three four five")).toDF("src", "text")
    val out = Dedup.strataOverlap(docs, col("src"), col("text"), n = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // s1 and s2 share both 3-shingles exactly → jaccard 1.0
    assert(out(("s1", "s2")) == ((2L, 2L, 10000L)))
    // s3 shares nothing — zero-intersection pairs produce no row
    assert(out.keySet == Set(("s1", "s2")))
  }

  test("blocklistScreen counts per category and propagates null text") {
    import spark.implicits._
    val docs = Seq(
      (1L, Some("the slow query hit a row in the slow query log")),
      (2L, Some("nothing to see")),
      (3L, None: Option[String])).toDF("doc_id", "text")
    val out = TextAnalysis.blocklistScreen(docs, col("doc_id"),
        col("text"), Seq("lat" -> Seq("slow query"),
                         "lay" -> Seq("a row"))).collect()
      .map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)),
        Option(r.get(3)))).toMap
    assert(out(1L) == ((Some(2), Some(1), Some(true))))
    assert(out(2L) == ((Some(0), Some(0), Some(false))))
    assert(out(3L) == ((None, None, None)))
  }

  test("orphanAudit counts missing parents and null keys as orphans") {
    import spark.implicits._
    val parent = Seq(1L, 2L, 3L).toDF("k")
    val child = Seq(("a", Some(1L)), ("a", Some(9L)), ("a", None),
                    ("b", Some(2L))).toDF("g", "k")
    val out = Checks.orphanAudit(child, col("k"), col("g"),
        parent, col("k"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out("a") == ((3L, 2L, 666L))) // id 9 missing + null key
    assert(out("b") == ((1L, 0L, 0L)))
  }

  test("topKPerGroupWithTies keeps every row tied at the k-th rank") {
    import spark.implicits._
    val d = Seq(("g", 1L, 30L), ("g", 2L, 20L), ("g", 3L, 20L),
                ("g", 4L, 20L), ("g", 5L, 10L)).toDF("g", "id", "v")
    val out = Relational.topKPerGroupWithTies(d, Seq(col("g")),
        Seq(col("v").desc), k = 2)
      .collect().map(r => r.getLong(1) -> r.getInt(3)).toMap
    // rank 2 is a three-way tie → 4 rows survive, id 5 (rank 5) drops
    assert(out == Map(1L -> 1, 2L -> 2, 3L -> 2, 4L -> 2))
  }

  test("decayedActivity halves per day and zeros beyond the horizon") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(day: Int) = new Timestamp(day * 86400L * 1000L)
    // anchor day = 20; u1 events at ages 0, 1, 3; u2 only at age 25
    // (outside horizon 10) → score 0 but n_total counts it
    val ev = Seq((1L, ts(20)), (1L, ts(19)), (1L, ts(17)),
                 (2L, ts(-5))).toDF("u", "t")
    val out = Events.decayedActivity(ev, col("u"), col("t"),
        horizonDays = 10)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == ((1024L + 512L + 128L, 3L, 3L)))
    assert(out(2L) == ((0L, 0L, 1L)))
  }

  test("quantileNormalize maps hot-scorer strata onto the pooled scale") {
    import spark.implicits._
    // group X scores 100x hotter than Y but both are uniform — after
    // normalization both straddle the same pooled values
    val d = (Seq((1L, "X", 1000L), (2L, "X", 2000L)) ++
      (3L to 10L).map(i => (i, "Y", i))).toDF("id", "g", "v")
    val out = Checks.quantileNormalize(d, col("id"), col("g"), col("v"))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out.size == 10)
    // X rank 1 of 2 → global rank (0*10)/2+1 = 1 → smallest pooled v
    // (3); X rank 2 → (1*10)/2+1 = 6 → 6th pooled value (8)
    assert(out(1L) == 3L && out(2L) == 8L)
    // Y rank r of 8 → global rank (r-1)*10/8+1: 1,2,3,4,6,7,8,9
    assert((3L to 10L).map(out) ==
      Seq(3L, 4L, 5L, 6L, 8L, 9L, 10L, 1000L))
  }

  test("keynessG2 surfaces a planted target-only term as overused") {
    import spark.implicits._
    val docs = (Seq.fill(10)(("t", "xyzzy xyzzy common words here")) ++
      Seq.fill(10)(("r", "common words here also fine")))
      .zipWithIndex.map { case ((g, t), i) => (i.toLong, g, t) }
      .toDF("id", "grp", "text")
    val out = TextAnalysis.keynessG2(docs, col("text"),
        col("grp") === "t", minCount = 5L, k = 10)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    // the planted term ranks first, counts exact, direction overused
    val (term, (a, b, g2, over)) = out.head
    assert(term == "xyzzy" && a == 20L && b == 0L && over && g2 > 0L)
    // a term present only in the reference slice is NOT overused
    val also = out.toMap.get("also")
    assert(also.forall(v => !v._4))
  }

  test("activityIslands splits runs at missing days") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(day: Int, h: Int) =
      new Timestamp((day * 86400L + h * 3600L) * 1000L)
    // u1 active days 1,2,3 | 5 | 7,8 (multiple events per day collapse)
    val ev = (Seq((1L, ts(1, 1)), (1L, ts(1, 9)), (1L, ts(2, 0)),
      (1L, ts(3, 5)), (1L, ts(5, 0)), (1L, ts(7, 0)), (1L, ts(8, 0)),
      (2L, ts(4, 0)))).toDF("u", "t")
    val out = Events.activityIslands(ev, col("u"), col("t"))
      .collect().map(r => (r.getLong(0), r.getDate(1).toString,
        r.getDate(2).toString, r.getLong(3))).toSet
    assert(out == Set(
      (1L, "1970-01-02", "1970-01-04", 3L),
      (1L, "1970-01-06", "1970-01-06", 1L),
      (1L, "1970-01-08", "1970-01-09", 2L),
      (2L, "1970-01-05", "1970-01-05", 1L)))
  }

  test("ppmiTermSimilarity ranks a planted synonym pair at cosine 1") {
    import spark.implicits._
    // apple and pear occur in IDENTICAL context distributions →
    // identical PPMI vectors → cosine exactly 1.0
    val docs = (Seq.fill(8)("we eat apple now here") ++
                Seq.fill(8)("we eat pear now here"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val out = TextAnalysis.ppmiTermSimilarity(docs, col("doc_id"),
        col("text"), window = 2, minCount = 5L, k = 50)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getDouble(2)).toMap
    assert(out(("apple", "pear")) == 1.0)
  }

  test("liftTable cuts rank-exact bins and reports integer permille") {
    import spark.implicits._
    // 20 rows, score = id, flag = top 5 scores → deciles of 2 rows;
    // buckets 1-2 fully flagged, bucket 3 half, rest zero
    val d = (1L to 20L).map(i => (i, i, i > 15L)).toDF("id", "s", "f")
    val out = Checks.liftTable(d, col("id"), col("s"), col("f"),
        buckets = 10)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out.size == 10)
    assert(out.values.forall(_._1 == 2L))
    assert(out(1) == ((2L, 2L, 1000L)) && out(2) == ((2L, 2L, 1000L)))
    assert(out(3) == ((2L, 1L, 500L)))
    (4 to 10).foreach(b => assert(out(b) == ((2L, 0L, 0L)), s"b$b"))
  }

  test("gapFillHourly zero-fills the full spine; empty input is empty") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(h: Long) = new Timestamp(h * 3600L * 1000L)
    // key a at hours 0 and 3, key b at hour 1 → spine 0..3, 8 cells
    val ev = Seq(("a", ts(0)), ("a", ts(0)), ("a", ts(3)), ("b", ts(1)))
      .toDF("k", "t")
    val out = Events.gapFillHourly(ev, col("k"), col("t"))
      .collect().map(r => (r.getString(0),
        r.getTimestamp(1).getTime / 3600000L) -> r.getLong(2)).toMap
    assert(out.size == 8)
    assert(out(("a", 0L)) == 2L && out(("a", 3L)) == 1L)
    assert(out(("a", 1L)) == 0L && out(("a", 2L)) == 0L)
    assert(out(("b", 1L)) == 1L && out(("b", 0L)) == 0L)
    val empty = Events.gapFillHourly(
      Seq.empty[(String, Timestamp)].toDF("k", "t"), col("k"), col("t"))
    assert(empty.count() == 0L)
  }

  test("lastTouchAttribution: asof inclusivity, ties, stale window") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000L)
    val ev = Seq(
      // u1: touch at t=100 (two ties — ids 11 and 12), purchase AT 100
      (11L, ts(100), 1L, "view"), (12L, ts(100), 1L, "click"),
      (13L, ts(100), 1L, "purchase"),
      // u2: touch at t=0, purchase at t=10 (fresh, window 50)
      (21L, ts(0), 2L, "view"), (22L, ts(10), 2L, "purchase"),
      // u3: touch at t=0, purchase at t=100 (stale at window 50)
      (31L, ts(0), 3L, "click"), (32L, ts(100), 3L, "purchase"),
      // u4: purchase with no touch at all
      (41L, ts(5), 4L, "purchase"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = Events.lastTouchAttribution(ev, col("user_id"), col("ts"),
        col("event_type"), col("event_id"),
        touchTypes = Seq("view", "click"), convType = "purchase",
        withinSeconds = 50L)
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(3)).map(_.asInstanceOf[Long]),
         Option(r.getString(4)))).toMap
    // equal-time touch matches (ASOF <=); tie resolves to max event_id
    assert(out(13L) == ((Some(12L), Some("click"))))
    assert(out(22L) == ((Some(21L), Some("view"))))
    assert(out(32L) == ((None, None)))  // stale
    assert(out(41L) == ((None, None)))  // never touched
  }

  test("countMin estimates are one-sided and exact at wide widths") {
    import spark.implicits._
    val occ = Seq.tabulate(300)(i => ("g", s"w${i % 17}")) ++
      Seq.tabulate(50)(i => ("h", s"w${i % 5}"))
    val df = occ.toDF("grp", "it")
    val exact = occ.groupBy(identity).map { case ((g, w), xs) =>
      (g, w) -> xs.size.toLong }
    def est(width: Int): Map[(String, String), Long] = {
      val grid = Sketches.countMin(df, col("grp"), col("it"),
        depth = 3, width = width)
      val probes = df.distinct()
      Sketches.countMinEstimate(grid, probes, col("grp"), col("it"),
          depth = 3, width = width)
        .collect().map(r => (r.getString(0), r.getString(1)) ->
          r.getLong(2)).toMap
    }
    // tight width: collisions can only INFLATE (one-sided guarantee)
    val tight = est(4)
    exact.foreach { case (k, c) =>
      assert(tight(k) >= c, s"$k: est ${tight(k)} < exact $c") }
    // width >> distinct items: every estimate collapses to exact
    assert(est(4096) == exact)
  }

  test("olsFitFp recovers an exact line and drops degenerate groups") {
    import spark.implicits._
    // group a: y = 3x + 5 exactly at x = 0, 1e6, 2e6 — slope/intercept
    // come back exact (all arithmetic on integers until the closed form)
    // group b: a single point; group c: zero x-variance — both dropped
    val pts = Seq(
      ("a", 0L, 5L), ("a", 1000000L, 3000005L), ("a", 2000000L, 6000005L),
      ("b", 7L, 9L),
      ("c", 4L, 1L), ("c", 4L, 2L)).toDF("g", "x", "y")
    val out = Checks.olsFitFp(pts, col("g"), col("x"), col("y"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(out.keySet == Set("a"))
    assert(out("a") == ((3L, 3.0, 5.0)))
  }

  test("zipfFit slope tracks the planted power law") {
    import spark.implicits._
    // frequencies 64,32,16,8,4,2 over ranks 1..6: ln f = ln 128 - ln 2
    // * ln r / ... not a perfect line in ln-ln (geometric freqs vs
    // arithmetic ranks), so just pin the sign and rough magnitude — and
    // that a second identical stratum fits identically.
    val words = (0 until 6).flatMap { i =>
      Seq.fill(1 << (6 - i))(s"w$i") }
    val docs = Seq(("s1", words.mkString(" ")), ("s2", words.mkString(" ")))
      .toDF("src", "text")
    val out = TextAnalysis.zipfFit(docs, col("src"), col("text"),
        minFreq = 1L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(out.keySet == Set("s1", "s2"))
    assert(out("s1") == out("s2"))
    val (n, slope, _) = out("s1")
    assert(n == 6L)
    assert(slope < -1.5 && slope > -3.5, s"slope $slope")
  }

  test("forwardFill carries the last non-null; leading nulls stay null") {
    import spark.implicits._
    val e = Seq(
      (1L, 1L, 100L, Some(10.0)), (1L, 2L, 200L, None),
      (1L, 3L, 300L, None),       (1L, 4L, 400L, Some(40.0)),
      (1L, 5L, 500L, None),
      (2L, 6L, 100L, None),       (2L, 7L, 200L, Some(7.0)))
      .toDF("u", "id", "sec", "v")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val out = Events.forwardFill(e, col("u"), col("ts"), col("id"),
        Seq("v"))
      .collect().map(r => r.getLong(1) ->
        (if (r.isNullAt(3)) null else r.getDouble(3))).toMap
    assert(out == Map(1L -> 10.0, 2L -> 10.0, 3L -> 10.0, 4L -> 40.0,
      5L -> 40.0, 6L -> null, 7L -> 7.0))
  }

  test("gopherScreen rules bite individually on crafted docs") {
    import spark.implicits._
    val good = (("the quick brown fox jumps over that lazy dog and " * 3) +
      "it went to all of them with haste").trim
    val docs = Seq(
      (1L, good),                               // passes everything
      (2L, "short text"),                       // r_words (min)
      (3L, ("aa " * 40).trim),                  // mean len 2 -> r_wordlen
      (4L, ("the of " * 20).trim + " ## # ## ##"), // 6 '#' / 45 w -> r_symbol
      (5L, (1 to 30).map(i => s"- item $i of the set").mkString("\n")),
      (6L, ("the to " * 20).trim + " " + ("999 " * 170).trim), // r_alpha
      (7L, ("zig zag zog wibble wobble " * 8).trim),  // no stops -> r_stops
      (8L, null.asInstanceOf[String]))          // null -> keep false
      .toDF("doc_id", "text")
    val out = TextAnalysis.gopherScreen(docs, col("doc_id"), col("text"),
        minWords = 20)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getBoolean(10), out(1L).toString)          // keep
    assert(!out(2L).getBoolean(3) && !out(2L).getBoolean(10)) // r_words
    assert(!out(3L).getBoolean(4))                            // r_wordlen
    assert(!out(4L).getBoolean(5), out(4L).toString)          // r_symbol
    assert(!out(5L).getBoolean(6), out(5L).toString)          // r_bullet
    assert(!out(6L).getBoolean(8), out(6L).toString)          // r_alpha
    assert(!out(7L).getBoolean(9))                            // r_stops
    assert(!out(8L).getBoolean(10) && out(8L).getLong(1) == 0L)
  }

  test("rollingRobustZ flags a spike against its trailing frame only") {
    import spark.implicits._
    // key 1, window 3: values 10,10,10,100,10.
    //   row4 (frame 10,10,100): med=10, dev=90, mad = median(0,0,90)=0
    //     -> 180 > 0 OUTLIER
    //   row5 (frame 10,100,10 sorted 10,10,100): med=10, dev=0 -> ok
    //   row3 (frame 10,10,10): mad=0, dev=0, 0 > 0 false -> ok
    val e = Seq((1L, 1L, 100L, 10.0), (1L, 2L, 200L, 10.0),
                (1L, 3L, 300L, 10.0), (1L, 4L, 400L, 100.0),
                (1L, 5L, 500L, 10.0))
      .toDF("u", "id", "sec", "v")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val out = Checks.rollingRobustZ(e, col("u"), col("ts"), col("id"),
        col("v"), windowRows = 3)
      .collect().map(r => r.getLong(1) ->
        (r.getDouble(3), r.getDouble(4), r.getBoolean(5))).toMap
    assert(out(1L) == ((10.0, 0.0, false)))
    assert(out(2L) == ((10.0, 0.0, false)))   // frame 10,10: med 10 mad 0
    assert(out(3L) == ((10.0, 0.0, false)))
    assert(out(4L) == ((10.0, 0.0, true)))    // the spike
    assert(out(5L) == ((10.0, 0.0, false)))   // spike in frame, not self
  }

  test("cusumChangePoints accumulates drift, alarms, and resets by hand") {
    import spark.implicits._
    // values (cents via *100): 10,10,10,40,40,40 -> mu = 25 dollars
    //   = 2500 cents; k=500, h=1000.
    // up side (c - 2500 - 500): -2000 x3 (clamped 0), +500, +1000,
    //   +1500 -> su: 0,0,0,500,1500 > 1000 ALARM reset 0, then 500+0?
    //   step5: su=500+1000=1500 > 1000 -> alarm, reset 0
    //   step6: su=0+1000=1000, NOT > 1000 -> su=1000, no alarm
    // down side (2500 - c - 500): +1000? c=1000: 2500-1000-500=1000 ->
    //   sd: 1000 (not >1000), 2000 > 1000 ALARM reset, 1000, then
    //   c=4000: -2000 -> 0,0,0
    //   steps: sd1=1000, sd2=2000>h alarm->0, sd3=1000, sd4..6 clamp 0
    val e = Seq((1L, 1L, 10.0), (1L, 2L, 10.0), (1L, 3L, 10.0),
                (1L, 4L, 40.0), (1L, 5L, 40.0), (1L, 6L, 40.0))
      .map { case (u, i, v) => (u, i, i * 100L, v) }
      .toDF("u", "id", "sec", "v")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val out = Checks.cusumChangePoints(e, col("u"), col("ts"), col("id"),
        col("v"), slackCents = 500L, thresholdCents = 1000L)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).head
    assert(out == ((6L, 2500L, 1L, 1L, 1000L, 0L)))
  }

  test("tokenBucketAudit replays the clamp recurrence by hand") {
    import spark.implicits._
    // cap 10, refill 1/s, cost 4. u=1 at secs 0,1,2,20:
    //   t0: full 10 -> admit, 6;  t1: 6+1=7 -> admit, 3
    //   t2: 3+1=4 -> admit, 0;    t20: 0+18=10 (clamped) -> admit, 6
    // u=2 at secs 0,1: t0: admit, 6; t1: 7 -> admit, 3
    // u=3 at secs 0,1,2: 10->6, 7->3, 4->0 all admitted; then sec 3:
    //   0+1=1 < 4 -> THROTTLED, tokens stay 1
    val e = Seq((1L, 1L, 0L), (1L, 2L, 1L), (1L, 3L, 2L), (1L, 4L, 20L),
                (2L, 5L, 0L), (2L, 6L, 1L),
                (3L, 7L, 0L), (3L, 8L, 1L), (3L, 9L, 2L), (3L, 10L, 3L))
      .toDF("u", "id", "sec")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val out = Events.tokenBucketAudit(e, col("u"), col("ts"), col("id"),
        capacity = 10L, refillPerSec = 1L, cost = 4L)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out == Map(1L -> ((4L, 4L, 0L, 6L)),
                      2L -> ((2L, 2L, 0L, 3L)),
                      3L -> ((4L, 3L, 1L, 1L))))
  }

  test("ewmaFinal replays the zero-init recurrence exactly") {
    import spark.implicits._
    // alpha = 1/2 is a power of two: every step is exact in doubles,
    // so the hand recurrence is equality, not tolerance.
    // u=1: e = .5*10 = 5; .5*5+.5*20 = 12.5; .5*12.5+.5*5 = 8.75
    val e = Seq((1L, 1L, 100L, 10.0), (1L, 2L, 200L, 20.0),
                (1L, 3L, 300L, 5.0), (2L, 4L, 100L, 8.0))
      .toDF("u", "id", "sec", "v")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val out = Events.ewmaFinal(e, col("u"), col("ts"), col("id"),
        col("v"), alphaNum = 1, alphaDen = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(out == Set((1L, 3L, 8.75), (2L, 1L, 4.0)))
  }

  test("autocorrelation flags the alternating series exactly") {
    import spark.implicits._
    // series a alternates 0,10,0,10,... : lag-1 pairs are perfectly
    // anti-correlated (acf = -1), lag-2 pairs perfectly correlated
    // (acf = +1) — exact in the integer cross-multiplication
    val s = (1 to 8).map(i => ("a", i.toLong, if (i % 2 == 0) 10L else 0L))
      .toDF("k", "t", "v")
    val out = Events.autocorrelation(s, col("k"), col("t"), col("v"), 2)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(out == Set((1, 7L, -1.0), (2, 6L, 1.0)))
  }

  test("weighted quantile lands on the cumulative-weight boundary") {
    import spark.implicits._
    // values 1,2,3 with weights 1,2,7: total 10, half 5 — cum(1)=1,
    // cum(2)=3, cum(3)=10 → weighted median is 3; unweighted median
    // of the same rows would be 2 (the point of weighting)
    val d = Seq(("g", 1L, 1L), ("g", 2L, 2L), ("g", 3L, 7L))
      .toDF("k", "v", "w")
    val out = Relational.weightedQuantile(d, col("k"), col("v"),
        col("w"), 1, 2).collect().head
    assert(out.getLong(1) == 3L && out.getLong(2) == 10L)
    // q=3/10 needs cumw >= 3: value 2
    val out2 = Relational.weightedQuantile(d, col("k"), col("v"),
        col("w"), 3, 10).collect().head
    assert(out2.getLong(1) == 2L)
    intercept[IllegalArgumentException] {
      Relational.weightedQuantile(d, col("k"), col("v"), col("w"), 3, 2)
    }
  }

  test("weighted quantile edge cases: driver oracle and the window walk's answers") {
    import spark.implicits._
    val (lo, hi, big) = (Long.MinValue, Long.MaxValue, 1000000000000000L)
    def r(g: String, v: java.lang.Long, w: java.lang.Long) =
      (Option(g), Option(v).map(_.longValue), Option(w).map(_.longValue))
    val rows: Seq[WeightedQuantileOracle.Row] = Seq(
      r(null, 5L, 1L), r(null, 7L, 3L),            // null group: its own
      r("a", 1L, 1L), r("a", 2L, 1L),
      r("z", 9L, 0L), r("z", 4L, 0L), r("z", 6L, 0L), // total weight 0
      r("n", -5L, 2L), r("n", -100L, 1L), r("n", 3L, 1L), r("n", -7L, 4L),
      r("x", lo, 1L), r("x", hi, 1L), r("x", 0L, 1L), // long extremes
      r("x", lo + 1, 2L), r("x", hi - 1, 2L),
      r("nv", null, 3L), r("nv", 1L, 1L), r("nv", 2L, 1L), // null values
      r("on", null, 2L),                           // only null values
      r("nw", 1L, null), r("nw", 2L, 0L), r("nw", 3L, 0L), // null weight
      r("an", 1L, null)) ++                        // no weight: no row
      Seq.fill(10)(r("r", 42L, 1L)) ++             // one repeated value
      (0 until 40).map(i =>                        // all in one bucket
        r("o", big + i * 7L, (i % 3).toLong))
    val df = rows.toDF("g", "v", "w")
    // answers of the single-window operator this selection replaced
    val groups = Seq(None, Some("a"), Some("n"), Some("nv"), Some("nw"),
      Some("o"), Some("on"), Some("r"), Some("x"), Some("z"))
    val totals = Seq(4L, 2L, 8L, 5L, 0L, 39L, 2L, 10L, 7L, 0L)
    val windowed = Map[(Int, Int), Seq[java.lang.Long]](
      (1, 2) -> Seq(7L, 1L, -7L, 1L, 2L, big + 140, null, 42L, 0L, 4L),
      (1, 10) -> Seq(5L, 1L, -100L, 1L, 2L, big + 28, null, 42L, lo, 4L),
      (9, 10) -> Seq(7L, 2L, 3L, 2L, 2L, big + 245, null, 42L, hi, 4L),
      (1, 1) -> Seq(7L, 2L, 3L, 2L, 2L, big + 266, null, 42L, hi, 4L))
    for (((n, d), answers) <- windowed) {
      val got = Relational.weightedQuantile(df, col("g"), col("v"), col("w"),
          n, d).collect().map(x => (Option(x.getString(0)),
            if (x.isNullAt(1)) None else Some(x.getLong(1)), x.getLong(2)))
        .toSet
      assert(got == WeightedQuantileOracle(rows, n, d), s"q = $n/$d")
      val want = groups.lazyZip(answers).lazyZip(totals).map {
        (g, a, t) => (g, Option(a).map(_.longValue), t) }.toSet
      assert(got == want, s"q = $n/$d")
    }
    // 1,000 groups over signed values; the hash is of the window walk's
    // sorted answers
    val many = spark.range(20000).select(
      concat(lit("k"), (col("id") % 1000).cast("string")).as("g"),
      (xxhash64(col("id")) % 1000000L).as("v"), (col("id") % 5).as("w"))
    val manyRows = many.collect().toSeq.map(x =>
      (Option(x.getString(0)), Option(x.getLong(1)), Option(x.getLong(2))))
    for (((n, d), hash) <- Seq((1, 2) -> -1698119951, (1, 10) -> -1580889573,
                               (9, 10) -> 203458597, (1, 1) -> 1838296099)) {
      val got = Relational.weightedQuantile(many, col("g"), col("v"),
        col("w"), n, d).collect()
      assert(got.length == 1000)
      assert(got.map(x => (Option(x.getString(0)), Option(x.getLong(1)),
        x.getLong(2))).toSet == WeightedQuantileOracle(manyRows, n, d))
      assert(got.map(x => s"${x.getString(0)},${x.get(1)},${x.getLong(2)}")
        .sorted.mkString(";").hashCode == hash, s"q = $n/$d")
    }
  }

  test("weighted quantile walks only the crossing bucket, lazily") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    object Plan extends AdaptiveSparkPlanHelper
    // one group of distinct values: a walk over every value would sort
    // all of them in one task
    val n = 200000L
    val df = spark.range(n).select(lit("g").as("g"),
      (col("id") * 7 - 3).as("v"), lit(1L).as("w"))
    val pinned = spark.sparkContext.getPersistentRDDs.keySet.toSet
    var out: org.apache.spark.sql.DataFrame = null
    assert(TestSpark.jobsDuring {
      out = Relational.weightedQuantile(df, col("g"), col("v"), col("w"), 1, 2)
    } == 0)
    assert(out.collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
      .toSeq == Seq(("g", (n / 2 - 1) * 7 - 3, n)))
    // the broadcast join keeps pass 2's rows: it feeds the per-value walk
    val joins = Plan.collect(out.queryExecution.executedPlan) {
      case j: BroadcastHashJoinExec => j }
    assert(joins.size == 1)
    val walked = joins.head.metrics("numOutputRows").value
    assert(walked > 0 && walked * 20 <= n, s"$walked of $n rows walked")
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet.subsetOf(pinned))
  }

  test("ivm apply matches recomputation, drops zeroed groups, adds new") {
    import spark.implicits._
    val state = Seq(("a", 2L, 100L), ("b", 1L, 50L))
      .toDF("k", "cnt", "sum")
    // a: +1 row of 30; b: the one row retracted (group disappears);
    // c: brand-new group from the delta
    val changes = Seq(("a", 1L, 30L), ("b", -1L, 50L), ("c", 1L, 7L))
      .toDF("k", "sign", "v")
    val out = Relational.ivmApplySumCount(state, col("k"),
        changes, col("k"), col("sign"), col("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(out == Set(("a", 3L, 130L), ("c", 1L, 7L)))
  }

  test("embedding outliers: planted off-manifold vector ranks first") {
    import spark.implicits._
    val base = (1L to 40L).map(i =>
      (i, Array.fill(8)(((i % 5) - 2).toFloat / 10f)))
    val planted = Seq((99L, Array.fill(8)(25.0f)))
    val d = (base ++ planted).toDF("vec_id", "embedding")
    val top = Similarity.embeddingOutliers(d, col("vec_id"),
        col("embedding"), topK = 3).collect()
    assert(top.head.getLong(0) == 99L)
    assert(top.head.getLong(1) > top(1).getLong(1) * 5,
      "planted outlier should dominate the in-manifold scores")
  }

  test("variant extract survives schema drift; profile merges schemas") {
    import spark.implicits._
    val d = Seq(
      (1L, "t1", """{"k": 5, "tag": "x"}"""),
      (2L, "t1", """{"k": "12"}"""),     // type drift: string number
      (3L, "t2", """{"other": true}"""), // field missing entirely
      (4L, "t2", "not json at all"))     // malformed → null row
      .toDF("id", "et", "props")
    val out = SemiStructured.variantExtract(d, col("props"),
        Seq(("k_val", "$.k", "bigint"), ("tag", "$.tag", "string")))
      .select("id", "k_val", "tag").collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSet
    // "12" coerces to 12L (variant_get casts within the variant),
    // missing/malformed are null — no row errors anywhere
    assert(out == Set((1L, Some(5L), Some("x")), (2L, Some(12L), None),
                      (3L, None, None), (4L, None, None)))
    val prof = SemiStructured.variantSchemaProfile(d, col("et"),
        col("props")).collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    // t1's merged schema must mention k; t2's must mention other
    assert(prof("t1").contains("k") && prof("t2").contains("other"))
  }

  test("pipeline observation meters attrition with zero extra scans") {
    import spark.implicits._
    val d = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
                (3L, "delta epsilon"), (4L, "zeta eta theta iota"))
      .toDF("doc_id", "text")
    val obsIn = org.apache.spark.sql.Observation("funnel_in")
    val obsOut = org.apache.spark.sql.Observation("funnel_out")
    // one action materializes the funnel AND both counters; the
    // exact-dedup stage drops doc 2 (same 2-token prefix as doc 1)
    Pipeline(d, "doc_id", "text")
      .observed(obsIn)
      .dedupExactByPrefix(nTokens = 2)
      .observed(obsOut)
      .result.write.format("noop").mode("overwrite").save()
    assert(obsIn.get("n_rows") == 4L && obsIn.get("n_tokens") == 12L)
    assert(obsOut.get("n_rows") == 3L && obsOut.get("n_tokens") == 9L)
  }

  test("native session_window agg equals sessionize's grouping") {
    import spark.implicits._
    val e = Seq((1L, 100L), (1L, 200L), (1L, 2300L), (1L, 2400L),
                (2L, 50L))
      .toDF("u", "sec").withColumn("ts", timestamp_seconds(col("sec")))
    val native = Events.sessionAgg(e, col("u"), col("ts"), 1800L)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime / 1000,
        r.getLong(3))).toSet
    // session_end = last event + gap
    assert(Events.sessionAgg(e, col("u"), col("ts"), 1800L)
      .collect().map(r => r.getTimestamp(2).getTime / 1000).toSet ==
      Set(200L + 1800L, 2400L + 1800L, 50L + 1800L))
    // sessionize with the same gap: group events by (user, session_id)
    val viaIds = Events.sessionize(e, col("u"), col("ts"), 1800L)
      .groupBy(col("u"), col("session_id"))
      .agg(min(col("ts")).as("st"), count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(2).getTime / 1000,
        r.getLong(3))).toSet
    assert(native == viaIds)
    assert(native == Set((1L, 100L, 2L), (1L, 2300L, 2L), (2L, 50L, 1L)))
  }

  test("linear interpolation hits the exact line; edges stay null") {
    import spark.implicits._
    // t=0 v=10, t=10 null, t=40 v=70: interpolated at t=10 is
    // 10 + (70-10)*10/40 = 25; leading null at t=-5 stays null
    val e = Seq((1L, -5L, None), (1L, 0L, Some(10L)), (1L, 10L, None),
                (1L, 40L, Some(70L)), (1L, 50L, None))
      .toDF("u", "sec", "v")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val out = Events.interpolateLinear(e, col("u"), col("ts"),
        col("sec"), col("v"))
      .select("sec", "filled", "was_interpolated").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)),
        r.getBoolean(2))).toSet
    assert(out == Set((-5L, None, false), (0L, Some(10.0), false),
      (10L, Some(25.0), true), (40L, Some(70.0), false),
      (50L, None, false)))
  }

  test("frequent paths counts sliding n-grams with total-order top-k") {
    import spark.implicits._
    val e = Seq((1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "c"),
                (1L, 4L, "a"), (1L, 5L, "b"), (1L, 6L, "c"),
                (2L, 1L, "a"), (2L, 2L, "b"), (2L, 3L, "c"))
      .toDF("u", "sec", "et")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val out = Events.frequentPaths(e, col("u"), col("ts"), col("sec"),
        col("et"), n = 3, topK = 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toList
    // a>b>c occurs 3x (twice for u1 via sliding, once u2 — note
    // u1's windows are a>b>c, b>c>a, c>a>b, a>b>c)
    assert(out == List(("a>b>c", 3L), ("b>c>a", 1L)))
  }

  test("inclusion dependencies find the FK direction, not the reverse") {
    import spark.implicits._
    val dim = Seq(1L, 2L, 3L, 4L).toDF("id")
    val fact = Seq(1L, 1L, 2L).toDF("fk")
    val res = Checks.inclusionDependencies(Seq(
        ("fact.fk", fact, "fk"), ("dim.id", dim, "id"))).collect()
    val out = res.map { r =>
      (r.getAs[String]("col_a"), r.getAs[String]("col_b")) ->
        ((r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
          r.getAs[Long]("n_common"), r.getAs[Long]("containment_ppm")))
    }.toMap
    // fk ⊆ id at 100%: (n_a=2 distinct, n_b=4, common=2, 1e6 ppm)
    assert(out(("fact.fk", "dim.id")) == ((2L, 4L, 2L, 1000000L)))
    // reverse containment is 2/4 = 50%
    assert(out(("dim.id", "fact.fk")) == ((4L, 2L, 2L, 500000L)))
  }

  test("bloom semi-join equals the plain semi-join even when tiny") {
    import spark.implicits._
    val fact = (1L to 500L).map(i => (i, i % 97)).toDF("row_id", "fk")
    val dim = Seq(3L, 11L, 42L).toDF("id")
    // expectedItems deliberately undersized relative to the probe key
    // space → false positives are likely; the exact verify must clear
    // every one of them
    val viaBloom = Relational.bloomSemiJoin(fact, col("fk"),
        dim, col("id"), expectedItems = 3L)
      .select("row_id").collect().map(_.getLong(0)).toSet
    val exact = fact.join(dim, col("fk") === col("id"), "left_semi")
      .select("row_id").collect().map(_.getLong(0)).toSet
    assert(viaBloom == exact && exact.nonEmpty)
    // the prefilter must sit in the plan as a might_contain filter on
    // the FACT side, before the join (parquet-backed frames — a
    // LocalRelation would evaluate the filter at optimize time)
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
    val parts = spark.read.parquet(s"$sf0001/part.parquet")
      .filter(col("p_size") >= 48)
    val p = Relational.bloomSemiJoin(li, col("l_partkey"),
        parts, col("p_partkey"), 100L)
      .queryExecution.executedPlan.toString
    assert(p.contains("might_contain"), p.take(1500))
  }

  test("bloom anti-join partitions exactly; fp sliver exact-verified") {
    import spark.implicits._
    val fact = (1L to 500L).map(i => (i, i % 97)).toDF("row_id", "fk")
    val dim = Seq(3L, 11L, 42L).toDF("id")
    val viaBloom = Relational.bloomAntiJoin(fact, col("fk"),
        dim, col("id"), expectedItems = 3L)
      .select("row_id").collect().map(_.getLong(0)).toSet
    val exact = fact.join(dim, col("fk") === col("id"), "left_anti")
      .select("row_id").collect().map(_.getLong(0)).toSet
    assert(viaBloom == exact)
    // no duplication across the bypass/sliver branches
    assert(Relational.bloomAntiJoin(fact, col("fk"), dim, col("id"), 3L)
      .count() == exact.size)
  }

  test("bloom joins with an EMPTY dim equal the plain joins") {
    import spark.implicits._
    // BloomFilterAggregate over zero rows yields a NULL bloom and
    // might_contain(null, h) is NULL — without the guard, BOTH anti
    // branches evaluate false and the whole corpus vanishes for an
    // empty blocklist. Pin the plain-join equivalence.
    val fact = (1L to 50L).map(i => (i, i % 7)).toDF("row_id", "fk")
    val emptyDim = Seq.empty[Long].toDF("id")
    assert(Relational.bloomAntiJoin(fact, col("fk"),
      emptyDim, col("id"), expectedItems = 10L).count() == 50L)
    assert(Relational.bloomSemiJoin(fact, col("fk"),
      emptyDim, col("id"), expectedItems = 10L).count() == 0L)
    // a dim that FILTERS to empty (bloom agg still runs over 0 rows)
    val dim = Seq(3L, 11L).toDF("id").filter(col("id") > 100L)
    assert(Relational.bloomAntiJoin(fact, col("fk"),
      dim, col("id"), expectedItems = 10L).count() == 50L)
  }

  test("hamming pairs equal brute force; banding is lossless to 7") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // clustered fingerprints: groups of 4 share a base with a few
    // flipped bits, so distances 0..7 all occur within groups while
    // cross-group pairs stay far
    val bases = Array.fill(30)(rnd.nextLong())
    val rows = (0 until 120).map { k =>
      val base = bases(k / 4)
      val hi = ((base >>> 32) ^ (k % 4)) & 0xffffffffL
      val lo = ((base & 0xffffffffL) ^ ((k % 3).toLong << 7)) & 0xffffffffL
      ((k + 1).toLong, hi, lo)
    }
    val df = rows.toDF("id", "hi", "lo")
    val got = Dedup.hammingPairs64(df, col("id"), col("hi"), col("lo"),
        maxDist = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val brute = (for {
      (i, hi, li) <- rows; (j, hj, lj) <- rows if i < j
      d = java.lang.Long.bitCount(hi ^ hj) + java.lang.Long.bitCount(li ^ lj)
      if d <= 7
    } yield (i, j) -> d.toLong).toMap
    assert(got == brute && brute.nonEmpty)
  }

  test("as-of within: stale nearest nulls out, never substituted") {
    import spark.implicits._
    val left = Seq((1L, 1000L), (1L, 5000L)).toDF("k", "sec")
      .withColumn("ts", timestamp_seconds(col("sec"))).drop("sec")
    // nearest predecessors: t=1000 → 100 (gap 900), t=5000 → 4000
    // (gap 1000); at bound 600 both are stale and null out, at bound
    // 1000 both survive — the gate acts on the NEAREST row only
    val right = Seq((1L, 100L), (1L, 4000L)).toDF("k", "sec")
      .withColumn("rts", timestamp_seconds(col("sec"))).drop("sec")
    val out = Relational.asofJoinBackwardWithin(left, right,
        key = "k", leftTime = "ts", rightTime = "rts",
        payload = Map("rts" -> "m"), maxStalenessSec = 600L)
      .select(col("ts"), col("m")).collect()
      .map(r => unixSec(r.getTimestamp(0)) ->
        Option(r.getTimestamp(1)).map(unixSec)).toMap
    assert(out(1000L) == None)       // gap 900 > 600: stale
    assert(out(5000L) == None)       // gap 1000 > 600: stale
    val out2 = Relational.asofJoinBackwardWithin(left, right,
        key = "k", leftTime = "ts", rightTime = "rts",
        payload = Map("rts" -> "m"), maxStalenessSec = 1000L)
      .select(col("ts"), col("m")).collect()
      .map(r => unixSec(r.getTimestamp(0)) ->
        Option(r.getTimestamp(1)).map(unixSec)).toMap
    assert(out2(1000L) == Some(100L)) // gap 900 <= 1000: kept
    assert(out2(5000L) == Some(4000L))
  }

  private def unixSec(t: java.sql.Timestamp): Long = t.getTime / 1000L

  test("concurrency curve: overlap counts, end-exclusive touch") {
    import spark.implicits._
    // [0,10] and [5,20] overlap (peak 2); [20,30] starts exactly as
    // [5,20] ends — end-exclusive, concurrency stays 1 there
    val iv = Seq((0L, 10L), (5L, 20L), (20L, 30L)).toDF("s", "e")
    val out = Events.concurrencyCurve(iv, col("s"), col("e"),
        partitions = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(x => (x._1, x._2)).toList
    assert(out == List((0L, 1L, 1L), (5L, 1L, 2L), (10L, -1L, 1L),
      (20L, -1L, 0L), (20L, 1L, 1L), (30L, -1L, 0L)))
    assert(out.map(_._3).max == 2L)
  }

  test("capped sessionization splits the pinger a gap never would") {
    import spark.implicits._
    // one event per 60 s for 50 min: gap sessionization (gap 300)
    // sees ONE session; cap 600 slices it into ceil-by-duration
    // pieces — splits at the first event past start+600
    val e = (0 until 50).map(i => (1L, i.toLong, 60L * i))
      .toDF("u", "id", "sec")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val out = Events.sessionStatsCapped(e, col("u"), col("ts"),
        col("id"), gapSeconds = 300L, capSeconds = 600L)
      .collect().head
    // sessions: [0..600] (11 events), then restart at 660... each
    // covers start..start+600 = 11 events, last one partial
    assert(out.getLong(1) == 50L)
    assert(out.getLong(2) == 5L, out.toString)
    assert(out.getLong(3) == 600L)
    // plain gap behavior preserved when cap is huge
    val loose = Events.sessionStatsCapped(e, col("u"), col("ts"),
        col("id"), gapSeconds = 300L, capSeconds = 1000000L)
      .collect().head
    assert(loose.getLong(2) == 1L && loose.getLong(3) == 49L * 60L)
  }

  test("interval merge: overlap and touch merge, gaps split") {
    import spark.implicits._
    // [0,10] ∪ [5,20] overlap; [20,30] touches (merges); [31,40] gaps
    val iv = Seq(("k", 0L, 10L), ("k", 5L, 20L), ("k", 20L, 30L),
                 ("k", 31L, 40L), ("k2", 1L, 2L))
      .toDF("key", "s", "e")
    val out = Events.mergeIntervals(iv, col("key"), col("s"), col("e"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(out == Set(("k", 0L, 30L, 30L, 3L), ("k", 31L, 40L, 9L, 1L),
                      ("k2", 1L, 2L, 1L, 1L)))
    // contained interval must not extend the span
    val iv2 = Seq(("k", 0L, 100L), ("k", 10L, 20L), ("k", 150L, 160L))
      .toDF("key", "s", "e")
    val out2 = Events.mergeIntervals(iv2, col("key"), col("s"), col("e"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(out2 == Set((0L, 100L), (150L, 160L)))
  }

  test("CDC chunks: lossless reassembly + content-local boundaries " +
       "(shift resistance)") {
    import spark.implicits._
    val a = (0 until 120).map(i => s"w${i * 7 % 97}").mkString(" ")
    val b = "INSERTED-PREFIX " + a // an edit at the very front
    val df = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val ch = Dedup.cdcChunks(df, col("doc_id"), col("text"), maskBits = 4)
      .orderBy("id", "chunk_idx").collect()
    val ca = ch.filter(_.getLong(0) == 1L).map(_.getString(4)).toSeq
    val cb = ch.filter(_.getLong(0) == 2L).map(_.getString(4)).toSeq
    // chunks concatenate back to the document exactly
    assert(ca.mkString("") == a)
    assert(cb.mkString("") == b)
    assert(ca.size >= 10, s"fixture too coarse: ${ca.size} chunks")
    // the front edit may re-cut only the chunks within the hash's
    // 31-byte memory of the edit; everything after realigns — the
    // property a fixed grid (duplicateSpans) fundamentally lacks
    val k = ca.size - 3
    assert(ca.takeRight(k) == cb.takeRight(k),
      s"tails diverged:\n${ca.takeRight(k)}\n${cb.takeRight(k)}")
    // spans are [from, to) in characters and contiguous per doc
    val spans = ch.filter(_.getLong(0) == 1L)
      .map(r => (r.getInt(2), r.getInt(3)))
    assert(spans.head._1 == 0 && spans.last._2 == a.length)
    spans.sliding(2).foreach { case Array(p, q) =>
      assert(p._2 == q._1)
    }
  }

  test("CDC chunks: multibyte chars never split (char-aligned cuts)") {
    import spark.implicits._
    val a = (0 until 60).map(i => s"caf\u00e9${i % 7}\u20ac ").mkString
    val df = Seq((1L, a)).toDF("doc_id", "text")
    val ch = Dedup.cdcChunks(df, col("doc_id"), col("text"), maskBits = 3)
      .orderBy("chunk_idx").collect().map(_.getString(4))
    assert(ch.mkString("") == a) // slicing by char positions is exact
    assert(ch.length >= 4)
  }

  test("GramHashes: rolling hashes equal the direct per-gram fold") {
    import graft.functions.{GramHashes, PortableHash}
    val s = (0 until 300).map(i => ('a' + (i * 13 + i * i) % 26).toChar)
      .mkString + " the same the same the same"
    for (l <- Seq(1, 2, 25, 31, s.length)) {
      val got = GramHashes.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(s), l).toSeq
      val exp = (0 to s.length - l).map(p => PortableHash.h62(
        s.substring(p, p + l)))
      assert(got == exp, s"gramLen $l")
    }
    assert(GramHashes.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString("ab"), 3).isEmpty)
  }

  test("duplicated-substring spans: keep-first exemption, any " +
       "alignment, island merge") {
    import spark.implicits._
    val shared = "zqxjkvwpfy ghrmtn bdlcsu eoaiz" // 30 chars, unique-ish
    // flanking chars differ between docs, so the maximal duplicated
    // run is exactly `shared`
    val d1 = "first has:" + shared + "&and junk AAAA BBBB CCCC DDDD"
    val d2 = "prefix!?" + shared + "#tail tail" // shared at OTHER offset
    val d3 = "no repeats here at all, nothing shared with others 123"
    val df = Seq((1L, d1), (2L, d2), (3L, d3)).toDF("doc_id", "text")
    val out = Dedup.duplicateSubstringSpans(df, col("doc_id"),
        col("text"), gramLen = 25)
      .orderBy("id", "span_from").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    // doc 1 holds every gram's first occurrence -> exempt entirely;
    // doc 2's copy of the shared run is covered: grams at positions
    // 8..(8+30-25) merge into one maximal span [8, 8+30)
    assert(out.toSeq == Seq((2L, d2.indexOf(shared),
      d2.indexOf(shared) + shared.length)))
    // a doc duplicated wholesale: copy fully covered, original exempt
    val df2 = Seq((1L, d1), (2L, d1), (3L, d3)).toDF("doc_id", "text")
    val out2 = Dedup.duplicateSubstringSpans(df2, col("doc_id"),
        col("text"), gramLen = 25)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(out2.toSeq == Seq((2L, 0, d1.length)))
    // two disjoint shared runs in one doc -> two separate spans
    // (fillers must be repeat-free: a periodic filler would cover
    // its own later grams via keep-first and add spans)
    val fillA = "abcdefghijklmnopqrstuvwxyz0123456789_+=~"
    val fillB = "ZYXWVUTSRQPONMLKJIHGFEDCBA9876543210*&^%"
    val a = shared + fillA + "THE-OTHER-SHARED-RUN-IS-THIS-ONE!"
    val b = "x" + shared + fillB + "THE-OTHER-SHARED-RUN-IS-THIS-ONE!"
    val out3 = Dedup.duplicateSubstringSpans(
        Seq((1L, a), (2L, b)).toDF("doc_id", "text"),
        col("doc_id"), col("text"), gramLen = 25)
      .orderBy("id", "span_from").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(out3.forall(_._1 == 2L) && out3.length == 2,
      s"expected two spans in doc 2, got ${out3.toSeq}")
  }

  test("substring dedup rewrite: covered runs spliced out, complement " +
       "reassembled in order") {
    import spark.implicits._
    val shared = "zqxjkvwpfy ghrmtn bdlcsu eoaiz"
    val d1 = "first has:" + shared + "&and junk AAAA BBBB CCCC DDDD"
    val d2 = "prefix!?" + shared + "#tail tail"
    val d3 = "short"
    val df = Seq((1L, d1), (2L, d2), (3L, d3), (4L, null: String))
      .toDF("doc_id", "text")
    val out = Dedup.dedupSubstrings(df, col("doc_id"), col("text"),
        gramLen = 25)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out(0) == ((1L, d1, 0L)))          // all first occurrences
    assert(out(1) == ((2L, "prefix!?" + "#tail tail", 30L)))
    assert(out(2) == ((3L, "short", 0L)))     // below gram length: kept
    assert(out(3) == ((4L, "", 0L)))          // null text -> ""
    // whole-doc copy rebuilds as empty; removal count = full length
    val out2 = Dedup.dedupSubstrings(
        Seq((1L, d1), (2L, d1)).toDF("doc_id", "text"),
        col("doc_id"), col("text"), gramLen = 25)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out2(0) == ((1L, d1, 0L)))
    assert(out2(1) == ((2L, "", d1.length.toLong)))
  }

  test("Pipeline.dedupSubstringRuns rewrites texts in place") {
    import spark.implicits._
    val shared = "zqxjkvwpfy ghrmtn bdlcsu eoaiz"
    val d1 = "first has:" + shared + "&and junk AAAA BBBB CCCC DDDD"
    val d2 = "prefix!?" + shared + "#tail tail"
    val out = Pipeline(Seq((1L, d1), (2L, d2)).toDF("doc_id", "text"),
        "doc_id", "text")
      .dedupSubstringRuns(gramLen = 25)
      .result.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq((1L, d1), (2L, "prefix!?" + "#tail tail")))
  }

  test("CDC dedup: duplicated docs lose all chunks to the first copy") {
    import spark.implicits._
    val base = (0 until 80).map(i => s"t${i * 11 % 89}").mkString(" ")
    val df = Seq((1L, base), (2L, base), (3L, "unique " + base))
      .toDF("doc_id", "text")
    val out = Dedup.cdcDedupSegments(df, col("doc_id"), col("text"),
        maskBits = 4)
      .orderBy("id").collect()
    // doc 1 keeps everything; doc 2 (exact copy) keeps nothing
    assert(out(0).getString(1) == base)
    assert(out(0).getLong(3) == 0L)
    assert(out(1).getString(1) == "")
    assert(out(1).getLong(2) == 0L)
    assert(out(1).getLong(3) > 0L)
    // doc 3 keeps its novel head, loses the shared realigned tail
    assert(out(2).getLong(3) > 0L)
    assert(out(2).getString(1).startsWith("unique"))
  }

  test("contiguousShards releases its caches when a job fails") {
    import TestSpark.jobsDuring
    def pinned = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = pinned
    def leftPinned() = assert((pinned -- before).isEmpty,
      s"left pinned: ${(pinned -- before).toSeq.sorted}")
    def failsWith(msg: String, jobs: Int)(
        df: => org.apache.spark.sql.DataFrame,
        order: org.apache.spark.sql.Column) = {
      var e: Throwable = null
      val ran = jobsDuring {
        e = intercept[Exception](Packing.contiguousShards(df, order, 3))
      }
      assert(e.toString.contains(msg) ||
        Option(e.getCause).exists(_.toString.contains(msg)), e.toString)
      assert(ran == jobs, s"$msg after $ran job(s)")
      leftPinned()
    }
    // every input row throws: the range sample, job 1, fails with the
    // input cache registered
    failsWith("forced sample failure", 1)(spark.range(200).toDF("id")
      .withColumn("c", raise_error(lit("forced sample failure"))),
      col("id"))
    // the order key passes the sample (200 evaluations) and throws on
    // its next evaluation, in the shuffle of job 2, with both caches
    // registered
    ShardFailure.calls.set(0)
    val failAfter = udf { (id: Long) =>
      if (ShardFailure.calls.incrementAndGet() > 200)
        throw new IllegalStateException("forced sort failure")
      id
    }
    failsWith("forced sort failure", 2)(spark.range(200).toDF("id"),
      failAfter(col("id")))
    val (shards, release, n) =
      Packing.contiguousShards(spark.range(200).toDF("id"), col("id"), 3)
    assert(n == 200L && shards.count() == 200L)
    assert((pinned -- before).size == 1, "the sorted cache is pinned")
    release()
    leftPinned()
  }
}

/** The evaluation counter of the forced sort-job failure above: the
  * UDF reads it statically, so every task of the local session shares
  * it. */
object ShardFailure {
  val calls = new java.util.concurrent.atomic.AtomicInteger(0)
}
