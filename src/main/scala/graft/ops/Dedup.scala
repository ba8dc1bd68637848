package graft.ops

import graft.Checkpoints.CheckpointOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Deduplication operators for large-scale corpus pipelines.
  *
  * Scale design (100 TB): everything here is built on
  * shuffle-on-a-derived-key + partial aggregation — never a crossJoin of
  * the corpus with itself. Exact dedup shuffles once on the dedup key;
  * the near-dup variants shuffle on shingle / band / simhash-band keys so
  * only genuinely-colliding documents ever meet. Hot keys (stop-shingles)
  * are the skew risk — AQE skew-join splitting handles moderate skew, and
  * `maxShingleFreq` drops degenerate ubiquitous shingles entirely (a
  * standard trick: a shingle shared by >N docs identifies nothing).
  */
object Dedup {

  /** Fan a small scan out to the session's full parallelism before heavy
    * per-row compute. A single small parquet file arrives as ONE
    * partition, which would serialize the whole hashing pipeline into one
    * task (measured: 31 of 32 cores idle on the bench corpus). No-op at
    * scale, where the input already has >= defaultParallelism partitions.
    *
    * Only narrow scan plans (relation + projections/filters) are
    * inspected: derived frames exit their last shuffle with
    * spark.sql.shuffle.partitions partitions already, and probing their
    * partition count via `.rdd` would force AQE to EXECUTE every
    * upstream stage just to answer — results that are then thrown away
    * and recomputed by the real query (~2x the pipeline's cost). */
  private[ops] def fanOut(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    def narrowToLeaf(p: LogicalPlan): Boolean = p match {
      case _: Project | _: Filter | _: SubqueryAlias =>
        narrowToLeaf(p.children.head)
      case leaf => leaf.children.isEmpty
    }
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (narrowToLeaf(df.queryExecution.analyzed) &&
        df.rdd.getNumPartitions < target)
      df.repartition(target)
    else df
  }

  /** Exact dedup: keep the lowest `order` value per `key`. One shuffle
    * with map-side partial min. Deterministic (unlike dropDuplicates,
    * which keeps an arbitrary row). */
  def exactKeepFirst(df: DataFrame, key: Column, order: Column): DataFrame =
    df.groupBy(key.as("dedup_key")).agg(min(order).as("kept"))

  /** Exact near-dup pair discovery via inverted shingle index:
    * explode distinct shingles → self-equi-join on the shingle → count
    * co-occurrences → Jaccard = co / (|A| + |B| - co) — exact, without
    * any all-pairs comparison. */
  def jaccardPairs(df: DataFrame, id: Column, text: Column,
                   tau: Double, n: Int = 3,
                   maxShingleFreq: Option[Int] = None): DataFrame = {
    val sh = fanOut(df).select(id.as("id"), shingles(text, n).as("sh"))
      .withColumn("n", size(col("sh")))
    val ex0 = sh.select(col("id"), col("n"), explode(col("sh")).as("s"))
    val ex = maxShingleFreq match {
      case Some(m) =>
        // drop ubiquitous shingles: they cost |docs|^2 join rows and
        // carry no signal. Set sizes are RECOMPUTED over the filtered
        // universe — keeping the unfiltered sizes would bias jaccard
        // downward (an exact duplicate whose shingles include a dropped
        // one would score below 1.0 and could be missed entirely).
        val freq = ex0.groupBy("s").count().filter(col("count") <= m)
        val kept = ex0.join(freq.select("s"), "s")
        val sizes = kept.groupBy("id").agg(count(lit(1)).as("nf"))
        kept.drop("n").join(sizes, "id").withColumnRenamed("nf", "n")
      case None => ex0
    }
    // merge-hint discipline (all pair ops): every side here is
    // corpus-sized BY CONSTRUCTION, but Catalyst's STATIC size
    // estimate for text-derived frames is schema-default bytes
    // (string 20 B regardless of length, array = ONE element) — off
    // 20-100x on real text/shingle data, and RDD-backed inputs
    // (localCheckpoint) inherit the underestimate. A statically
    // planned broadcast of a corpus-sized side kills the driver at
    // scale (found by the 500k-doc decade probe: an 8 GiB driver OOM'd
    // broadcasting the banded frame). The MERGE hint vetoes the static
    // broadcast; sort-merge spills, so no process ever holds a
    // corpus-sized relation. (shuffle_hash was tried and rejected: its
    // per-partition hash build cannot spill — the same decade probe
    // killed an executor with "Can't acquire memory to build hash
    // relation" — and it measured SLOWER at 500k docs, 64 s vs 37 s
    // for the minhash probe.) Ops that MATERIALIZE their index
    // (winnow/prefix-filter/incremental-LSH) recover the small-corpus
    // broadcast through the exact-count gate in [[PairJoins]]; here
    // the shingle frame is not materialized, so the blanket veto
    // stays — a count would cost a second shingling pass.
    ex.as("a").hint("merge").join(ex.as("b").hint("merge"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id1"), col("b.id").as("id2"))
      .agg(count(lit(1)).as("co"),
           first(col("a.n")).as("na"), first(col("b.n")).as("nb"))
      .withColumn("jaccard",
        col("co").cast("double") / (col("na") + col("nb") - col("co")))
      .filter(col("jaccard") >= tau)
      .select(col("id1"), col("id2"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Incremental near-dup discovery: pairs (left_id, right_id) with
    * jaccard >= tau BETWEEN two corpora — the "dedupe today's batch
    * against the existing corpus" shape. Same inverted-shingle-index
    * plan as [[jaccardPairs]] but the join is left-index × right-index,
    * so cost scales with the BATCH size, not the corpus: the corpus-side
    * index is a reusable artifact (persist it; at scale, write it out
    * bucketed by shingle so daily runs join shuffle-free). */
  def jaccardPairsBetween(left: DataFrame, right: DataFrame,
                          leftId: Column, rightId: Column,
                          leftText: Column, rightText: Column,
                          tau: Double, n: Int = 3): DataFrame = {
    def index(df: DataFrame, id: Column, text: Column) =
      fanOut(df).select(id.as("id"), shingles(text, n).as("sh"))
        .withColumn("n", size(col("sh")))
        .select(col("id"), col("n"), explode(col("sh")).as("s"))
    val exL = index(left, leftId, leftText)
    val exR = index(right, rightId, rightText)
    // exclude identical ids: re-running after the batch has merged into
    // the corpus must not report every shared doc as its own duplicate
    exL.as("a").hint("merge").join(exR.as("b").hint("merge"),  // no static broadcast — see jaccardPairs
        col("a.s") === col("b.s") && col("a.id") =!= col("b.id"))
      .groupBy(col("a.id").as("id1"), col("b.id").as("id2"))
      .agg(count(lit(1)).as("co"),
           first(col("a.n")).as("na"), first(col("b.n")).as("nb"))
      .withColumn("jaccard",
        col("co").cast("double") / (col("na") + col("nb") - col("co")))
      .filter(col("jaccard") >= tau)
      .select(col("id1"), col("id2"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Benchmark decontamination: find corpus documents sharing any word
    * n-gram with an evaluation/benchmark corpus — the standard n-gram
    * overlap check of LLM training pipelines (typically n=13 on real
    * text; parameterized because this corpus's docs are short). Returns
    * (id, hits) where hits = number of DISTINCT eval n-grams appearing
    * in the document; use [[decontaminate]] to drop flagged docs.
    *
    * Scale shape: the eval side is benchmark-sized (MBs against a
    * TB-scale corpus), so its distinct-shingle set is BROADCAST and the
    * corpus streams through the membership check without shuffling any
    * corpus text — the only shuffle is the per-doc hit-count agg, with
    * map-side partial counts. If the eval set ever outgrows broadcast,
    * removing the hint degrades gracefully to a shuffle join on the
    * n-gram key; never an all-pairs comparison. */
  def contaminatedDocs(corpus: DataFrame, evalSet: DataFrame,
                       corpusId: Column, corpusText: Column,
                       evalText: Column, n: Int = 13): DataFrame = {
    val evalGrams = evalSet
      .select(explode(shingles(evalText, n)).as("ng")).distinct()
    // shingles() already emits DISTINCT n-grams per doc, so a plain
    // count after the join is the distinct-hit count
    fanOut(corpus)
      .select(corpusId.as("id"), explode(shingles(corpusText, n)).as("ng"))
      .join(broadcast(evalGrams), "ng")
      .groupBy("id").agg(count(lit(1)).as("hits"))
  }

  /** Per-SUITE contamination matrix — [[contaminatedDocs]] across many
    * benchmarks at once: eval rows carry a suite label, eval grams are
    * distinct per (suite, gram), and each corpus doc reports its
    * distinct overlapping gram count per suite. ONE corpus gram pass
    * audits every suite (the gram join fans out only on actual
    * matches), so checking ten benchmarks costs the same scan as one —
    * the multi-benchmark audit a release pipeline runs before shipping
    * a corpus. Output: (id, suite, hits). */
  def contaminationMatrix(corpus: DataFrame, evalSet: DataFrame,
                          corpusId: Column, corpusText: Column,
                          evalSuite: Column, evalText: Column,
                          n: Int = 13): DataFrame = {
    val evalGrams = evalSet
      .select(evalSuite.as("suite"),
              explode(shingles(evalText, n)).as("ng"))
      .distinct()
    fanOut(corpus)
      .select(corpusId.as("id"), explode(shingles(corpusText, n)).as("ng"))
      .join(broadcast(evalGrams), "ng")
      .groupBy("id", "suite").agg(count(lit(1)).as("hits"))
  }

  /** [[contaminatedDocs]] with a Bloom-filter prefilter — the 100 TB
    * path when the eval n-gram set is too large to probe as a broadcast
    * hash relation per corpus gram. A driver-built blocked Bloom over
    * the eval grams' xxhash64 (`bitsPerKey` bits/key, 8 probes by
    * Kirsch-Mitzenmacher double hashing of the hash halves — pairwise-
    * independent positions in overflow-free codegen'd column
    * arithmetic) screens every corpus gram in-scan; only the ~0.05%
    * false-positive survivors plus
    * true hits reach the exact string equi-join, so the broadcast probe
    * work collapses by the selectivity of the benchmark vs the corpus.
    * Results are IDENTICAL to [[contaminatedDocs]] (the exact join
    * removes false positives; hashing never drops a true gram), which
    * is how the oracle checks it.
    *
    * The driver-side collect is of the benchmark's distinct-gram
    * hashes — eval-set-sized (MBs), the same justified-collect class as
    * the IVF centroid bootstrap, NOT corpus-sized. */
  def bloomContaminatedDocs(corpus: DataFrame, evalSet: DataFrame,
                            corpusId: Column, corpusText: Column,
                            evalText: Column, n: Int = 13,
                            bitsPerKey: Int = 16): DataFrame = {
    val evalGrams = evalSet
      .select(explode(shingles(evalText, n)).as("ng")).distinct()
    val hashes = evalGrams.select(xxhash64(col("ng")).as("h"))
      .collect().map(_.getLong(0))
    // next power of two >= bitsPerKey * n keys (min 1024 so tiny eval
    // sets don't degenerate to an always-true filter)
    val m = math.max(1024L,
      java.lang.Long.highestOneBit(
        math.max(1L, bitsPerKey.toLong * hashes.length) * 2 - 1))
    // Kirsch-Mitzenmacher double hashing: probe i at (h1 + i*h2) mod m
    // with h1/h2 the hash halves and h2 forced odd (a generator mod a
    // power of two). Shifted overlapping windows of one 64-bit hash
    // (the previous scheme) correlate the probes — with log2(m) > 7
    // adjacent windows share bits and the top window runs off the
    // hash, inflating the false-positive rate well above the k=8
    // sizing math; independent-probe FPR is what the bitsPerKey
    // dimensioning assumes.
    val nProbes = 8
    val words = new Array[Long]((m / 64).toInt)
    for (x <- hashes) {
      val h1 = x & 0xffffffffL
      val h2 = (x >>> 32) | 1L
      for (i <- 0 until nProbes) {
        val pos = ((h1 + i * h2) & (m - 1)).toInt
        words(pos >>> 6) |= 1L << (pos & 63)
      }
    }
    val wordsLit = typedlit(words.toSeq)
    def probe(h: Column, i: Int): Column = {
      val h1 = h.bitwiseAND(lit(0xffffffffL))
      val h2 = shiftrightunsigned(h, 32).bitwiseOR(lit(1L))
      val pos = (h1 + lit(i.toLong) * h2).bitwiseAND(lit(m - 1))
      val word = element_at(wordsLit,
        shiftrightunsigned(pos, 6).cast("int") + 1)
      word.bitwiseAND(
        call_function("shiftleft", lit(1L),
          pos.bitwiseAND(lit(63L)).cast("int"))) =!= lit(0L)
    }
    val mayMatch = (0 until nProbes).map(probe(col("__h"), _))
      .reduce(_ && _)
    fanOut(corpus)
      .select(corpusId.as("id"), explode(shingles(corpusText, n)).as("ng"))
      .withColumn("__h", xxhash64(col("ng")))
      .filter(mayMatch)
      .drop("__h")
      .join(broadcast(evalGrams), "ng")
      .groupBy("id").agg(count(lit(1)).as("hits"))
  }

  /** Drop corpus documents contaminated by the eval set (>= minHits
    * shared distinct n-grams). The flagged-id list is tiny → broadcast
    * anti-join; the corpus is never shuffled. */
  def decontaminate(corpus: DataFrame, evalSet: DataFrame,
                    corpusId: Column, corpusText: Column,
                    evalText: Column, n: Int = 13,
                    minHits: Int = 1): DataFrame = {
    val flagged = contaminatedDocs(corpus, evalSet, corpusId, corpusText,
        evalText, n)
      .filter(col("hits") >= minHits).select(col("id").as("__flagged_id"))
    corpus.join(broadcast(flagged),
        corpusId === col("__flagged_id"), "left_anti")
  }

  /** Partial-overlap (containment) pair discovery over WINNOWED
    * fingerprints ([[graft.ops.TextAnalysis.winnowFingerprints]]):
    * documents sharing >= `minShared` selected fingerprints. This
    * catches what whole-doc Jaccard misses by design — a long shared
    * PASSAGE inside otherwise-different documents (quotes, boilerplate
    * inclusions, wrapped copies) dilutes global Jaccard below any
    * useful tau, but winnowing guarantees every shared run of
    * >= w+k-1 tokens contributes an identical fingerprint to both
    * sides. Same inverted-index shape as [[jaccardPairs]]: shuffle on
    * the 31-bit fingerprint key, never all-pairs, with the hot-key cap
    * (`maxDocFreq`) dropping template fingerprints that would cost
    * |docs|^2 join rows while signalling nothing about any single
    * pair. At 100 TB the fingerprint frame is ~2/(w+1) the gram count
    * and the join key is an int — the index is also a natural bucketed
    * artifact for incremental reuse. */
  def winnowContainmentPairs(df: DataFrame, id: Column, text: Column,
                             k: Int = 3, w: Int = 4,
                             minShared: Int = 3,
                             maxDocFreq: Int = 20): DataFrame = {
    // materialized once: the winnowing pass (the expensive part) feeds
    // the doc-freq count AND both self-join sides — without this the
    // shuffle-hash join recomputes it per side (broadcast used to hide
    // that by materializing one side as the broadcast relation)
    val (fps, nFps) =
      TextAnalysis.winnowFingerprints(fanOut(df), id, text, k, w)
        .cutCounted()
    // adaptive merge gate ([[PairJoins]]): the exact count rides the
    // cut's own materialization job ([[graft.Checkpoints.cutCounted]])
    // — small corpora get the broadcast back, large ones keep the
    // static-broadcast veto, and the gate adds zero extra jobs
    val g = PairJoins.gate(
      PairJoins.fits(nFps, PairJoins.NarrowRowBytes)) _
    val freq = fps.groupBy("fp").count().filter(col("count") <= maxDocFreq)
    // gate the doc-freq join too: at corpus scale the veto is free —
    // the merge join partitions `kept` on fp, exactly what the
    // self-join needs, so the Exchange is reused instead of added
    val kept = g(fps).join(g(freq.select("fp")), "fp")
    g(kept.as("a")).join(g(kept.as("b")),  // see jaccardPairs + PairJoins
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Near-dup pairs whose two members were assigned
    * DIFFERENT splits — the eval-hygiene check run after any
    * train/val/test assignment (a test doc with a train near-twin
    * inflates benchmarks exactly like decontamination misses do).
    * `pairs` is any (id1, id2, ...) pair frame (exact or LSH);
    * `splits` maps id -> split label. Two LEFT joins on the pair ids —
    * a pair member missing from `splits` (stale or filtered
    * assignment) surfaces with a NULL split and counts as leakage
    * against any labeled twin, instead of silently vanishing from the
    * report (an inner join would turn "this doc was never assigned"
    * into "no leakage found"). Pairs where BOTH members are unlabeled
    * are not cross-split and are dropped. The pair frame is
    * duplicate-survivor-sized, so AQE broadcasts it when it fits. */
  def crossSplitPairs(pairs: DataFrame, splits: DataFrame,
                      splitId: Column, splitLabel: Column): DataFrame = {
    val a = splits.select(splitId.as("id1"), splitLabel.as("split1"))
    val b = splits.select(splitId.as("id2"), splitLabel.as("split2"))
    pairs.join(a, Seq("id1"), "left").join(b, Seq("id2"), "left")
      .filter(!(col("split1") <=> col("split2")))
  }

  /** MinHash + LSH near-dup pairs: band-bucket join generates candidates
    * (only docs sharing a band key meet), then exact Jaccard verifies.
    * With h=128 / 64 bands of 2, a pair at jaccard 0.6 is missed with
    * probability (1-0.6^2)^64 < 1e-12 (at 0.9: ~1e-46) — candidate
    * generation is probabilistic, emitted pairs are exactly verified.
    * (32 bands of 4 missed a true j=0.6 pair 1.2% of the time — too
    * loose against an exact-jaccard oracle.) */
  def minhashLshPairs(df: DataFrame, id: Column, text: Column,
                      tau: Double, n: Int = 3,
                      h: Int = 128, bands: Int = 64): DataFrame = {
    require(bands >= 1 && h % bands == 0,
      s"bands must divide h (got h=$h, bands=$bands): integer division " +
      "would silently discard hashes and weaken the miss-probability bound")
    val r = h / bands
    val sh = fanOut(df).select(id.as("id"), shingles(text, n).as("sh"))
    // The signature is one codegen'd expression ([[MinHashSig]]) and is
    // materialized as a column BEFORE the banding explode (inlined in the
    // generator it would re-run once per band). Shingle-less docs are
    // dropped: they have no near-dup semantics and their degenerate
    // signatures would otherwise collide into one giant candidate clique.
    val banded = sh
      .filter(size(col("sh")) > 0)
      .select(col("id"), minhashSignature(col("sh"), h).as("sig"))
      .withColumn("band", explode(minhashBands(col("sig"), bands, r)))
      .select(col("id"), col("band.band").as("band"), col("band.key").as("key"))
    val cand = banded.as("a").hint("merge")
      .join(banded.as("b").hint("merge"),  // no static broadcast — see jaccardPairs
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
    cand
      .join(sh.select(col("id").as("id1"), col("sh").as("sh1"))
        .hint("merge"), "id1")
      .join(sh.select(col("id").as("id2"), col("sh").as("sh2"))
        .hint("merge"), "id2")
      .withColumn("jaccard", jaccard(col("sh1"), col("sh2")))
      .filter(col("jaccard") >= tau)
      .select(col("id1"), col("id2"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** MinHash signature index: (id, distinct shingle set, h-hash
    * signature) per document — the REUSABLE artifact of incremental
    * LSH dedup. At scale this is what you persist (write it bucketed
    * by id; the signature column is h*8 bytes/doc vs the full text):
    * daily batches compute their own index once and join it against
    * the stored corpus index via [[minhashLshPairsBetween]] without
    * ever re-reading, re-shingling, or re-hashing the corpus.
    * Shingle-less docs are dropped (no near-dup semantics; degenerate
    * signatures would collide into one giant candidate clique). */
  def minhashIndex(df: DataFrame, id: Column, text: Column,
                   n: Int = 3, h: Int = 128): DataFrame =
    fanOut(df).select(id.as("id"), shingles(text, n).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("id"), col("sh"), minhashSignature(col("sh"), h).as("sig"))

  /** Incremental near-dup discovery at LSH cost: pairs (id1, id2) with
    * exact jaccard >= tau BETWEEN two [[minhashIndex]] frames — the
    * "dedupe today's batch against the standing corpus" shape of
    * [[jaccardPairsBetween]], but candidate generation is the banded
    * signature join, so the corpus side contributes band-bucket rows
    * (bands/doc), not one row per (doc, shingle). Same 64x2 banding
    * miss-bound as [[minhashLshPairs]] (both sides derive bands from
    * the same signature scheme), and candidates are exact-verified
    * against the stored shingle sets, so precision is 1 and results
    * match [[jaccardPairsBetween]] wherever the banding recalls the
    * pair. Identical ids are excluded: re-running after the batch has
    * merged into the corpus must not report every shared doc as its
    * own duplicate. */
  def minhashLshPairsBetween(leftIndex: DataFrame, rightIndex: DataFrame,
                             tau: Double, h: Int = 128,
                             bands: Int = 64): DataFrame = {
    require(bands >= 1 && h % bands == 0,
      s"bands must divide h (got h=$h, bands=$bands)")
    val r = h / bands
    // Materialize both indexes once: each side feeds its banded
    // candidate frame AND its verify join — unpinned, the signature
    // pass runs twice per side. The pinned counts then drive the
    // adaptive merge gate ([[PairJoins]]): banded frames are n*bands
    // narrow rows, verify sides carry the shingle arrays. Counts ride
    // the materialization jobs ([[graft.Checkpoints.cutCounted]]).
    val (lIx, nL) = leftIndex.cutCounted()
    val (rIx, nR) = rightIndex.cutCounted()
    val gBandL = PairJoins.gate(
      PairJoins.fits(nL * bands, PairJoins.NarrowRowBytes)) _
    val gBandR = PairJoins.gate(
      PairJoins.fits(nR * bands, PairJoins.NarrowRowBytes)) _
    val gArrL = PairJoins.gate(
      PairJoins.fits(nL, PairJoins.ArrayRowBytes)) _
    val gArrR = PairJoins.gate(
      PairJoins.fits(nR, PairJoins.ArrayRowBytes)) _
    def banded(ix: DataFrame) = ix
      .select(col("id"), explode(minhashBands(col("sig"), bands, r))
        .as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val cand = gBandL(banded(lIx).as("a"))
      .join(gBandR(banded(rIx).as("b")),  // see jaccardPairs + PairJoins
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col("a.id") =!= col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
    cand
      .join(gArrL(lIx.select(col("id").as("id1"), col("sh").as("sh1"))),
        "id1")
      .join(gArrR(rIx.select(col("id").as("id2"), col("sh").as("sh2"))),
        "id2")
      .withColumn("jaccard", jaccard(col("sh1"), col("sh2")))
      .filter(col("jaccard") >= tau)
      .select(col("id1"), col("id2"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Stateless near-dup screen of incoming docs against a standing
    * [[minhashIndex]]: each document's signature bands probe the
    * corpus band index, and every candidate is exact-verified against
    * the stored corpus shingles IN THE SAME ROW — no aggregation
    * anywhere, so the identical plan runs under Structured Streaming
    * in append mode (two stream-static equi-joins, no state store).
    * Emits one row per (doc, corpus doc, colliding band) with the
    * exact jaccard — a pair colliding in several bands appears once
    * per band, same evidence-row contract as
    * [[graft.streaming.EventStreams.containmentScreenStream]]; the
    * distinct-pairs set equals [[minhashLshPairsBetween]]'s answer
    * (dedup/aggregation is the consumer's one-liner, kept out so the
    * stream stays stateless). Corpus-side banding replicates only
    * (band, key, id) — shingle arrays are joined per CANDIDATE, not
    * per band. Returns (id1, id2, band, jaccard). */
  def lshScreen(docs: DataFrame, id: Column, text: Column,
                corpusIndex: DataFrame, tau: Double,
                n: Int = 3, h: Int = 128, bands: Int = 64): DataFrame = {
    require(bands >= 1 && h % bands == 0,
      s"bands must divide h (got h=$h, bands=$bands)")
    val r = h / bands
    val probe = docs
      .select(id.as("id1"), shingles(text, n).as("sh1"))
      .filter(size(col("sh1")) > 0)
      .withColumn("sig", minhashSignature(col("sh1"), h))
      .select(col("id1"), col("sh1"),
        explode(minhashBands(col("sig"), bands, r)).as("bk"))
      .select(col("id1"), col("sh1"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    val corpusBands = corpusIndex
      .select(col("id").as("id2"),
        explode(minhashBands(col("sig"), bands, r)).as("bk"))
      .select(col("id2"), col("bk.band").as("band"), col("bk.key").as("key"))
    probe.hint("merge").join(corpusBands.hint("merge"),  // no static broadcast — see jaccardPairs
      Seq("band", "key"))
      .filter(col("id1") =!= col("id2"))
      .join(corpusIndex.select(col("id").as("id2"), col("sh").as("sh2"))
        .hint("merge"),
        "id2")
      .withColumn("jaccard", jaccard(col("sh1"), col("sh2")))
      .filter(col("jaccard") >= tau)
      .select(col("id1"), col("id2"), col("band"),
        round(col("jaccard"), 4).as("jaccard"))
  }

  /** SimHash near-dup pairs: 4×16-bit band buckets (a pair within
    * hamming distance 3 shares ≥1 band), verified with exact Jaccard.
    * Fully deterministic & portable (polynomial char hashes) so the
    * DuckDB oracle reproduces it bit-for-bit. */
  def simhashPairs(df: DataFrame, id: Column, text: Column,
                   tau: Double, n: Int = 3): DataFrame = {
    val sh = fanOut(df).select(id.as("id"), shingles(text, n).as("sh"))
      .filter(size(col("sh")) > 0)
    val sim = sh
      .withColumn("simhash", graft.functions.SimHash62(col("sh")))
    // One (band, key) explode + ONE self-equi-join — the per-band-join
    // formulation recomputed the scan->shingle->simhash chain once per
    // band per side (8x; measured half the query's runtime).
    val banded = sim.select(col("id"), explode(array(
        (0 until 4).map(b =>
          struct(lit(b).as("band"),
                 simhashBand(col("simhash"), b).as("key"))): _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val cand = banded.as("a").hint("merge")
      .join(banded.as("b").hint("merge"),  // no static broadcast — see jaccardPairs
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
    cand
      .join(sh.select(col("id").as("id1"), col("sh").as("sh1"))
        .hint("merge"), "id1")
      .join(sh.select(col("id").as("id2"), col("sh").as("sh2"))
        .hint("merge"), "id2")
      .withColumn("jaccard", jaccard(col("sh1"), col("sh2")))
      .filter(col("jaccard") >= tau)
      .select(col("id1"), col("id2"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Paragraph-granularity exact dedup across the corpus: split each
    * document on `sep`, keep only the FIRST occurrence (lowest (id,
    * position)) of each distinct paragraph corpus-wide, and reassemble
    * every document from its surviving paragraphs in original order —
    * the boilerplate killer of CCNet/RefinedWeb-style pipelines
    * (repeated headers/footers/navigation vanish from every document
    * but their first). Documents whose paragraphs ALL duplicate earlier
    * ones survive with empty text (callers filter as policy).
    *
    * Scale shape: one shuffle to find each paragraph's first occurrence
    * (min(struct(id, pos)) — partial aggregation absorbs hot
    * boilerplate paragraphs map-side), one join back on the paragraph
    * (AQE skew-split handles mega-paragraphs), one shuffle to rebuild
    * documents. Never an all-pairs comparison; cost is linear in total
    * paragraph count. */
  def dedupParagraphs(df: DataFrame, id: Column, text: Column,
                      sep: String): DataFrame = {
    val parts = split(text, java.util.regex.Pattern.quote(sep))
    val ex = df.select(id.as("id"),
        posexplode(parts).as(Seq("pos", "para")))
    val first = ex.groupBy(col("para"))
      .agg(min(struct(col("id"), col("pos"))).as("f"))
      .select(col("para").as("kpara"),
              col("f.id").as("fid"), col("f.pos").as("fpos"))
    val surv = ex.hint("merge").join(first.hint("merge"),  // no static broadcast — see jaccardPairs
        col("para") === col("kpara") &&
        col("id") === col("fid") && col("pos") === col("fpos"))
    val rebuilt = surv.groupBy(col("id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("para")))),
          _.getField("para")), sep).as("text_deduped"))
    df.select(id.as("id")).join(rebuilt.hint("merge"), Seq("id"), "left")
      .select(col("id"),
              coalesce(col("text_deduped"), lit("")).as("text_deduped"))
  }

  /** Corpus-wide duplicated-span manifest — the window-granular form of
    * exact-substring dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better", approximated at fixed
    * token-window granularity): tile every document into
    * non-overlapping `window`-token spans, keep the FIRST occurrence
    * (min (doc_id, chunk_id)) of each distinct span corpus-wide, and
    * emit a cut row (doc_id, chunk_id, tok_from, tok_to) for every
    * other occurrence — the manifest a rewriting pass consumes to
    * splice repeated boilerplate out of otherwise-unique documents,
    * which document-level dedup cannot see.
    *
    * Scale design: spans meet through ONE shuffle keyed on the span's
    * 31-bit rolling token fingerprint ([[graft.functions.TextFunctions
    * .fingerprint]] — 8 bytes through the exchange instead of the span
    * text), min/count partial-aggregated map-side. Equality is by
    * fingerprint; at 31 bits collisions are possible at corpus scale —
    * the production knob is the same fold widened to 62 bits
    * ([[graft.functions.PortableHash]]), kept at 31 here so the DuckDB
    * oracle replays the fold exactly (q93, q27's formula). Tail spans
    * shorter than `window` participate like any other span. */
  /** Non-overlapping `window`-token spans of each doc with the rolling
    * token fingerprint per span — shared by [[duplicateSpans]] (the cut
    * manifest) and [[dedupSpans]] (the rewrite). */
  private def spanChunks(df: DataFrame, id: Column, text: Column,
                         window: Int): DataFrame = {
    import graft.functions.TextFunctions.{fingerprint, tokens}
    TextAnalysis.chunkTokens(fanOut(df), id, text, window,
        stride = window)
      .select(col("doc_id"), col("chunk_id"), col("chunk_tokens"),
        col("chunk_text"),
        fingerprint(tokens(col("chunk_text"))).as("__fp"))
  }

  /** (doc_id, chunk_id) of every span occurrence that is NOT the
    * corpus-wide first for its fingerprint — the rows to cut. */
  private def laterSpanOccurrences(chunks: DataFrame): DataFrame = {
    val first = chunks.groupBy("__fp")
      .agg(min(struct(col("doc_id"), col("chunk_id"))).as("__first"),
           count(lit(1)).as("__n"))
    chunks.join(first, "__fp")
      .filter(col("__n") > 1 &&
        !(col("doc_id") === col("__first.doc_id") &&
          col("chunk_id") === col("__first.chunk_id")))
  }

  def duplicateSpans(df: DataFrame, id: Column, text: Column,
                     window: Int): DataFrame =
    laterSpanOccurrences(spanChunks(df, id, text, window))
      .select(col("doc_id"), col("chunk_id"),
        (col("chunk_id").cast("long") * window).as("tok_from"),
        (col("chunk_id").cast("long") * window + col("chunk_tokens"))
          .as("tok_to"))

  /** Content-defined chunks of each document (Gear rolling hash —
    * [[graft.functions.GearBoundaries]]): cut points fall where the
    * CONTENT says, not on a fixed grid, so an insertion or deletion
    * re-cuts only the chunks it touches while every downstream chunk
    * keeps its identity — the shift-resistance fixed-window spans
    * ([[duplicateSpans]]) lack (one edit re-aligns every later span
    * of the doc). The storage-dedup primitive (LBFS/FastCDC lineage)
    * applied to corpus text.
    *
    * Expected chunk ≈ 2^maskBits bytes. Returns one row per chunk:
    * (id, chunk_idx, chunk_from, chunk_to, chunk_text, chunk_hash) —
    * [from, to) in characters, hash = the portable
    * [[graft.functions.PolyHash62E]] fold over the chunk text (the
    * oracle replays boundaries AND hashes exactly, q451). Scale
    * shape: the boundary scan is one codegen'd pass per row, the
    * explode is output-sized — no shuffle at all until a consumer
    * aggregates. Null/empty docs contribute no chunks. */
  def cdcChunks(df: DataFrame, id: Column, text: Column,
                maskBits: Int = 6): DataFrame = {
    val base = fanOut(df).select(id.as("id"), text.as("t"))
      .filter(col("t").isNotNull && length(col("t")) > 0)
      .withColumn("bs",
        graft.functions.GearBoundaries(col("t"), maskBits))
    // spans between consecutive boundaries; a trailing boundary at the
    // doc end would leave an empty tail span — dropped by to > from
    base.select(col("id"), col("t"),
        posexplode(arrays_zip(
          concat(array(lit(0)), col("bs")).as("s"),
          concat(col("bs"), array(length(col("t")).cast("int")))
            .as("e")))
          .as(Seq("chunk_idx", "sp")))
      .select(col("id"), col("chunk_idx"),
        col("sp").getField("s").as("chunk_from"),
        col("sp").getField("e").as("chunk_to"),
        col("t").substr(col("sp").getField("s") + 1,
          col("sp").getField("e") - col("sp").getField("s"))
          .as("chunk_text"))
      .filter(col("chunk_to") > col("chunk_from"))
      .withColumn("chunk_hash",
        graft.functions.PolyHash62E(col("chunk_text")))
  }

  /** Corpus-wide keep-first dedup at CDC-chunk granularity: every
    * distinct chunk survives only at its lowest (id, chunk_idx)
    * occurrence; documents reassemble from their surviving chunks in
    * order ([[dedupParagraphs]]'s contract, with content-defined cuts
    * instead of separator splits — catches boilerplate that spans or
    * straddles paragraph breaks, and survives edits that would
    * re-align a fixed grid). Returns (id, text_deduped, n_kept,
    * n_dropped); a document whose chunks all duplicate earlier ones
    * survives with empty text (callers filter as policy).
    *
    * Scale shape: first-occurrence is one shuffle on the chunk
    * CONTENT key with map-side partial min (hot boilerplate chunks
    * absorb before the exchange), the join back is merge-hinted (the
    * chunk frame is the under-estimated corpus-sized text shape — see
    * [[jaccardPairs]]), reassembly is one groupBy(id) with an in-row
    * sort. Linear in total chunk count, never all-pairs. */
  def cdcDedupSegments(df: DataFrame, id: Column, text: Column,
                       maskBits: Int = 6): DataFrame = {
    val chunks = cdcChunks(df, id, text, maskBits)
      .select(col("id"), col("chunk_idx"), col("chunk_text"))
    val first = chunks.groupBy(col("chunk_text"))
      .agg(min(struct(col("id"), col("chunk_idx"))).as("f"))
      .select(col("chunk_text").as("kc"),
              col("f.id").as("fid"), col("f.chunk_idx").as("fidx"))
    val surv = chunks.hint("merge").join(first.hint("merge"),
        col("chunk_text") === col("kc"))
      .withColumn("keep",
        col("id") === col("fid") && col("chunk_idx") === col("fidx"))
    val rebuilt = surv.groupBy(col("id"))
      .agg(array_join(
          transform(array_sort(collect_list(
            when(col("keep"), struct(col("chunk_idx"), col("chunk_text")))
          )), _.getField("chunk_text")), "").as("text_deduped"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_dropped"))
    df.select(id.as("id")).join(rebuilt.hint("merge"), Seq("id"), "left")
      .select(col("id"),
        coalesce(col("text_deduped"), lit("")).as("text_deduped"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
  }

  /** EXACT duplicated-substring spans — every maximal character run of
    * length ≥ `gramLen` that occurs more than once corpus-wide, minus
    * each gram's corpus-FIRST occurrence (keep-first, min (id, pos)):
    * the sliding-window form of Lee et al.'s "deduplicating training
    * data" primitive, suffix-array-free. Strictly stronger than the
    * fixed grid ([[duplicateSpans]]: a duplicate not aligned to a
    * window boundary is invisible) and than CDC chunks
    * ([[cdcChunks]]: cut-point luck decides whether a shared passage
    * lands in identical chunks): ANY shared run ≥ gramLen is covered
    * by one of its length-gramLen grams at every alignment, so the
    * merged intervals are exactly the duplicated character mass.
    *
    * Returns (id, span_from, span_to), [from, to) in characters,
    * spans maximal (overlapping/touching gram intervals merged).
    *
    * Scale shape: one codegen'd rolling-hash pass per doc
    * ([[graft.functions.GramHashes]] — O(chars), 8 bytes per gram
    * into the shuffle instead of the 2·gramLen-byte gram), explode is
    * position-sized, first-occurrence is ONE shuffle on the gram hash
    * with map-side partial min (hot boilerplate grams absorb before
    * the exchange), the cover join is merge-hinted on both
    * by-construction corpus-sized sides (see [[jaccardPairs]]), the
    * island merge rides one id-partitioned window whose partitioning
    * the final groupBy reuses. Never all-pairs, never a suffix array.
    * Identity is the 62-bit double hash ([[PortableHash]]) — both
    * component 31-bit folds must collide to alias two grams, and the
    * oracle replays the identical arithmetic, so cross-engine results
    * are bit-equal by construction. */
  def duplicateSubstringSpans(df: DataFrame, id: Column, text: Column,
                              gramLen: Int = 25): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = fanOut(df).select(id.as("id"), text.as("t"))
      .filter(col("t").isNotNull && length(col("t")) >= gramLen)
      .select(col("id"),
        posexplode(graft.functions.GramHashes(col("t"), gramLen))
          .as(Seq("pos", "h")))
    val firsts = grams.groupBy(col("h"))
      .agg(min(struct(col("id"), col("pos"))).as("f"),
           count(lit(1)).as("c"))
      .filter(col("c") >= 2)
      .select(col("h").as("fh"),
              col("f.id").as("fid"), col("f.pos").as("fpos"))
    val covered = grams.hint("merge")
      .join(firsts.hint("merge"), col("h") === col("fh"))
      .filter(!(col("id") === col("fid") && col("pos") === col("fpos")))
      .select(col("id"), col("pos"))
    // gaps-and-islands over equal-length intervals [pos, pos+L): a new
    // island starts strictly beyond the previous interval's end
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    covered
      .withColumn("new_island",
        when(lag(col("pos"), 1).over(w).isNull ||
             col("pos") > lag(col("pos"), 1).over(w) + gramLen, 1)
          .otherwise(0))
      .withColumn("island", sum(col("new_island")).over(w))
      .groupBy(col("id"), col("island"))
      .agg(min(col("pos")).as("span_from"),
           (max(col("pos")) + gramLen).as("span_to"))
      .select(col("id"), col("span_from"), col("span_to"))
  }

  /** Rewrite side of [[duplicateSubstringSpans]]: splice every covered
    * character range out and keep the complement segments in order —
    * the actual dedup ACTION of Lee et al.'s exact-substring training-
    * data dedup (each duplicated run survives only at its corpus-first
    * occurrence). Returns (id, text_deduped, n_removed); null text →
    * "", short/untouched docs keep their text verbatim.
    *
    * Scale shape: [[duplicateSubstringSpans]]'s cost plus one groupBy
    * on the doc id (span lists are tiny — maximal disjoint intervals)
    * and a merge-hinted join back to the corpus; the reassembly is a
    * per-row `aggregate` fold over the sorted span array, no further
    * shuffle. */
  def dedupSubstrings(df: DataFrame, id: Column, text: Column,
                      gramLen: Int = 25): DataFrame = {
    val spans = duplicateSubstringSpans(df, id, text, gramLen)
    val perDoc = spans.groupBy(col("id"))
      .agg(array_sort(collect_list(struct(col("span_from"),
             col("span_to")))).as("sp"),
           sum((col("span_to") - col("span_from")).cast("long"))
             .as("nr"))
    fanOut(df).select(id.as("id"), text.as("t"))
      .join(perDoc.hint("merge"), Seq("id"), "left")
      .select(col("id"),
        when(col("t").isNull, lit(""))
          .when(col("sp").isNull, col("t"))
          .otherwise(aggregate(col("sp"),
            struct(lit(0).as("pos"), lit("").as("acc")),
            (a, sp) => struct(
              sp.getField("span_to").as("pos"),
              concat(a.getField("acc"),
                col("t").substr(a.getField("pos") + 1,
                  sp.getField("span_from") - a.getField("pos")))
                .as("acc")),
            a => concat(a.getField("acc"),
              col("t").substr(a.getField("pos") + 1,
                length(col("t")) - a.getField("pos")))))
          .as("text_deduped"),
        coalesce(col("nr"), lit(0L)).as("n_removed"))
  }

  /** Rewrite side of [[duplicateSpans]]: splice the repeated spans out
    * and reassemble each document from its surviving spans in order
    * (the same keep-first / ordered-reassembly contract as
    * [[dedupParagraphs]], at token-window granularity). Documents whose
    * every span was cut (or with null text) come back as "". */
  def dedupSpans(df: DataFrame, id: Column, text: Column,
                 window: Int): DataFrame = {
    val chunks = spanChunks(df, id, text, window)
    val cuts = laterSpanOccurrences(chunks)
      .select(col("doc_id"), col("chunk_id"))
    val kept = chunks.join(cuts, Seq("doc_id", "chunk_id"), "left_anti")
    val rebuilt = kept.groupBy("doc_id")
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("chunk_id"),
            col("chunk_text")))),
          _.getField("chunk_text")), " ").as("text_deduped"))
    df.select(id.as("doc_id")).join(rebuilt.hint("merge"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("text_deduped"), lit("")).as("text_deduped"))
  }

  /** Connected components over a near-dup pair list: the step that turns
    * pairwise similarity output ([[jaccardPairs]] / [[minhashLshPairs]] /
    * [[simhashPairs]] / [[Similarity.cosinePairsLsh]]) into duplicate
    * CLUSTERS, so a pipeline can keep exactly one representative per
    * cluster — the transitive policy real corpus dedup needs (a~b, b~c
    * must collapse to one survivor even when a,c are not directly
    * similar, which per-pair keep-lower-id does not guarantee).
    *
    * Returns `(id, comp)` for every node appearing in `pairs`, where
    * `comp` is the minimum id reachable — a deterministic canonical
    * representative. Nodes with no pairs are absent (they are their own
    * singleton components; callers anti-join on `id =!= comp`).
    *
    * Scale design: iterative min-label propagation PLUS pointer jumping
    * (label := label's label) per round, so convergence is O(log
    * diameter) rounds, not O(diameter) — a 1M-long chain of near-dups
    * converges in ~20 rounds. Each round is one join+groupBy and one
    * join, shuffling on the label key with map-side partial min.
    * [[graft.Checkpoints.cut]] truncates the iterative lineage each
    * round (without it the plan doubles per iteration and Catalyst
    * analysis itself becomes the bottleneck); on a real cluster with
    * unreliable executors set `spark.graft.checkpoint.reliable=true`
    * + `spark.graft.checkpoint.dir` and every cut survives executor
    * loss. Graphs at or below `driverThreshold` edges (and
    * integral ids) instead run union-find on the driver — see the
    * inline rationale. */
  def connectedComponents(pairs: DataFrame, id1: Column, id2: Column,
                          maxIters: Int = 50,
                          driverThreshold: Long = 100000L): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val e0 = pairs.select(id1.as("src"), id2.as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
              col("src") =!= col("dst"))
    // undirected: both directions; distinct collapses parallel edges
    // (pair generators can emit the same pair once per colliding band)
    val edges = e0
      .union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().cut()
    val nEdges = edges.count()
    val idType = edges.schema("src").dataType

    // Small-graph fast path: the pair graph from near-dup discovery is
    // normally minuscule relative to the corpus (256 edges for 5k docs
    // on the bench corpus), and the distributed loop's per-round job
    // overhead dwarfs the work. Below `driverThreshold` edges (~16 B
    // each — default caps driver transfer at ~1.6 MB) run union-find on
    // the driver in O(E α(E)). The threshold is an explicit, documented
    // gate: above it — the 100 TB regime — the distributed loop below
    // is the path, and both paths are differentially tested equal.
    if (nEdges <= driverThreshold &&
        (idType == LongType || idType == IntegerType)) {
      val es = edges
        .select(col("src").cast("long"), col("dst").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val out = es.map(_._1).distinct.map(x => (x, find(x))).toIndexedSeq
      return pairs.sparkSession.createDataFrame(out).toDF("id", "comp")
        .select(col("id").cast(idType).as("id"),
                col("comp").cast(idType).as("comp"))
    }

    // Distributed loop. Self-loops fold each node's own label into the
    // min-over-neighbors aggregate, so one join+groupBy does the whole
    // 1-hop propagation (and the self-loop row doubles as the carrier
    // of the node's PREVIOUS label, making the convergence check free).
    val withSelf = edges
      .union(edges.select(col("src"), col("src").as("dst")))
      .distinct().cut()
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("comp")).cut()
    var iters = 0
    var converged = labels.isEmpty
    while (!converged) {
      require(iters < maxIters,
        s"connectedComponents did not converge in $maxIters rounds — " +
        "with pointer jumping that needs a component of diameter " +
        "~2^" + maxIters + "; raise maxIters only if that is real")
      // 1-hop min propagation (self-loop included = least with own label)
      val prop = withSelf
        .join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id"))
        .agg(min(col("comp")).as("comp"),
             max(when(col("src") === col("dst"), col("comp"))).as("oldc"))
      // pointer jump: comp := comp's comp. The invariant comp <= id
      // (init self, monotone min) makes the jump strictly non-increasing
      // and the inner join always hit (comp is itself a node id).
      val next = prop.as("x")
        .join(prop.select(col("id").as("cid"), col("comp").as("cc")),
              col("x.comp") === col("cid"))
        .select(col("x.id").as("id"), col("cc").as("comp"), col("x.oldc").as("oldc"))
        .cut()
      val changed = next.where(col("comp") =!= col("oldc")).limit(1).count()
      labels = next.select("id", "comp")
      converged = changed == 0L
      iters += 1
    }
    labels
  }

  /** Collapse near-dup clusters keeping the BEST-scoring member of each
    * (ties broken toward the smallest id) — the "keep the longest /
    * highest-quality duplicate" policy production corpus dedup uses
    * instead of keep-lowest-id, so the surviving copy is the most
    * useful one (reference README.md's curation framing; the cluster
    * step itself is [[connectedComponents]]).
    *
    * `pairs` is any near-dup pair list (`id1`/`id2` columns); rows of
    * `df` absent from `pairs` are singleton clusters and always
    * survive. Null scores sort below every non-null score (struct max
    * ordering), so an unscored member never beats a scored one; an
    * all-null cluster falls back to the min-id tiebreak. Ids must be
    * numeric (the tiebreak negates them). Scale shape: the cluster
    * labels join back to the corpus (labels are pair-graph-sized,
    * usually broadcastable), then ONE aggregation per cluster —
    * `max(struct(score, -id))` — picks the representative with
    * map-side partial max; no per-cluster window, no skew sensitivity
    * beyond the agg's own partial/final split. */
  def keepBestPerCluster(df: DataFrame, pairs: DataFrame, id: Column,
                         score: Column): DataFrame = {
    val reserved = Seq("__kid", "__comp", "__best")
    val clash = df.columns.intersect(reserved)
    require(clash.isEmpty,
      s"keepBestPerCluster: column(s) ${clash.mkString(", ")} already exist")
    val comp = connectedComponents(pairs, col("id1"), col("id2"))
      .withColumnRenamed("id", "__kid").withColumnRenamed("comp", "__comp")
    val labeled = df.withColumn("__kid", id)
      .join(comp, Seq("__kid"), "left")
      .withColumn("__comp", coalesce(col("__comp"), col("__kid")))
    // argmax(score) per cluster: lexicographic max of (score, -id)
    // makes the tiebreak the SMALLEST id, deterministically
    val best = labeled.groupBy("__comp")
      .agg(max(struct(score.as("s"), (-col("__kid")).as("negid")))
        .as("__best"))
      .select(col("__comp"), (-col("__best.negid")).as("__kid"))
    labeled.join(best, Seq("__comp", "__kid"), "left_semi")
      .drop("__kid", "__comp")
  }

  /** Embedding near-dup pairs above a cosine threshold — exact, via
    * block-nested all-pairs. Correct baseline for modest corpora; the
    * scale path is [[Similarity.cosinePairsLsh]] (bucketed). */
  def embeddingPairs(df: DataFrame, id: Column, vec: Column,
                     tau: Double): DataFrame = {
    import graft.functions.VectorFunctions._
    // Precompute each row's norm ONCE (n rows) instead of per pair
    // (n^2/2): cosine = dot/(na*nb) with the same sqrt(dot(v,v)) values,
    // so scores stay bit-identical to the naive form.
    val e = fanOut(df).select(id.as("id"), toDouble(vec).as("v"))
      .withColumn("nrm", l2norm(col("v")))
    val c = {
      val d = col("a.nrm") * col("b.nrm")
      when(d === 0.0, 0.0).otherwise(dot(col("a.v"), col("b.v")) / d)
    }
    e.as("a").join(e.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"), c.as("c"))
      .filter(col("c") >= tau) // threshold on the raw score, round for output
      .select(col("id1"), col("id2"), round(col("c"), 6).as("cos"))
  }

  /** Dedup operating curve: the pair-count histogram by Jaccard
    * decile, with a cumulative "pairs surviving tau >= bucket/10"
    * column — the threshold-tuning artifact you produce ONCE before
    * committing a dedup tau to a 100 TB run (how many pairs does each
    * candidate threshold implicate?). Buckets come from EXACT integer
    * division (10·co) div (union) — never floor(10·jaccard) on a
    * rounded float, whose representation boundary at e.g. 0.6 would
    * flip buckets between engines.
    *
    * Same inverted-shingle-index plan as [[jaccardPairs]] (pair cost
    * tracks shared-shingle mass); the cumulative window runs over the
    * <= 11-row histogram, not data. Output:
    * (tau_bucket 10..minBucket, n_pairs, n_cum), descending. */
  def dedupThresholdCurve(df: DataFrame, id: Column, text: Column,
                          minBucket: Int = 3, n: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(minBucket >= 0 && minBucket <= 10,
      s"minBucket must be in [0, 10], got $minBucket")
    val sh = fanOut(df).select(id.as("id"), shingles(text, n).as("sh"))
      .withColumn("n", size(col("sh")))
    val ex = sh.select(col("id"), col("n"), explode(col("sh")).as("s"))
    val hist = ex.as("a").join(ex.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id1"), col("b.id").as("id2"))
      .agg(count(lit(1)).as("co"),
           first(col("a.n")).as("na"), first(col("b.n")).as("nb"))
      .select(expr("(10 * co) div (na + nb - co)").cast("int")
        .as("tau_bucket"))
      .filter(col("tau_bucket") >= minBucket)
      .groupBy("tau_bucket").agg(count(lit(1)).as("n_pairs"))
    hist.withColumn("n_cum",
      sum(col("n_pairs")).over(Window.orderBy(col("tau_bucket").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy(col("tau_bucket").desc)
  }

  /** Corpus-provenance overlap matrix: exact shingle-set Jaccard
    * between every pair of STRATA (sources, snapshots, languages) —
    * "which feeds are re-crawls of each other", the corpus-level
    * sibling of the per-document pair ops above, and the first
    * question asked before mixing corpora ([[graft.ops.Sampling
    * .mixCorpora]] rates assume the sources are distinct material).
    *
    * Scale shape: one pass to the per-stratum DISTINCT shingle frame
    * (n-gram shingles dedup inside the row via the codegen'd
    * [[graft.functions.WordShingles]], then one (stratum, shingle)
    * distinct shuffle); intersections come from the inverted
    * self-join on the shingle key — a shingle shared by s strata
    * fans into s·(s-1)/2 pair rows, bounded by the STRATA count
    * squared, never by corpus size; unions are inclusion-exclusion
    * from per-stratum sizes. Integer counts, one shared float
    * division. Output: (src_a, src_b, inter, uni, jaccard_x1e4)
    * for src_a < src_b; pairs with an EMPTY intersection produce no
    * row (nothing meets in the index) — absence means jaccard 0. */
  def strataOverlap(df: DataFrame, stratum: Column, text: Column,
                    n: Int = 3): DataFrame = {
    val sh = df.select(stratum.as("src"),
        explode(graft.functions.WordShingles(text, n)).as("s"))
      .distinct()
      .cut() // sizes + both self-join sides consume it
    val sizes = sh.groupBy("src").agg(count(lit(1)).as("nsh"))
    val inter = sh.hint("merge")
      .join(sh.select(col("src").as("src2"), col("s")).hint("merge"), "s")
      .filter(col("src") < col("src2"))
      .groupBy(col("src").as("src_a"), col("src2").as("src_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("src").as("src_a"), col("nsh").as("na")),
            "src_a")
      .join(sizes.select(col("src").as("src_b"), col("nsh").as("nb")),
            "src_b")
      .select(col("src_a"), col("src_b"), col("inter"),
        (col("na") + col("nb") - col("inter")).as("uni"),
        floor(col("inter").cast("double") /
              (col("na") + col("nb") - col("inter")).cast("double") *
              lit(10000.0) + lit(0.5)).cast("long").as("jaccard_x1e4"))
  }

  /** PPJoin-style prefix-filtered set-similarity self-join (Chaudhuri
    * et al. ICDE'06 prefix filtering; Xiao, Wang, Lin & Yu WWW'08):
    * word-token Jaccard pairs ≥ tauNum/tauDen, with candidate
    * generation restricted to each document's PREFIX — its
    * n − ⌈τ·n⌉ + 1 globally-RAREST tokens under the canonical
    * (corpus-frequency asc, token) total order — instead of its full
    * token set. Exact, not approximate: the prefix-filtering theorem
    * guarantees any pair with Jaccard ≥ τ shares at least one prefix
    * token (if all shared tokens sat outside both prefixes, the overlap
    * would be ≤ ⌈τ·n⌉ − 1 on each side, below the ⌈τ·max(na,nb)⌉ that
    * J ≥ τ forces), and every candidate is then verified with the exact
    * Jaccard on the full token sets.
    *
    * Scale shape vs the full inverted index ([[jaccardPairs]]): the
    * pair search runs over DISTINCT token sets, not documents — on
    * boilerplate-heavy corpora (tiny effective vocabulary, exact-dup
    * clusters) that collapses the hub structure before any join fires,
    * and identical-set doc pairs (J = 1) fall out of a set-id
    * self-join with no similarity work at all. Over the distinct sets,
    * candidates come from the rarest-first prefix join with PPJoin's
    * two prunes applied inside the join (Xiao et al., WWW'08):
    *
    *  - length filter: J ≥ τ forces τ·max(na,nb) ≤ min(na,nb), checked
    *    cross-multiplied on both orderings;
    *  - positional filter: with both sets sorted by the one global
    *    (freq asc, token) order, shared tokens keep their relative
    *    order, so over a pair's matched prefix tokens the true overlap
    *    is ≤ matches-so-far + min(na − max rankₐ, nb − max rank_b);
    *    prune when that bound is below the equivalent-overlap threshold
    *    α = ⌈τ/(1+τ)·(na+nb)⌉.
    *
    * Surviving candidates are verified on the distinct-set frame: the
    * candidate list (∝ true pairs after the filters) joins the sets'
    * sorted token arrays and takes `array_intersect` sizes. Because
    * candidates and the set frame are both collapsed (set-level, not
    * doc-level), AQE broadcasts whichever side is small at runtime and
    * the arrays never shuffle on the common path; when the set frame
    * IS huge the join degrades to a candidate-bounded sort-merge —
    * the same bytes the narrow co-count alternative would shuffle,
    * in fewer rows. (The r4 regression was different in kind:
    * DOC-level candidates approaching all-pairs, each carrying full
    * arrays through two wide joins + a distinct.)
    *
    * τ is a rational (`tauNum/tauDen`) so ⌈τ·n⌉ is exact integer
    * arithmetic — `ceil(0.7 * n)` in doubles misrounds exactly at the
    * multiples of 10 where it matters. The verify filter is the
    * cross-multiplied `tauDen·co ≥ tauNum·(na+nb−co)` — no float
    * threshold anywhere; the reported jaccard is the one shared float
    * expression, rounded. Returns (id1, id2, jaccard). */
  def prefixFilterPairs(df: DataFrame, id: Column, text: Column,
                        tauNum: Int, tauDen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(tauNum > 0 && tauNum <= tauDen,
      s"prefixFilterPairs: need 0 < tauNum <= tauDen, got $tauNum/$tauDen")
    val (toks, nToks) = fanOut(df)
      .select(id.as("id"),
              sort_array(array_distinct(
                filter(tokens(text), t => t =!= ""))).as("ts"))
      .withColumn("n", size(col("ts")))
      .filter(col("n") > 0) // null/empty texts have no tokens, no pairs
      .cutCounted() // set extraction + doc-map joins reuse it
    // distinct token sets: one shuffle on the sorted-array key; the
    // aggregate is O(1) state per group (min id), never a collected
    // id list, so a massive duplicate cluster stays row-shaped
    val (sets, nSets) = toks.groupBy("ts")
      .agg(min(col("id")).as("sid"), first(col("n")).as("n"))
      .select(col("sid"), col("ts"), col("n"))
      .cutCounted() // prefix build + verify + expansion reuse it
    // adaptive merge gates ([[PairJoins]]): toks/sets/prefix counts
    // ride their cuts' materialization jobs (cutCounted — the gate
    // adds zero jobs). Small corpora broadcast again, large ones keep
    // the veto; array-bearing frames (ts) use the wide per-row bound.
    val gToks = PairJoins.gate(
      PairJoins.fits(nToks, PairJoins.ArrayRowBytes)) _
    val gSets = PairJoins.gate(
      PairJoins.fits(nSets, PairJoins.ArrayRowBytes)) _
    val gMap = PairJoins.gate(
      PairJoins.fits(nSets, PairJoins.NarrowRowBytes)) _
    // doc → set-id map (the array equi-join key is exact — both sides
    // sorted+distinct)
    val docsMap = gToks(toks)
      .join(gSets(sets.select(col("ts"), col("sid"))), "ts")
      .select(col("sid"), col("id"))
    // docs whose sets are identical: J = 1 ≥ τ always — emit directly
    val intra = gMap(docsMap.as("a"))
      .join(gMap(docsMap.select(col("sid"), col("id").as("id2")).as("b")),
        "sid")
      .filter(col("id") < col("id2"))
      .select(col("id").as("id1"), col("id2"), lit(1.0).as("jaccard"))
    val ex = sets.select(col("sid"), col("n"), explode(col("ts")).as("tk"))
    val freq = ex.groupBy("tk").agg(count(lit(1)).as("tf"))
    // rarest-first canonical rank inside each set; (tf, tk) is total so
    // the prefix is deterministic. Window partitions by set — never a
    // global sort.
    val w = Window.partitionBy("sid").orderBy(col("tf"), col("tk"))
    val (prefix, nPrefix) = ex.join(freq, "tk")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <=
        expr(s"n - (($tauNum * n + ${tauDen - 1}) div $tauDen) + 1"))
      .select("sid", "tk", "rn", "n")
      // (1−τ)-fraction of the distinct-set tokens — small by
      // construction; without this the self-join recomputes the
      // freq-join + window once per side (measured ~2× prefix cost)
      .cutCounted()
    // α = ⌈τ/(1+τ)·(na+nb)⌉ in exact integer arithmetic (div, not /)
    val alpha = expr(
      s"($tauNum * (na + nb) + $tauNum + $tauDen - 1) div " +
      s"${tauNum + tauDen}")
    val gPrefix = PairJoins.gate(
      PairJoins.fits(nPrefix, PairJoins.NarrowRowBytes)) _
    val cand = gPrefix(prefix.as("a"))
      .join(gPrefix(prefix.as("b")),  // see jaccardPairs + PairJoins
            col("a.tk") === col("b.tk") && col("a.sid") < col("b.sid") &&
            // length filter, both orderings (pairs sort by sid, not n)
            col("a.n") * tauDen >= col("b.n") * tauNum &&
            col("b.n") * tauDen >= col("a.n") * tauNum)
      .select(col("a.sid").as("sid1"), col("b.sid").as("sid2"),
              col("a.rn").as("ra"), col("b.rn").as("rb"),
              col("a.n").as("na"), col("b.n").as("nb"))
      // positional filter over ALL matched prefix tokens of the pair:
      // overlap ≤ prefix matches + tokens left after the last match
      .groupBy("sid1", "sid2", "na", "nb")
      .agg(count(lit(1)).as("pm"),
           max(col("ra")).as("mra"), max(col("rb")).as("mrb"))
      .filter(col("pm") +
              least(col("na") - col("mra"), col("nb") - col("mrb"))
              >= alpha)
      .select("sid1", "sid2", "na", "nb")
    // exact verify on the candidate-bounded set frame: sorted arrays,
    // intersect size in one codegen'd pass (gated: the ts arrays make
    // `sets` exactly the under-estimated corpus-sized shape — see
    // jaccardPairs + PairJoins)
    val cross = cand
      .join(gSets(sets.select(col("sid").as("sid1"), col("ts").as("t1"))),
        "sid1")
      .join(gSets(sets.select(col("sid").as("sid2"), col("ts").as("t2"))),
        "sid2")
      .withColumn("co", size(array_intersect(col("t1"), col("t2"))))
      .filter(col("co") * tauDen >=
              (col("na") + col("nb") - col("co")) * tauNum)
      .select(col("sid1"), col("sid2"),
              round(col("co").cast("double") /
                    (col("na") + col("nb") - col("co")), 4).as("jaccard"))
    // expand set pairs back to doc pairs (distinct sets → every cross
    // doc pair qualifies; order each pair by id)
    val inter = cross
      .join(docsMap.select(col("sid").as("sid1"), col("id").as("da")),
            "sid1")
      .join(docsMap.select(col("sid").as("sid2"), col("id").as("db")),
            "sid2")
      .select(least(col("da"), col("db")).as("id1"),
              greatest(col("da"), col("db")).as("id2"), col("jaccard"))
    intra.unionByName(inter)
  }

  /** Document-frequency boilerplate strip (the CCNet/RefinedWeb line
    * filter re-expressed): drop every segment (line, sentence, token —
    * `sep` decides the granularity) that occurs in MORE than
    * `maxDocNum/maxDocDen` of all documents, and reassemble the
    * survivors in original order. Complements [[dedupParagraphs]]
    * (keep-FIRST keeps one copy of a repeated segment somewhere;
    * boilerplate headers/footers/cookie banners need ZERO copies —
    * their document frequency, not their multiplicity, is the
    * signal). The threshold is a rational compared by integer
    * cross-multiplication, no float epsilon.
    *
    * Scale shape: one distinct (segment, doc) shuffle for document
    * frequencies over DISTINCT segments, the flag joins back on the
    * segment key, and reassembly is one groupBy(doc) with an in-row
    * sort — no all-pairs, no driver state; the doc count is a 1-row
    * broadcast. Returns (id, text_clean, n_kept, n_dropped). */
  def stripBoilerplate(df: DataFrame, id: Column, text: Column,
                       sep: String, maxDocNum: Int, maxDocDen: Int)
      : DataFrame = {
    require(maxDocNum > 0 && maxDocDen > 0,
      s"stripBoilerplate: need a positive threshold fraction, " +
      s"got $maxDocNum/$maxDocDen")
    val base = fanOut(df).select(id.as("id"), text.as("t"))
      .cut() // segment explode + doc count + final join
    val ex = base.select(col("id"),
        posexplode(filter(
          split(col("t"), java.util.regex.Pattern.quote(sep)),
          s => s =!= "")).as(Seq("pos", "seg")))
    val nDocs = base.agg(count(lit(1)).as("n_docs"))
    val boiler = ex.select(col("seg"), col("id")).distinct()
      .groupBy("seg").agg(count(lit(1)).as("df_cnt"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df_cnt") * maxDocDen > col("n_docs") * maxDocNum)
      .select(col("seg"))
    val surv = ex.join(boiler, Seq("seg"), "left_anti")
    val rebuilt = surv.groupBy(col("id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("seg")))),
          _.getField("seg")), sep).as("text_clean"),
        count(lit(1)).as("n_kept"))
    val totals = ex.groupBy(col("id"))
      .agg(count(lit(1)).as("n_segs"))
    base.select(col("id"))
      .join(rebuilt.hint("merge"), Seq("id"), "left")
      .join(totals, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (coalesce(col("n_segs"), lit(0L)) -
         coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }

  /** Deletion-neighborhood near-identical pairs: doc pairs whose
    * DISTINCT token sets differ by symmetric difference ≤ 1 (equal, or
    * one set is the other plus a single token). This is the high-τ
    * regime where prefix filtering degenerates — on a boilerplate
    * corpus the prefix posting lists approach all-pairs
    * ([[prefixFilterPairs]]'s measured hazard), while deletion
    * signatures stay EXACTLY output-bounded: two sets with |A△B| ≤ 1
    * must collide on a signature (A = B: the full-set signature;
    * B = A ∪ {x}: A's full signature equals B's x-deletion), so
    * candidates ∝ true pairs + hash collisions, and every candidate is
    * verified with the exact intersection. The idea is the
    * deletion-neighborhood blocking used for edit-distance-1 string
    * joins (FastSS; symmetric delete spell correction), lifted from
    * character strings to token sets.
    *
    * Scale shape: identical sets collapse first (set-id groupBy, the
    * [[prefixFilterPairs]] discipline — identical-set doc pairs emit
    * from the set-id self-join with no signature work); each distinct
    * set emits n+1 64-bit signatures (full + one per deleted rank), so
    * the signature index is Σ(n+1) narrow rows shuffled once on the
    * signature key; the pair join runs per-signature-bucket. A
    * signature hash collision can only ADD a candidate, never drop a
    * true pair — verification is exact set arithmetic.
    *
    * Returns (id1, id2, symdiff) with id1 < id2, symdiff ∈ {0, 1}. */
  def deletionNeighborPairs(df: DataFrame, id: Column, text: Column)
      : DataFrame = {
    val toks = fanOut(df)
      .select(id.as("id"),
              sort_array(array_distinct(
                filter(tokens(text), t => t =!= ""))).as("ts"))
      .withColumn("n", size(col("ts")))
      .filter(col("n") > 0)
      .cut()
    val sets = toks.groupBy("ts")
      .agg(min(col("id")).as("sid"), first(col("n")).as("n"))
      .select(col("sid"), col("ts"), col("n"))
      .cut()
    val docsMap = toks.hint("merge")
      .join(sets.select(col("ts"), col("sid")).hint("merge"), "ts")
      .select(col("sid"), col("id"))
    // identical sets: symdiff 0, no signatures needed
    val intra = docsMap.as("a").hint("merge")
      .join(docsMap.select(col("sid"), col("id").as("id2")).as("b")
        .hint("merge"), "sid")
      .filter(col("id") < col("id2"))
      .select(col("id").as("id1"), col("id2"), lit(0).as("symdiff"))
    // signatures: one codegen'd O(n) pass emits the full-set signature
    // and every one-token-deleted signature together — the concat-and-
    // rehash formulation this replaces hashed Θ(n²) bytes per set
    // ([[graft.functions.DeletionSigs]])
    val sigs = sets.select(col("sid"), col("n"),
        explode(graft.functions.DeletionSigs(col("ts"))).as("sig"))
    // candidate pairs: any shared signature; sizes may differ by ≤ 1
    val cand = sigs.as("a").hint("merge")
      .join(sigs.as("b").hint("merge"),  // no static broadcast — see jaccardPairs
            col("a.sig") === col("b.sig") && col("a.sid") < col("b.sid") &&
            abs(col("a.n") - col("b.n")) <= 1)
      .select(col("a.sid").as("sid1"), col("b.sid").as("sid2"))
      .distinct()
    // exact verify: |A△B| = na + nb − 2·|A∩B| ≤ 1
    val inter = cand
      .join(sets.select(col("sid").as("sid1"), col("ts").as("t1"),
                        col("n").as("na")).hint("merge"), "sid1")
      .join(sets.select(col("sid").as("sid2"), col("ts").as("t2"),
                        col("n").as("nb")).hint("merge"), "sid2")
      .withColumn("co", size(array_intersect(col("t1"), col("t2"))))
      .withColumn("symdiff", col("na") + col("nb") - lit(2) * col("co"))
      .filter(col("symdiff") <= 1)
      .select(col("sid1"), col("sid2"), col("symdiff"))
      .join(docsMap.select(col("sid").as("sid1"), col("id").as("da")),
            "sid1")
      .join(docsMap.select(col("sid").as("sid2"), col("id").as("db")),
            "sid2")
      .select(least(col("da"), col("db")).as("id1"),
              greatest(col("da"), col("db")).as("id2"), col("symdiff"))
    intra.unionByName(inter)
  }

  /** Incremental [[deletionNeighborPairs]]: near-identical pairs
    * (symdiff ≤ 1) BETWEEN two corpora — "screen today's batch against
    * the standing corpus" (same contract split as
    * [[jaccardPairsBetween]]). Each side builds its own one-deletion
    * signature index; the join is batch-index × corpus-index, so cost
    * scales with the batch. The corpus-side index is the reusable
    * artifact: persist it (sid, sig) bucketed by sig and daily runs
    * join shuffle-free without re-tokenizing the corpus. Identical ids
    * are excluded so re-screening after a merge reports nothing.
    *
    * Returns (left_id, right_id, symdiff). */
  def deletionNeighborPairsBetween(left: DataFrame, right: DataFrame,
                                   leftId: Column, rightId: Column,
                                   leftText: Column, rightText: Column)
      : DataFrame = {
    def index(df: DataFrame, id: Column, text: Column) = {
      val toks = fanOut(df)
        .select(id.as("id"),
                sort_array(array_distinct(
                  filter(tokens(text), t => t =!= ""))).as("ts"))
        .withColumn("n", size(col("ts")))
        .filter(col("n") > 0)
        .cut()
      val sigs = toks.select(col("id"), col("n"),
          explode(graft.functions.DeletionSigs(col("ts"))).as("sig"))
      (toks, sigs)
    }
    val (lt, ls) = index(left, leftId, leftText)
    val (rt, rs) = index(right, rightId, rightText)
    val cand = ls.as("a").hint("merge")
      .join(rs.as("b").hint("merge"),  // no static broadcast — see jaccardPairs
            col("a.sig") === col("b.sig") && col("a.id") =!= col("b.id") &&
            abs(col("a.n") - col("b.n")) <= 1)
      .select(col("a.id").as("left_id"), col("b.id").as("right_id"))
      .distinct()
    cand
      .join(lt.select(col("id").as("left_id"), col("ts").as("t1"),
                      col("n").as("na")).hint("merge"), "left_id")
      .join(rt.select(col("id").as("right_id"), col("ts").as("t2"),
                      col("n").as("nb")).hint("merge"), "right_id")
      .withColumn("co", size(array_intersect(col("t1"), col("t2"))))
      .withColumn("symdiff", col("na") + col("nb") - lit(2) * col("co"))
      .filter(col("symdiff") <= 1)
      .select(col("left_id"), col("right_id"), col("symdiff"))
  }

  /** Hamming-distance pairs over a 64-bit fingerprint given as two
    * non-negative 32-bit halves (e.g. [[graft.ops.Multimodal.aHash64]]
    * perceptual hashes): all unordered pairs with distance ≤ maxDist.
    * Banding by the 8 BYTES of the fingerprint — two values within
    * distance ≤ 7 must agree on at least one whole byte (pigeonhole),
    * so candidates meet through a (band, byte) equi-join over the
    * candidate-bounded posting lists and the exact popcount verifies
    * in-join; all-pairs never materializes. Same discipline as
    * [[simhashPairs]]'s 4×16 banding, factored for ANY 64-bit
    * fingerprint column pair. */
  def hammingPairs64(df: DataFrame, id: Column, hi: Column, lo: Column,
                     maxDist: Int): DataFrame = {
    require(maxDist >= 0 && maxDist <= 7,
      s"8-byte banding guarantees recall only for maxDist <= 7, got $maxDist")
    val banded = banded64(df, id, hi, lo)
    val a = banded.select(col("band"), col("byte"), col("id").as("id1"),
                          col("hi").as("h1"), col("lo").as("l1"))
    val b = banded.select(col("band"), col("byte"), col("id").as("id2"),
                          col("hi").as("h2"), col("lo").as("l2"))
    a.join(b, Seq("band", "byte"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        (bit_count(col("h1").bitwiseXOR(col("h2"))) +
         bit_count(col("l1").bitwiseXOR(col("l2")))).cast("long")
          .as("dist"))
      .filter(col("dist") <= maxDist)
      .distinct()
  }

  /** [[hammingPairs64]] between two frames: `left` fingerprints probe
    * `right`'s (an incremental batch vs a standing index, or an
    * unbounded STREAM vs a static index — the probe side band-explodes
    * per row, the join is stream-static-safe stateless equi-join, and
    * the popcount verifies in-row). Self-pairs (same id both sides)
    * are excluded; each qualifying (left, right) pair emits once. */
  def hammingPairs64Between(left: DataFrame, lId: Column, lHi: Column,
                            lLo: Column, right: DataFrame, rId: Column,
                            rHi: Column, rLo: Column,
                            maxDist: Int): DataFrame = {
    require(maxDist >= 0 && maxDist <= 7,
      s"8-byte banding guarantees recall only for maxDist <= 7, got $maxDist")
    val a = banded64(left, lId, lHi, lLo)
      .select(col("band"), col("byte"), col("id").as("id1"),
              col("hi").as("h1"), col("lo").as("l1"))
    val b = banded64(right, rId, rHi, rLo)
      .select(col("band"), col("byte"), col("id").as("id2"),
              col("hi").as("h2"), col("lo").as("l2"))
    // a pair meeting through k agreeing bands would emit k times;
    // keeping only the MINIMAL agreeing band dedups STATELESSLY
    // (pure row predicate — no dropDuplicates state store, so the
    // same plan runs under streaming append mode)
    val minAgree = (0 until 8).foldRight(lit(-1): Column) { (j, rest) =>
      val src1 = if (j < 4) col("l1") else col("h1")
      val src2 = if (j < 4) col("l2") else col("h2")
      val sh = (j % 4) * 8
      when(shiftright(src1, sh).bitwiseAND(lit(255L)) ===
           shiftright(src2, sh).bitwiseAND(lit(255L)), lit(j))
        .otherwise(rest)
    }
    a.join(b, Seq("band", "byte"))
      .filter(col("id1") =!= col("id2"))
      .filter(col("band") === minAgree)
      .select(col("id1"), col("id2"),
        (bit_count(col("h1").bitwiseXOR(col("h2"))) +
         bit_count(col("l1").bitwiseXOR(col("l2")))).cast("long")
          .as("dist"))
      .filter(col("dist") <= maxDist)
  }

  // 8 byte-bands of a 64-bit fingerprint split into 32-bit halves:
  // j in 0..3 from lo, 4..7 from hi. A hub byte value (e.g. the
  // all-zero band of flat images) fattens its posting list — at scale
  // compose a band-frequency cap upstream, same remedy as
  // maxShingleFreq; the exact verify keeps found pairs correct.
  private def banded64(df: DataFrame, id: Column, hi: Column,
                       lo: Column): DataFrame = {
    val f = df.select(id.as("id"), hi.cast("long").as("hi"),
                      lo.cast("long").as("lo"))
      .filter(col("id").isNotNull && col("hi").isNotNull &&
              col("lo").isNotNull)
    f.select(col("id"), col("hi"), col("lo"),
        explode(array((0 until 8).map { j =>
          val src = if (j < 4) col("lo") else col("hi")
          val sh = (j % 4) * 8
          struct(lit(j).as("band"),
                 shiftright(src, sh).bitwiseAND(lit(255L)).as("byte"))
            : Column
        }: _*)).as("bk"))
      .select(col("id"), col("hi"), col("lo"),
              col("bk.band").as("band"), col("bk.byte").as("byte"))
  }
}
