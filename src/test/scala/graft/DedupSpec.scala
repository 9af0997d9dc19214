package graft

import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  // Tiny corpus with one planted near-dup pair (1,2), one exact dup (3,4),
  // and unrelated docs.
  private def corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy dog again and again tonight"),
    (3L, "completely different content about spark query engines and shuffles"),
    (4L, "completely different content about spark query engines and shuffles"),
    (5L, "unrelated text regarding parquet column pruning and predicate pushdown")
  ).toDF("doc_id", "text")

  test("exactDupGroups finds exact copies only") {
    val got = Dedup.exactDupGroups(corpus, "doc_id", "text").collect()
    assert(got.length == 1)
    assert(got.head.getAs[Long]("n_copies") == 2L)
    assert(got.head.getAs[Long]("first_doc") == 3L)
  }

  test("jaccardPairs finds planted near-dup and exact pairs") {
    val got = Dedup.jaccardPairs(corpus, "doc_id", "text", k = 5, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 2L)))
    assert(got.contains((3L, 4L)))
    assert(!got.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("lshNearDups agrees with exact jaccard on this corpus") {
    val exact = Dedup.jaccardPairs(corpus, "doc_id", "text", k = 5, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.lshNearDups(corpus, "doc_id", "text", k = 5,
        numHashes = 8, bandSize = 2, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(lsh == exact)
  }

  test("minhashSignaturesInRow law: native in-row signatures ≡ the exploded formulation") {
    // fixture corpus plus multi-byte text (char windows, not byte windows)
    // and a too-short doc (< k chars: no signature row on either path)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").cast("string").as("doc_id"), col("text"))
      .unionByName(Seq(
        ("uni", "héllo wörld — ünïcode shingles tëst œuvre ça déjà"),
        ("short", "tiny")).toDF("doc_id", "text"))
    val exploded = Dedup.minhashSignatures(
      Dedup.shingleRows(docs, "doc_id", "text", 9), numHashes = 8)
    val inRow = Dedup.minhashSignaturesInRow(docs, "doc_id", "text", k = 9)
    assert(inRow.exceptAll(exploded).isEmpty && exploded.exceptAll(inRow).isEmpty,
      "in-row minhash signatures must equal the exploded MIN(substr(md5)) formulation")
    assert(inRow.filter(col("doc_id") === "short").isEmpty)
  }

  test("jaccardPairsExhaustive ≡ jaccardPairs (explode formulation) on the fixture") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val a = Dedup.jaccardPairs(docs, "doc_id", "text", k = 9, threshold = 0.5)
    val b = Dedup.jaccardPairsExhaustive(docs, "doc_id", "text", k = 9, threshold = 0.5)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "broadcast-all-pairs ground truth must equal the explode-join baseline")
    assert(b.count() > 0, "fixture must contain near-dup pairs")
  }

  test("pairRecall: full recall on itself; missing pairs lower the fraction") {
    val exact = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("doc_a", "doc_b")
    val self = Dedup.pairRecall(exact, exact)
      .as[(Long, Long, Double)].head()
    assert(self == ((3L, 3L, 1.0)))
    val partial = Dedup.pairRecall(exact.filter(col("doc_a") =!= 3L), exact)
      .as[(Long, Long, Double)].head()
    assert(partial == ((3L, 2L, 2.0 / 3.0)))
  }

  test("simhash: identical docs at hamming 0, near-dups close, distinct far") {
    val sigs = corpus.select(col("doc_id"),
        TextAnalysis.simhash64(col("text")).as("sig"))
      .as[(Long, Long)].collect().toMap
    assert(sigs(3L) == sigs(4L))
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(2L)) <= 6)
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(5L)) > 10)
  }

  test("simhashNearDups finds the exact-dup pair via banding") {
    val got = Dedup.simhashNearDups(corpus, "doc_id", "text", maxHamming = 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got.contains((3L, 4L)))
  }

  test("simhash bucket cap drops only hot-band pairs, keeps multi-band near-dups") {
    // 30 docs share heavy boilerplate (hot bands); docs 3 and 4 are exact
    // dups colliding on ALL bands, so they survive any single-band drop
    val noisy = (100L until 130L).map(i =>
      (i, s"shared template header boilerplate text here unique${i} tail"))
    val df = (corpus.as[(Long, String)].collect().toSeq ++ noisy).toDF("doc_id", "text")
    val capped = Dedup.simhashNearDups(df, "doc_id", "text", maxHamming = 3, maxBucket = 8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(capped.contains((3L, 4L)), s"exact dup lost to the cap: $capped")
    // uncapped finds at least as much
    val full = Dedup.simhashNearDups(df, "doc_id", "text", maxHamming = 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(capped.subsetOf(full))
  }

  test("simhash maxBucket guard: recall vs exact hamming truth MEASURED on a boilerplate-heavy corpus") {
    // The guard's recall argument (a real pair survives unless ALL FOUR
    // of its bands are over-cap), evaluated empirically: 60 docs share a
    // heavy template spine (hot bands by construction), 20 planted
    // near-dup pairs (i, i+1000) differ from each other in one trailing
    // token. Ground truth = exhaustive hamming <= 3 over the full
    // signatures; the guarded config's recall reads off pairRecall.
    val docs = (0L until 20L).flatMap { i =>
      val spine = "shared template header boilerplate text spine common block" +
        s" tail marker unique$i"
      Seq((i, s"$spine alpha end"), (i + 1000L, s"$spine omega end"))
    } ++ (2000L until 2020L).map(i => // extra template mass to heat the bands
      (i, s"shared template header boilerplate text spine common block tail filler$i"))
    val df = docs.toDF("doc_id", "text")
    val sig = TextAnalysis.simhashSignatures(df, "doc_id", "text")
    val truth = sig.as("a").join(sig.as("b"), col("a.doc_id") < col("b.doc_id"))
      .filter(TextAnalysis.hamming(col("a.sig"), col("b.sig")) <= 3)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    // which planted pairs clear hamming <= 3 depends on the md5 bit
    // pattern of the swapped token; a healthy majority must (the truth
    // itself is exhaustive, so recall below is exact regardless)
    val nTruth = truth.count()
    assert(nTruth >= 10, s"planted pairs must populate the hamming truth: $nTruth")
    // uncapped banding is recall-exact for hamming <= 3 (4x16 pigeonhole)
    val fullRec = Dedup.pairRecall(
      Dedup.simhashNearDups(df, "doc_id", "text", maxHamming = 3),
      truth).select("recall").as[Double].head()
    assert(fullRec == 1.0, s"uncapped recall must be exactly 1.0: $fullRec")
    // guarded configs: recall measured per cap. On a corpus that is
    // MOSTLY template, a tight cap genuinely leaks — the pairs whose
    // every band goes hot (measured: cap 8 keeps 10/14 = 0.71, cap 32
    // keeps all). That leak rate is the number a deployment trades
    // against the quadratic hot-bucket cost, now measured instead of
    // assumed; recall must recover monotonically as the cap loosens.
    def recallAt(cap: Int): Double = Dedup.pairRecall(
      Dedup.simhashNearDups(df, "doc_id", "text", maxHamming = 3, maxBucket = cap),
      truth).select("recall").as[Double].head()
    val r8 = recallAt(8)
    val r32 = recallAt(32)
    info(s"boilerplate corpus: truth=$nTruth recall(cap=8)=$r8 recall(cap=32)=$r32 uncapped=1.0")
    assert(r8 >= 0.7, s"cap-8 recall collapsed below the measured floor: $r8")
    assert(r32 >= r8, s"recall must recover as the cap loosens: $r8 -> $r32")
    assert(r32 == 1.0, s"a cap above the template mass must leak nothing: $r32")
  }

  test("incrementalNearDups probes stored corpus bands; finds cross and in-batch dups only") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again tonight"),  // corpus-internal near-dup of 1
      (3L, "completely different content about spark query engines and shuffles")
    ).toDF("doc_id", "text")
    // an earlier ingest signed the corpus and persisted its band index
    val corpusBands = Dedup.bandTable(
      Dedup.minhashSignatures(Dedup.shingleRows(corpus, "doc_id", "text", 5), 8), 8, 2)

    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again today!"),  // near-dup of corpus doc 1
      (11L, "fresh unique text regarding adaptive execution and partition pruning"),
      (12L, "fresh unique text regarding adaptive execution and partition pruning!") // in-batch near-dup of 11
    ).toDF("doc_id", "text")

    val got = Dedup.incrementalNearDups(batch, corpus, corpusBands,
        "doc_id", "text", k = 5, numHashes = 8, bandSize = 2, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 10L)), s"cross batch-vs-corpus dup missed: $got")
    assert(got.contains((11L, 12L)), s"in-batch dup missed: $got")
    // corpus-internal pairs were found when THAT batch ingested — an
    // increment must not re-emit them
    assert(!got.contains((1L, 2L)))
    assert(got.forall { case (a, b) => a >= 10L || b >= 10L })
  }

  test("scrubRepeatedSpans: second occurrence scrubbed, first kept, clean docs untouched") {
    val docs = Seq(
      (1L, "a b c x a b c y"),                    // 'a b c' repeats at pos 4
      (2L, "all distinct words here today"),      // no repeated 3-gram
      (3L, "p q p q p q p q")                     // overlapping repeats
    ).toDF("doc_id", "text")
    val got = Dedup.scrubRepeatedSpans(docs, "doc_id", "text", n = 3)
      .orderBy("doc_id")
      .select("doc_id", "n_repeat_starts", "clean_text")
      .as[(Long, Long, String)].collect().toSeq
    // doc 1: span [4,7) covers the echo, survivors re-join around it
    assert(got(0) == ((1L, 1L, "a b c x y")))
    assert(got(1) == ((2L, 0L, "all distinct words here today")))
    // doc 3: grams 'p q p'(0,2,4) 'q p q'(1,3,5) -> starts 2,3,4,5 cover
    // words 2..7; only the first occurrence's two words survive
    assert(got(2) == ((3L, 4L, "p q")))
  }

  test("fuzzy decontamination: near-copy of eval dropped, unrelated kept, exact path blind to it") {
    val eval = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today")
    ).toDF("doc_id", "text")
    // doc 10 edits a word every ~6 positions (jumps->leaps, today->tonight),
    // so NO word 8-gram survives verbatim — exact-gram decontamination is
    // blind to it — while the char-shingle Jaccard stays high
    val train = Seq(
      (10L, "the quick brown fox leaps over the lazy dog again and again tonight"),
      (11L, "completely different content about spark query engines and shuffles")
    ).toDF("doc_id", "text")
    val pairs = Dedup.fuzzyContaminationPairs(train, eval, "doc_id", "text",
        k = 5, numHashes = 8, bandSize = 2, threshold = 0.5)
      .select("doc_id", "eval_id").as[(Long, Long)].collect().toSet
    assert(pairs == Set((10L, 1L)), s"unexpected contamination pairs: $pairs")
    val kept = Dedup.decontaminateFuzzy(train, eval, "doc_id", "text",
        k = 5, numHashes = 8, bandSize = 2, threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(11L))
    // the exact-gram path (word 8-grams) keeps BOTH — no verbatim 8-gram
    // survives doc 10's spaced edits — which is precisely the leakage the
    // fuzzy path exists to catch
    assert(Dedup.decontaminate(train, eval, "doc_id", "text", n = 8)
      .select("doc_id").as[Long].collect().toSet == Set(10L, 11L))
  }

  test("candidatesFromBands: a HOT band yields all n(n-1)/2 pairs without one giant array value") {
    // 400 docs in a single band -> 79,800 candidate pairs. The pair
    // expansion must stream per-element successor slices (O(n) values),
    // not build the quadratic pair array in one row — this fixture is the
    // miniature of the hot-band corpus that would overflow the 2^31
    // array limit under the all-at-once shape.
    val n = 400
    val bands = (1L to n.toLong).map(i => (i, "hot")).toDF("doc_id", "band")
    val got = Dedup.candidatesFromBands(bands)
    assert(got.count() == n.toLong * (n - 1) / 2)
    // ordering + boundary spot checks
    import org.apache.spark.sql.functions.{min => smin, max => smax}
    val r = got.agg(smin(col("doc_a")), smax(col("doc_b")),
      smax(col("doc_a"))).head()
    assert(r.getLong(0) == 1L && r.getLong(1) == n.toLong && r.getLong(2) == n - 1L)
    // the hot set (>= the chunk threshold) takes the chunked+repartition
    // branch: the pair SET must still be exactly every (a < b) combination,
    // each exactly once (a chunk-decomposition bug would dup or drop pairs
    // at chunk borders), including across a hot and a light band sharing
    // docs (cross-band distinct unchanged)
    assert(got.distinct().count() == got.count())
    val mixed = bands.unionByName(
      Seq((1L, "cold"), (2L, "cold"), (n.toLong + 1, "cold"))
        .toDF("doc_id", "band"))
    val gotMixed = Dedup.candidatesFromBands(mixed)
    val want = (for { a <- 1L to n.toLong; b <- (a + 1) to n.toLong } yield (a, b)) ++
      Seq((1L, 2L), (1L, n.toLong + 1), (2L, n.toLong + 1))
    val wantDf = want.distinct.toDF("doc_a", "doc_b")
    assert(gotMixed.count() == wantDf.count())
    assert(gotMixed.except(wantDf).isEmpty && wantDf.except(gotMixed).isEmpty)
  }

  test("lshBandSweep: recall and candidate count decrease monotonically with band size") {
    // near-identical pairs (one word flipped) plus unrelated docs
    val docs = (1L to 30L).map { i =>
      val words = (0 until 40).map(j => s"w${(i * 7 + j * 3) % 11}_$j")
      (i, words.mkString(" "))
    } ++ (1L to 10L).map { i =>
      val words = (0 until 40).map(j =>
        if (j == 5) "FLIP" else s"w${(i * 7 + j * 3) % 11}_$j")
      (i + 100L, words.mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    val truth = Dedup.jaccardPairsExhaustive(df, "doc_id", "text", k = 9, threshold = 0.8)
    val sweep = Dedup.lshBandSweep(df, "doc_id", "text", k = 9, numHashes = 8,
        bandSizes = Seq(1, 2, 4, 8), truth = truth)
      .orderBy(col("band_size"))
      .select("band_size", "n_bands", "n_candidates", "n_truth", "n_found", "recall")
      .as[(Int, Int, Long, Long, Long, Double)].collect()
    assert(sweep.map(_._1).toSeq == Seq(1, 2, 4, 8))
    assert(sweep.map(_._2).toSeq == Seq(8, 4, 2, 1))
    // every row shares the same truth; fewer/wider bands can only lose
    // candidates and recall (a pair colliding on a wide band collides on
    // each of its sub-bands)
    assert(sweep.map(_._4).distinct.length == 1 && sweep.head._4 > 0)
    assert(sweep.map(_._3).toSeq == sweep.map(_._3).toSeq.sorted.reverse,
      s"candidate count must be non-increasing in band size: ${sweep.toSeq}")
    assert(sweep.map(_._6).toSeq == sweep.map(_._6).toSeq.sorted.reverse,
      s"recall must be non-increasing in band size: ${sweep.toSeq}")
    // band size 1 (8 independent single-hash bands) must catch every
    // truth pair on this near-identical fixture
    assert(sweep.head._6 == 1.0, s"bandSize=1 should reach full recall: ${sweep.toSeq}")
    // the picker closes the loop: cheapest config clearing the floor —
    // with monotone axes, that is the WIDEST band size still at/above it
    val sweepDf = Dedup.lshBandSweep(df, "doc_id", "text", k = 9, numHashes = 8,
      bandSizes = Seq(1, 2, 4, 8), truth = truth)
    val floor = 0.9
    val qualifying = sweep.filter(_._6 >= floor)
    val picked = graft.operators.SweepFamily.lsh.pick(sweepDf, floor)
      .select("band_size", "n_candidates").as[(Int, Long)].collect()
    assert(qualifying.nonEmpty && picked.length == 1)
    assert(picked.head._1 == qualifying.map(_._1).max,
      s"picker must choose the cheapest qualifying config: $picked of ${sweep.toSeq}")
    assert(picked.head._2 == qualifying.map(_._3).min)
    // an unreachable floor returns NO row — never the best loser
    assert(graft.operators.SweepFamily.lsh.pick(sweepDf, 1.1).count() == 0)
  }

  test("overlapFractions: every train doc reported, zero-hit and gram-less rows included") {
    val eval = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // grams: 3, hits: 2 (first two 4-grams)
      (2L, "one two three four five six"),         // 3 grams, 0 hits
      (3L, "too short"),                           // < 4 words -> 0 grams
      (4L, null.asInstanceOf[String])              // null text -> same as 0 grams
    ).toDF("doc_id", "text")
    val got = Dedup.overlapFractions(train, eval, "doc_id", "text", n = 4)
      .select("doc_id", "n_grams", "n_hits", "overlap_frac")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L), "a train doc went missing from the report")
    assert(got(1L) == ((1L, 3L, 2L, 2.0 / 3)))
    assert(got(2L) == ((2L, 3L, 0L, 0.0)))
    assert(got(3L) == ((3L, 0L, 0L, 0.0)))
    // null text must fold into the gram-less case, not report the
    // size(null) = -1 / overlap -0.0 artifact
    assert(got(4L) == ((4L, 0L, 0L, 0.0)))
    // consistency with the hits-only operator on its shared domain
    val hits = Dedup.contaminationHits(train, eval, "doc_id", "text", n = 4)
      .select("doc_id", "n_grams", "n_hits").as[(Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(hits.keySet == Set(1L) && got(1L)._2 == hits(1L)._2 && got(1L)._3 == hits(1L)._3)
  }

  test("cappedDistinct: bounded set, null overflow marker, null values skipped") {
    import graft.functions.CappedSetAgg
    val rows = Seq(
      ("small", Some(3L)), ("small", Some(1L)), ("small", Some(1L)), ("small", None),
      ("big", Some(1L)), ("big", Some(2L)), ("big", Some(3L)), ("big", Some(4L)),
      ("nulls", None), ("nulls", None)
    ).toDF("g", "doc_id")
    val got = rows.groupBy("g")
      .agg(CappedSetAgg.cappedDistinct(col("doc_id"), 3).as("s"))
      .as[(String, Option[Seq[Long]])].collect().toMap
    assert(got("small") == Some(Seq(1L, 3L)))  // sorted, null input skipped (no phantom 0)
    assert(got("big").isEmpty)                 // > cap distinct -> overflow marker
    assert(got("nulls") == Some(Seq.empty))    // all-null group = empty set, not Seq(0)
  }

  test("cdcOverlapPairs: edit-robust pair found, unrelated absent, boilerplate cap suppresses") {
    // doc 1: 400 distinct words; doc 2: the same with an inserted prefix —
    // every fixed window shifts, but CDC chunks after the first boundary
    // survive, so the pair must surface with high containment
    val body = (0 until 400).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, body),
      (2L, "inserted junk prefix " + body),
      (3L, (500 until 900).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val pairs = Dedup.cdcOverlapPairs(docs, "doc_id", "text",
        boundaryNibbles = 1, maxDf = 100, minFrac = 0.5)
      .select(col("id_a"), col("id_b"), col("frac"))
      .as[(Long, Long, Double)].collect().toSeq
    assert(pairs.map(p => (p._1, p._2)) == Seq((1L, 2L)),
      s"expected exactly the planted edited pair: $pairs")
    assert(pairs.head._3 >= 0.8, s"edit-robust containment too low: $pairs")
    // boilerplate cap: the SAME text in 5 docs, cap 3 -> every chunk is
    // hot, nothing survives to the pair join
    val boiler = (10L to 14L).map(i => (i, body)).toDF("doc_id", "text")
    assert(Dedup.cdcOverlapPairs(boiler, "doc_id", "text",
      boundaryNibbles = 1, maxDf = 3, minFrac = 0.1).count() == 0)
    // ...and with the cap relaxed the clique comes back (10 choose 2)
    assert(Dedup.cdcOverlapPairs(boiler, "doc_id", "text",
      boundaryNibbles = 1, maxDf = 5, minFrac = 0.9).count() == 10)
  }
}
