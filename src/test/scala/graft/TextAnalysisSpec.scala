package graft

import graft.operators.TextAnalysis
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("stopwordCount and qualityScore behave on edge inputs") {
    val df = Seq("the a the", "no stopwords here", "x").toDF("t")
    val stops = df.select(TextAnalysis.stopwordCount(col("t"), Seq("a", "the")).as("n"))
      .as[Long].collect()
    assert(stops.toSeq == Seq(3L, 0L, 0L))
    val q = df.select(TextAnalysis.qualityScore(col("t"), Seq("a", "the")).as("q"))
      .as[Double].collect()
    assert(q.forall(v => v >= 0.0 && v <= 1.0))
    assert(q(0) == 0.0) // all-stopword text floors at zero
  }

  test("langId argmax is deterministic with alphabetical tie-break") {
    val markers = Seq("en" -> Seq("the"), "de" -> Seq("der"), "fr" -> Seq("le"))
    val got = Seq("the cat", "der hund", "le chat", "nothing matches")
      .toDF("t").select(TextAnalysis.langId(col("t"), markers).as("l"))
      .as[String].collect()
    // all-zero scores tie -> alphabetically first language wins
    assert(got.toSeq == Seq("en", "de", "fr", "de"))
  }

  test("fingerprint normalizes case and whitespace") {
    val fps = Seq("Hello World", "  hello world  ").toDF("t")
      .select(TextAnalysis.fingerprint(col("t"))).as[String].collect()
    assert(fps(0) == fps(1))
  }

  test("avgTokenLen is exact") {
    val v = Seq("ab cd ef").toDF("t")
      .select(TextAnalysis.avgTokenLen(col("t"))).as[Double].head()
    assert(v == 2.0)
  }

  test("native simhash signature equals the declarative simhash64 column") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "double  space"),          // split keeps the empty token
      (3L, ""),                        // one empty token
      (4L, "unicode tokéns über alles"),
      (5L, "a")
    ).toDF("doc_id", "text")
    val native = TextAnalysis.simhashSignatures(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    val hof = docs.select(col("doc_id"), TextAnalysis.simhash64(col("text")).as("s"))
      .as[(Long, Long)].collect().toMap
    assert(native == hof)
  }

  test("chunkByChars covers the document with overlapping windows") {
    val docs = Seq((1L, "a" * 500), (2L, "short"), (3L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.chunkByChars(docs, "doc_id", "text", chunkLen = 200, overlap = 40)
      .select("doc_id", "chunk_idx", "chunk")
      .as[(Long, Int, String)].collect().sortBy(r => (r._1, r._2))
    // doc 1: starts 1, 161, 321, 481 -> but 481+40 > 500, so the last
    // window (fully inside chunk 2's coverage through 500) is dropped
    val d1 = got.filter(_._1 == 1L)
    assert(d1.map(_._2).toSeq == Seq(0, 1, 2))
    assert(d1(0)._3.length == 200 && d1(2)._3.length == 180)
    // contiguous coverage with 40-char overlap
    assert(d1.map(_._3).mkString.length == 200 + 200 + 180)
    // short doc -> one chunk, empty doc -> none
    assert(got.filter(_._1 == 2L).map(_._3).toSeq == Seq("short"))
    assert(!got.exists(_._1 == 3L))
  }

  test("hashedBowScore: sparse weights score 0 for unlisted buckets, counts stay honest") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val docs = Seq(
      (1L, "alpha beta alpha"),
      (2L, "gamma")
    ).toDF("doc_id", "text")
    // weights listing ONLY alpha's bucket at +7 — beta/gamma buckets are
    // absent and must contribute 0 without dropping the token from n_toks
    val alphaBucket = Seq("alpha").toDF("t")
      .select(TextAnalysis.md5Bucket(col("t")).as("bucket"))
      .head().getLong(0)
    val weights = Seq((alphaBucket, 7L)).toDF("bucket", "w")
    val got = TextAnalysis.hashedBowScore(docs, "doc_id", "text", weights)
      .orderBy("doc_id")
      .select("doc_id", "n_toks", "logit", "keep")
      .as[(Long, Long, Long, Boolean)].collect()
    assert(got.toSeq == Seq((1L, 3L, 14L, true), (2L, 1L, 0L, true)))
    // threshold above doc 2's logit flips only its keep flag
    val kept = TextAnalysis.hashedBowScore(docs, "doc_id", "text", weights,
        keepThreshold = 1L)
      .orderBy("doc_id").select("doc_id", "keep").as[(Long, Boolean)].collect()
    assert(kept.toSeq == Seq((1L, true), (2L, false)))
    // the full-table query path: md5-derived stand-in weights are stable
    val w256 = spark.range(256).select(col("id").as("bucket"))
      .withColumn("w", TextAnalysis.md5Bucket(concat(lit("w:"), col("bucket").cast("string"))) - 128)
    assert(w256.count() == 256)
    assert(w256.filter(col("w") < -128 || col("w") > 127).count() == 0)
  }

  test("repetitionStats flags degenerate docs, passes varied ones") {
    val docs = Seq(
      (1L, "spam spam spam spam spam spam spam spam spam spam"),  // one token repeated
      (2L, "the quick brown fox jumps over a lazy dog today"),    // all distinct
      (3L, "ab cd ab cd ab cd ab cd ab cd")                       // 2 tokens alternating
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(docs, "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "n_distinct", "is_repetitive")
      .as[(Long, Long, Long, Boolean)].collect()
    assert(got.toSeq == Seq(
      (1L, 10L, 1L, true),    // rep_ratio 0.9, top_share 1.0
      (2L, 10L, 10L, false),  // rep_ratio 0, top_share 0.1
      (3L, 10L, 2L, true)))   // rep_ratio 0.8, top_share 0.5
  }

  test("bigramFluency: attested transitions outscore novel ones; short docs drop") {
    // find ids on each side of the md5-band train/held-out cut
    val bands = spark.range(1, 60)
      .select(col("id"), TextAnalysis.md5Bucket(col("id").cast("string")).as("b"))
      .as[(Long, Long)].collect().toMap
    val trainIds = bands.filter(_._2 < 128).keys.toSeq.sorted
    val testIds = bands.filter(_._2 >= 128).keys.toSeq.sorted
    assert(trainIds.size >= 2 && testIds.size >= 2)
    val fluent = "alpha beta gamma delta alpha beta gamma delta"
    val docs = (
      trainIds.take(2).map(id => (id, fluent)) ++            // the LM's world
      Seq((testIds(0), "alpha beta gamma delta"),            // all transitions attested
          (testIds(1), "zeta eta theta iota"),               // all transitions novel
          (trainIds(1) * 1000 + 7, "solo"))                  // 1 token -> no bigrams
    ).toDF("doc_id", "text")
    val got = TextAnalysis.bigramFluency(docs, "doc_id", "text")
      .select("doc_id", "n_bigrams", "n_unseen", "mean_p")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // the single-token doc produced no bigrams: absent no matter its band
    assert(!got.contains(trainIds(1) * 1000 + 7))
    val attested = got(testIds(0)); val novel = got(testIds(1))
    assert(attested._3 == 0L, s"attested doc saw unseen bigrams: $attested")
    assert(novel._3 == novel._2, s"novel doc should be all-unseen: $novel")
    assert(attested._4 > novel._4,
      s"fluency must separate attested from novel: $attested vs $novel")
    assert(got.values.forall(r => r._4 > 0.0 && r._4 <= 1.0))
  }

  test("dsirPreference: target-like raw docs outrank junk; scores stay in (0,1)") {
    val target = Seq(
      (101L, "alpha beta alpha beta alpha beta"),
      (102L, "beta alpha beta alpha")).toDF("doc_id", "text")
    val raw = Seq(
      (1L, "alpha beta alpha beta"),                  // mimics target bigrams
      (2L, "zeta eta theta iota kappa"),              // nothing in common
      (3L, "alpha beta zeta eta")                     // half and half
    ).toDF("doc_id", "text")
    val got = TextAnalysis.dsirPreference(raw, target, "doc_id", "text")
      .select("doc_id", "n_feats", "mean_pref")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L)._2 == 3L && got(2L)._2 == 4L && got(3L)._2 == 3L)
    assert(got(1L)._3 > got(3L)._3 && got(3L)._3 > got(2L)._3,
      s"preference must rank target-like > mixed > junk: $got")
    assert(got.values.forall(r => r._3 > 0.0 && r._3 < 1.0))
  }

  test("qualityGates kernel law: native gate stats ≡ the HOF formulation, edge cases included") {
    val stop = Seq("a", "the")
    // fixture corpus + hostile tokenizations: empty string, consecutive /
    // leading / trailing spaces (empty tokens kept by split), multi-byte
    // chars (short-token counting is per CHAR), repeated tokens
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").cast("string").as("doc_id"), col("text"))
      .unionByName(Seq(
        ("e1", ""), ("e2", "  "), ("e3", " x"), ("e4", "x "),
        ("e5", "héé wörld héé a the the ça"), ("e6", "a a a a")).toDF("doc_id", "text"))
    val toks = split(col("text"), " ")
    val hof = docs.select(col("doc_id"),
      size(toks).cast("long").as("n_words"),
      (length(regexp_replace(col("text"), " ", "")).cast("double") / size(toks)).as("mean_word_len"),
      (size(array_distinct(toks)).cast("double") / size(toks)).as("uniq_ratio"),
      (size(filter(toks, w => length(w) < 3)).cast("double") / size(toks)).as("short_ratio"),
      (size(filter(toks, w => w.isInCollection(stop))) > 0).as("has_stop"))
    val native = TextAnalysis.qualityGates(docs, "text", stop)
      .select("doc_id", "n_words", "mean_word_len", "uniq_ratio", "short_ratio", "has_stop")
    assert(native.exceptAll(hof).isEmpty && hof.exceptAll(native).isEmpty,
      "native gate stats must equal the interpreted HOF chain bit-for-bit")
  }

  test("persisted-model law: FromModel scoring ≡ the one-shot operators, through parquet") {
    // the model tables round-trip through parquet (the artifact-memo
    // deployment shape) and must reproduce the one-shot results exactly
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val raw = docs.filter(col("source") =!= "src0")
    val target = docs.filter(col("source") === "src0")
    val root = java.nio.file.Files.createTempDirectory("graft_model_law").toString

    TextAnalysis.bigramLmModel(docs, "doc_id", "text")
      .write.parquet(s"$root/lm")
    val lmFrom = TextAnalysis.bigramFluencyFromModel(docs, "doc_id", "text",
      spark.read.parquet(s"$root/lm"))
    val lmOne = TextAnalysis.bigramFluency(docs, "doc_id", "text")
    assert(lmFrom.exceptAll(lmOne).isEmpty && lmOne.exceptAll(lmFrom).isEmpty,
      "bigram fluency from persisted model must equal the one-shot build")

    TextAnalysis.dsirModel(raw, target, "doc_id", "text")
      .write.parquet(s"$root/dsir")
    val dm = spark.read.parquet(s"$root/dsir")
    val prefFrom = TextAnalysis.dsirPreferenceFromModel(raw, dm, "doc_id", "text")
    val prefOne = TextAnalysis.dsirPreference(raw, target, "doc_id", "text")
    assert(prefFrom.exceptAll(prefOne).isEmpty && prefOne.exceptAll(prefFrom).isEmpty,
      "DSIR preference from persisted model must equal the one-shot build")
  }

  test("bm25: tf saturation, rare-term idf dominance, non-matching docs absent") {
    val docs = Seq(
      (1L, "cat cat cat cat dog filler filler filler"), // high tf(cat), matches dog
      (2L, "cat dog filler filler filler filler filler"),
      (3L, "cat filler filler filler filler filler filler"),
      (4L, "rare filler filler filler filler filler filler"), // only rare-term doc
      (5L, "filler filler filler filler filler filler filler")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.bm25(docs, "doc_id", "text", Seq("cat", "dog", "rare"))
      .select("doc_id", "n_hit", "score")
      .as[(Long, Long, Double)].collect()
    val byId = got.map(r => r._1 -> r).toMap
    assert(!byId.contains(5L), "doc with no query terms must not appear")
    assert(byId(1L)._2 == 2L && byId(2L)._2 == 2L && byId(3L)._2 == 1L)
    // rare term (df=1) outweighs common cat+dog despite fewer hits
    assert(byId(4L)._3 > byId(3L)._3, s"idf must favor the rare term: $got")
    // more cat occurrences score higher than one, but k1 saturates tf:
    // 4x the tf must yield well under 4x the single-hit score
    assert(byId(1L)._3 > byId(2L)._3 && byId(1L)._3 < byId(2L)._3 * 4)
    assert(got.forall(_._3 > 0.0))
  }

  test("bm25 topK bounds the result and keeps the highest scores") {
    val docs = (1L to 30L).map(i =>
      (i, (Seq.fill(i.toInt)("hit") ++ Seq.fill(40 - i.toInt)("pad")).mkString(" ")))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bm25(docs, "doc_id", "text", Seq("hit"), topK = 5)
      .select("doc_id").as[Long].collect()
    assert(got.length == 5)
    // higher tf with equal length ranks first: docs 30..26
    assert(got.toSet == Set(30L, 29L, 28L, 27L, 26L))
  }

  test("phraseSearch: consecutive-word semantics, overlapping matches counted, scattered terms rejected") {
    val docs = Seq(
      (1L, "a b a b a"),          // "a b a" matches at pos 0 AND 2 (overlap)
      (2L, "a x b x a"),          // all terms present but never consecutive
      (3L, "z a b a z"),          // one match mid-doc
      (4L, "b a")                 // phrase prefix only
    ).toDF("doc_id", "text")
    val got = TextAnalysis.phraseSearch(docs, "doc_id", "text", "a b a")
      .select("doc_id", "n_matches").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 3L -> 1L))
    // single-term phrase degenerates to term frequency
    val one = TextAnalysis.phraseSearch(docs, "doc_id", "text", "a")
      .select("doc_id", "n_matches").as[(Long, Long)].collect().toMap
    assert(one == Map(1L -> 3L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
  }

  test("phraseSearchBatch == the per-phrase probes, in one scan, shared terms included") {
    val docs = Seq(
      (1L, "a b a b a"),
      (2L, "a x b x a"),
      (3L, "z a b a z"),
      (4L, "b a")
    ).toDF("doc_id", "text")
    val phrases = Seq("a b a", "b a", "a", "q z") // overlap-heavy, shares terms; "q z" matches nothing
    val post = TextAnalysis.positionalPostings(docs, "doc_id", "text")
    val batch = TextAnalysis.phraseSearchBatch(post, "doc_id", phrases)
      .select("phrase", "doc_id", "n_matches")
      .as[(String, Long, Long)].collect().toSet
    val oneByOne = phrases.flatMap { p =>
      TextAnalysis.phraseSearch(docs, "doc_id", "text", p)
        .select("doc_id", "n_matches").as[(Long, Long)].collect()
        .map { case (d, n) => (p, d, n) }
    }.toSet
    assert(batch == oneByOne && batch.nonEmpty)
    // the no-match phrase contributes no rows, not zero-count rows
    assert(!batch.exists(_._1 == "q z"))
  }

  test("trainLinearProbe learns a separable corpus and trains deterministically") {
    // positives speak token 'alpha', negatives 'omega' — fully separable
    // through the hash buckets, so a few GD rounds must cut MSE far below
    // the label variance (0.25); hash-rank determinism makes two runs
    // bit-equal
    val docs = (1L to 60L).map { i =>
      val pos = i % 2 == 0
      val word = if (pos) "alpha" else "omega"
      (i, Seq.fill(10)(word).mkString(" "), if (pos) 1.0 else 0.0)
    }.toDF("doc_id", "text", "y")
    val (w, mse) = TextAnalysis.trainLinearProbe(docs, "doc_id", "text",
      col("y"), buckets = 4, iters = 8, lr = 1.0)
    assert(mse < 0.1, s"separable corpus must train well below 0.25 variance, got $mse")
    assert(w.length == 5)
    val (w2, mse2) = TextAnalysis.trainLinearProbe(docs, "doc_id", "text",
      col("y"), buckets = 4, iters = 8, lr = 1.0)
    assert(w.toSeq == w2.toSeq && mse == mse2, "training must be bit-deterministic")
  }

  test("trainLinearProbeMiniBatch: nBatches=1 equals full-batch; banded batches still learn, deterministically") {
    val feats = (1L to 80L).map { i =>
      val pos = i % 2 == 0
      (i, if (pos) 0.9 else 0.1, if (pos) 0.2 else 0.8, if (pos) 1.0 else 0.0)
    }.toDF("doc_id", "f0", "f1", "y")
    val band = graft.operators.TextAnalysis.md5Bucket(col("doc_id").cast("string"))
    // one batch = the full-batch trainer, bit-for-bit
    val (wFull, mseFull) = TextAnalysis.trainLinearProbeOnFeatures(
      feats, Seq("f0", "f1"), col("y"), iters = 4, lr = 1.0)
    val (wOne, mseOne) = TextAnalysis.trainLinearProbeMiniBatch(
      feats, Seq("f0", "f1"), col("y"), band, nBatches = 1, iters = 4, lr = 1.0)
    assert(wFull.toSeq == wOne.toSeq && mseFull == mseOne,
      "nBatches=1 must replay the full-batch run exactly")
    // 4 md5-band batches, each round touching ~1/4 of the rows: the
    // separable features must still train well below label variance,
    // and the deterministic schedule makes two runs bit-equal
    val (wMb, mseMb) = TextAnalysis.trainLinearProbeMiniBatch(
      feats, Seq("f0", "f1"), col("y"), band, nBatches = 4, iters = 8, lr = 1.0)
    assert(mseMb < 0.1, s"separable features must train below 0.25 variance, got $mseMb")
    val (wMb2, mseMb2) = TextAnalysis.trainLinearProbeMiniBatch(
      feats, Seq("f0", "f1"), col("y"), band, nBatches = 4, iters = 8, lr = 1.0)
    assert(wMb.toSeq == wMb2.toSeq && mseMb == mseMb2,
      "mini-batch training must be bit-deterministic")
  }

  test("cdcChunks: chunks cover the doc exactly; prefix edits leave suffix chunks intact") {
    // enough distinct words that some hit the 1/16 zero-nibble boundary
    val words = (0 until 400).map(i => s"w$i")
    val doc = words.mkString(" ")
    val base = TextAnalysis.cdcChunks(Seq((1L, doc)).toDF("doc_id", "text"),
        "doc_id", "text")
      .orderBy("chunk_idx")
      .select(col("chunk_idx"), col("n_words"), col("chunk"))
      .as[(Int, Long, String)].collect().toSeq
    // coverage: chunks reassemble the doc verbatim, indices contiguous,
    // n_words consistent with the chunk text
    assert(base.map(_._1) == base.indices, base.map(_._1).toString)
    assert(base.map(_._3).mkString(" ") == doc, "chunks must cover the doc exactly")
    assert(base.forall(c => c._3.split(" ").length.toLong == c._2))
    assert(base.size > 5, s"fixture too uniform: ${base.size} chunks")
    // THE CDC property: prepending garbage shifts every fixed-size chunk
    // but must leave every chunk after the first boundary byte-identical
    val edited = ("zzz0 zzz1 zzz2 " + doc)
    val editedChunks = TextAnalysis.cdcChunks(
        Seq((2L, edited)).toDF("doc_id", "text"), "doc_id", "text")
      .select(col("chunk")).as[String].collect().toSet
    val stable = base.drop(1).map(_._3) // all chunks after the doc's first boundary
    val kept = stable.count(editedChunks.contains)
    assert(kept == stable.size,
      s"prefix edit broke $kept/${stable.size} suffix chunks — CDC property lost")
    // contrast: the fixed-size chunker keeps NO chunk under the same edit
    val fixedBase = TextAnalysis.chunkByChars(Seq((1L, doc)).toDF("doc_id", "text"),
        "doc_id", "text", chunkLen = 80, overlap = 0)
      .select(col("chunk")).as[String].collect().toSet
    val fixedEdited = TextAnalysis.chunkByChars(Seq((2L, edited)).toDF("doc_id", "text"),
        "doc_id", "text", chunkLen = 80, overlap = 0)
      .select(col("chunk")).as[String].collect().toSet
    assert(fixedBase.intersect(fixedEdited).size <= 1,
      "fixture: fixed-size chunking should lose (almost) every chunk on a prefix edit")
  }
}
