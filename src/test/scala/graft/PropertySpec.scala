package graft

import graft.functions.Fns
import graft.operators.{Relational, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-style laws (SURVEY.md §5.3) over ScalaCheck-generated inputs,
  * evaluated in single batched Spark jobs: money round-trip, merge
  * idempotence, dedup stability, simhash order-invariance.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def sample[A](g: Gen[Seq[A]]): Seq[A] =
    g.apply(Gen.Parameters.default, Seed(42L)).get

  test("cents/priceDisplay round-trip: parse(display(c)) == c for c >= 0") {
    val cents = sample(Gen.listOfN(300, Gen.chooseNum(0L, 999999999L)))
    val back = cents.toDF("c")
      .select(col("c"), Fns.priceDisplay(col("c")).as("s"))
      .withColumn("back",
        (regexp_extract(col("s"), "^\\$(\\d+)\\.(\\d{2})$", 1).cast("long") * 100 +
         regexp_extract(col("s"), "^\\$(\\d+)\\.(\\d{2})$", 2).cast("long")))
      .filter(col("back") =!= col("c")).count()
    assert(back == 0L)
  }

  test("money rendering law: priceDisplay == native format_money for any sign") {
    val cents = sample(Gen.listOfN(400, Gen.chooseNum(-999999999L, 999999999L)))
    val mismatches = (cents ++ Seq(0L, -1L, -99L, -100L, -250L, 99L)).toDF("c")
      .select(Fns.priceDisplay(col("c")).as("composed"),
              graft.plans.GraftFunctions.format_money(col("c")).as("native"))
      .filter(col("composed") =!= col("native")).count()
    assert(mismatches == 0L)
    // sign-prefix form spot checks
    val got = Seq(-250L, -5L, 305L).toDF("c")
      .select(Fns.priceDisplay(col("c")).as("s")).as[String].collect()
    assert(got.toSeq == Seq("-$2.50", "-$0.05", "$3.05"))
  }

  test("upsert idempotence: merge(merge(T,B),B) == merge(T,B) on random batches") {
    val keys = sample(Gen.listOfN(120, Gen.chooseNum(0L, 60L)))
    val target = keys.zipWithIndex.map { case (k, i) => (k, s"t$i", i.toDouble) }
      .toDF("k", "v", "p").dropDuplicates("k")
    val incoming = sample(Gen.listOfN(80, Gen.chooseNum(20L, 90L))).zipWithIndex
      .map { case (k, i) => (k, s"i$i", i.toDouble, i) }
      .toDF("k", "v", "p", "src")
    val once = Relational.upsert(target, incoming, Seq("k"), Seq("v", "p"), Seq(col("src")))
    val twice = Relational.upsert(once, incoming, Seq("k"), Seq("v", "p"), Seq(col("src")))
    assert(once.orderBy("k", "v").collect().toSeq == twice.orderBy("k", "v").collect().toSeq)
  }

  test("firstWins is a projection: applying it twice changes nothing") {
    val rows = sample(Gen.listOfN(200,
      Gen.zip(Gen.chooseNum(0, 40), Gen.alphaLowerStr.map(_.take(5)), Gen.chooseNum(0, 9))))
    val df = rows.toDF("k", "v", "ord")
    val once = Relational.firstWins(df, Seq("k"), Seq(col("ord"), col("v")))
    val twice = Relational.firstWins(once, Seq("k"), Seq(col("ord"), col("v")))
    assert(once.orderBy("k").collect().toSeq == twice.orderBy("k").collect().toSeq)
  }

  test("cappedDistinct law: equals exact distinct under the cap, null over it") {
    val rows = sample(Gen.listOfN(3000,
      Gen.zip(Gen.chooseNum(0, 50), Gen.chooseNum(0L, 12L))))
    val df = rows.toDF("g", "v").repartition(7)   // exercise partial/merge paths
    val got = df.groupBy("g")
      .agg(graft.functions.CappedSetAgg.cappedDistinct(col("v"), 6).as("s"))
      .as[(Int, Option[Seq[Long]])].collect().toMap
    val exact = rows.groupBy(_._1).view.mapValues(_.map(_._2).distinct.sorted.toSeq).toMap
    exact.foreach { case (g, vs) =>
      if (vs.size <= 6) assert(got(g) == Some(vs), s"group $g")
      else assert(got(g).isEmpty, s"group $g should overflow (${vs.size} distinct)")
    }
  }

  test("scrub_spans law: equals the filter-by-coverage reference on random inputs") {
    // random word lists + random span starts, vs a plain Scala reference
    val cases = sample(Gen.listOfN(150, Gen.zip(
      Gen.chooseNum(1, 25).flatMap(n => Gen.listOfN(n,
        Gen.oneOf("aa", "b", "ccc", "dddd", "é"))),
      Gen.listOf(Gen.chooseNum(0, 27)))))
    val n = 3
    def reference(words: Seq[String], starts: Seq[Int]): String =
      words.zipWithIndex
        .filterNot { case (_, i) => starts.exists(s => s <= i && i < s + n) }
        .map(_._1).mkString(" ")
    val df = cases.zipWithIndex.map { case ((ws, st), i) =>
      (i, ws.mkString(" "), st.distinct.sorted.toArray) }
      .toDF("id", "text", "starts")
    val got = df.select(col("id"),
        graft.plans.GraftFunctions.scrub_spans(col("text"), col("starts"), n).as("s"))
      .as[(Int, String)].collect().toMap
    cases.zipWithIndex.foreach { case ((ws, st), i) =>
      val want = reference(ws, st.distinct.sorted)
      assert(got(i) == want, s"case $i: words=$ws starts=${st.distinct.sorted}")
    }
  }

  test("word_gram_pos_hashes positions tile the text: gram count law") {
    val docs = sample(Gen.listOfN(60, Gen.chooseNum(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("x", "yy", "zzz")))))
    val n = 4
    val df = docs.zipWithIndex.map { case (ws, i) => (i, ws.mkString(" ")) }
      .toDF("id", "text")
    val got = df.select(col("id"),
        graft.plans.GraftFunctions.word_gram_pos_hashes(col("text"), n).as("g"))
      .select(col("id"), size(col("g")).as("cnt"),
        coalesce(get(col("g"), lit(0)).getField("pos"), lit(-1)).as("first"))
      .as[(Int, Int, Int)].collect().map { case (i, c, f) => i -> ((c, f)) }.toMap
    docs.zipWithIndex.foreach { case (ws, i) =>
      // "" splits to one empty word; expression returns [] only for len==0
      val nWords = if (ws.isEmpty) 1 else ws.length
      val expect = if (ws.isEmpty) 0 else math.max(nWords - n + 1, 0)
      assert(got(i)._1 == expect, s"case $i words=$nWords")
      if (expect > 0) assert(got(i)._2 == 0)
    }
  }

  test("simhash64 is token-order invariant (bag-of-words semantics)") {
    val docs = sample(Gen.listOfN(40, Gen.listOfN(12,
      Gen.oneOf("spark", "query", "join", "scan", "the", "a", "merge", "sort"))))
    val forward  = docs.map(_.mkString(" ")).zipWithIndex.map(_.swap)
    val shuffled = docs.map(ws => scala.util.Random.javaRandomToRandom(
      new java.util.Random(7)).shuffle(ws).mkString(" ")).zipWithIndex.map(_.swap)
    def sigs(rows: Seq[(Int, String)]) = rows.toDF("id", "text")
      .select(col("id"), TextAnalysis.simhash64(col("text")).as("sig"))
      .as[(Int, Long)].collect().toMap
    assert(sigs(forward) == sigs(shuffled))
  }

  test("histogram-sketch quantile law: within one bucket width of the exact quantile") {
    // the q_quantile_hist construction (width 20, 64 buckets, 2*cum >= n /
    // 10*cum >= 9n thresholds) against exact rank quantiles on random data
    val vals = sample(Gen.listOfN(500, Gen.chooseNum(0L, 1200L)))
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong % 4, v) }.toDF("g", "v")
    import org.apache.spark.sql.expressions.Window
    val bySrc = Window.partitionBy(col("g"))
    val got = df
      .groupBy(col("g"), least(floor(col("v") / 20), lit(63)).cast("int").as("bucket"))
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(
        bySrc.orderBy(col("bucket")).rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n", sum(col("c")).over(bySrc))
      .groupBy(col("g"))
      .agg(min(when(col("cum") * 2 >= col("n"), col("bucket") * 20)).as("p50"),
        min(when(col("cum") * 10 >= col("n") * 9, col("bucket") * 20)).as("p90"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val byG = vals.zipWithIndex.groupBy(_._2.toLong % 4)
      .view.mapValues(_.map(_._1).sorted).toMap
    byG.foreach { case (g, sorted) =>
      val n = sorted.size
      val exact50 = sorted((n - 1) / 2)            // value at rank ceil(n/2)
      val exact90 = sorted(((9 * n + 9) / 10) - 1) // value at rank ceil(9n/10)
      val cap = (v: Long) => math.min(v, 63L * 20) // top bucket is open
      assert(math.abs(got(g)._1 - cap(exact50)) <= 20,
        s"g=$g p50 ${got(g)._1} vs exact $exact50")
      assert(math.abs(got(g)._2 - cap(exact90)) <= 20,
        s"g=$g p90 ${got(g)._2} vs exact $exact90")
    }
  }

  test("CMS law: est >= true for every token of a random corpus; empty tokens read collision mass only") {
    import graft.operators.Sketches
    val words = sample(Gen.listOfN(800, Gen.oneOf(
      (1 to 40).map(i => s"w$i"))))
    val toks = words.toDF("t")
    val sketch = Sketches.cmsSketch(toks, "t", depth = 4, width = 64)
    val truth = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val probes = truth.keys.toSeq.toDF("t")
    val est = Sketches.cmsEstimate(sketch, probes, "t", depth = 4, width = 64)
      .as[(String, Long)].collect().toMap
    truth.foreach { case (tok, n) =>
      assert(est(tok) >= n, s"CMS under-estimated $tok: ${est(tok)} < $n")
    }
    // total cell mass per row is exactly the token count (additivity law)
    val rowMass = sketch.groupBy("j").agg(sum("cnt").as("m"))
      .select("m").as[Long].collect()
    assert(rowMass.forall(_ == words.size))
  }

  test("HLL laws: split registers max-merge to the whole-corpus registers; estimate within 3 rsd") {
    import graft.operators.Sketches
    // ~3000 distinct keys across two disjoint halves
    val keys = sample(Gen.listOfN(6000, Gen.chooseNum(1L, 3000L))).map(_.toString)
    val (h1, h2) = keys.partition(_.hashCode % 2 == 0)
    val whole = keys.toDF("k").withColumn("g", lit("all"))
    def regs(xs: Seq[String]) =
      Sketches.hllRegisters(xs.toDF("k").withColumn("g", lit("all")), col("k"), Seq("g"))
    // merge = per-register MAX across the two halves' register tables
    val merged = regs(h1).unionByName(regs(h2))
      .groupBy("g", "j").agg(max("r").as("r"))
    val direct = Sketches.hllRegisters(whole, col("k"), Seq("g"))
    assert(merged.exceptAll(direct).isEmpty && direct.exceptAll(merged).isEmpty,
      "max-merged half registers must equal whole-corpus registers")
    val est = Sketches.hllEstimate(direct, Seq("g"))
      .select("hll_est").as[Double].head()
    val exact = keys.distinct.size.toDouble
    assert(math.abs(est - exact) <= exact * 0.2,
      s"HLL estimate $est outside 3 rsd of exact $exact")
  }

  test("HLL small-range correction: linear counting beats the raw estimator at small n") {
    import graft.operators.Sketches
    // raw p=8 HLL biases high below ~2.5m distinct; the corrected helper
    // must land within 15% of exact there, and leave large-range rows
    // (raw > 2.5m) untouched
    for (n <- Seq(30, 100, 300)) {
      val keys = (1 to n).map(i => s"k$i")
      val (nHit, raw) = Sketches.hllEstimate(
        Sketches.hllRegisters(keys.toDF("k").withColumn("g", lit("all")), col("k"), Seq("g")),
        Seq("g"))
        .select(col("n_hit").cast("long"), col("hll_est"))
        .as[(Long, Double)].head()
      val corrected = Sketches.hllEstimateCorrected(nHit, raw)
      assert(math.abs(corrected - n) <= 0.15 * n,
        s"corrected estimate $corrected for n=$n outside 15% (raw $raw, n_hit $nHit)")
    }
    assert(Sketches.hllEstimateCorrected(256, 5000.0) == 5000.0,
      "large-range rows must pass through uncorrected")
  }

  test("Bloom laws: no false negatives; split filters bit_or-merge to the whole-set filter") {
    import graft.operators.Sketches
    val m = 62 * 16 // small filter => false positives certain, negatives never
    val members = sample(Gen.listOfN(120, Gen.chooseNum(1L, 60L))).map(v => s"m$v").distinct
    val (h1, h2) = members.partition(_.hashCode % 2 == 0)
    def build(xs: Seq[String]) =
      Sketches.bloomBuild(xs.toDF("v"), col("v"), mBits = m, k = 3)
    val whole = build(members)
    val merged = build(h1).unionByName(build(h2))
      .groupBy("word").agg(expr("bit_or(bits)").as("bits"))
    assert(merged.exceptAll(whole).isEmpty && whole.exceptAll(merged).isEmpty,
      "bit_or-merged half filters must equal the whole-set filter")
    // every member probes positive (no false negatives, ever)
    val probed = Sketches.bloomProbe(whole, members.toDF("v"), col("v"),
      Seq("v"), mBits = m, k = 3)
    assert(probed.filter(col("bloom_hit") =!= 1).isEmpty,
      "a Bloom filter may never reject a member")
    // the three probe formulations agree on EVERY value, false positives
    // included: relational bloomProbe ≡ in-row builtin bloomHit ≡ native
    // BloomGramHits loop (the corpus-scan shape)
    val strangers = (1L to 200L).map(v => s"s$v")
    val all = (members ++ strangers).toDF("v")
    val words = Sketches.bloomWords(whole, mBits = m)
    val rel = Sketches.bloomProbe(whole, all, col("v"), Seq("v"), mBits = m, k = 3)
    val inRow = all.select(col("v"), Sketches.bloomHit(col("v"), words, mBits = m, k = 3).as("bloom_hit"))
    assert(rel.exceptAll(inRow).isEmpty && inRow.exceptAll(rel).isEmpty,
      "in-row bloomHit must equal the relational bloomProbe on every value")
    val nativeCnt = all.select(
      Sketches.bloomCountHits(array(col("v")), words, mBits = m, k = 3).as("h"))
      .agg(sum("h")).as[Long].head()
    val relCnt = rel.agg(sum("bloom_hit")).as[Long].head()
    assert(nativeCnt == relCnt,
      s"native BloomGramHits total $nativeCnt must equal relational total $relCnt")
  }

  test("bloomWords fails loudly on config drift (filter built with larger mBits)") {
    import graft.operators.Sketches
    // a filter built at 62*32 bits holds word indexes the 62*16 probe
    // config cannot address — silent truncation would disable the safety
    // gate, so the collect must throw with a config-drift message
    val big = Sketches.bloomBuild((1L to 500L).map(v => s"v$v").toDF("v"),
      col("v"), mBits = 62 * 32, k = 3)
    val e = intercept[IllegalArgumentException] {
      Sketches.bloomWords(big, mBits = 62 * 16)
    }
    assert(e.getMessage.contains("different mBits"), e.getMessage)
    intercept[IllegalArgumentException] { Sketches.bloomWords(big, mBits = 100) }
  }

  test("WordGramSet law: native distinct word n-grams ≡ the HOF transform chain") {
    val texts = sample(Gen.listOfN(80, Gen.listOfN(12,
      Gen.oneOf("a", "b", "ab", "cd", "e")).map(_.mkString(" ")))) ++
      Seq("", "a", "a b c", "a b c d", "x x x x x x")
    val df = texts.toDF("text")
    val l = split(col("text"), " ")
    val hof = when(size(l) >= 4,
        array_distinct(transform(sequence(lit(1), size(l) - 3),
          i => concat_ws(" ", element_at(l, i), element_at(l, i + 1),
            element_at(l, i + 2), element_at(l, i + 3)))))
      .otherwise(array().cast("array<string>"))
    val rows = df.select(
      graft.plans.GraftFunctions.word_gram_set(col("text"), 4).as("native"),
      hof.as("ref")).collect()
    rows.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"native grams ${r.getSeq[String](0)} != reference ${r.getSeq[String](1)}")
    }
  }

  test("SQ8 law: codes stay in [0,255] and decode within one step of the input") {
    import graft.operators.Similarity
    val vecs = sample(Gen.listOfN(60,
      Gen.listOfN(8, Gen.chooseNum(-100.0f, 100.0f)).map(_.toArray)))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val df = vecs.toDF("vec_id", "embedding")
    val bounds = Similarity.sq8Bounds(df, "embedding")
    val rows = df.crossJoin(bounds)
      .select(col("vec_id"),
        Similarity.sq8Code(col("embedding"), col("mins"), col("maxs")).as("c"),
        col("mins"), col("maxs"))
      .as[(Long, Array[Long], Array[Float], Array[Float])].collect()
    val byId = vecs.toMap
    rows.foreach { case (id, codes, mins, maxs) =>
      assert(codes.forall(c => c >= 0 && c <= 255))
      codes.zipWithIndex.foreach { case (c, d) =>
        val step = (maxs(d).toDouble - mins(d)) / 255.0
        val decoded = mins(d) + c * step
        assert(math.abs(decoded - byId(id)(d)) <= step / 2 + 1e-9,
          s"vec $id dim $d: decoded $decoded vs ${byId(id)(d)} (step $step)")
      }
    }
  }

  test("sample-quantile law: k >= group size makes every quantile the exact order statistic") {
    import graft.operators.Sketches
    val rows = sample(Gen.listOfN(120,
      Gen.zip(Gen.oneOf("x", "y"), Gen.chooseNum(-1000L, 1000L))))
      .zipWithIndex.map { case ((g, v), i) => (g, i.toLong, v) }
    val df = rows.toDF("grp", "id", "v")
    val sampleDf = Sketches.bottomKSample(df, "id", "v", Seq("grp"), k = 1000)
    val got = Sketches.sampleQuantiles(sampleDf, "id", "v", Seq("grp"),
        Seq(("p25", 1, 4), ("p50", 1, 2), ("p99", 99, 100)))
      .select("grp", "sample_n", "p25", "p50", "p99")
      .as[(String, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    rows.groupBy(_._1).foreach { case (g, members) =>
      val sorted = members.map(_._3).sorted
      val n = sorted.size
      def exact(num: Int, den: Int) = sorted(math.max(1, (n * num + den - 1) / den) - 1)
      val (_, sn, p25, p50, p99) = got(g)
      assert(sn == n.toLong)
      assert(p25 == exact(1, 4) && p50 == exact(1, 2) && p99 == exact(99, 100),
        s"group $g: ($p25, $p50, $p99) vs exact (${exact(1, 4)}, ${exact(1, 2)}, ${exact(99, 100)})")
    }
  }

  test("binary pack law: packed Hamming == per-dim sign-disagreement count on random vectors") {
    import graft.operators.Similarity
    val dims = 80 // multi-word: 64 + 16 tail
    val vecs = sample(Gen.listOfN(40,
        Gen.listOfN(dims, Gen.chooseNum(-1000, 1000).map(_ / 100.0f))))
      .zipWithIndex.map { case (v, i) => (i.toLong, v.toArray) }
    val df = vecs.toDF("vec_id", "embedding")
    val packed = Similarity.binaryQuantize(df, "vec_id", "embedding", dims)
      .select(col("vec_id"), col("words")).as[(Long, Seq[Long])]
      .collect().toMap
    def ham(a: Seq[Long], b: Seq[Long]) =
      a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
    val byId = vecs.toMap
    for (i <- 0L until 10L; j <- (i + 1) to 39L) {
      val reference = byId(i).zip(byId(j)).count { case (x, y) => (x > 0) != (y > 0) }
      assert(ham(packed(i), packed(j)) == reference,
        s"pair ($i,$j): packed ${ham(packed(i), packed(j))} vs per-dim $reference")
    }
  }

  test("CDC coverage law: chunks rejoin to the doc verbatim on random corpora") {
    import graft.operators.TextAnalysis
    val docs = sample(Gen.listOfN(30, Gen.chooseNum(1, 120))).zipWithIndex.map {
      case (n, i) =>
        // biased small vocab so boundary words repeat across docs
        (i.toLong, (0 until n).map(j => s"t${(i * 31 + j * 7) % 97}").mkString(" "))
    }
    val got = TextAnalysis.cdcChunks(docs.toDF("doc_id", "text"), "doc_id", "text")
      .select(col("doc_id"), col("chunk_idx"), col("n_words"), col("chunk"))
      .as[(Long, Int, Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    docs.foreach { case (id, text) =>
      val chunks = got(id)
      assert(chunks.map(_._2).toSeq == chunks.indices.toSeq, s"doc $id: gap in chunk_idx")
      assert(chunks.map(_._4).mkString(" ") == text, s"doc $id: coverage broken")
      assert(chunks.forall(c => c._3 >= 1 && c._3 == c._4.split(" ").length),
        s"doc $id: n_words inconsistent")
    }
    // fused-kernel law: the native in-row distinct chunk-hash set equals
    // md5 over the span-assembly chunks, doc by doc (incl. the "" doc)
    val withEmpty = docs :+ (999L, "")
    val native = withEmpty.toDF("doc_id", "text")
      .select(col("doc_id"),
        graft.plans.GraftFunctions.cdc_chunk_hash_set(col("text"), 1).as("hs"))
      .as[(Long, Seq[String])].collect().toMap
    val composed = TextAnalysis.cdcChunks(withEmpty.toDF("doc_id", "text"),
        "doc_id", "text")
      .select(col("doc_id"), md5(col("chunk").cast("binary")).as("h"))
      .as[(Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    withEmpty.foreach { case (id, _) =>
      assert(native(id).toSet == composed(id) && native(id) == native(id).sorted,
        s"doc $id: native chunk-hash set diverges from the composed form")
    }
  }

  test("RRF law: fused score equals the hand-computed contribution sum on random rankings") {
    import graft.operators.Similarity
    val ids = sample(Gen.listOfN(60, Gen.chooseNum(0L, 25L))).distinct
    // three systems, each ranking a random subset
    val systems = (0 until 3).map { s =>
      val subset = ids.filter(i => (i + s) % 2 == 0)
      subset.sortBy(i => (i * 7 + s) % 13).zipWithIndex.map { case (id, r) => (id, r + 1) }
    }
    val fused = Similarity.rrfFuse(systems.map(_.toDF("doc_id", "rank")),
        "doc_id", "rank", kRrf = 60, topK = 1000)
      .select(col("doc_id"), col("n_systems"), col("rrf"))
      .as[(Long, Int, Double)].collect().map(r => r._1 -> r).toMap
    def q(x: Double) = math.floor(x * 1e12 + 0.5) / 1e12
    ids.foreach { id =>
      val contribs = systems.flatMap(_.find(_._1 == id)).map(p => q(1.0 / (60 + p._2)))
      if (contribs.nonEmpty) {
        val (_, n, rrf) = fused(id)
        assert(n == contribs.size, s"id $id: n_systems $n vs ${contribs.size}")
        assert(math.abs(rrf - contribs.sum) < 1e-12, s"id $id: $rrf vs ${contribs.sum}")
      } else assert(!fused.contains(id), s"id $id ranked by no system yet fused")
    }
  }

  test("splitHotCells laws: relabel+untouched == tree build; identity moves iff something split; no empty child") {
    import graft.operators.Similarity
    // random small corpora with DUPLICATE-heavy clusters — the ties,
    // degenerate cells, and boundary projections the slab math must
    // survive. Three seeded draws (single batched Spark jobs each).
    val dims = 8
    def corpusGen(seed: Long): Seq[(Long, Seq[Double])] = {
      val g = Gen.listOfN(40,
        Gen.zip(Gen.chooseNum(0, 3), Gen.listOfN(dims, Gen.chooseNum(-5, 5))))
      g.apply(Gen.Parameters.default, Seed(seed)).get.zipWithIndex.map {
        case ((cluster, noise), i) =>
          // 4 tight clusters; duplicates arise when noise repeats
          (i.toLong, noise.map(n => cluster * 10.0 + n * 0.01))
      }
    }
    for (seed <- Seq(7L, 11L, 13L)) {
      val corpus = corpusGen(seed).toDF("vec_id", "embedding")
      val cent = Similarity.coarseCentroids(corpus, "vec_id", "embedding",
          nCells = 2)
        .transform(graft.core.Materialize.pin)
      val index = Similarity.binaryIvfIndexBuild(corpus, "vec_id", "embedding",
          dims, cent)
        .transform(graft.core.Materialize.pin)
      val (tree, rel0) = Similarity.splitHotCells(index, "vec_id", "embedding",
        cent, maxShare = 0.3, branch = 3)
      val rel = rel0.transform(graft.core.Materialize.pin)
      val split = rel.count() > 0
      // law 1: identity moves iff the split changed the leaf set
      assert((Similarity.quantizerIdentity(tree) !=
        Similarity.quantizerIdentity(cent)) == split, s"seed $seed")
      // law 2: untouched + relabeled rows == a from-scratch build under
      // the committed tree, whatever the data (duplicates included)
      val parents = tree.filter(col("parent").isNotNull)
        .select(col("parent").cast("long")).distinct()
        .as[Long].collect().toSet
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select(col("vec_id").cast("long"), col("cell").cast("long"))
        .as[(Long, Long)].collect().toSeq.sortBy(_._1)
      val live = index.filter(!col("cell").isin(parents.toSeq: _*))
        .unionByName(rel)
      assert(rows(live) == rows(Similarity.binaryIvfIndexBuild(corpus,
        "vec_id", "embedding", dims, tree)), s"seed $seed: invariant broke")
      // law 3: every committed child stores at least one row (thresholds
      // are deduped above the cell minimum, so no interval can be empty)
      if (split) {
        val childCells = tree.filter(col("parent").isNotNull)
          .select(col("cc").cast("long")).as[Long].collect().toSet
        val occupied = rel.select(col("cell").cast("long"))
          .distinct().as[Long].collect().toSet
        assert(childCells == occupied,
          s"seed $seed: empty child interval: ${childCells -- occupied}")
      }
    }
  }
}
