package graft

import graft.plans.{CosineSim, FormatMoney, GraftFunctions}
import org.apache.spark.sql.functions._

class ExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("format_money native expression matches reference semantics") {
    val got = Seq(0L, 5L, 99L, 1234L, -250L).toDF("c")
      .select(GraftFunctions.format_money(col("c")).as("s"))
      .as[String].collect()
    assert(got.toSeq == Seq("$0.00", "$0.05", "$0.99", "$12.34", "-$2.50"))
  }

  test("cosine_sim native expression computes fused cosine") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f), 1.0),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f), 0.0),
      (Array(1.0f, 2.0f), Array(2.0f, 4.0f), 1.0),
      (Array(0.0f, 0.0f), Array(1.0f, 1.0f), 0.0)   // zero-vector guard
    ).toDF("a", "b", "want")
    val bad = df.select((GraftFunctions.cosine_sim(col("a"), col("b")) - col("want")).as("d"))
      .filter(abs(col("d")) > 1e-12).count()
    assert(bad == 0)
  }

  test("expressions survive whole-stage codegen (no interpreted fallback)") {
    // spark.range (not a local Seq, which ConvertToLocalRelation would
    // pre-evaluate without codegen) keeps the projection in WholeStageCodegen.
    val df = spark.range(3)
      .select(col("id"),
        array((col("id") + 1).cast("float"), lit(2.0f)).as("v"))
      .select(GraftFunctions.format_money(col("id") * 100).as("s"),
              GraftFunctions.cosine_sim(col("v"), col("v")).as("cos"))
    // the `*(n)` prefix marks operators inside a WholeStageCodegen stage
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), s"no codegen span:\n$plan")
    val rows = df.as[(String, Double)].collect()
    assert(rows.head._1 == "$0.00" && math.abs(rows.head._2 - 1.0) < 1e-12)
    assert(rows(2)._1 == "$2.00" && math.abs(rows(2)._2 - 1.0) < 1e-12)
  }

  test("SQL registration exposes format_money and cosine_sim") {
    Seq((250L, Array(3.0f, 4.0f))).toDF("c", "v").createOrReplaceTempView("m")
    val row = spark.sql("SELECT format_money(c) AS s, cosine_sim(v, v) AS cos FROM m")
      .as[(String, Double)].head()
    assert(row == (("$2.50", 1.0)))
  }

  test("input-type contract: misuse is an analysis error, not silent garbage") {
    // cosine_sim reads 4-byte strides; an ARRAY<DOUBLE> would be
    // reinterpreted as garbage floats without the ExpectsInputTypes contract.
    val dbl = Seq((Array(1.0, 2.0), Array(1.0f, 2.0f))).toDF("d", "f")
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      dbl.select(GraftFunctions.cosine_sim(col("d"), col("f"))).collect()
    }
    assert(e1.getMessage.toLowerCase.contains("cosine_sim"))
    // format_money must take BIGINT cents, not a DOUBLE price.
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(1.99).toDF("p").select(GraftFunctions.format_money(col("p"))).collect()
    }
    assert(e2.getMessage.toLowerCase.contains("format_money"))
    // ...and the same contract holds through the SQL registration path.
    Seq(Array(1.0, 2.0)).toDF("v").createOrReplaceTempView("typed_misuse")
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT cosine_sim(v, v) FROM typed_misuse").collect()
    }
  }

  test("shingle_set matches the declarative HOF formulation") {
    // old formulation kept as the spec oracle
    def hofShingles(text: org.apache.spark.sql.Column, k: Int) =
      when(length(text) >= k,
        array_distinct(transform(
          sequence(lit(1), length(text) - lit(k - 1)),
          i => text.substr(i, lit(k)))))
        .otherwise(array().cast("array<string>"))
    val df = Seq("abcdefgh", "aaaaaaaaaa", "abcabcabc", "short", "ab", "",
        "unicodeééxé").toDF("t")
    val bad = df.select(
        graft.operators.Dedup.charShingles(col("t"), 3).as("got"),
        hofShingles(col("t"), 3).as("want"))
      .filter(not(col("got") === col("want"))).count()
    assert(bad == 0)
    // below-k text yields an empty array, not null
    val empty = df.filter(col("t") === "ab")
      .select(graft.operators.Dedup.charShingles(col("t"), 3).as("s")).head()
    assert(!empty.isNullAt(0) && empty.getSeq[String](0).isEmpty)
  }

  test("hashed_shingle_set = sorted xxhash64 of shingle_set; merge-count = intersect size") {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    def hashed(c: org.apache.spark.sql.Column, k: Int) =
      column(graft.plans.HashedShingleSet(expression(c), k))
    // cross-check against the builtin xxhash64 (same seed 42) applied to
    // the string shingle set
    val df = Seq("abcdefgh", "abcabcabc", "xy", "aaaa").toDF("t")
    val bad = df.select(
        hashed(col("t"), 3).as("got"),
        array_sort(transform(graft.operators.Dedup.charShingles(col("t"), 3),
          g => xxhash64(g))).as("want"))
      .filter(not(col("got") === col("want"))).count()
    assert(bad == 0)
    // merge-count over sorted arrays == size(array_intersect)
    val pairs = Seq(
      (Seq(1L, 3L, 5L, 9L), Seq(2L, 3L, 9L, 11L)),
      (Seq.empty[Long], Seq(1L)),
      (Seq(4L, 8L), Seq(4L, 8L))
    ).toDF("a", "b")
    val cnt = pairs.select(
      column(graft.plans.SortedIntersectCount(expression(col("a")), expression(col("b")))).as("c"))
      .as[Long].collect()
    assert(cnt.toSeq == Seq(2L, 0L, 2L))
  }

  test("sorted_intersect_count_at_least: exact on passing pairs, filter-equivalent on failing ones") {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    // the early-exit merge's contract: for every pair and threshold, the
    // bounded count passes the downstream `c / (na + nb - c) >= t` filter
    // iff the exact count does, and EQUALS the exact count whenever it
    // passes (randomized sorted-long-array pairs spanning disjoint,
    // partially overlapping, identical, nested and empty shapes)
    val rnd = new scala.util.Random(7)
    def sortedSet(n: Int, universe: Int): Seq[Long] =
      Seq.fill(n)(rnd.nextInt(universe).toLong).distinct.sorted
    val cases = Seq.tabulate(200) { i =>
      val overlapUniverse = 40 + rnd.nextInt(400)
      (sortedSet(rnd.nextInt(300), overlapUniverse),
        sortedSet(rnd.nextInt(300), overlapUniverse))
    } ++ Seq(
      (Seq.empty[Long], Seq.empty[Long]),
      (Seq.empty[Long], Seq(1L, 2L)),
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)),
      (Seq(1L, 2L, 3L, 4L, 5L, 6L), Seq(3L, 4L)))
    for (t <- Seq(0.2, 0.5, 0.8, 1.0)) {
      for ((a, b) <- cases) {
        val aa = new org.apache.spark.sql.catalyst.util.GenericArrayData(a.toArray)
        val bb = new org.apache.spark.sql.catalyst.util.GenericArrayData(b.toArray)
        val exact = graft.plans.SortedIntersectCount.count(aa, bb)
        val bounded = graft.plans.SortedIntersectCountAtLeast.count(aa, bb, t)
        def jac(c: Long): Double = c.toDouble / (a.size.toLong + b.size - c).toDouble
        assert((jac(bounded) >= t) == (jac(exact) >= t),
          s"filter outcome diverged: t=$t |a|=${a.size} |b|=${b.size} exact=$exact bounded=$bounded")
        if (jac(exact) >= t)
          assert(bounded == exact,
            s"passing pair must be exact: t=$t exact=$exact bounded=$bounded")
      }
    }
    // codegen path: same values through a projection as via direct eval
    val pairs2 = Seq(
      (Seq(1L, 2L, 3L, 4L), Seq(1L, 2L, 3L, 4L)),   // jac 1.0: passes
      (Seq(1L, 2L, 3L, 4L), Seq(5L, 6L, 7L, 8L)),   // jac 0: early exit
      (Seq(1L, 2L, 3L), Seq(2L, 3L, 4L))            // jac 0.5: boundary
    ).toDF("a", "b")
    val got = pairs2.select(column(graft.plans.SortedIntersectCountAtLeast(
        expression(col("a")), expression(col("b")), 0.5)).as("c"))
      .as[Long].collect().toSeq
    assert(got(0) == 4L && got(2) == 2L, s"passing pairs exact: $got")
    assert(got(1).toDouble / (8 - got(1)) < 0.5, s"failing pair stays failing: $got")
  }

  test("word_gram_hashes = sorted xxhash64 of the composed split/slice grams") {
    // composed-builtins formulation: distinct word 4-grams as strings,
    // hashed with the builtin xxhash64 (same seed 42 as the native pass)
    def composed(c: org.apache.spark.sql.Column, n: Int) = {
      val toks = split(c, " ")
      when(size(toks) >= n,
        array_sort(array_distinct(transform(
          sequence(lit(0), size(toks) - n),
          i => xxhash64(concat_ws(" ", slice(toks, i + lit(1), lit(n))))))))
        .otherwise(array().cast("array<bigint>"))
    }
    val df = Seq(
      "a b c d e f",            // plain
      "a b c d a b c d a b c d", // repeated grams → distinct set
      "a b c",                  // fewer words than n → empty
      "a b c d",                // exactly n → one gram
      "héllo wörld ünicode gram bytes", // multi-byte UTF-8 spans
      "x"                       // single word
    ).toDF("t")
    val bad = df.select(
        GraftFunctions.word_gram_hashes(col("t"), 4).as("got"),
        composed(col("t"), 4).as("want"))
      .filter(not(col("got") === col("want"))).count()
    assert(bad == 0)
  }

  test("word_gram_pos_hashes = every gram in order with its split/slice hash") {
    // composed formulation: (pos, xxhash64(gram string)) for every start
    def composed(c: org.apache.spark.sql.Column, n: Int) = {
      val toks = split(c, " ")
      when(size(toks) >= n,
        transform(sequence(lit(0), size(toks) - n), i =>
          struct(i.cast("int").as("pos"),
            xxhash64(concat_ws(" ", slice(toks, i + lit(1), lit(n)))).as("h"))))
        .otherwise(array().cast("array<struct<pos:int,h:bigint>>"))
    }
    val df = Seq(
      "a b c d e f",             // plain
      "a b c d a b c d",         // repeats KEPT (unlike word_gram_hashes)
      "a b c",                   // fewer words than n → empty
      "héllo wörld ünicode gram bytes" // multi-byte UTF-8 spans
    ).toDF("t")
    val bad = df.select(
        GraftFunctions.word_gram_pos_hashes(col("t"), 4).as("got"),
        composed(col("t"), 4).as("want"))
      .filter(not(col("got") === col("want"))).count()
    assert(bad == 0)
  }

  test("word_bigram_hash_pairs = zip_with/slice pairs hashed with builtin xxhash64") {
    // the formulation bigramFluencyFromModel used before the native
    // kernel: adjacent token pairs via zip_with over two slices, then
    // h1 = xxhash64(w1), h2 = xxhash64(w1, w2) (multi-arg = chained seed)
    def composed(c: org.apache.spark.sql.Column) = {
      val toks = split(c, " ")
      zip_with(
        slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
        slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
        (a, b) => struct(xxhash64(a).as("h1"), xxhash64(a, b).as("h2")))
    }
    val df = Seq(
      "a b c d e",               // plain
      "x",                       // single word → no pairs
      "",                        // empty text → split yields [""] → no pairs
      "a  b",                    // double space → empty middle token KEPT
      " a b ",                   // leading/trailing empties KEPT
      "héllo wörld ünicode gram" // multi-byte UTF-8 spans
    ).toDF("t")
    val bad = df.select(
        GraftFunctions.word_bigram_hash_pairs(col("t")).as("got"),
        composed(col("t")).as("want"))
      .filter(not(col("got") === col("want"))).count()
    assert(bad == 0)
    // nullIntolerant: null text → null array (explode drops the doc, the
    // join semantics bigramFluencyFromModel documents)
    val nulls = Seq[Option[String]](None).toDF("t")
      .select(GraftFunctions.word_bigram_hash_pairs(col("t")).as("got"))
      .filter(col("got").isNotNull).count()
    assert(nulls == 0)
  }

  test("scrub_spans drops covered words, merges overlaps, keeps the rest") {
    def starts(xs: Int*) = typedLit(xs.toArray)
    val rows = Seq(
      // starts 1,2 with n=2 cover words 1..3: drop b,c,d
      ("a b c d e", starts(1, 2), "a e"),
      // overlapping + adjacent spans merge into one horizon
      ("a b c d e f g", starts(0, 1, 3), "f g"),
      // full coverage → empty string (concat_ws semantics)
      ("a b c", starts(0, 1), ""),
      // no spans → text passes through untouched
      ("a b c", typedLit(Array.empty[Int]), "a b c"),
      // span at the tail
      ("a b c d", starts(2), "a b"))
    rows.zipWithIndex.foreach { case ((text, st, want), i) =>
      val got = Seq(text).toDF("t")
        .select(GraftFunctions.scrub_spans(col("t"), st, 2).as("s"))
        .as[String].head()
      assert(got == want, s"case $i: got '$got', want '$want'")
    }
  }

  test("scrubHotSpans deletes exactly the shared 8-gram spans") {
    // two docs share an 8-word boilerplate span at different offsets, a
    // third is untouched; minDocs=2 → only the shared span is scrubbed
    val boiler = "b1 b2 b3 b4 b5 b6 b7 b8"
    val docs = Seq(
      (1L, s"u1 u2 $boiler t1 t2"),
      (2L, s"$boiler v1 v2 v3"),
      (3L, "w1 w2 w3 w4 w5 w6 w7 w8 w9")).toDF("doc_id", "text")
    val got = graft.operators.Dedup.scrubHotSpans(docs, "doc_id", "text", n = 8, minDocs = 2)
      .orderBy("doc_id")
      .as[(Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, 1L, "u1 u2 t1 t2"),
      (2L, 1L, "v1 v2 v3"),
      (3L, 0L, "w1 w2 w3 w4 w5 w6 w7 w8 w9")))
  }

  test("nfc_normalize unifies composed/decomposed forms; strip_accents folds marks") {
    val composed = "café"            // é as one code point
    val decomposed = "café"         // e + combining acute
    val rows = Seq((composed, decomposed, "naïve résumé", "plain ascii"))
      .toDF("c", "d", "accented", "ascii")
    val got = rows.select(
      GraftFunctions.nfc_normalize(col("d")).as("nfc_d"),
      GraftFunctions.nfc_normalize(col("c")).as("nfc_c"),
      GraftFunctions.strip_accents(col("accented")).as("folded"),
      GraftFunctions.strip_accents(col("ascii")).as("ascii_out"))
      .as[(String, String, String, String)].head()
    assert(got._1 == composed, "decomposed input must normalize to the composed form")
    assert(got._2 == composed, "NFC is idempotent on composed input")
    assert(got._3 == "naive resume")
    assert(got._4 == "plain ascii")
    // the dedup motivation: mixed-form duplicates hash identically after NFC
    val fps = rows.select(
      md5(GraftFunctions.nfc_normalize(col("c"))).as("a"),
      md5(GraftFunctions.nfc_normalize(col("d"))).as("b"))
      .as[(String, String)].head()
    assert(fps._1 == fps._2)
    // SQL registration
    rows.createOrReplaceTempView("nrm")
    val viaSql = spark.sql(
      "SELECT nfc_normalize(d) = nfc_normalize(c) AS eq, strip_accents(accented) AS f FROM nrm")
      .as[(Boolean, String)].head()
    assert(viaSql == ((true, "naive resume")))
  }

  test("null inputs propagate null") {
    val got = Seq((Option.empty[Long], Option(7L))).toDF("a", "b")
      .select(GraftFunctions.format_money(col("a")).as("sa"),
              GraftFunctions.format_money(col("b")).as("sb"))
      .collect().head
    assert(got.isNullAt(0) && got.getString(1) == "$0.07")
  }
}
