package graft

import graft.plans.GraftFunctions.bpe_encode
import org.apache.spark.sql.functions._

class BpeSpec extends SparkSpec {
  import spark.implicits._

  private val classic = Seq("l o", "lo w", "e r")

  test("classic merges: lower -> [low, er], unseen words stay code points") {
    val got = Seq("lower newest low").toDF("text")
      .select(bpe_encode(col("text"), classic).as("t"))
      .as[Seq[String]].head()
    assert(got == Seq("low", "er", "n", "e", "w", "e", "s", "t", "low"))
  }

  test("marker mode round-trips: bpe_decode(bpe_encode(text, marker)) == text") {
    import graft.plans.GraftFunctions.bpe_decode
    // marker prefixes each word's FIRST token; merges are unaffected
    val got = Seq("lower newest low").toDF("text")
      .select(bpe_encode(col("text"), classic, marker = true).as("t"))
      .as[Seq[String]].head()
    assert(got == Seq("▁low", "er", "▁n", "e", "w", "e", "s", "t", "▁low"))
    // round-trip on real corpus text (single-space-normalized fixture)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(100)
    val bad = docs.select(col("text"),
        bpe_decode(bpe_encode(col("text"), classic, marker = true)).as("rt"))
      .filter(col("rt") =!= col("text")).count()
    assert(bad == 0, "decode(encode(marker=true)) is not the identity on the corpus")
    // edge cases: empty text, single word
    val edges = Seq("", "word").toDF("text")
      .select(bpe_decode(bpe_encode(col("text"), classic, marker = true)).as("rt"))
      .as[String].collect().toSeq
    assert(edges == Seq("", "word"))
    // SQL surface: optional third arg
    Seq("lower").toDF("text").createOrReplaceTempView("bpe_rt")
    val sql = spark.sql(
      "SELECT bpe_encode(text, array('l o','lo w','e r'), true) AS t FROM bpe_rt")
      .as[Seq[String]].head()
    assert(sql == Seq("▁low", "er"))
  }

  test("merge order matters: rules apply in table order, one fixpoint pass each") {
    // ("a b" before "b c"): "abc" -> ab, c — the later rule never sees b|c
    val s = Seq("abc").toDF("text")
    assert(s.select(bpe_encode(col("text"), Seq("a b", "b c")).as("t"))
      .as[Seq[String]].head() == Seq("ab", "c"))
    assert(s.select(bpe_encode(col("text"), Seq("b c", "a b")).as("t"))
      .as[Seq[String]].head() == Seq("a", "bc"))
    // repeated-pair run merges left-to-right non-overlapping: oooo -> oo oo
    assert(Seq("ooooo").toDF("text")
      .select(bpe_encode(col("text"), Seq("o o")).as("t"))
      .as[Seq[String]].head() == Seq("oo", "oo", "o"))
  }

  test("lossless: concatenated tokens rebuild the text minus whitespace") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val merges = Seq("t a", "ta b", "tab l", "tabl e", "s c", "sc a", "sca n",
      "r o", "ro w", "k e", "ke y", "e r")
    val bad = docs.select(col("text"),
        bpe_encode(col("text"), merges).as("toks"))
      .filter(concat_ws("", col("toks")) =!=
        regexp_replace(col("text"), "\\s+", ""))
      .count()
    assert(bad == 0)
  }

  test("chunkByTokens: windows tile the token stream; overlap and trailing-drop laws hold") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val merges = Seq("t a", "ta b", "tab l", "tabl e", "s c", "sc a", "sca n",
      "r o", "ro w", "k e", "ke y", "e r")
    val (chunkLen, overlap) = (32, 4)
    val step = chunkLen - overlap
    val chunks = graft.operators.Tokenize.chunkByTokens(docs, "doc_id", "text",
        merges, chunkLen, overlap)
      .select(col("doc_id").cast("long"), col("chunk_idx").cast("int"),
        col("n_tokens").cast("long"), col("chunk_tokens"))
      .as[(Long, Int, Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    val full = docs.select(col("doc_id").cast("long"),
        bpe_encode(col("text"), merges).as("t"))
      .as[(Long, Seq[String])].collect().toMap
    chunks.foreach { case (doc, ws) =>
      val toks = full(doc)
      // every window is the exact slice at its start; dropping each
      // window's overlap prefix (after the first) rebuilds the stream
      ws.foreach { case (_, idx, n, text) =>
        val slice = toks.slice(idx * step, idx * step + chunkLen)
        assert(slice.mkString(" ") == text && slice.size == n,
          s"doc $doc window $idx mismatch")
      }
      val rebuilt = ws.flatMap { case (_, idx, _, text) =>
        val t = text.split(" ").toSeq
        if (idx == 0) t else t.drop(overlap)
      }
      assert(rebuilt.toSeq == toks.toSeq, s"doc $doc windows do not tile the stream")
      // no window may start past the stream (trailing-drop law)
      assert(ws.forall { case (_, idx, _, _) => idx == 0 || idx * step + overlap <= toks.size })
    }
  }

  test("chunkByTokens: zero-token docs (whitespace-only text) emit no chunks") {
    // bpe_encode skips whitespace, so "   " tokenizes to []; the gate is
    // on token count, matching the oracle's empty range(1, len(tk)+1).
    val docs = Seq((1L, "   "), (2L, ""), (3L, "tab le")).toDF("doc_id", "text")
    val got = graft.operators.Tokenize.chunkByTokens(docs, "doc_id", "text",
        classic, chunkLen = 4, overlap = 1)
      .select(col("doc_id").cast("long")).as[Long].collect().toSet
    assert(got == Set(3L), s"only the tokenizable doc may chunk, got $got")
  }

  test("null and empty inputs") {
    val got = Seq(Some(""), None, Some("  ")).toDF("text")
      .select(bpe_encode(col("text"), classic).as("t"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getSeq[String](0))
    assert(got(0) == Seq.empty && got(1) == null && got(2) == Seq.empty)
  }

  test("SQL surface: bpe_encode with an array literal") {
    Seq(("lower", 1L)).toDF("text", "id").createOrReplaceTempView("bpe_in")
    val got = spark.sql(
      "SELECT bpe_encode(text, array('l o', 'lo w', 'e r')) AS t FROM bpe_in")
      .as[Seq[String]].head()
    assert(got == Seq("low", "er"))
  }

  test("SQL surface: bpe_encode rejects NULL merge elements with a clear error") {
    Seq(("lower", 1L)).toDF("text", "id").createOrReplaceTempView("bpe_in_null")
    val e = intercept[Exception] {
      spark.sql("SELECT bpe_encode(text, array('l o', NULL)) AS t FROM bpe_in_null")
        .collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => c.isInstanceOf[IllegalArgumentException] &&
      c.getMessage.contains("bpe_encode(text, merges)")),
      s"expected a clear non-null-element error, got $e")
  }

  test("learnBpeMerges: ranks follow corpus pair frequency, ties lexicographic") {
    val docs = Seq("low low low", "lower lower", "lowest").toDF("text")
    val got = graft.operators.Tokenize.learnBpeMerges(docs, "text",
        nMerges = 4, batchSize = 1)
      .orderBy("rank").as[(Int, String)].collect()
    // round counts: (l,o)=6 ties (o,w)=6 -> lex; then (lo,w)=6; then
    // (low,e)=3 beats (e,r)=2; then (lowe,r)=2 beats (lowe,s)=1
    assert(got.toSeq == Seq((0, "l o"), (1, "lo w"), (2, "low e"), (3, "lowe r")))
    // learned table drives the constant-table encoder
    val rules = got.map(_._2).toSeq
    val enc = Seq("lower lowest").toDF("text")
      .select(bpe_encode(col("text"), rules).as("t")).as[Seq[String]].head()
    assert(enc == Seq("lower", "lowe", "s", "t"))
  }

  test("learnBpeMerges: batched rounds are deterministic; exhausts gracefully") {
    val docs = Seq("low low low", "lower lower", "lowest").toDF("text")
    val a = graft.operators.Tokenize.learnBpeMerges(docs, "text", 6, batchSize = 3)
      .orderBy("rank").as[(Int, String)].collect().toSeq
    val b = graft.operators.Tokenize.learnBpeMerges(docs, "text", 6, batchSize = 3)
      .orderBy("rank").as[(Int, String)].collect().toSeq
    assert(a == b && a.size == 6)
    assert(a.map(_._1) == (0 until 6))
    // a corpus of single-char words has no within-word pairs: training
    // stops instead of spinning (and cross-word pairs are never counted)
    val flat = graft.operators.Tokenize.learnBpeMerges(
      Seq("x y", "x y z").toDF("text"), "text", 4)
    assert(flat.count() == 0)
  }

  test("unicode: symbols are code points, never split surrogate pairs") {
    val got = Seq("a😀b").toDF("text")  // a😀b
      .select(bpe_encode(col("text"), Seq("a 😀")).as("t"))
      .as[Seq[String]].head()
    assert(got == Seq("a😀", "b"))
  }
}
