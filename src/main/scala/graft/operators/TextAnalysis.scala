package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language-ID heuristics, document
  * fingerprinting. All are narrow (per-row) column expressions — no
  * shuffle, fully codegen'd, safe at any scale.
  *
  * Portability contract: every expression here uses only arithmetic /
  * string ops with identical semantics in ANSI engines, so the DuckDB
  * oracle can replicate results bit-for-bit.
  */
object TextAnalysis {

  /** Whitespace token count via separator arithmetic (#spaces + 1). */
  def tokenCount(text: Column): Column =
    (length(text) - length(regexp_replace(text, " ", "")) + lit(1)).cast(LongType)

  /** Count of tokens in `stop` (exploded-free: higher-order filter). */
  def stopwordCount(text: Column, stop: Seq[String]): Column =
    size(filter(split(text, " "), t => t.isInCollection(stop))).cast(LongType)

  /** Mean token length in characters, as an exact double expression. */
  def avgTokenLen(text: Column): Column = {
    val nonSpace = length(regexp_replace(text, " ", "")).cast(DoubleType)
    nonSpace / tokenCount(text)
  }

  /** Heuristic quality score in [0,1]: a length component (saturating at
    * `fullLenChars`) minus a stopword-density penalty. Deterministic
    * double arithmetic (one division per term, no re-association).
    */
  def qualityScore(text: Column, stop: Seq[String], fullLenChars: Int = 500): Column = {
    val lenScore  = least(length(text).cast(DoubleType) / lit(fullLenChars.toDouble), lit(1.0))
    val stopRatio = stopwordCount(text, stop).cast(DoubleType) / tokenCount(text)
    greatest(lit(0.0), lenScore - stopRatio)
  }

  /** Marker-token score for one language: how many tokens appear in the
    * language's marker list. N-gram-frequency heuristic reduced to token
    * markers (the fixture corpus is word-based).
    */
  def langScore(text: Column, markers: Seq[String]): Column =
    size(filter(split(text, " "), t => t.isInCollection(markers))).cast(LongType)

  /** Language-ID: argmax over per-language marker scores; ties break to the
    * alphabetically-first language (deterministic in any engine via the
    * same >= chain).
    */
  def langId(text: Column, markers: Seq[(String, Seq[String])]): Column = {
    val sorted = markers.sortBy(_._1)
    val scores = sorted.map { case (lang, m) => lang -> langScore(text, m) }
    // CASE WHEN s_i >= greatest(s_{i+1},...) THEN lang_i chain
    def chain(rest: List[(String, Column)]): Column = rest match {
      case (lang, _) :: Nil => lit(lang)
      case (lang, s) :: tail =>
        val best = if (tail.size == 1) tail.head._2 else greatest(tail.map(_._2): _*)
        when(s >= best, lit(lang)).otherwise(chain(tail))
      case Nil => lit(null).cast(StringType)
    }
    chain(scores.toList)
  }

  /** Content fingerprint: md5 of case/whitespace-normalized text
    * (reference hashes via md5 too, `etl/utils.py:21-23`). */
  def fingerprint(text: Column): Column = md5(lower(trim(text)))

  /** SimHash-63 signature from the token multiset. Bit b (1..32) of the
    * signature is the majority vote of md5(token)'s b-th hex char's high
    * bit across all tokens — `substr(md5(t), b, 1) >= '8'` is exactly
    * "high bit set" for lowercase hex, giving an engine-portable SimHash
    * with no binary/hex conversion; bits 33..63 repeat the construction
    * with a salted hash md5("x:" + token). 63 bits, not 64, so the sign
    * bit stays clear (engines differ on BIGINT shift overflow). Narrow
    * expression: no shuffle. (Not 32 bits: on a corpus with a shared small
    * vocabulary, 32-bit signatures collide at hamming<=3 for ~3% of random
    * pairs, which explodes the banded join at scale.)
    */
  def simhash64(text: Column): Column = {
    val toks = split(text, " ")
    val n = size(toks)
    // Hash each token ONCE (2 variants), then read one hex char per bit —
    // naively inlining md5 into each bit term costs 63x the hashing.
    val hashes = transform(toks, t => md5(t))
    val salted = transform(toks, t => md5(concat(lit("x:"), t)))
    val lo = (1 to 32).map { b =>
      val hi = size(filter(hashes, h => substring(h, b, 1) >= "8"))
      when(hi * 2 > n, shiftleft(lit(1L), b - 1)).otherwise(lit(0L))
    }
    val hiBits = (1 to 31).map { b =>
      val hi = size(filter(salted, h => substring(h, b, 1) >= "8"))
      when(hi * 2 > n, shiftleft(lit(1L), b + 31)).otherwise(lit(0L))
    }
    (lo ++ hiBits).reduce(_ + _).cast(LongType)
  }

  /** Hamming distance between two simhash signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** DataFrame-level simhash64: the whole per-document algorithm fused
    * into one codegen'd native expression (graft.plans.SimhashSig) — a
    * map-only projection, no explode, no 64-column partial aggregation,
    * no shuffle. Produces (doc_id, sig) with values identical to the
    * per-row simhash64 Column (asserted in TextAnalysisSpec) and the SQL
    * oracle. */
  def simhashSignatures(docs: org.apache.spark.sql.DataFrame, idCol: String,
                        textCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    graft.core.Tables.ensureParallelism(docs)
      .select(col(idCol).as("doc_id"),
        column(graft.plans.SimhashSig(expression(col(textCol)))).as("sig"))
  }

  /** BPE-ish regex token count: alpha runs, digit runs, and single
    * non-space symbols each count as one token (the common pre-tokenizer
    * shape). Codegen'd regexp_count; portable (the character-class regex
    * means the same in Java and RE2-family engines). */
  def bpeTokenCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).cast(LongType)

  /** Winnowing fingerprints (the rolling-hash document-fingerprint scheme
    * of Schleimer/Wilkerson/Aiken, "Winnowing: Local Algorithms for
    * Document Fingerprinting", SIGMOD'03):
    * hash every k-gram (md5 slice — engine-portable), then keep the MIN
    * hash of each sliding window of `w` consecutive positions, deduped.
    * Any shared substring of length >= w+k-1 between two documents yields
    * a shared fingerprint. Returns per-doc summary
    * (doc_id, n_fingerprints, min_fp, max_fp); one shuffle on doc id.
    */
  def winnowingFingerprints(docs: org.apache.spark.sql.DataFrame, idCol: String,
                            textCol: String, k: Int, w: Int): org.apache.spark.sql.DataFrame = {
    // Winnowing is per-document, so the whole algorithm runs as ONE native
    // expression (monotonic-deque sliding min over md5-prefix gram hashes
    // — graft.plans.WinnowingFps) inside the scan projection: NO shuffle,
    // no one-row-per-gram explode+window (which sorted 30M rows at sf0.1
    // to compute per-doc values; measured ~2s -> ~0.4s). Distinct minima
    // come back as an array; the per-doc stats are array ops.
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val fps = column(graft.plans.WinnowingFps(expression(col(textCol)), k, w))
    // "no full window" == length < k+w-1: filtering on the CHEAP length
    // predicate (instead of size(fps) > 0, which predicate pushdown would
    // re-inline as a second full fps evaluation) leaves exactly one fps
    // computation per row — the three array refs in the projection share
    // it via subexpression elimination.
    graft.core.Tables.ensureParallelism(docs)
      .filter(length(col(textCol)) >= k + w - 1)
      .select(col(idCol).as("doc_id"),
        size(fps).cast(LongType).as("n_fingerprints"),
        array_min(fps).as("min_fp"),
        array_max(fps).as("max_fp"))
  }

  /** Character-window document chunking with overlap — the standard
    * long-document preprocessing for context-bounded training: chunk i
    * covers [1 + i*(chunkLen-overlap), +chunkLen). One codegen'd
    * explode(sequence)+substr pipeline, no shuffle: at 100 TB chunking is
    * a map-only pass that fuses into the scan. The final chunk may be
    * shorter than chunkLen; a document shorter than chunkLen yields one
    * chunk. */
  def chunkByChars(docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                   chunkLen: Int, overlap: Int): org.apache.spark.sql.DataFrame = {
    require(chunkLen > overlap && overlap >= 0, "need chunkLen > overlap >= 0")
    val step = chunkLen - overlap
    graft.core.Tables.ensureParallelism(docs)
      .filter(length(col(textCol)) >= 1)
      .select(col(idCol).as("doc_id"), col(textCol).as("__t"),
        posexplode(sequence(lit(1), length(col(textCol)), lit(step)))
          .as(Seq("chunk_idx", "__start")))
      // drop a trailing zero-progress window fully covered by its
      // predecessor (starts inside the last chunk's overlap tail)
      .filter(col("chunk_idx") === 0 || col("__start") + overlap <= length(col("__t")))
      .select(col("doc_id"), col("chunk_idx"),
        col("__t").substr(col("__start"), lit(chunkLen)).as("chunk"))
  }

  /** Content-defined chunking (the LBFS/CDC idea, Muthitacharoen et al.
    * 2001, at word granularity): a word ENDS a chunk when its md5 starts
    * with `boundaryNibbles` zero hex chars, so boundaries are a pure
    * function of local content — inserting or deleting a prefix shifts
    * every fixed-size chunk but leaves every CDC chunk after the next
    * boundary byte-identical, which is what makes chunk-level dedup
    * robust to edits. Expected chunk length is 16^boundaryNibbles words.
    *
    * Scale shape: entirely in-row — boundary positions filter out of the
    * word array, spans assemble by zip of (starts, ends), each chunk is
    * one slice+join — then ONE posexplode. Map-only, fuses into the
    * scan; nothing shuffles (the window-prefix-sum formulation would
    * shuffle every word). Deterministic: md5 only. Output
    * (doc_id, chunk_idx, n_words, chunk); only a trailing empty span
    * (doc ends exactly on a boundary) is dropped, so chunk_idx stays
    * contiguous from 0. */
  def cdcChunks(docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                boundaryNibbles: Int = 1): org.apache.spark.sql.DataFrame = {
    require(boundaryNibbles >= 1 && boundaryNibbles <= 8,
      s"boundaryNibbles in [1,8], got $boundaryNibbles")
    // Boundary detection is the native CdcBoundaries kernel: one
    // zero-branch scan per row with a thread-local digest. The
    // interpreted formulations measured 25s (element_at lambda capturing
    // the split — HOFs re-evaluate captured expressions per element) and
    // ~1.4s/corpus-pass (two-arg transform with an md5 per element);
    // native, the pass is a codegen'd projection. The kernel's word
    // semantics match split(text, ' ') exactly — the contract the oracle
    // recomputes as substr(md5(word), 1, n) = '0'*n.
    graft.core.Tables.ensureParallelism(docs)
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("__ws"),
        graft.plans.GraftFunctions.cdc_boundaries(col(textCol), boundaryNibbles)
          .as("__bs"))
      .select(col("doc_id"), col("__ws"),
        zip_with(
          concat(array(lit(1)), transform(col("__bs"), b => b + 1)),
          concat(col("__bs"), array(size(col("__ws")))),
          (s, e) => struct(s.as("s"), e.as("e"))).as("__spans"))
      .select(col("doc_id"), col("__ws"),
        posexplode(col("__spans")).as(Seq("chunk_idx", "r")))
      .filter(col("r.e") >= col("r.s"))
      .select(col("doc_id"),
        col("chunk_idx").cast(IntegerType).as("chunk_idx"),
        (col("r.e") - col("r.s") + 1).cast(LongType).as("n_words"),
        array_join(slice(col("__ws"), col("r.s"), col("r.e") - col("r.s") + 1), " ")
          .as("chunk"))
  }

  /** Per-document corpus statistics via explode + map-side partial
    * aggregation (one shuffle keyed on doc id): token count, mean token
    * length, stopword count/ratio, quality score. Arithmetic identical to
    * the per-row column expressions (single-space tokenization:
    * length(text) == sum(len(token)) + n - 1). */
  def docStats(docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
               stop: Seq[String], fullLenChars: Int = 500): org.apache.spark.sql.DataFrame = {
    val ex = graft.core.Tables.ensureParallelism(docs)
      .select(col(idCol).as("doc_id"), explode(split(col(textCol), " ")).as("t"))
    val agg = ex.groupBy("doc_id").agg(
      count(lit(1)).as("n_tokens"),
      sum(when(col("t").isInCollection(stop), 1).otherwise(0)).cast(LongType).as("n_stop"),
      sum(length(col("t"))).as("sum_len"))
    val textLen = (col("sum_len") + col("n_tokens") - 1).cast(DoubleType)
    val stopRatio = col("n_stop").cast(DoubleType) / col("n_tokens")
    agg.select(
      col("doc_id"),
      col("n_tokens"),
      (col("sum_len").cast(DoubleType) / col("n_tokens")).as("avg_token_len"),
      col("n_stop"),
      stopRatio.as("stop_ratio"),
      greatest(lit(0.0),
        least(textLen / lit(fullLenChars.toDouble), lit(1.0)) - stopRatio).as("quality"))
  }

  /** Repetition signals (the Gopher-family quality filters): repeated-token
    * ratio (1 - distinct/total) and the most-frequent token's share. Two
    * hash aggregations with map-side partials (shuffle carries (doc, token)
    * partial counts, then per-doc triples) — no per-row set building, so a
    * pathological 10 GB single document costs memory proportional to its
    * DISTINCT tokens, not its length. Ratios are exact-integer divisions
    * evaluated once in IEEE double: bit-identical in any engine. */
  def repetitionStats(docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                      maxRepRatio: Double = 0.7, maxTopShare: Double = 0.2): org.apache.spark.sql.DataFrame = {
    val perTok = graft.core.Tables.ensureParallelism(docs)
      .select(col(idCol).as("doc_id"), explode(split(col(textCol), " ")).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
    val repRatio = lit(1.0) - col("n_distinct") / col("n_tokens")
    val topShare = col("max_tok") / col("n_tokens")
    perTok.groupBy("doc_id").agg(
        sum("c").cast(LongType).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max("c").as("max_tok"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        repRatio.as("rep_ratio"), topShare.as("top_share"),
        (repRatio > maxRepRatio || topShare > maxTopShare).as("is_repetitive"))
  }

  /** Gopher-style quality gates (Rae et al. 2021, arXiv:2112.11446 §A.1.1,
    * adapted to the single-line normalized corpus): word-count bounds,
    * mean word length, distinct-word ratio, stopword presence. Appends the
    * per-document metric columns plus a `pass` verdict to `docs` — a
    * map-only projection, no shuffle. Exact double arithmetic (single
    * divisions) so the gate is engine-portable.
    */
  def qualityGates(docs: org.apache.spark.sql.DataFrame, textCol: String,
                   stop: Seq[String] = Seq("a", "the"),
                   minWords: Int = 30, maxWords: Int = 120,
                   minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                   minUniqRatio: Double = 0.3): org.apache.spark.sql.DataFrame = {
    // the five COUNTS come from one fused native pass (GateStatsExpr —
    // the previous size(filter(...)) chains were CodegenFallback, i.e.
    // interpreter re-entry per token); the ratio arithmetic stays here in
    // the Column layer, one IEEE division each, bit-identical to the HOF
    // formulation (law in TextAnalysisSpec) and the SQL oracles
    val gs = graft.plans.GraftFunctions.gate_stats(col(textCol), stop)
    val nWords = col("__gs.n_words")
    val meanLen = col("__gs.n_chars_nospace").cast(DoubleType) / nWords
    val uniqRatio = col("__gs.n_distinct").cast(DoubleType) / nWords
    val shortRatio = col("__gs.n_short").cast(DoubleType) / nWords
    val hasStop = col("__gs.n_stop") > 0
    docs.withColumn("__gs", gs)
      .withColumns(Map(
        "n_words" -> nWords,
        "mean_word_len" -> meanLen,
        "uniq_ratio" -> uniqRatio,
        "short_ratio" -> shortRatio,
        "has_stop" -> hasStop,
        "pass" -> (nWords.between(minWords, maxWords) &&
          meanLen.between(minMeanLen, maxMeanLen) &&
          uniqRatio >= minUniqRatio && hasStop)))
      .drop("__gs")
  }

  /** Unigram corpus-frequency scoring — the LM-free stand-in for CCNet's
    * perplexity bucketing (Wenzek et al., LREC'20): score each document by
    * the mean corpus frequency of its tokens, so documents of common
    * well-attested words rank apart from ones full of rare junk/noise
    * tokens. Two aggregations: corpus term frequencies (map-side partial
    * combine), then a per-doc rollup after joining frequencies back onto
    * the token stream. Both shuffles key on the 8-byte xxhash64 of the
    * token, never the string (a collision merges two counts with
    * probability ~vocab^2/2^64 — oracle-checked); the frequency table is
    * vocabulary-sized, so AQE broadcasts it when small, and the join
    * degrades to a plain shuffle join on a web-scale vocabulary — both
    * plans are sane, which is why the broadcast is NOT forced.
    * Score arithmetic is one BIGINT/BIGINT division in IEEE double:
    * engine-portable bit-for-bit. Returns
    * (doc_id, n_tokens, freq_sum, avg_tf). */
  def unigramScores(docs: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String): org.apache.spark.sql.DataFrame = {
    val tok = graft.core.Tables.ensureParallelism(docs)
      .select(col(idCol).as("doc_id"), explode(split(col(textCol), " ")).as("t"))
      .select(col("doc_id"), xxhash64(col("t")).as("h"))
    val tf = tok.groupBy("h").agg(count(lit(1)).as("tf"))
    tok.join(tf, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("tf").as("freq_sum"))
      .select(col("doc_id"), col("n_tokens"), col("freq_sum"),
        (col("freq_sum") / col("n_tokens")).as("avg_tf"))
  }

  /** BM25 retrieval for a literal query-term set (Robertson et al.'s
    * k1/b formulation, TREC-3) with the idf ratio (N-df+0.5)/(df+0.5)
    * kept UN-logged: log() is libm-implementation-defined (the no-
    * transcendentals invariant for hash-checked paths) and idf only
    * enters multiplicatively, so the un-logged form is the same scorer
    * family with every op a single IEEE mul/div — engine-portable.
    *
    * Scale shape: the explode filters to the query terms BEFORE anything
    * shuffles, so the tf aggregation carries O(hits) rows, not O(corpus
    * tokens); doc length rides the groupBy key (functionally dependent
    * on doc_id — no second corpus join); N/avgdl is a one-row broadcast
    * and df a query-terms-sized broadcast; per-doc scores sum quantized
    * (Fns contract) and the final top-k lowers to TakeOrderedAndProject
    * — no global sort materializes. Returns (doc_id, n_hit, score). */
  def bm25(docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
           terms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
           topK: Int = 20): org.apache.spark.sql.DataFrame = {
    import graft.functions.Fns
    val base = graft.core.Tables.ensureParallelism(docs)
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("toks"))
      .select(col("doc_id"), size(col("toks")).as("dl"), explode(col("toks")).as("t"))
      .filter(col("t").isin(terms: _*))
    val stats = docs
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col(textCol), " ")).cast(LongType)).as("dl_sum"))
      .select(col("n_docs"), (col("dl_sum") / col("n_docs")).as("avgdl"))
    val tf = base.groupBy(col("doc_id"), col("dl"), col("t"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val idf = (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
    val norm = (col("tf") * lit(k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl") / col("avgdl"))))
    tf.join(broadcast(df), "t")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), (idf * norm).as("contrib"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hit"), Fns.dsum(col("contrib")).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
  }

  /** [[bm25]] as a rank-fusion arm: (doc_id, rank) by (score desc,
    * doc_id). The window's pmod key is the constant 0 (md5 hex is always
    * 32 chars): one bounded partition over the topK rows, which keeps
    * Spark from warning about a global window without changing the
    * ranking. */
  def bm25Ranks(docs: org.apache.spark.sql.DataFrame, idCol: String,
                textCol: String, terms: Seq[String],
                topK: Int): org.apache.spark.sql.DataFrame =
    bm25(docs, idCol, textCol, terms, topK = topK)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(pmod(length(md5(col("doc_id").cast("string"))), lit(32)))
          .orderBy(desc("score"), col("doc_id"))))
      .select(col("doc_id"), col("rank"))

  /** Per-group word-n-gram diversity: (n_grams, n_distinct, type-token
    * ratio) — the corpus-health metric that catches template farms and
    * synthetic loops (a source whose TTR collapses is repeating itself).
    *
    * Scale shape: grams build in-row (transform over the token array —
    * no self-joins), then hash to 8 bytes before the distinct, so both
    * shuffles carry (group, long) rows, never gram text. A hash collision
    * merges two grams with probability ~grams^2/2^64 (oracle-checked, the
    * standard hashed-dedup argument). The ratio is one BIGINT/BIGINT IEEE
    * division — engine-portable. Docs shorter than n tokens contribute
    * nothing (guarded BEFORE sequence(): Spark's sequence(1, 0) is the
    * descending [1,0], not empty). */
  def ngramDiversity(docs: org.apache.spark.sql.DataFrame, groupCol: String,
                     textCol: String, n: Int): org.apache.spark.sql.DataFrame = {
    require(n >= 1)
    // native zero-copy gram hashing (WordGramPosHashes — the BAG variant,
    // every occurrence counts): the composed transform/element_at/
    // concat_ws formulation is interpreted HOF code that re-materializes
    // every gram string — measured ~7x slower at sf0.1 — and the hash is
    // all we need downstream anyway
    import graft.plans.GraftFunctions.word_gram_pos_hashes
    val grams = graft.core.Tables.ensureParallelism(docs)
      .select(col(groupCol),
        explode(word_gram_pos_hashes(col(textCol), n)).as("g"))
      .select(col(groupCol), col("g.h").as("h"))
    // one corpus-sized shuffle: per-(group, gram) counts give totals AND
    // distincts in the same pass (map-side combine collapses repeats
    // before the exchange); the rollup to groups is gram-vocabulary-sized
    grams.groupBy(col(groupCol), col("h")).agg(count(lit(1)).as("c"))
      .groupBy(groupCol)
      .agg(sum(col("c")).as("n_grams"), count(lit(1)).as("n_distinct"))
      .select(col(groupCol), col("n_grams"), col("n_distinct"),
        (col("n_distinct") / col("n_grams")).as("ttr"))
  }

  /** The md5 two-hex-char feature bucket (0..255) used by the hashed
    * bag-of-words classifier — engine-portable (oracles decode the same
    * two chars), same construction as Store.shardId. */
  def md5Bucket(c: Column): Column =
    conv(substring(md5(c), 1, 2), 16, 10).cast("long")

  /** fastText-shape linear quality classifier: hashed bag-of-words
    * features scored against a WEIGHTS TABLE (bucket → integer-quantized
    * weight — in production the output of an offline training run; the
    * hashing trick caps the feature space so the table is bucket-count
    * sized regardless of vocabulary). logit = Σ w[bucket(token)], an
    * exact integer sum — no sigmoid in the distributed path (it's
    * monotone, so thresholding the logit IS thresholding the
    * probability, and the caller can apply it driver-side for display).
    *
    * Scale shape (r16, fully FUSED — the dsirPreferenceFromModel
    * precedent): the weights table is a bounded model artifact (256
    * md5-byte buckets by the hashing trick), so it collects ONCE into a
    * dense bucket->weight array and every document scores in one
    * map-only native kernel pass (plans.UnigramBucketScore) — no token
    * explode, no join, no aggregation shuffle, no per-token hex-string
    * allocation. Tokens whose bucket is missing from the table score 0
    * (dense-array default), exactly like the previous left join; a
    * duplicate bucket row — which the join formulation would have
    * silently double-counted against EVERY token in that bucket — fails
    * loudly. Results are bit-identical: same tokenization (split on
    * every space, empties kept), same md5-byte bucket, same exact
    * integer sum. */
  def hashedBowScore(docs: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String, weights: org.apache.spark.sql.DataFrame,
                     keepThreshold: Long = 0L): org.apache.spark.sql.DataFrame = {
    val rows = weights.select(col("bucket").cast("long"), col("w").cast("long"))
      .collect()
    val arr = Array.fill(256)(0L)
    val seen = new Array[Boolean](256)
    rows.foreach { r =>
      if (!r.isNullAt(0)) {
        val b = r.getLong(0)
        // md5Bucket only ever produces [0, 256); weight rows outside that
        // range can never match a token — dead rows either way
        if (b >= 0 && b < 256) {
          require(!seen(b.toInt), s"hashedBowScore: duplicate weight row for bucket $b")
          seen(b.toInt) = true
          if (!r.isNullAt(1)) arr(b.toInt) = r.getLong(1)
        }
      }
    }
    graft.core.Tables.ensureParallelism(docs)
      .filter(col(textCol).isNotNull) // explode(split(null)) dropped null texts
      .select(col(idCol).as("doc_id"),
        graft.plans.GraftFunctions.unigram_bucket_score(col(textCol), arr.toSeq)
          .as("__s"))
      .select(col("doc_id"), col("__s.n_toks").as("n_toks"),
        col("__s.wsum").as("logit"))
      .withColumn("keep", col("logit") >= lit(keepThreshold))
  }

  /** Bigram-LM fluency scoring — the CCNet shape (Wenzek et al., LREC'20:
    * score a web corpus with an LM trained on a held-out reference slice)
    * with the libm-dependent ln()/perplexity replaced by an exact-rational
    * statistic: the REFERENCE slice is the deterministic md5-band sample
    * of documents (band < trainBands of 256), an add-one-smoothed bigram
    * LM is counted over it, and every document scores the arithmetic mean
    * of p(w_i | w_{i-1}) = (c2 + 1) / (c1 + V) over its bigrams. Each p is
    * one integer-ratio IEEE division and the mean is floor-quantized at
    * 1e6 before the exact integer sum (Fns.dsum contract), so the score is
    * bit-identical in any engine. NOTE: this is the arithmetic mean of the
    * conditional probabilities, not the geometric mean perplexity uses —
    * a deliberate portability trade, documented rather than hidden; it
    * separates fluent from junk documents on the same signal (attested
    * transitions score high, unseen ones score ~1/V).
    *
    * Scale shape: bigram extraction is ONE native in-row kernel
    * (plans.WordBigramHashPairs: zero-copy byte scan emitting (h1, h2)
    * structs directly) + explode — map-only, codegen'd, zero token
    * materialization on the hot path. Both count aggregations and the
    * score-time joins key on 8-byte xxhash64 values, never strings (same
    * collision argument as unigramScores). The c1/c2 tables are
    * vocabulary- and bigram-vocabulary-sized — deliberately NOT
    * force-broadcast (web-scale vocabularies degrade to a sane shuffle
    * join; AQE broadcasts when they are small). V is a one-row
    * crossJoin broadcast. Returns (doc_id, n_bigrams, n_unseen, mean_p);
    * documents with fewer than two tokens have no bigrams and drop out,
    * matching the SQL rendering's join semantics. */
  def bigramFluency(docs: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String, trainBands: Int = 128): org.apache.spark.sql.DataFrame = {
    val m = bigramLmModel(docs, idCol, textCol, trainBands)
    bigramFluencyFromModel(docs, idCol, textCol, m)
  }

  /** Adjacent-pair (h1, h2) hash structs of `textCol` — the native
    * single-pass kernel (plans.WordBigramHashPairs); values are exactly
    * `xxhash64(w1)` / `xxhash64(w1, w2)` of the `zip_with(slice, slice)`
    * pair formulation (ZipWith is CodegenFallback: two token-array copies
    * and an interpreted lambda frame per pair — this was the bigram
    * family's hottest allocation site, r16 guide §5/codegen). */
  private def bigramHashPairs(textCol: String) =
    graft.plans.GraftFunctions.word_bigram_hash_pairs(col(textCol))

  /** The TRAINED half of bigramFluency as a persistable artifact: ONE
    * table holding the add-one bigram LM — per-bigram rows
    * (kind='2', h = xxhash64(w1,w2), c) and per-unigram rows (kind='1',
    * h = xxhash64(w1), c), plus the vocabulary size as (kind='v', c) —
    * trained on the md5-band reference slice (band < trainBands). A
    * production pipeline trains once, writes this table, and every
    * scoring run (batch or streaming) reads it — the model is
    * vocabulary-sized, independent of corpus growth. */
  def bigramLmModel(docs: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String, trainBands: Int = 128): org.apache.spark.sql.DataFrame = {
    val toks = split(col(textCol), " ")
    val train = graft.core.Tables.ensureParallelism(docs)
      .filter(md5Bucket(col(idCol).cast("string")) < trainBands)
    val bg = train
      .select(explode(bigramHashPairs(textCol)).as("p"))
      .select(col("p.h1").as("h1"), col("p.h2").as("h2"))
    val c2 = bg.groupBy("h2").agg(count(lit(1)).as("c"))
      .select(lit("2").as("kind"), col("h2").as("h"), col("c"))
    val c1 = bg.groupBy("h1").agg(count(lit(1)).as("c"))
      .select(lit("1").as("kind"), col("h1").as("h"), col("c"))
    val vocab = train
      .select(explode(toks).as("t"))
      .agg(count_distinct(xxhash64(col("t"))).as("c"))
      .select(lit("v").as("kind"), lit(0L).as("h"), col("c"))
    c2.unionByName(c1).unionByName(vocab)
  }

  /** Score `docs` against a trained [[bigramLmModel]] table — the
    * recurring-evaluation half: bigram extraction is map-only, the two
    * count joins key on 8-byte hashes (AQE broadcasts a small model), and
    * the single shuffle carries per-doc partials. Arithmetic identical to
    * the one-shot bigramFluency (asserted in TextAnalysisSpec). */
  def bigramFluencyFromModel(docs: org.apache.spark.sql.DataFrame, idCol: String,
                             textCol: String,
                             model: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val c2 = model.filter(col("kind") === "2").select(col("h").as("h2"), col("c").as("c2"))
    val c1 = model.filter(col("kind") === "1").select(col("h").as("h1"), col("c").as("c1"))
    val vocab = model.filter(col("kind") === "v").select(col("c").as("v"))
    val bg = graft.core.Tables.ensureParallelism(docs)
      .select(col(idCol).as("doc_id"), explode(bigramHashPairs(textCol)).as("p"))
      .select(col("doc_id"), col("p.h1").as("h1"), col("p.h2").as("h2"))
    val p = (coalesce(col("c2"), lit(0L)) + 1).cast(DoubleType) /
      (coalesce(col("c1"), lit(0L)) + col("v"))
    bg.join(c2, Seq("h2"), "left_outer")
      .join(c1, Seq("h1"), "left_outer")
      .crossJoin(broadcast(vocab))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("c2").isNull, 1L).otherwise(0L)).as("n_unseen"),
        sum(floor(p * lit(1e6) + lit(0.5)).cast(LongType)).as("qsum"))
      .select(col("doc_id"), col("n_bigrams"), col("n_unseen"),
        (col("qsum").cast(DoubleType) / lit(1e6) / col("n_bigrams")).as("mean_p"))
  }

  /** DSIR-shaped importance weighting (Xie et al. 2023, arXiv:2302.03169
    * "Data Selection for Language Models via Importance Resampling"):
    * hashed-bigram bag-of-features models of a TARGET distribution (the
    * domain you want more of) and the RAW pool, and a per-document
    * importance score that ranks raw documents by how target-like they
    * are. DSIR's log importance weight Σ c_f·(ln p_t[f] − ln q_r[f]) is
    * libm-dependent; the portable formulation here scores each feature
    * occurrence with the posterior preference p_t[f] / (p_t[f] + q_r[f])
    * (the probability the occurrence came from target under a 50/50
    * prior — monotone in the same per-feature likelihood ratio DSIR
    * ranks by) and averages over the document via the 1e6
    * floor-quantized exact integer sum. Both model terms are add-one
    * smoothed over the B hashed buckets: p = (c + 1) / (T + B), each a
    * single integer-ratio IEEE division.
    *
    * Scale shape: feature extraction is an in-row zip_with bigram pass
    * (train-once model side), then a codegen'd md5 bucket projection — the
    * corpus side is map-only. Both model tables are bucket-count sized
    * (≤ B rows) by the hashing trick, independent of vocabulary, and
    * broadcast; totals ride one-row crossJoin broadcasts. The single
    * shuffle carries per-doc (count, qsum) partials from map-side
    * combine. Returns (doc_id, n_feats, mean_pref) over raw documents. */
  def dsirPreference(raw: org.apache.spark.sql.DataFrame,
                     target: org.apache.spark.sql.DataFrame,
                     idCol: String, textCol: String,
                     buckets: Int = 256): org.apache.spark.sql.DataFrame =
    dsirPreferenceFromModel(raw, dsirModel(raw, target, idCol, textCol), idCol,
      textCol, buckets)

  private def dsirFeats(docs: org.apache.spark.sql.DataFrame, idCol: String,
                        textCol: String) = {
    val toks = split(col(textCol), " ")
    val pairs = zip_with(
      slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
      slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
      (a, b) => concat_ws(" ", a, b))
    docs.select(col(idCol).as("doc_id"), explode(pairs).as("bg"))
      .select(col("doc_id"), md5Bucket(col("bg")).as("bucket"))
  }

  /** The TRAINED half of DSIR as a persistable artifact: one <= B-row
    * table (bucket, ct, cr) of hashed-bigram counts over the target and
    * raw pools (full-outer merged; absent side null). Constant-size by
    * the hashing trick, so a production run trains once and every
    * scoring/resampling pass reads it; totals derive from the table
    * itself (sum skips nulls), so nothing else needs persisting. */
  def dsirModel(raw: org.apache.spark.sql.DataFrame,
                target: org.apache.spark.sql.DataFrame,
                idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    val ct = dsirFeats(target, idCol, textCol)
      .groupBy("bucket").agg(count(lit(1)).as("ct"))
    val cr = dsirFeats(graft.core.Tables.ensureParallelism(raw), idCol, textCol)
      .groupBy("bucket").agg(count(lit(1)).as("cr"))
    ct.join(cr, Seq("bucket"), "full_outer")
  }

  /** Score the raw pool against a trained [[dsirModel]] — the recurring
    * half, fully FUSED: the ≤256-row model collects once (constant-size
    * artifact, the bloomWords/probe-weights precedent), its per-bucket
    * preference scores pre-quantize driver-side with the IDENTICAL IEEE
    * compositions the row-level formulation used (add-one ratios, one
    * pt/(pt+qr) division, floor(·1e6+0.5) — each a single op on the same
    * operand values, so results are bit-equal), and the corpus pass is
    * ONE map-only native kernel (BigramBucketScore) per document — no
    * bigram explode, no join, no aggregation shuffle. Arithmetic
    * identical to the one-shot dsirPreference (oracle + spec). */
  def dsirPreferenceFromModel(raw: org.apache.spark.sql.DataFrame,
                              model: org.apache.spark.sql.DataFrame,
                              idCol: String, textCol: String,
                              buckets: Int = 256): org.apache.spark.sql.DataFrame =
    dsirPreferenceFromQuantized(raw, dsirQuantizedScores(model, buckets),
      idCol, textCol)

  /** Collect + quantize a [[dsirModel]] into the 256-long per-bucket
    * score table the fused scorer consumes — the step a recurring caller
    * memos so repeated scoring passes never re-read the model. */
  def dsirQuantizedScores(model: org.apache.spark.sql.DataFrame,
                          buckets: Int = 256): Seq[Long] = {
    // The fused consumer (BigramBucketScore) is fixed at 256 buckets; a
    // silent mismatch here would skew the add-one denominators, so the
    // constraint fails loudly at the same place the kernel's does.
    require(buckets == 256,
      s"dsirQuantizedScores feeds BigramBucketScore's fixed 256-bucket table; got buckets=$buckets")
    val rows = model.select(col("bucket").cast("int"),
      col("ct").cast("long"), col("cr").cast("long")).collect()
    val ctArr = Array.fill(256)(0L)
    val crArr = Array.fill(256)(0L)
    rows.foreach { r =>
      val b = r.getInt(0)
      require(b >= 0 && b < 256,
        s"dsirQuantizedScores: model bucket $b outside [0, 256) — not a dsirModel table")
      if (!r.isNullAt(1)) ctArr(b) = r.getLong(1)
      if (!r.isNullAt(2)) crArr(b) = r.getLong(2)
    }
    val tt = ctArr.sum
    val tr = crArr.sum
    (0 until 256).map { b =>
      val pt = (ctArr(b) + 1).toDouble / (tt + buckets)
      val qr = (crArr(b) + 1).toDouble / (tr + buckets)
      val pref = pt / (pt + qr)
      math.floor(pref * 1e6 + 0.5).toLong
    }
  }

  /** The fused scoring pass over pre-quantized per-bucket scores.
    * The no-bigram filter is the CHEAP token-count test (>= 2 tokens ⟺
    * n_feats >= 1; null text fails both) rather than `__s.n_feats >= 1`:
    * predicate pushdown substitutes a struct-field filter through the
    * projection alias, which would re-evaluate the whole scoring kernel
    * per row inside the filter — the cheap form keeps the kernel to ONE
    * evaluation in the projection. */
  def dsirPreferenceFromQuantized(raw: org.apache.spark.sql.DataFrame,
                                  scoreQ: Seq[Long],
                                  idCol: String, textCol: String): org.apache.spark.sql.DataFrame =
    graft.core.Tables.ensureParallelism(raw)
      .filter(size(split(col(textCol), " ")) >= 2)
      .select(col(idCol).as("doc_id"),
        graft.plans.GraftFunctions.bigram_bucket_score(col(textCol), scoreQ).as("__s"))
      .select(col("doc_id"), col("__s.n_feats").as("n_feats"),
        (col("__s.qsum").cast(DoubleType) / lit(1e6) / col("__s.n_feats")).as("mean_pref"))

  /** DSIR importance RESAMPLING — the second half of Xie et al. 2023:
    * after scoring, DSIR samples the raw pool with probability
    * proportional to the importance weight. The deterministic analog
    * here, against pre-quantized per-bucket scores: accept a document iff
    * u(doc) < mean_pref, where u = the first 48 md5 bits of its id as a
    * uniform in [0,1) (one exact BIGINT / 2^48 IEEE division — the same
    * hash-uniform trick as mixtureSample, so no RNG anywhere and any
    * engine replays the identical sample). Returns the kept rows with
    * their (n_feats, mean_pref, u) so the acceptance is auditable. */
  def dsirResampleFromQuantized(raw: org.apache.spark.sql.DataFrame,
                                scoreQ: Seq[Long],
                                idCol: String, textCol: String): org.apache.spark.sql.DataFrame =
    resampleByPreference(
      dsirPreferenceFromQuantized(raw, scoreQ, idCol, textCol))

  private def resampleByPreference(
      scored: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val u = conv(substring(md5(col("doc_id").cast("string")), 1, 12), 16, 10)
      .cast(LongType).cast(DoubleType) / lit(281474976710656.0)
    scored.withColumn("u", u).filter(col("u") < col("mean_pref"))
  }

  /** Distributed TRAINING of a linear quality probe — the training half
    * of the hashedBowScore story (fastText-shape model; SQUARED loss, so
    * the whole training run is transcendental-free and hash-checkable
    * against an external engine, the same portability bar the BPE
    * trainer meets — a logistic sigmoid would need exp()):
    *
    *   features: x_b = (tokens hashing to bucket b) / n_tokens for
    *             b < buckets, plus the intercept x_B = 1
    *   full-batch gradient descent, `iters` FIXED rounds:
    *     pred_i = Σ_b x_ib · w_b        (left-to-right, B+1 fused terms)
    *     g_b    = Σ_i x_ib (pred_i − y_i)    — exact quantized sum (dsum)
    *     w_b   ← w_b − lr · (g_b / n)
    *
    * Scale shape: the doc-feature table builds in one partial-agg'd
    * corpus pass and pins; each round is ONE aggregation over it
    * (map-side combine, B+1 quantized sums — nothing wider than the
    * B+1-value gradient ever leaves an executor). The model itself is
    * B+1 doubles and collects to the driver per round (the constant-size
    * model-artifact precedent of bloomWords), re-entering the next
    * round's plan as literals. Deterministic: quantized gradient sums +
    * identical IEEE composition make the trained weights bit-reproducible
    * on any engine and any partitioning. Returns (weights, final mse). */
  def trainLinearProbe(docs: org.apache.spark.sql.DataFrame, idCol: String,
                       textCol: String, label: Column, buckets: Int,
                       iters: Int, lr: Double): (Array[Double], Double) = {
    require(buckets >= 1 && buckets <= 256, s"buckets must be in [1,256], got $buckets")
    val feats = graft.core.Tables.ensureParallelism(docs)
      .select(col(idCol).as("doc_id"), label.cast("double").as("y"),
        explode(split(col(textCol), " ")).as("t"))
      .select(col("doc_id"), col("y"), pmod(md5Bucket(col("t")), lit(buckets)).as("b"))
      .groupBy(col("doc_id"), col("y"))
      .agg(count(lit(1)).as("n_toks"),
        (0 until buckets).map(b =>
          sum(when(col("b") === b, 1L).otherwise(0L)).as(s"c$b")): _*)
      .select(col("y") +: (0 until buckets).map(b =>
        (col(s"c$b").cast("double") / col("n_toks")).as(s"x$b")): _*)
    trainLinearProbeOnFeatures(feats, (0 until buckets).map(b => s"x$b"),
      col("y"), iters, lr)
  }

  /** The GD loop of trainLinearProbe over ARBITRARY feature columns (an
    * intercept is appended automatically) — the distillation/probe shape
    * when the features are engineered signals (gate statistics, fluency
    * scores, ratios) rather than hashed BoW. Same determinism contract:
    * quantized gradient sums, fixed rounds, constant-size model collected
    * per round. Returns (weights incl. trailing intercept, final mse). */
  def trainLinearProbeOnFeatures(df: org.apache.spark.sql.DataFrame,
                                 featureCols: Seq[String], label: Column,
                                 iters: Int, lr: Double): (Array[Double], Double) = {
    require(featureCols.nonEmpty, "need at least one feature column")
    require(iters >= 1, s"need >= 1 training rounds, got $iters")
    val B = featureCols.length
    val F = B + 1
    val x = graft.core.Materialize.pin(df.select(
      featureCols.zipWithIndex.map { case (c, b) =>
        col(c).cast("double").as(s"x$b") } :+
        lit(1.0).as(s"x$B") :+ label.cast("double").as("y"): _*))
    val n = x.count()
    require(n > 0, "cannot train a probe on an empty corpus")
    val w = Array.fill(F)(0.0)
    def pred = (0 until F).map(b => col(s"x$b") * lit(w(b))).reduce(_ + _)
    (0 until iters).foreach { _ =>
      val resid = pred - col("y")
      val g = x.agg(
        graft.functions.Fns.dsum(col("x0") * resid).as("g0"),
        (1 until F).map(b =>
          graft.functions.Fns.dsum(col(s"x$b") * resid).as(s"g$b")): _*).head()
      (0 until F).foreach(b => w(b) = w(b) - lr * (g.getDouble(b) / n))
    }
    val residF = pred - col("y")
    val mse = x.agg(graft.functions.Fns.dsum(residF * residF).as("q"))
      .head().getDouble(0) / n
    (w, mse)
  }

  /** MINI-BATCH variant of [[trainLinearProbeOnFeatures]]: round r's
    * gradient is computed over ONE deterministic mini-batch — the rows
    * whose `batch` value equals r % nBatches — and the update divides by
    * that batch's own row count. With an md5-band batch column the
    * schedule is a pure function of the data (no RNG, no epoch
    * shuffling), so the whole run keeps the bit-reproducibility contract
    * of the full-batch trainer while each round touches 1/nBatches of
    * the corpus — the stochastic-GD cost shape at 100 TB, where a
    * full-batch pass per round is the dominant training cost. Batches
    * that turn out empty skip their round (weights unchanged). The final
    * mse is over the FULL corpus. Returns (weights incl. trailing
    * intercept, final mse). */
  def trainLinearProbeMiniBatch(df: org.apache.spark.sql.DataFrame,
                                featureCols: Seq[String], label: Column,
                                batch: Column, nBatches: Int,
                                iters: Int, lr: Double): (Array[Double], Double) = {
    require(featureCols.nonEmpty, "need at least one feature column")
    require(iters >= 1, s"need >= 1 training rounds, got $iters")
    require(nBatches >= 1, s"need >= 1 batches, got $nBatches")
    val B = featureCols.length
    val F = B + 1
    val x = graft.core.Materialize.pin(df.select(
      featureCols.zipWithIndex.map { case (c, b) =>
        col(c).cast("double").as(s"x$b") } :+
        lit(1.0).as(s"x$B") :+ label.cast("double").as("y") :+
        pmod(batch.cast("int"), lit(nBatches)).as("__b"): _*))
    // per-batch row counts: one aggregation, nBatches longs — the same
    // constant-size driver artifact as the model itself
    val counts: Map[Int, Long] = x.groupBy(col("__b"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    require(counts.values.sum > 0, "cannot train a probe on an empty corpus")
    val w = Array.fill(F)(0.0)
    def pred = (0 until F).map(b => col(s"x$b") * lit(w(b))).reduce(_ + _)
    (0 until iters).foreach { r =>
      val bId = r % nBatches
      val nr = counts.getOrElse(bId, 0L)
      if (nr > 0) {
        val resid = pred - col("y")
        val g = x.filter(col("__b") === bId).agg(
          graft.functions.Fns.dsum(col("x0") * resid).as("g0"),
          (1 until F).map(b =>
            graft.functions.Fns.dsum(col(s"x$b") * resid).as(s"g$b")): _*).head()
        (0 until F).foreach(b => w(b) = w(b) - lr * (g.getDouble(b) / nr))
      }
    }
    val n = counts.values.sum
    val residF = pred - col("y")
    val mse = x.agg(graft.functions.Fns.dsum(residF * residF).as("q"))
      .head().getDouble(0) / n
    (w, mse)
  }

  /** Positional postings (id, pos, term), pos 0-based — the phrase-query
    * index layout (term-only postings can't distinguish "spark shuffle"
    * from "shuffle ... spark"). Map-only explode; persist partitioned/
    * bucketed by term for a reusable index. */
  def positionalPostings(docs: org.apache.spark.sql.DataFrame, idCol: String,
                         textCol: String): org.apache.spark.sql.DataFrame =
    docs.select(col(idCol),
      posexplode(split(col(textCol), " ")).as(Seq("pos", "term")))

  /** Exact phrase search: documents containing the consecutive word
    * sequence, with per-doc match counts — by offset normalization, in
    * ONE corpus pass. Each posting of a phrase term maps to the match
    * START it would imply (start = pos - slot, once per slot that term
    * occupies in the phrase, via a broadcast |phrase|-row table); a
    * candidate (doc, start) is a real match iff ALL |phrase| slots
    * contributed — and since a position holds one word, each slot
    * contributes at most one row per (doc, start), so the test is a plain
    * count. Beats the n-way self-join tower: one scan (with the
    * term-IN-set predicate pushed into it, so only phrase-term postings
    * leave), one partial-agg'd shuffle keyed (doc, 8-byte start), instead
    * of |phrase| scans and a join chain. Duplicate phrase terms and
    * overlapping matches fall out correctly (each posting fans to every
    * slot of its term). Output (id, n_matches), matches >= 1. */
  def phraseSearch(docs: org.apache.spark.sql.DataFrame, idCol: String,
                   textCol: String, phrase: String): org.apache.spark.sql.DataFrame =
    phraseSearchFromPostings(positionalPostings(docs, idCol, textCol), idCol, phrase)

  /** Phrase search against PERSISTED positional postings — the production
    * shape at index scale: build positionalPostings ONCE (write bucketed
    * by term: fixed-width buckets, unlike term-partitioned dirs that
    * explode at web vocab sizes) and probe per query. Same
    * offset-normalization plan as phraseSearch minus the corpus scan;
    * with a term-bucketed index the term-IN-set predicate prunes the one
    * probe scan to the phrase terms' buckets (ScaleSpec asserts
    * SelectedBucketsCount), so a query reads its own postings, never the
    * index. */
  def phraseSearchFromPostings(postings: org.apache.spark.sql.DataFrame,
                               idCol: String, phrase: String): org.apache.spark.sql.DataFrame = {
    val terms = phrase.split(" ")
    require(terms.nonEmpty && terms.forall(_.nonEmpty), s"bad phrase '$phrase'")
    val spark = postings.sparkSession
    import spark.implicits._
    val slots = terms.zipWithIndex.toSeq.toDF("term", "slot")
    postings
      .filter(col("term").isin(terms.distinct.toSeq: _*))
      .join(broadcast(slots), "term")
      .select(col(idCol), (col("pos") - col("slot")).as("start"))
      .groupBy(col(idCol), col("start"))
      .agg(count(lit(1)).as("__hits"))
      .filter(col("__hits") === terms.length)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_matches"))
  }

  /** BATCH phrase search: N phrases against the postings in ONE probe —
    * the production shape for decontamination-style phrase lists, where
    * running phraseSearchFromPostings per phrase would pay N scans. The
    * slot table gains a phrase dimension ((phrase_id, term, slot,
    * phrase_len) — still broadcast-tiny, Σ|phrase| rows) and the single
    * scan filters to the UNION of all phrases' terms; each posting fans
    * to every (phrase, slot) its term occupies, so the per-candidate
    * test stays the same plain count, now keyed (phrase_id, doc, start)
    * against that phrase's own length. A term shared by several phrases
    * is read once and serves all of them. Against a term-BUCKETED index
    * the probe bucket-prunes to the union's buckets exactly like the
    * single-phrase probe (ScaleSpec). Output (phrase_id, phrase, id,
    * n_matches), matches >= 1; phrases with no matching documents
    * simply contribute no rows. */
  def phraseSearchBatch(postings: org.apache.spark.sql.DataFrame,
                        idCol: String, phrases: Seq[String]): org.apache.spark.sql.DataFrame = {
    require(phrases.nonEmpty, "need at least one phrase")
    val parsed = phrases.zipWithIndex.map { case (p, i) =>
      val ts = p.split(" ")
      require(ts.nonEmpty && ts.forall(_.nonEmpty), s"bad phrase '$p'")
      (i, p, ts.toSeq)
    }
    val spark = postings.sparkSession
    import spark.implicits._
    val slots = parsed.flatMap { case (pid, _, ts) =>
      ts.zipWithIndex.map { case (t, s) => (pid, t, s, ts.length) }
    }.toDF("phrase_id", "term", "slot", "phrase_len")
    val phraseNames = parsed.map { case (pid, p, _) => (pid, p) }
      .toDF("phrase_id", "phrase")
    val allTerms = parsed.flatMap(_._3).distinct
    postings
      .filter(col("term").isin(allTerms: _*))
      .join(broadcast(slots), "term")
      .select(col("phrase_id"), col(idCol),
        (col("pos") - col("slot")).as("start"), col("phrase_len"))
      .groupBy(col("phrase_id"), col(idCol), col("start"))
      .agg(count(lit(1)).as("__hits"), max(col("phrase_len")).as("__len"))
      .filter(col("__hits") === col("__len"))
      .groupBy(col("phrase_id"), col(idCol))
      .agg(count(lit(1)).as("n_matches"))
      .join(broadcast(phraseNames), "phrase_id")
      .select(col("phrase_id"), col("phrase"), col(idCol), col("n_matches"))
  }
}
