package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact (hash
  * groupBy), n-gram Jaccard similarity join, MinHash+LSH near-dup
  * detection, SimHash banding. Generalizes the reference's fuzzy
  * title-resolution join (`etl/seed/seed_from_marvel.py:126-138`, SURVEY.md
  * §2.3 J7) to corpus scale.
  *
  * Published foundations: MinHash resemblance estimation (Broder, "On the
  * resemblance and containment of documents", 1997), banded LSH (Leskovec/
  * Rajaraman/Ullman, "Mining of Massive Datasets" ch.3), SimHash
  * (Charikar 2002; Manku/Jain/Sarma, "Detecting Near-Duplicates for Web
  * Crawling", WWW'07 — incl. the hamming-band pigeonhole trick), prefix
  * filtering for similarity joins (Chaudhuri/Ganti/Kaushik, ICDE'06).
  *
  * Scale design:
  *  - Shingling + MinHash signatures are NARROW per-row expressions
  *    (array ops, no explode/shuffle) — at 100 TB this is a single
  *    map-only pass over the corpus.
  *  - LSH banding shuffles only (doc_id, band_key) rows — numBands rows
  *    per document, not one row per shingle.
  *  - Candidate verification joins shingle SETS back onto the candidate
  *    pairs only, so the quadratic all-pairs Jaccard join is never
  *    materialized. The exact all-pairs variant below exists as the
  *    small-data oracle baseline; LSH is the scale path.
  *  - All hashes are md5-derived -> deterministic across runs/engines; no
  *    seed state to distribute.
  */
object Dedup {

  /** Unique suffixes for per-round Observation names (Spark requires a
    * fresh name per registered observation within a session). */
  private val ccObsId = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Distinct char-k-gram shingle set, as a narrow array expression. The
    * native codegen'd ShingleSet expression replaces the earlier
    * `transform(sequence) |> array_distinct` composition: the interpreted
    * lambda machinery ran per element and dominated verification cost
    * (~5x slower). Same output: first-occurrence order, [] when len < k.
    * (Null text: the old when/otherwise chain yielded [], the native
    * expression propagates null — fixtures and verify slices are non-null.)
    */
  def charShingles(text: Column, k: Int): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.ShingleSet(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(text), k))

  /** (doc_id, shingle-set) projection, spread across the cluster first —
    * shingling + hashing is the compute-heavy narrow stage. */
  def shingled(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    graft.core.Tables.ensureParallelism(docs)
      .select(col(idCol).as("doc_id"), charShingles(col(textCol), k).as("sh"))

  /** Exploded (doc_id, g) shingle rows via explode(sequence)+substr — a
    * fully codegen'd pipeline (the array-building `transform` lambda is
    * interpreted and ~5x slower). NOT per-doc-deduped: min-aggregations
    * (MinHash) are duplicate-invariant, and document frequencies below
    * count distinct docs explicitly, so the dedup shuffle is skipped. */
  def shingleRows(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    graft.core.Tables.ensureParallelism(docs)
      .filter(length(col(textCol)) >= k)
      .select(col(idCol).as("doc_id"), col(textCol).as("__t"),
        explode(sequence(lit(1), length(col(textCol)) - lit(k - 1))).as("__pos"))
      .select(col("doc_id"), col("__t").substr(col("__pos"), lit(k)).as("g"))

  /** Exact-Jaccard verification of candidate (doc_a, doc_b) pairs: build
    * shingle SETS for the candidate docs only (a tiny semi-joined slice —
    * no ensureParallelism repartition, whose `.rdd` probe would force an
    * extra plan execution) and join them back by id — never materializes
    * all-pairs. */
  private def verifyJaccard(cands: DataFrame, docs: DataFrame, idCol: String,
                            textCol: String, k: Int, threshold: Double): DataFrame =
    // minSizeRatio = threshold: j <= min(|A|,|B|)/max(|A|,|B|), so a pair
    // whose smaller shingle set is under threshold x the larger can never
    // verify — the native merge skips it (exact prune; >= keeps boundary
    // pairs). Containment callers must NOT prune (a tiny subset of a huge
    // doc has low Jaccard but full containment).
    verifiedCommonCounts(cands, docs, idCol, textCol, k, minSizeRatio = threshold,
        jaccardExit = threshold)
      .select(col("doc_a"), col("doc_b"),
        (col("common") / (col("na") + col("nb") - col("common"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** Shared verification core: exact shingle-set overlap counts
    * (doc_a, doc_b, common, na, nb) for the candidate pairs — the input to
    * any set-similarity measure (Jaccard, containment, dice).
    * `jaccardExit > 0` swaps the merge for its early-exit variant
    * ([[graft.plans.SortedIntersectCountAtLeast]]): `common` is then exact
    * only for pairs whose Jaccard reaches that threshold — sound ONLY for
    * the caller that filters on exactly that predicate (verifyJaccard);
    * containment callers need the exact count for every surviving pair
    * and must leave it 0. */
  private def verifiedCommonCounts(cands: DataFrame, docs: DataFrame, idCol: String,
                                   textCol: String, k: Int,
                                   minSizeRatio: Double = 0.0,
                                   jaccardExit: Double = 0.0): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    // NOT distinct'ed: the only consumer is the left-semi probe below,
    // which is duplicate-insensitive — a distinct here would be a whole
    // extra shuffle stage for nothing
    val candIds = cands.select(col("doc_a").as("__cid"))
      .unionAll(cands.select(col("doc_b").as("__cid")))
    // Candidate docs are routinely a large fraction of the corpus (near-dup
    // fixtures: ~60%), and `sh` is joined TWICE below — without
    // materialization the scan+shingle subtree would be evaluated once per
    // join; Materialize.pin (cluster-mode caveat: see core/Graft) halves
    // the dominant cost of verification. (Measured alternatives, both
    // SLOWER at sf0.1: two broadcast joins over the unpinned subtree —
    // the per-side broadcast exchanges don't canonicalize equal, so the
    // tower built twice; and a repartition(doc_id)-shared shuffle with
    // shuffle_hash hints — reuse didn't amortize the extra exchanges.)
    // Shingle sets are SORTED XXH64 LONG arrays, not strings: 8
    // bytes/element through the pin + joins, and the per-pair
    // intersection is an allocation-free merge instead of a hash-set
    // build over UTF8Strings (counts identical to the string formulation
    // modulo ~2^-64 collisions, enforced by the oracle hash-match).
    // semi-join FIRST (so only candidate text moves), then spread: the
    // candidate slice is byte-small and single-file scans plan as one
    // partition, which would serialize the shingle builds AND the
    // checkpoint write into a single task
    val sh = graft.core.Tables.ensureParallelism(
        docs.join(candIds, docs(idCol) === col("__cid"), "left_semi"))
      .select(col(idCol).as("doc_id"),
        column(graft.plans.HashedShingleSet(expression(col(textCol)), k)).as("sh"))
      .transform(graft.core.Materialize.pin)
    val common =
      if (jaccardExit > 0)
        column(graft.plans.SortedIntersectCountAtLeast(
          expression(col("sh_a")), expression(col("sh_b")), jaccardExit))
      else
        column(graft.plans.SortedIntersectCount(
          expression(col("sh_a")), expression(col("sh_b"))))
    val joined = cands
      .join(sh.toDF("doc_a", "sh_a"), "doc_a")
      .join(sh.toDF("doc_b", "sh_b"), "doc_b")
    // optional size-ratio prune (Jaccard callers pass their threshold;
    // containment callers pass 0): the filter and the merge projection
    // share one codegen stage, so pruned pairs never pay the merge
    val pruned =
      if (minSizeRatio > 0)
        joined.filter(
          size(col("sh_a")) >= lit(minSizeRatio) * size(col("sh_b")) &&
            size(col("sh_b")) >= lit(minSizeRatio) * size(col("sh_a")))
      else joined
    pruned
      .withColumn("common", common)
      .select(col("doc_a"), col("doc_b"), col("common"),
        size(col("sh_a")).as("na"), size(col("sh_b")).as("nb"))
  }

  /** Exact all-pairs n-gram Jaccard similarity join (the O(n·m) baseline:
    * explode shingles, equi-join on shingle, count per pair). Correct at
    * any scale but shuffle-heavy — use lshNearDups for large corpora.
    * Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.
    */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String, k: Int,
                   threshold: Double): DataFrame = {
    val sh = shingled(docs, idCol, textCol, k)
    val ex = sh.select(col("doc_id"), explode(col("sh")).as("g"))
    val sizes = sh.select(col("doc_id"), size(col("sh")).as("n"))
    val common = ex.as("a").join(ex.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.toDF("doc_a", "na"), "doc_a")
      .join(sizes.toDF("doc_b", "nb"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("common") / (col("na") + col("nb") - col("common"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** MinHash signatures (doc_id, sig_0..sig_{n-1}) via explode + map-side
    * partial min aggregation: the exploded projection (2 md5 calls + 8
    * substring slices per shingle) is fully codegen'd, and HashAggregate
    * combines mins map-side, so the shuffle carries ~#docs rows per
    * partition, not one row per shingle. (A per-row higher-order-function
    * formulation is interpreted and recomputes the hash array per seed —
    * measured 3x slower.)
    */
  def minhashSignatures(exAll: DataFrame, numHashes: Int, dfCap: Int = 0): DataFrame = {
    require(numHashes == 8, "signature layout derives 8 seeds from 2 md5 slices")
    // Optional common-shingle exclusion: with a small shingle universe (or
    // natural-language stopword runs) the globally-smallest-hash shingles
    // occur in many documents, so every such doc shares a minhash and LSH
    // buckets go quadratic. Capping DOCUMENT frequency (distinct docs — the
    // input rows are not per-doc-deduped) keeps the argmin on
    // discriminative shingles. Docs with no sub-cap shingle drop out
    // (they have no rare content to collide on).
    //
    // ONE bounded-memory pass: the capped distinct-set aggregation keeps at
    // most cap+1 doc ids per shingle at every stage (hot shingles
    // degenerate to an overflow marker, never a posting list), then the
    // surviving sets re-explode to (doc_id, g) rows. This replaces the
    // two-pass plan (countDistinct aggregation + semi-join of the full
    // exploded projection back against the rare keys) — same result, half
    // the passes, and still skew-proof at corpus scale.
    // Hash BEFORE the doc-set re-explode: after the capped aggregation each
    // shingle is one row, so md5 runs once per distinct shingle instead of
    // once per surviving (doc, shingle) pair (~df x fewer digests).
    val hashed = if (dfCap > 0) {
      exAll.groupBy("g")
        .agg(graft.functions.CappedSetAgg.cappedDistinct(col("doc_id"), dfCap).as("__docs"))
        .filter(col("__docs").isNotNull)
        .select(md5(col("g")).as("h1"), md5(concat(lit("x:"), col("g"))).as("h2"),
          explode(col("__docs")).as("doc_id"))
    } else {
      exAll.select(col("doc_id"), md5(col("g")).as("h1"),
        md5(concat(lit("x:"), col("g"))).as("h2"))
    }
    val aggs = (0 until numHashes).map { s =>
      val src = if (s < 4) col("h1") else col("h2")
      min(substring(src, (s % 4) * 8 + 1, 8)).as(s"sig_$s")
    }
    hashed.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash-LSH candidate pairs: docs sharing any band of `bandSize`
    * consecutive signature values are candidates. Shuffles numBands rows
    * per doc. Input: exploded (doc_id, g) shingle rows. */
  def lshCandidates(exRows: DataFrame, numHashes: Int, bandSize: Int, dfCap: Int = 0): DataFrame =
    candidatesFromBands(bandTable(minhashSignatures(exRows, numHashes, dfCap), numHashes, bandSize))

  /** Candidate pairs from a (doc_id, band) table: docs sharing >= 1 band,
    * ordered (doc_a < doc_b), deduped across bands.
    *
    * ONE aggregation, not a self-join: group by band, collect the sorted
    * doc set, and pair each element with its successors in-array (the
    * rareShingleCands shape). The self-join formulation needs the band
    * table MATERIALIZED first (else the upstream signing tower executes
    * once per join side) plus a join shuffle over it; here the signing
    * scan pipelines straight into the single groupBy's map-side partial
    * aggregation — one action and one shuffle fewer, identical pairs
    * (per-band emitted rows are the same df² either way). */
  def candidatesFromBands(bands: DataFrame): DataFrame = {
    val docSets = bands.groupBy(col("band"))
      .agg(sort_array(collect_set(col("doc_id"))).as("__docs"))
      .filter(size(col("__docs")) >= 2)
    successorPairs(docSets, "__docs", Seq.empty).distinct()
  }

  /** Chunk width for [[successorPairs]]' skew decomposition: every set
    * splits into C-wide slices whose triangular chunk pairs REPARTITION
    * before exploding, so one hot LSH band (boilerplate text collapsing
    * thousands of docs into one bucket — C(n,2) pairs from ONE row)
    * parallelizes across the cluster instead of serializing on a single
    * task; a set <= C degenerates to one diagonal chunk-pair row, so the
    * light case pays only the spread exchange, never extra rows. 128
    * keeps a chunk-pair row's output <= 128² = 16k pairs — small enough
    * that round-robin spreading balances, large enough that the per-row
    * slice overhead stays negligible. Measured (sf0.1 x10 corpus): the
    * band_size=1 sweep holds 75% of its 21.6M candidate pairs in 33
    * buckets of >= 512 docs; without the split the pair-emit stage ran at
    * average parallelism ~3.7 on 32 cores (AQE sizes the post-aggregation
    * stage by its ~7 MiB INPUT, blind to the quadratic generator
    * output). */
  private final val SuccessorPairChunk = 128

  /** Expand a SORTED id-array column into its ordered pairs
    * (doc_a < doc_b: each element paired with its successors), shaped so
    * a HOT group degrades gracefully — at both the VALUE and the TASK
    * level:
    *
    *  - value level: posexplode the array first, then explode each
    *    element's successor slice — the largest single value ever
    *    materialized is one id array / one slice (O(n) per row), never
    *    the n(n-1)/2 pair array an all-at-once flatten-of-nested-
    *    transforms would build (which overflows the 2^31 array limit /
    *    an executor heap exactly on the hot band it should merely make
    *    slow). The pair ROW count is inherently quadratic either way —
    *    rows stream and spill; one giant value does not.
    *  - task level (guide §2 skew/stragglers): a set of n >=
    *    [[SuccessorPairChunk]] ids still emits C(n,2) pairs from ONE
    *    input row, which no row partitioning can split, and AQE sizes
    *    the post-shuffle stage by its input bytes — blind to generator
    *    fan-out. Every set therefore decomposes into triangular chunk
    *    pairs (p <= q over C-wide slices) that ROUND-ROBIN repartition
    *    (explicit partition count pins the exchange against AQE
    *    re-coalescing) before the pair explode: the diagonal (p == q)
    *    emits successor pairs within the slice, off-diagonal the full
    *    cross product — every positional pair (i < j) lands in exactly
    *    one chunk row (p = i/C, q = j/C), so the output multiset is
    *    identical to the direct expansion's. A light set (n <= C) is
    *    exactly one diagonal row, so the common case pays only the
    *    spread exchange, no extra rows. (A conditional two-branch
    *    union was measured and REJECTED: each union branch inherits
    *    the parent's full size estimate, which doubled the pinned
    *    candidate table's stats and flipped downstream broadcast
    *    build sides — a single lineage keeps the estimates honest.)
    *
    * `keep` columns pass through onto every pair row. */
  private def successorPairs(docSets: DataFrame, docsCol: String,
                             keep: Seq[String]): DataFrame = {
    val kept = keep.map(col)
    val C = SuccessorPairChunk
    // scale-adaptive spread width: the session's shuffle parallelism
    // (cpus locally, the cluster's configured width in production)
    val nParts = docSets.sparkSession.sessionState.conf.numShufflePartitions
    val nChunks = ceil(size(col("__sp_docs")).cast("double") / lit(C)).cast("int")
    docSets
      .select(kept :+ col(docsCol).as("__sp_docs"): _*)
      .select(kept :+ col("__sp_docs") :+
        explode(sequence(lit(0), nChunks - 1)).as("__sp_p"): _*)
      .select(kept :+ col("__sp_docs") :+ col("__sp_p") :+
        explode(sequence(col("__sp_p"), nChunks - 1)).as("__sp_q"): _*)
      .select(kept :+ (col("__sp_p") === col("__sp_q")).as("__sp_diag") :+
        slice(col("__sp_docs"), col("__sp_p") * lit(C) + 1, lit(C)).as("__sp_a") :+
        slice(col("__sp_docs"), col("__sp_q") * lit(C) + 1, lit(C)).as("__sp_b"): _*)
      .repartition(nParts)
      .select(kept :+ col("__sp_diag") :+ col("__sp_b") :+
        posexplode(col("__sp_a")).as(Seq("__sp_i", "doc_a")): _*)
      .select(kept :+ col("doc_a") :+
        explode(when(col("__sp_diag"),
            slice(col("__sp_b"), col("__sp_i") + lit(2), lit(C)))
          .otherwise(col("__sp_b"))).as("doc_b"): _*)
  }

  /** MinHash signatures as a MAP-ONLY projection — the native in-row
    * kernel (graft.plans.MinhashSigExpr) computes all 8 slots in one pass
    * over each document, so signing shuffles NOTHING (the exploded
    * `minhashSignatures` formulation shuffles one (doc_id, 2x32-hex) row
    * per shingle occurrence — ~20x the corpus bytes — into a per-doc min
    * agg). Values are identical (spec'd + the oracles), so every caller
    * without a df cap takes this path; the df-capped variant needs the
    * exploded rows for the document-frequency filter and keeps them. */
  def minhashSignaturesInRow(docs: DataFrame, idCol: String, textCol: String,
                             k: Int, numHashes: Int = 8): DataFrame = {
    require(numHashes == 8, "signature layout derives 8 seeds from 2 md5 slices")
    graft.core.Tables.ensureParallelism(docs)
      .select(col(idCol).as("doc_id"),
        graft.plans.GraftFunctions.minhash_sig(col(textCol), k).as("__s"))
      .filter(size(col("__s")) === numHashes)
      .select(col("doc_id") +:
        (0 until numHashes).map(i => element_at(col("__s"), i + 1).as(s"sig_$i")): _*)
  }

  /** Full MinHash-LSH near-dup pipeline: candidates, then exact Jaccard
    * verification restricted to candidate pairs (shingle sets join back by
    * doc id — two broadcast-or-shuffle hash joins over the candidate set,
    * never all-pairs).
    */
  def lshNearDups(docs: DataFrame, idCol: String, textCol: String, k: Int,
                  numHashes: Int, bandSize: Int, threshold: Double,
                  dfCap: Int = 0): DataFrame = {
    // Uncapped path: signatures come from the in-row native kernel
    // (map-only — see minhashSignaturesInRow) and pipeline straight into
    // candidatesFromBands' single aggregation — the signing scan runs
    // once with NO intermediate materialization (the old self-join
    // formulation needed the band table pinned first, an extra action
    // and an extra shuffle). Capped path: the exploded shingle projection
    // feeds both the df-cap aggregation and the signature join; it is
    // deliberately NOT materialized — the scan+explode subtree is map-only
    // and pipelines into each consumer, which beats serializing
    // ~40B/shingle through the block manager (measured: +2-3s at sf0.1).
    // The candidate set IS eagerly localCheckpoint'ed (not cache()d): it
    // is traversed three times by the verification joins, checkpointing
    // truncates the whole LSH tower, hands AQE its exact (tiny) size so
    // every verify join broadcasts, and the blocks are GC'd with the plan
    // instead of pinned in CacheManager.
    val cands0 =
      if (dfCap == 0)
        candidatesFromBands(signBands(docs, idCol, textCol, k, numHashes, bandSize))
      else lshCandidates(shingleRows(docs, idCol, textCol, k), numHashes, bandSize, dfCap)
    val cands = cands0.transform(graft.core.Materialize.pin)
    verifyJaccard(cands, docs, idCol, textCol, k, threshold)
  }

  /** Prefix-filtered exact Jaccard join: candidate pairs must share at
    * least one RARE shingle (document frequency <= dfCap), then exact
    * verification over the full shingle sets. Common shingles dominate the
    * naive join's cost (sum of df^2 — 185M pair-rows on the sf0.1 fixture)
    * while contributing no discrimination; rare shingles cut that to ~10k
    * with full recall for near-identical docs (any edit creates rare
    * k-grams shared by the pair). This is the scale-correct exact-join
    * design; jaccardPairs above is the O(n*m) reference baseline.
    */
  def jaccardPairsFiltered(docs: DataFrame, idCol: String, textCol: String, k: Int,
                           threshold: Double, dfCap: Int): DataFrame =
    verifyJaccard(rareShingleCands(docs, idCol, textCol, k, dfCap),
      docs, idCol, textCol, k, threshold)

  /** Rare-shingle candidate pairs (the prefix filter): ONE bounded-memory
    * pass over the exploded shingles (see minhashSignatures for the
    * capped-set rationale): per rare shingle the sorted doc set is at
    * hand, so candidate pairs come straight from the in-array
    * combinations — no semi-join back, no self-join shuffle. The
    * pair-expansion lambda is interpreted but runs on |rare shingles| tiny
    * rows (each array <= dfCap elements, <= cap*(cap-1)/2 pairs).
    * Aggregation keys are xxhash64 longs, not raw 9-char strings: smaller
    * shuffle keys, cheaper hash/compare in the UDAF map. A key collision
    * merges two shingles' doc sets (possibly overflowing the cap) with
    * probability ~#shingles^2/2^64 — negligible, oracle-checked. */
  private def rareShingleCands(docs: DataFrame, idCol: String, textCol: String,
                               k: Int, dfCap: Int): DataFrame = {
    val ex = shingleRows(docs, idCol, textCol, k)
      .select(col("doc_id"), xxhash64(col("g")).as("g"))
    val docSets = ex.groupBy("g")
      .agg(graft.functions.CappedSetAgg.cappedDistinct(col("doc_id"), dfCap).as("__docs"))
      .filter(col("__docs").isNotNull && size(col("__docs")) >= 2)
    successorPairs(docSets, "__docs", Seq.empty)
      .distinct().transform(graft.core.Materialize.pin)
  }

  /** Containment similarity join (Broder's asymmetric resemblance
    * companion): C(A in B) = |A∩B| / |A|. Catches subset/excerpt
    * relations — a quote or a doc embedded inside a larger one — that
    * Jaccard misses (a small A inside a huge B has tiny Jaccard but
    * containment ~1). Same rare-shingle prefix filter and exact
    * verification machinery as jaccardPairsFiltered; emits both
    * directions, filtered on the larger one. Returns
    * (doc_a, doc_b, cont_a, cont_b) with doc_a < doc_b. */
  def containmentPairsFiltered(docs: DataFrame, idCol: String, textCol: String,
                               k: Int, threshold: Double, dfCap: Int): DataFrame =
    verifiedCommonCounts(rareShingleCands(docs, idCol, textCol, k, dfCap),
        docs, idCol, textCol, k)
      .select(col("doc_a"), col("doc_b"),
        (col("common") / col("na")).as("cont_a"),
        (col("common") / col("nb")).as("cont_b"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= threshold)

  /** SimHash near-dup pairs with banded join: split the 64-bit signature
    * into 4 16-bit bands; by pigeonhole any pair within hamming distance
    * <= 3 shares at least one exact band, so the join fans out 4 rows/doc
    * instead of all-pairs, then verifies true hamming distance.
    */
  def simhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3, maxBucket: Int = 0): DataFrame = {
    require(maxHamming <= 3, "4-band banding only guarantees recall for hamming <= 3")
    val sig = TextAnalysis.simhashSignatures(docs, idCol, textCol)
    val bands0 = sig.select(col("doc_id"), col("sig"),
      explode(array((0 until 4).map { i =>
        concat_ws(":", lit(i.toString), shiftright(col("sig"), i * 16).bitwiseAND(lit(65535L)))
      }: _*)).as("band"))
    // Optional skew guard for boilerplate-heavy corpora: a band shared by
    // m docs expands to m^2/2 candidate pairs, so one hot 16-bit band
    // (every doc carrying the same template header) can go quadratic at
    // corpus scale. Dropping over-cap buckets trades recall ONLY for pairs
    // whose every band is hot — near-dup pairs collide on 4 independent
    // bands, so a real pair survives unless all four exceed the cap.
    // Off by default (recall-exact, matches the oracle).
    val bands = if (maxBucket > 0) {
      val hot = bands0.groupBy("band").agg(count(lit(1)).as("__m"))
        .filter(col("__m") > maxBucket).select("band")
      bands0.join(broadcast(hot), Seq("band"), "left_anti")
    } else bands0
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        TextAnalysis.hamming(col("a.sig"), col("b.sig")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Exact duplicate groups by content hash: one shuffle on the 16-byte
    * fingerprint (never on the full text). */
  def exactDupGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(count(lit(1)).as("n_copies"), min("doc_id").as("first_doc"))
      .filter(col("n_copies") > 1)

  /** Connected components over near-dup pairs: min-label propagation plus
    * pointer doubling (each doc also adopts its component's own component —
    * path halving, cf. hash-to-min in Rastogi et al., "Finding Connected
    * Components in MapReduce", ICDE'13), so a chain of length n converges
    * in O(log n) rounds instead of O(n). Each round is eagerly
    * localCheckpoint'ed: lineage stays one-round deep (no optimizer blow-up
    * on long chains) and superseded label frames are GC'd by the context
    * cleaner rather than pinned in the CacheManager. Returns
    * (doc_id, component) — component = smallest reachable doc id — for
    * every doc appearing in `pairs`; logs a warning if maxIter is hit
    * before convergence (labels may then split one true component).
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame =
    connectedComponentsWithRounds(pairs, maxIter)._1

  /** [[connectedComponents]] plus the number of label-propagation rounds
    * the run actually used — the observable the O(log n) growth check
    * (GrowthSpec) asserts on. Package-visible: rounds are a measurement
    * surface, not an operator contract. */
  private[graft] def connectedComponentsWithRounds(
      pairs: DataFrame, maxIter: Int = 20): (DataFrame, Int) = {
    // Pin the pair slice BEFORE symmetrizing: the union's two branches are
    // otherwise two full executions of whatever produced `pairs` (for the
    // LSH callers, the entire shingle/minhash/verify tower — Spark reuses
    // identical exchanges, not arbitrary shared subplans), and the labels
    // init below would be a third.
    val p = pairs.select(col("doc_a"), col("doc_b"))
      .transform(graft.core.Materialize.pin)
    // Symmetrize lazily over the pinned pairs: a narrow double-read of
    // pinned partitions per consumer, cheaper than materializing (and
    // far cheaper than shuffling) a deduplicated edge table. Duplicate
    // edges are harmless — every consumer is a min-aggregation.
    val edges = p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionAll(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    // Init IS round one's neighbor hop: against identity labels,
    // min(own, neighbors' labels) = min(src, min(dst)) — one groupBy over
    // the symmetrized edges instead of a round of joins. For the common
    // case (near-dup clusters of size 2-3, star-shaped) these labels are
    // already the fixpoint and the loop below runs exactly once to prove it.
    // NOT pinned: round one's three reads of these labels all live inside
    // ONE job (the first pinned round result), where the identical
    // groupBy subplans collapse into a single reused exchange — a
    // separate materialization action costs more than it saves.
    var labels = edges.groupBy(col("src").as("doc_id"))
      .agg(min("dst").as("nbr_min"))
      .select(col("doc_id"), least(col("doc_id"), col("nbr_min")).as("component"))
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // each doc takes min(own label, neighbors' labels)
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("doc_id", "dst"), "dst")
        .groupBy(col("src").as("doc_id"))
        .agg(min("component").as("nbr_min"))
      // the round's starting label rides along as __old — change
      // detection needs no join back against the previous labels
      val hop1 = labels.join(viaNeighbors, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("component").as("__old"),
          least(col("component"), coalesce(col("nbr_min"), col("component"))).as("component"))
      // pointer doubling: follow the component's own label one more hop
      // (component ids are always doc ids present in `labels`, so the
      // lookup join below covers every non-root label). ROUND ONE skips
      // it: on the common star/clique-shaped dup components the init
      // labels are already the fixpoint and round one exists to PROVE
      // that — hop1 suffices, and the doubling self-join would evaluate
      // the hop1 subtree twice for nothing. Deep chains pay at most one
      // extra round before doubling kicks in from round two. The
      // convergence count rides the pin's OWN action as an observe
      // metric — zero extra jobs per round (the previous shape ran a
      // separate filter-isEmpty job over the pinned partitions).
      val doubled =
        if (iter == 0) hop1
        else {
          val ptr = hop1.select(col("doc_id").as("__c"), col("component").as("__cc"))
          hop1.join(ptr, col("component") === col("__c"), "left_outer")
            .select(col("doc_id"), col("__old"),
              least(col("component"), coalesce(col("__cc"), col("component"))).as("component"))
        }
      val obs = new org.apache.spark.sql.Observation(
        s"graft_cc_changed_${ccObsId.incrementAndGet()}")
      val next = doubled
        .select(col("doc_id"), col("component"),
          (col("component") =!= col("__old")).as("__changed"))
        .observe(obs, sum(when(col("__changed"), 1L).otherwise(0L)).as("n_changed"))
        .transform(graft.core.Materialize.pin)
      converged = obs.get.get("n_changed") match {
        case Some(null) => true // all-empty input: no rows changed
        case Some(n: java.lang.Long) => n == 0L
        // A missing key means the metric was never collected for the pin's
        // action — declaring convergence on that would silently truncate
        // label propagation (wrong components, no error). Fail loudly.
        case other => throw new IllegalStateException(
          s"connectedComponents: convergence metric n_changed missing/untyped in Observation ($other) — " +
            "metrics-collection regression; refusing to declare convergence")
      }
      labels = next.select(col("doc_id"), col("component"))
      iter += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"connectedComponents did not converge within $maxIter iterations; " +
          "component labels may split one true component")
    (labels, iter)
  }

  /** PageRank over a symmetric pair graph (e.g. near-dup pairs): the
    * centrality of a document in the similarity graph — high-rank nodes
    * are cluster hubs (template families, boilerplate spines), a useful
    * prioritization signal for scrubbing and for canonical selection.
    *
    * FIXED iteration count (not convergence-tested): the rank vector is
    * then a pure function of the graph, reproducible on any engine — the
    * oracle unrolls the same `iters` rounds. Per-round arithmetic follows
    * the Fns determinism contract: each contribution pr(u)/deg(u) is one
    * IEEE division, the per-target sum is floor-quantized at 1e12 and
    * accumulated as exact longs (order-independent), and the damping
    * update is two more single IEEE ops.
    *
    * Scale shape: the pair slice pins once; degrees pre-join onto the edge
    * table ONCE (so the rank tuple can carry its own degree and each round
    * is exactly one join + one aggregation — the naive shape pays a second
    * rank⋈degree join per round), the per-round sum shuffles (dst,
    * quantized contribution) partials map-side combined, and the node
    * count is a one-scan driver scalar over the pinned degree table (a
    * config-sized count, not a hot-path collect). Rounds pin every THIRD
    * iteration (never the last — the caller's action materializes it):
    * lineage stays ≤3 rounds deep at a third of the barrier jobs. Returns
    * (doc_id, pr) for every node in `pairs`. */
  def pageRank(pairs: DataFrame, iters: Int = 5, damping: Double = 0.85): DataFrame = {
    import graft.functions.Fns
    val p = pairs.select(col("doc_a"), col("doc_b"))
      .transform(graft.core.Materialize.pin)
    val edges = p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionAll(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    // symmetric graph: every node appears as src, deg >= 1 (no dangling
    // mass), and in-neighbors = out-neighbors
    val deg = edges.groupBy(col("src").as("doc_id"))
      .agg(count(lit(1)).as("deg"))
      .transform(graft.core.Materialize.pin)
    val n = deg.count()
    // (1-d)/n and 1/n precompute to the same IEEE doubles the oracle's
    // per-row `(1.0e0 - 0.85e0) / n` evaluates to — hash-stable.
    val teleport = (1.0 - damping) / n
    val edgesWithDeg = edges
      .join(deg.select(col("doc_id").as("dst"), col("deg").as("dst_deg")), Seq("dst"))
      .transform(graft.core.Materialize.pin)
    var pr = deg.select(col("doc_id"), lit(1.0 / n).as("pr"), col("deg"))
    (1 to iters).foreach { i =>
      val contribs = pr
        .select(col("doc_id").as("src"), (col("pr") / col("deg")).as("c"))
      pr = edgesWithDeg.join(contribs, Seq("src"))
        .groupBy(col("dst").as("doc_id"))
        .agg(Fns.dsum(col("c"), 1e12).as("s"), min("dst_deg").as("deg"))
        .select(col("doc_id"),
          (lit(teleport) + lit(damping) * col("s")).as("pr"), col("deg"))
      if (i % 3 == 0 && i != iters) pr = pr.transform(graft.core.Materialize.pin)
    }
    pr.select(col("doc_id"), col("pr"))
  }

  /** LSH band table (doc_id, band) from a signature table — the persisted
    * index shape for INCREMENTAL dedup: sign each ingest batch once, store
    * its bands, and every later batch probes the stored bands instead of
    * re-signing the historical corpus. */
  def bandTable(signatures: DataFrame, numHashes: Int, bandSize: Int): DataFrame = {
    require(numHashes % bandSize == 0, "numHashes must be divisible by bandSize")
    val nBands = numHashes / bandSize
    val bandKeys = (0 until nBands).map { b =>
      concat_ws(":", (lit(b.toString) +: (0 until bandSize).map(j => col(s"sig_${b * bandSize + j}"))): _*)
    }
    signatures.select(col("doc_id"), explode(array(bandKeys: _*)).as("band"))
  }

  /** (doc_id, band) signing of a document batch — the rows a production
    * pipeline PERSISTS as its incremental band index (map-only signatures,
    * numBands rows per doc). */
  def signBands(docs: DataFrame, idCol: String, textCol: String, k: Int,
                numHashes: Int, bandSize: Int, dfCap: Int = 0): DataFrame =
    bandTable(
      if (dfCap == 0) minhashSignaturesInRow(docs, idCol, textCol, k, numHashes)
      else minhashSignatures(shingleRows(docs, idCol, textCol, k), numHashes, dfCap),
      numHashes, bandSize)

  /** Incremental near-dup detection: find near-dups of `newDocs` against a
    * PREVIOUSLY SIGNED corpus plus themselves, touching only the new
    * batch's text. At 100 TB this is the production shape — a daily
    * increment probes the stored band index in O(|batch|), instead of
    * re-shingling the historical corpus per run.
    *
    * `corpusBands` is signBands(corpus...) persisted by an earlier run
    * (same numHashes/bandSize, and the same dfCap policy if any);
    * `corpusDocs` supplies text ONLY for the candidate slice (a
    * point-lookup-shaped semi-join, not a scan-everything).
    * Returns (doc_a, doc_b, jaccard) where at least one side is new.
    */
  def incrementalNearDups(newDocs: DataFrame, corpusDocs: DataFrame,
                          corpusBands: DataFrame, idCol: String, textCol: String,
                          k: Int, numHashes: Int, bandSize: Int,
                          threshold: Double, dfCap: Int = 0): DataFrame =
    // dfCap applies BATCH-locally (document frequency within newDocs);
    // use the same cap policy the stored corpus bands were built with.
    // The bands feed BOTH sides of the probe join — pinned so the sign
    // tower (scan+shingle+md5+min-agg) runs once, not once per side.
    incrementalNearDupsFromBands(
      signBands(newDocs, idCol, textCol, k, numHashes, bandSize, dfCap)
        .transform(graft.core.Materialize.pin),
      newDocs, corpusDocs, corpusBands, idCol, textCol, k, threshold)

  /** The probe half of incrementalNearDups, for callers that sign the
    * batch once and reuse the bands (the curation sink persists them into
    * the index AND probes with them — one signing, two uses). `newBands`
    * must already be PINNED: it feeds both sides of the probe join, and
    * every caller pins it once for its own reuse anyway. */
  def incrementalNearDupsFromBands(newBands: DataFrame, newDocs: DataFrame,
                                   corpusDocs: DataFrame, corpusBands: DataFrame,
                                   idCol: String, textCol: String,
                                   k: Int, threshold: Double): DataFrame = {
    val allBands = corpusBands.unionByName(newBands)
    // probe: every candidate pair involves >= 1 new doc (new x corpus and
    // new x new); corpus x corpus pairs were already found when those
    // batches ingested
    val cands = newBands.as("a").join(allBands.as("b"),
        col("a.band") === col("b.band") && col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct().transform(graft.core.Materialize.pin)
    val allDocs = corpusDocs.select(col(idCol), col(textCol))
      .unionByName(newDocs.select(col(idCol), col(textCol)))
    verifyJaccard(cands, allDocs, idCol, textCol, k, threshold)
  }

  /** Recall/cost frontier over LSH banding configs — the config-selection
    * query the recall evaluator (pairRecall) enables: which (numHashes,
    * bandSize) do I run? One row per band size with the two numbers the
    * choice trades off: n_candidates (the verification workload the
    * config generates — LSH's cost axis) and recall of the ground-truth
    * pairs among the candidates. Candidate recall EQUALS end-to-end
    * recall here: truth pairs sit at/above the verification threshold by
    * construction, so any truth pair surfacing as a candidate survives
    * exact verification — the sweep never pays the verify step.
    *
    * Cost shape: the corpus signs ONCE (the signatures are band-size
    * independent — banding only regroups the 8 slots), each config is
    * one regrouping of the pinned signature table, and the ground truth
    * arrives prebuilt (the run-scoped sample artifact) — grid points
    * share both expensive inputs instead of rebuilding them per cell.
    * Returns (band_size, n_bands, n_candidates, n_truth, n_found,
    * recall), one row per requested band size (configs with zero
    * candidates keep their row). */
  def lshBandSweep(docs: DataFrame, idCol: String, textCol: String, k: Int,
                   numHashes: Int, bandSizes: Seq[Int],
                   truth: DataFrame): DataFrame =
    lshBandSweepFromSignatures(
      minhashSignaturesInRow(docs, idCol, textCol, k, numHashes),
      numHashes, bandSizes, truth)

  /** The sweep body over a PREBUILT signature table
    * ([[minhashSignaturesInRow]] schema: doc_id, sig_0..sig_{n-1}) —
    * signatures are band-size independent, so a recurring sweep persists
    * them once beside the truth artifact and each evaluation measures
    * this read path (the signBands/incrementalNearDupsFromBands split,
    * applied to the evaluator). ONE aggregation carries both frontier
    * axes: the distinct candidate set left-joins the broadcast-small
    * truth and a single groupBy(band_size) counts candidates and truth
    * hits together — no materialization barrier, no second pass over the
    * candidate set. */
  def lshBandSweepFromSignatures(sig: DataFrame, numHashes: Int,
                                 bandSizes: Seq[Int], truth: DataFrame): DataFrame = {
    require(bandSizes.nonEmpty && bandSizes.forall(b => b >= 1 && numHashes % b == 0),
      s"every band size must divide numHashes=$numHashes, got $bandSizes")
    import sig.sparkSession.implicits._
    // ONE explode emits every config's band keys from a single read of
    // each signature row (Σ numHashes/c structs per doc) — no per-config
    // union branches, so the signature scan pipelines straight into the
    // grouping with nothing materialized
    val keyCols = bandSizes.flatMap { c =>
      (0 until numHashes / c).map { b =>
        struct(lit(c).as("band_size"),
          concat_ws(":", (lit(b.toString) +:
            (b * c until b * c + c).map(j => col(s"sig_$j"))): _*).as("band"))
      }
    }
    val bandsAll = sig.select(col("doc_id"), explode(array(keyCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band_size").as("band_size"), col("bb.band").as("band"))
    val docSets = bandsAll.groupBy(col("band_size"), col("band"))
      .agg(sort_array(collect_set(col("doc_id"))).as("__docs"))
      .filter(size(col("__docs")) >= 2)
    val cands = successorPairs(docSets, "__docs", Seq("band_size"))
      .select(col("band_size"), col("doc_a"), col("doc_b"))
      .distinct()
    // truth pairs are unique (doc_a < doc_b), so the left join can't
    // multiply candidate rows — one aggregation reads off both axes
    val tr = truth.select(col("doc_a"), col("doc_b"))
    val agg = cands
      .join(broadcast(tr.withColumn("__t", lit(1L))), Seq("doc_a", "doc_b"), "left_outer")
      .groupBy("band_size")
      .agg(count(lit(1)).as("n_candidates"),
        sum(coalesce(col("__t"), lit(0L))).as("n_found"))
    val base = bandSizes.map(c => (c, numHashes / c)).toDF("band_size", "n_bands")
    val nTruth = tr.agg(count(lit(1)).as("n_truth"))
    base.join(agg, Seq("band_size"), "left_outer")
      .crossJoin(broadcast(nTruth))
      .select(col("band_size"), col("n_bands"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        col("n_truth"),
        coalesce(col("n_found"), lit(0L)).as("n_found"),
        when(col("n_truth") === 0, lit(1.0))
          .otherwise(coalesce(col("n_found"), lit(0L)).cast("double") / col("n_truth"))
          .as("recall"))
  }

  /** End-to-end near-dup deduplication: LSH near-dup pairs -> duplicate
    * components -> keep the least doc id per component, drop the rest.
    * Returns the deduplicated corpus (docs schema unchanged). */
  def dropNearDups(docs: DataFrame, idCol: String, textCol: String, k: Int,
                   numHashes: Int, bandSize: Int, threshold: Double,
                   dfCap: Int = 0): DataFrame = {
    val pairs = lshNearDups(docs, idCol, textCol, k, numHashes, bandSize, threshold, dfCap)
    val comps = connectedComponents(pairs)
    val losers = comps.filter(col("doc_id") =!= col("component")).select("doc_id")
    docs.join(losers.withColumnRenamed("doc_id", idCol), Seq(idCol), "left_anti")
  }

  /** EXHAUSTIVE exact Jaccard over every doc pair — the ground-truth
    * generator for recall evaluation, shaped for the sample sizes ground
    * truth is actually computed at (it is O(sample²) by definition):
    * per-doc sorted XXH64 shingle sets build in-row (native
    * HashedShingleSet), one side broadcasts, and every pair's overlap is
    * one allocation-free native merge (SortedIntersectCount) — no
    * exploded (doc, shingle) join, whose intermediate row count is the
    * sum of per-shingle df² and blows up on common shingles precisely
    * when the corpus HAS duplicates. Same results as jaccardPairs
    * (spec'd); use THAT for sparse similarity joins at corpus scale,
    * this for exhaustive truth over a sample. */
  def jaccardPairsExhaustive(docs: DataFrame, idCol: String, textCol: String,
                             k: Int, threshold: Double): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val sh = graft.core.Tables.ensureParallelism(docs)
      .filter(length(col(textCol)) >= k)
      .select(col(idCol).as("doc_id"),
        column(graft.plans.HashedShingleSet(expression(col(textCol)), k)).as("sh"))
    val a = sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"),
      size(col("sh")).as("na"))
    val b = sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"),
      size(col("sh")).as("nb"))
    // early-exit merge: sound because the ONLY consumer of `common` is the
    // jaccard >= threshold filter below (exact count for every passing pair)
    val common = column(graft.plans.SortedIntersectCountAtLeast(
      expression(col("sh_a")), expression(col("sh_b")), threshold))
    // size-ratio prune INSIDE the join condition: j <= min(|A|,|B|) /
    // max(|A|,|B|) (intersection <= min, union >= max), so a pair whose
    // smaller set is under threshold x the larger can never pass — the
    // native merge then runs on the surviving minority only (~24% at
    // sf0.1). Exact: >= keeps every boundary pair.
    a.join(broadcast(b),
        col("doc_a") < col("doc_b") &&
          col("na") >= lit(threshold) * col("nb") &&
          col("nb") >= lit(threshold) * col("na"))
      .select(col("doc_a"), col("doc_b"), common.as("common"),
        col("na"), col("nb"))
      .select(col("doc_a"), col("doc_b"),
        (col("common") / (col("na") + col("nb") - col("common"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Recall of an approximate near-dup pair set against an exact ground
    * truth — the acceptance metric for a banded/sketched dedup config
    * (too few hashes or bands and true duplicates slip through
    * silently). Both inputs are (doc_a, doc_b) pair tables with the
    * doc_a < doc_b normalization every operator here emits. One summary
    * row (n_exact, n_found, recall); verified LSH has no false positives
    * by construction (candidates are exact-Jaccard-checked), so recall
    * is the whole story. Production shape: ground truth via exact
    * all-pairs over a deterministic SAMPLE (ground truth is quadratic —
    * sampling it is how real systems evaluate), the approximate config
    * over the same sample. */
  def pairRecall(approx: DataFrame, exact: DataFrame): DataFrame = {
    val ex = exact.select(col("doc_a"), col("doc_b"))
    val found = ex.join(approx.select(col("doc_a"), col("doc_b")),
      Seq("doc_a", "doc_b"), "left_semi")
    ex.agg(count(lit(1)).as("n_exact"))
      .crossJoin(found.agg(count(lit(1)).as("n_found")))
      .select(col("n_exact"), col("n_found"),
        // vacuous truth: a sample with no exact pairs means there was
        // nothing to find — recall 1.0 by definition, never a null (or,
        // under ANSI mode, a divide-by-zero error) that would silently
        // slip past a `recall < threshold` monitoring filter
        when(col("n_exact") === 0, lit(1.0))
          .otherwise(col("n_found").cast("double") / col("n_exact"))
          .as("recall"))
  }

  /** Hot-span scrub — exact-substring deduplication at word-n-gram
    * granularity: find word n-grams occurring in >= minDocs distinct
    * documents (boilerplate: shared headers, license blocks, templated
    * spans) and delete every word covered by one, keeping the rest of each
    * document. The word-gram approximation of suffix-array substring dedup
    * (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", ACL'22); corpus-level span removal as applied by
    * RefinedWeb (Penedo et al. 2023).
    *
    * Scale shape:
    *  - document frequencies: the per-doc DISTINCT gram-hash set builds
    *    in-row (native WordGramHashSet), so a plain count(*) over the
    *    exploded sets IS the distinct-doc count — no countDistinct
    *    shuffle, and the aggregation carries 8-byte hashes, never text.
    *  - the hot set (grams over the threshold) is the boilerplate tail —
    *    tiny relative to the corpus — and broadcasts; if a pathological
    *    corpus made it large, swap the broadcast for a shuffle join (the
    *    plan is otherwise unchanged).
    *  - hot-start positions: position-carrying grams (WordGramPosHashes)
    *    probe the broadcast map-side; only matched (doc, pos) rows — the
    *    hot hits themselves — ever shuffle, into a per-doc sorted list.
    *  - rebuild: one native O(words + spans) pass (ScrubSpans), map-only.
    * Returns (doc_id, n_hot_starts, clean_text).
    */
  def scrubHotSpans(docs: DataFrame, idCol: String, textCol: String,
                    n: Int, minDocs: Int): DataFrame = {
    import graft.plans.GraftFunctions.{word_gram_hashes, word_gram_pos_hashes, scrub_spans}
    val base = graft.core.Tables.ensureParallelism(docs)
    val hot = base
      .select(explode(word_gram_hashes(col(textCol), n)).as("h"))
      .groupBy("h").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDocs)
      .select("h")
    val starts = base
      .select(col(idCol).as("doc_id"),
        explode(word_gram_pos_hashes(col(textCol), n)).as("g"))
      .select(col("doc_id"), col("g.pos").as("pos"), col("g.h").as("h"))
      .join(broadcast(hot), "h")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("__starts"))
    docs.join(starts, docs(idCol) === starts("doc_id"), "left_outer")
      .select(docs(idCol).as("doc_id"),
        coalesce(size(col("__starts")), lit(0)).cast("bigint").as("n_hot_starts"),
        scrub_spans(col(textCol),
          coalesce(col("__starts"), typedLit(Array.empty[Int])), n).as("clean_text"))
  }

  /** CDC chunk-overlap near-dup pairs — the consumer content-defined
    * chunking exists for: flag two documents when they share >= minFrac
    * of the smaller one's distinct CDC chunks. Because chunk boundaries
    * are pure functions of local content (TextAnalysis.cdcChunks), the
    * overlap SURVIVES the insertions/deletions that shift every fixed
    * window — a prefix edit leaves every post-boundary chunk hash
    * intact, so an edited near-copy still collides on most chunks.
    *
    * Scale shape: chunks hash to md5 before anything wide, so shuffles
    * carry (hash, doc_id), never chunk text; set semantics per doc (a
    * chunk repeated in one doc counts once); hashes shared by more than
    * maxDf docs drop BEFORE the pair join via a broadcast anti-join on
    * the hot tail — boilerplate chunks are cost without discrimination
    * and fan out quadratically (the df-capped MinHash precedent). The
    * denominator keeps the FULL distinct-chunk count, so the cap can
    * only lower a fraction, never inflate one. Output
    * (id_a, id_b, n_shared, n_a, n_b, frac) with
    * frac = n_shared / least(n_a, n_b) — containment of the smaller
    * side, the asymmetric-length-robust choice. */
  def cdcOverlapPairs(docs: DataFrame, idCol: String, textCol: String,
                      boundaryNibbles: Int = 1, maxDf: Int = 100,
                      minFrac: Double = 0.5): DataFrame = {
    require(maxDf >= 2, s"maxDf must allow a pair, got $maxDf")
    require(minFrac > 0 && minFrac <= 1, s"minFrac in (0,1], got $minFrac")
    // The whole per-document half is ONE fused native projection
    // (CdcChunkHashSet: boundary scan + in-place span hashing + in-row
    // distinct): no split, no chunk-string rebuilds, no corpus-wide
    // DISTINCT exchange, and the per-doc chunk count rides along as
    // size(set). Pinned because the hot tail and both pair-join sides
    // read the exploded set (without it each subtree re-runs the scan).
    val ex = graft.core.Tables.ensureParallelism(docs)
      .select(col(idCol).as("doc_id"),
        graft.plans.GraftFunctions.cdc_chunk_hash_set(col(textCol), boundaryNibbles)
          .as("__hs"))
      .select(col("doc_id"), size(col("__hs")).cast("bigint").as("n"),
        explode(col("__hs")).as("h"))
      .transform(graft.core.Materialize.pin)
    val hot = ex.groupBy("h").agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDf).select("h")
    val cool = ex.join(broadcast(hot), Seq("h"), "left_anti")
    cool.as("a").join(cool.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      // n_a/n_b are constant within the group — min() carries them
      .agg(count(lit(1)).as("n_shared"),
        min(col("a.n")).as("n_a"), min(col("b.n")).as("n_b"))
      .select(col("id_a"), col("id_b"), col("n_shared"), col("n_a"), col("n_b"),
        (col("n_shared").cast("double") / least(col("n_a"), col("n_b"))).as("frac"))
      .filter(col("frac") >= minFrac)
  }

  /** Near-dup deduplication keeping the BEST document per duplicate
    * cluster instead of the least id — the production policy when a
    * quality score exists (keep the highest-quality member, drop its
    * near-copies). `score` is any per-document numeric column expression
    * over `docs` (e.g. TextAnalysis.qualityScore); ties break to the
    * lowest doc id, so the choice is deterministic. Scale: the winner
    * argmax is a partial-agg min over (negScore, id) structs keyed on the
    * component — only clustered docs (the near-dup slice, tiny vs the
    * corpus) ever aggregate, and the final keep is a broadcast-friendly
    * semi/anti join pair on ids. Docs in no cluster pass through. */
  def keepBestPerCluster(docs: DataFrame, pairs: DataFrame, idCol: String,
                         score: Column): DataFrame = {
    val comps = connectedComponents(pairs).withColumnRenamed("doc_id", idCol)
    val clustered = docs.join(comps, Seq(idCol))
    val winners = clustered
      .groupBy("component")
      .agg(min(struct((score * -1).as("ns"), col(idCol).as("id"))).as("w"))
      .select(col("w.id").as(idCol))
    val losers = comps.select(idCol)
      .join(winners, Seq(idCol), "left_anti")
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** In-DOCUMENT self-dedup at word n-gram granularity — the within-doc
    * half of exact-substring span removal (Lee et al. ACL'22 treat the
    * corpus; boilerplate also repeats INSIDE documents: headers, nav
    * blocks, chat-log echoes). Every occurrence of an n-gram after its
    * first in the same document becomes a scrub span; covered words are
    * removed by the same native ScrubSpans rebuild as scrubHotSpans.
    *
    * Scale shape: grams hash in-row (native WordGramPosHashes, zero-copy);
    * both aggregations key on (doc_id, 8-byte hash) and carry ints — text
    * never shuffles, and there is no hot-key risk because every key is
    * doc-scoped. A gram-hash collision within one doc scrubs a false span
    * with probability ~n_grams²/2⁶⁴ per doc — the oracle hash-match
    * enforces collision-freedom at test scale, same argument as the other
    * hashed dedup paths. Returns (doc_id, n_repeat_starts, clean_text). */
  def scrubRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                         n: Int): DataFrame = {
    import graft.plans.GraftFunctions.{word_gram_pos_hashes, scrub_spans}
    val base = graft.core.Tables.ensureParallelism(docs)
    val starts = base
      .select(col(idCol).as("doc_id"),
        explode(word_gram_pos_hashes(col(textCol), n)).as("g"))
      .select(col("doc_id"), col("g.pos").as("pos"), col("g.h").as("h"))
      .groupBy("doc_id", "h")
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
      .filter(size(col("ps")) >= 2)
      // all positions after the first occurrence are scrub starts
      .select(col("doc_id"), explode(expr("slice(ps, 2, size(ps) - 1)")).as("pos"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("__starts"))
    docs.join(starts, docs(idCol) === starts("doc_id"), "left_outer")
      .select(docs(idCol).as("doc_id"),
        coalesce(size(col("__starts")), lit(0)).cast("bigint").as("n_repeat_starts"),
        scrub_spans(col(textCol),
          coalesce(col("__starts"), typedLit(Array.empty[Int])), n).as("clean_text"))
  }

  /** Fuzzy benchmark contamination pairs: MinHash-LSH candidates between
    * the training corpus and a held-out eval set, verified by exact
    * n-gram Jaccard — catches paraphrased/lightly-edited benchmark
    * leakage that exact-gram decontamination (contaminationHits) misses
    * (the GPT-3/RefinedWeb fuzzy-decontamination shape).
    *
    * Scale shape: both sides sign independently (map-only fused towers);
    * the eval side is benchmark-sized, so ITS band table broadcasts and
    * candidates are band collisions only — train×train pairs never form
    * and the corpus never self-joins. Verification builds shingle sets
    * for the candidate slices alone (the eval set entire — it is tiny;
    * the train side via semi-join), so no text wider than the candidates
    * ever moves. Returns (doc_id, eval_id, jaccard) ≥ threshold. */
  def fuzzyContaminationPairs(train: DataFrame, evalDocs: DataFrame,
                              idCol: String, textCol: String, k: Int,
                              numHashes: Int, bandSize: Int,
                              threshold: Double): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val tb = signBands(train, idCol, textCol, k, numHashes, bandSize)
    val eb = signBands(evalDocs, idCol, textCol, k, numHashes, bandSize)
      .withColumnRenamed("doc_id", "eval_id")
    val cands = tb.join(broadcast(eb), "band")
      .select(col("doc_id"), col("eval_id")).distinct()
      .transform(graft.core.Materialize.pin)
    val shingleSet = (c: Column) => column(graft.plans.HashedShingleSet(expression(c), k))
    val tSets = graft.core.Tables.ensureParallelism(
        train.join(cands.select(col("doc_id").as("__cid")).distinct(),
          train(idCol) === col("__cid"), "left_semi"))
      .select(col(idCol).as("doc_id"), shingleSet(col(textCol)).as("sh_a"))
      .transform(graft.core.Materialize.pin)
    val eSets = evalDocs
      .select(col(idCol).as("eval_id"), shingleSet(col(textCol)).as("sh_b"))
    // early-exit merge: sound because the ONLY consumer of `common` is the
    // jaccard >= threshold filter below (exact count for every passing pair)
    val common = column(graft.plans.SortedIntersectCountAtLeast(
      expression(col("sh_a")), expression(col("sh_b")), threshold))
    cands
      .join(tSets, "doc_id")
      .join(broadcast(eSets), "eval_id")
      .withColumn("common", common)
      .select(col("doc_id"), col("eval_id"),
        (col("common") / (size(col("sh_a")) + size(col("sh_b")) - col("common")))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Fuzzy benchmark decontamination: drop every train document whose
    * exact n-gram Jaccard against ANY eval document reaches `threshold`
    * (candidates via MinHash-LSH banding — see fuzzyContaminationPairs).
    * Schema passes through; the anti-join side is the contaminated-id
    * set, which broadcasts. */
  def decontaminateFuzzy(train: DataFrame, evalDocs: DataFrame,
                         idCol: String, textCol: String, k: Int,
                         numHashes: Int, bandSize: Int,
                         threshold: Double): DataFrame = {
    val contaminated = fuzzyContaminationPairs(train, evalDocs, idCol, textCol,
        k, numHashes, bandSize, threshold)
      .select(col("doc_id").as(idCol)).distinct()
    train.join(broadcast(contaminated), Seq(idCol), "left_anti")
  }

  /** Per-document benchmark-overlap counts: distinct word n-grams of each
    * `train` document that also occur in `evalDocs` (the held-out
    * benchmark). Gram sets build in-row via the native WordGramHashSet
    * (xxhash64 longs, zero-copy); the eval side collapses to a distinct
    * 8-byte-key set and broadcasts; the corpus side is explode +
    * broadcast-hash probe — entirely map-side, so the only shuffle carries
    * one row per contaminated document.
    */
  def contaminationHits(train: DataFrame, evalDocs: DataFrame,
                        idCol: String, textCol: String, n: Int): DataFrame = {
    val evalGrams = evalDocs
      .select(explode(graft.plans.GraftFunctions.word_gram_hashes(col(textCol), n)).as("gram"))
      .distinct()
    train
      .select(col(idCol),
        graft.plans.GraftFunctions.word_gram_hashes(col(textCol), n).as("__gs"))
      .select(col(idCol), size(col("__gs")).cast("bigint").as("n_grams"),
        explode(col("__gs")).as("gram"))
      .join(broadcast(evalGrams), "gram")
      .groupBy(col(idCol), col("n_grams"))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Per-document benchmark-overlap FRACTION over EVERY train document —
    * the contamination measurement (GPT-3-appendix-style reporting) where
    * contaminationHits reports only docs with >= 1 hit: corpus-health
    * dashboards and threshold sweeps need the full distribution, zero
    * rows included. Still ONE corpus scan: gram hashes build in-row
    * (native WordGramHashSet), explode_outer keeps gram-less docs, the
    * eval gram set broadcasts as 8-byte keys, and the groupBy
    * partial-aggregates map-side to one row per document before the
    * shuffle. Output (id, n_grams, n_hits, overlap_frac); docs shorter
    * than n words report (0, 0, 0.0). */
  def overlapFractions(train: DataFrame, evalDocs: DataFrame,
                       idCol: String, textCol: String, n: Int): DataFrame = {
    val evalGrams = evalDocs
      .select(explode(graft.plans.GraftFunctions.word_gram_hashes(col(textCol), n)).as("gram"))
      .distinct()
      .withColumn("__hit", lit(1L))
    train
      .select(col(idCol),
        // coalesce: null text yields a null gram array, and non-ANSI
        // size(null) = -1 — without the fold to array() a gram-less doc
        // would report n_grams = -1 / overlap_frac = -0.0 instead of
        // the documented (0, 0, 0.0)
        coalesce(graft.plans.GraftFunctions.word_gram_hashes(col(textCol), n),
          array().cast("array<bigint>")).as("__gs"))
      .select(col(idCol), size(col("__gs")).cast("bigint").as("n_grams"),
        explode_outer(col("__gs")).as("gram"))
      .join(broadcast(evalGrams), Seq("gram"), "left_outer")
      .groupBy(col(idCol), col("n_grams"))
      .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))
      .withColumn("overlap_frac",
        when(col("n_grams") === 0, lit(0.0))
          .otherwise(col("n_hits").cast("double") / col("n_grams")))
  }

  /** Benchmark decontamination: drop every `train` document sharing at
    * least one word n-gram with `evalDocs`. Schema passes through
    * unchanged; the anti join's right side is the (tiny) contaminated-id
    * set, so it broadcasts.
    *
    * Existence-only plan: unlike contaminationHits (which must COUNT per
    * document), dropping needs no per-doc aggregation — the eval gram
    * set broadcasts un-distinct'ed (a semi probe is duplicate-
    * insensitive; per-doc gram sets are already distinct in-row, and a
    * benchmark suite is broadcast-small either way), the corpus side
    * left-semi's straight to contaminated ids, and the anti join
    * tolerates duplicates. The contaminated-ID side alone distincts
    * before broadcasting (see inline note) — that side is unbounded in
    * the worst case, and one tiny-id-set shuffle is the price of a
    * broadcast bounded by |contaminated docs| instead of |matching
    * occurrences|. */
  def decontaminate(train: DataFrame, evalDocs: DataFrame,
                    idCol: String, textCol: String, n: Int): DataFrame =
    train.join(broadcast(contaminatedIds(train, evalDocs, idCol, textCol, n)),
      Seq(idCol), "left_anti")

  /** The distinct ids of `train` documents sharing at least one word
    * n-gram with `evalDocs` — [[decontaminate]]'s existence-only probe,
    * for callers that keep the contaminated documents as a flag. */
  def contaminatedIds(train: DataFrame, evalDocs: DataFrame,
                      idCol: String, textCol: String, n: Int): DataFrame = {
    val evalGrams = evalDocs.select(
      explode(graft.plans.GraftFunctions.word_gram_hashes(col(textCol), n)).as("gram"))
    train
      .select(col(idCol), explode(graft.plans.GraftFunctions.word_gram_hashes(col(textCol), n)).as("gram"))
      .join(broadcast(evalGrams), Seq("gram"), "left_semi")
      .select(col(idCol))
      // distinct before the broadcast: the semi-join keeps one row per
      // MATCHING GRAM per doc, and unlike the eval side (bounded by the
      // benchmark suite) this side scales with total train-side matching
      // occurrences — a heavily-contaminated shard (verbatim benchmark
      // copies) would inflate the driver collect far beyond the doc set.
      // One shuffle over a tiny id set caps the broadcast at |docs|.
      .distinct()
  }
}
