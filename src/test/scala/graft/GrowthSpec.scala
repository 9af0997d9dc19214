package graft

import graft.core.Tables.t
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The 100 TB growth claims MEASURED, not argued from plan inspection:
  * replicate the fixture corpus 1x/4x/10x as disjoint alphabet-rotated
  * copies and assert that
  *
  *  (a) LSH candidate count and verified near-dup pairs through
  *      [[graft.operators.Dedup.lshNearDups]] grow ~linearly (a silently
  *      quadratic constant would read ~16x at 4x and ~100x at 10x);
  *  (b) connected-components label-propagation rounds stay O(log n) —
  *      flat across corpus replication, logarithmic on adversarial
  *      chains;
  *  (c) the bucketed incremental-dedup probe shuffles O(batch) records
  *      no matter how large the persisted index side grows;
  *  (d) a phrase probe against the term-bucketed positional index
  *      shuffles O(phrase postings), not O(index);
  *  (e) IVF candidate scoring grows linearly at fixed cells and stays
  *      ~flat when cells scale with the corpus (the deployment path).
  *
  * Each test FAILS if growth goes superlinear beyond tolerance. Wall
  * times are recorded (with a catastrophic-only bound — VM noise makes
  * tight time ratios flaky); the deterministic row/round/record counts
  * are the regression guard.
  *
  * Replication trick: copy i tags every word with a copy-unique
  * character on BOTH ends and offsets doc ids by a stride. Base words
  * are at most 8 chars, so every char-9-gram of a tagged copy contains
  * its tag — copies are shingle-DISJOINT by construction, and any two
  * copies are isomorphic via a tag-character substitution, so every
  * copy's internal exact-Jaccard pair structure (and its shingle
  * document-frequency distribution, hence dfCap behavior) is identical.
  * The replicated corpus therefore models a k-times-larger corpus with
  * the same internal duplication rate — the growth model the 100 TB
  * claim is about. (An earlier alphabet-rotation scheme left
  * rotation-related vocabulary words colliding across copies, which
  * planted exactly the quadratic candidate constant this spec exists to
  * catch — the measured wobble bounds below are calibrated against the
  * disjoint construction.)
  */
class GrowthSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.01"
  private val Stride = 1000000L

  private def withConf[A](pairs: (String, String)*)(body: => A): A = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { pairs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Tag every word with `tag` on both ends: "ab cd" -> "0ab0 0cd0".
    * With base words <= 8 chars every 9-char window contains the tag
    * (windows inside a <= 10-char tagged word start or end on a tag;
    * windows touching a space include an adjacent word's end tag). */
  private def tagged(c: Column, tag: String): Column =
    concat(lit(tag), regexp_replace(c, " ", s"$tag $tag"), lit(tag))

  /** `copies` shingle-disjoint tagged copies of the base corpus
    * (copy i's tag is the digit i; callers' extra corpora use letter
    * tags absent from the 'a'..'y' fixture alphabet). */
  private def replicated(copies: Int): DataFrame = {
    require(copies <= 10, "digit tags cover 10 copies")
    val base = t(spark, sf, "documents").select(col("doc_id"), col("text"))
    (0 until copies).map { i =>
      base.select((col("doc_id") + lit(i * Stride)).as("doc_id"),
        tagged(col("text"), i.toString).as("text"))
    }.reduce(_ unionAll _)
  }

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Sum of "shuffle records written" across every exchange the plan
    * executed — the deterministic cost the O(batch) probe claim bounds. */
  private def shuffledRecords(df: DataFrame): Long = {
    // run THIS df's own physical plan (df.count() would build and run a
    // separate aggregate plan, leaving these metrics untouched)
    df.queryExecution.toRdd.count()
    df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.metrics.get("shuffleRecordsWritten").map(_.value).getOrElse(0L)
    }.sum
  }

  test("(a) LSH candidates and verified pairs grow ~linearly under 1x/4x/10x replication") {
    // The production near-dup config (nearDupPairs / q_corpus_clean):
    // char-9-grams, 8 hashes, 4 two-hash bands, j >= 0.5, dfCap 20.
    def candidates(corpus: DataFrame): Long =
      graft.operators.Dedup.candidatesFromBands(
        graft.operators.Dedup.signBands(corpus, "doc_id", "text",
          k = 9, numHashes = 8, bandSize = 2, dfCap = 20)).count()
    def pairs(corpus: DataFrame): DataFrame =
      graft.operators.Dedup.lshNearDups(corpus, "doc_id", "text",
        k = 9, numHashes = 8, bandSize = 2, threshold = 0.5, dfCap = 20)

    val scales = Seq(1, 4, 10)
    val measured = scales.map { s =>
      val corpus = replicated(s)
      val (c, tc) = timed(candidates(corpus))
      val (p, tp) = timed(pairs(corpus).count())
      info(f"scale ${s}x: candidates=$c (${tc}%.2fs) pairs=$p (${tp}%.2fs)")
      (s, c, p, tc + tp)
    }
    val Seq((_, c1, p1, t1), (_, c4, p4, _), (_, c10, p10, t10)) = measured
    assert(c1 > 0 && p1 > 0, "base corpus must have candidates and pairs")
    // candidate growth: linear within 1.5x tolerance (+ a small absolute
    // cushion for chance cross-copy band collisions); quadratic growth
    // would overshoot these bounds by ~6x at 4x scale and ~7x at 10x
    assert(c4 <= 4 * c1 * 3 / 2 + 50, s"candidates at 4x superlinear: $c4 vs base $c1")
    assert(c10 <= 10 * c1 * 3 / 2 + 50, s"candidates at 10x superlinear: $c10 vs base $c1")
    // and at least ~linear from below (each copy must contribute)
    assert(c4 >= 4 * c1 / 2, s"candidates at 4x collapsed: $c4 vs base $c1")
    assert(c10 >= 10 * c1 / 2, s"candidates at 10x collapsed: $c10 vs base $c1")
    // verified pairs: every copy carries the base structure bijectively,
    // so growth is linear within the per-copy LSH recall wobble
    assert(p4 <= 4 * p1 * 3 / 2 && p4 >= 4 * p1 / 2, s"pairs at 4x non-linear: $p4 vs base $p1")
    assert(p10 <= 10 * p1 * 3 / 2 && p10 >= 10 * p1 / 2, s"pairs at 10x non-linear: $p10 vs base $p1")
    // wall time: catastrophic-only guard (quadratic work at 10x would be
    // ~100x base; VM noise makes anything tighter flaky)
    assert(t10 <= math.max(t1, 2.0) * 30, f"10x wall time blew up: $t10%.1fs vs base $t1%.1fs")
  }

  test("(b) connected-components rounds stay O(log n): flat under replication, logarithmic on chains") {
    import spark.implicits._
    // Replicated near-dup graphs: component structure is per-copy, so
    // rounds must NOT grow with corpus scale.
    def ccRounds(pairs: DataFrame): Int =
      graft.operators.Dedup.connectedComponentsWithRounds(pairs)._2
    def nearDupPairs(s: Int): DataFrame =
      graft.operators.Dedup.lshNearDups(replicated(s), "doc_id", "text",
        k = 9, numHashes = 8, bandSize = 2, threshold = 0.5, dfCap = 20)
    val r1 = ccRounds(nearDupPairs(1))
    val r10 = ccRounds(nearDupPairs(10))
    info(s"cc rounds on near-dup graph: 1x=$r1 10x=$r10")
    assert(r10 <= r1 + 1, s"replication must not deepen components: 1x=$r1 10x=$r10")

    // Adversarial chains (path graphs — worst-case label depth): pointer
    // doubling keeps rounds logarithmic, so 10x the chain length buys
    // ~log2(10) ~ 3-4 extra rounds, never 10x the rounds.
    def chain(n: Int): DataFrame =
      (0 until n - 1).map(i => (i.toLong, i + 1L)).toDF("doc_a", "doc_b")
    val (labels64, c64) = graft.operators.Dedup.connectedComponentsWithRounds(chain(64))
    val (labels640, c640) = graft.operators.Dedup.connectedComponentsWithRounds(chain(640), maxIter = 30)
    info(s"cc rounds on chains: len64=$c64 len640=$c640")
    // correctness first: one component each, rooted at 0
    assert(labels64.select(countDistinct(col("component"))).as[Long].head() == 1L)
    assert(labels640.select(countDistinct(col("component"))).as[Long].head() == 1L)
    assert(c640 <= c64 + 5, s"chain rounds grew super-logarithmically: 64->$c64, 640->$c640")
    assert(c640 <= 15, s"chain-640 rounds not O(log n): $c640")
  }

  test("(d) bucket-pruned phrase probe: shuffle stays O(phrase postings) as the index grows 4x") {
    // The retrieval growth claim: against a term-bucketed positional
    // index, a phrase probe's pre-shuffle term filter prunes everything
    // but the phrase's own postings — so while the pruned SCAN grows
    // ~linearly with the index (bucket contents do), the shuffled volume
    // is the phrase's posting count, which replication leaves UNCHANGED
    // (tagged copies contain different terms by construction).
    val db = "graft_growth_phrase"
    val loc = java.nio.file.Files.createTempDirectory("growth_ph").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
    try {
      withConf(
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false") {
        // copy-0's rendering of a phrase present in the base corpus
        val phrase = Seq("big", "order", "scan").map(w => s"0${w}0").mkString(" ")
        def probeRecords(indexScale: Int, table: String): (Long, Long) = {
          graft.operators.TextAnalysis.positionalPostings(
              replicated(indexScale), "doc_id", "text")
            .write.bucketBy(8, "term").sortBy("term")
            .mode("overwrite").saveAsTable(s"$db.$table")
          val probe = graft.operators.TextAnalysis.phraseSearchFromPostings(
            spark.table(s"$db.$table"), "doc_id", phrase)
          val p = probe.queryExecution.executedPlan.toString
          assert("SelectedBucketsCount: [1-3] out of 8".r.findAllIn(p).size == 1,
            s"probe must stay bucket-pruned at ${indexScale}x:\n$p")
          (shuffledRecords(probe), probe.count())
        }
        val (sr1, m1) = probeRecords(1, "post_1x")
        val (sr4, m4) = probeRecords(4, "post_4x")
        info(s"phrase probe shuffle: 1x index $sr1 records, 4x index $sr4; matches $m1/$m4")
        assert(m1 > 0 && m4 == m1, "replication must not change copy-0's matches")
        assert(sr1 > 0, "expected the phrase postings to shuffle")
        assert(sr4 <= sr1 * 6 / 5 + 100,
          s"probe shuffle grew with the INDEX side: $sr1 -> $sr4 records")
      }
    } finally spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
  }

  test("(c) bucketed incremental probe shuffles O(batch) records as the index grows 10x") {
    // The production composition: the persisted band index accretes for
    // months (the 10x side); a daily batch probes it. Bucketing the index
    // by band at write time keeps it IN PLACE — the only runtime band
    // exchange is the O(batch) side, so shuffled records must not grow
    // with the index.
    val db = "graft_growth_spec"
    val loc = java.nio.file.Files.createTempDirectory("growth_wh").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
    try {
      withConf(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false") {
        // the SAME fixed batch probes both index sizes: the base corpus
        // rotated by 13 — a copy no index contains
        val base = t(spark, sf, "documents").select(col("doc_id"), col("text"))
        val batch = base.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + lit(13 * Stride)).as("doc_id"),
            tagged(col("text"), "x").as("text"))
        val batchBands = graft.operators.Dedup.signBands(batch, "doc_id", "text",
          k = 9, numHashes = 8, bandSize = 2)

        def probeRecords(indexScale: Int, table: String): (Long, Long, Double) = {
          graft.operators.Dedup.signBands(replicated(indexScale), "doc_id", "text",
              k = 9, numHashes = 8, bandSize = 2)
            .write.bucketBy(4, "band").sortBy("band")
            .mode("overwrite").saveAsTable(s"$db.$table")
          val idx = spark.table(s"$db.$table")
          val probe = batchBands
            .join(idx.withColumnRenamed("doc_id", "corpus_doc"), "band")
            .filter(col("doc_id") =!= col("corpus_doc"))
          val (recs, secs) = timed(shuffledRecords(probe))
          (recs, idx.count(), secs)
        }

        val (sr1, n1, t1) = probeRecords(1, "idx_1x")
        val (sr10, n10, t10) = probeRecords(10, "idx_10x")
        info(f"probe vs 1x index ($n1 rows): shuffled $sr1 records (${t1}%.2fs)")
        info(f"probe vs 10x index ($n10 rows): shuffled $sr10 records (${t10}%.2fs)")
        assert(n10 >= 9 * n1, "index replication failed to grow the index")
        assert(sr1 > 0, "expected the batch side to shuffle")
        // O(batch): the shuffled volume is the batch's bands both times —
        // a 10x index must not widen the exchange
        assert(sr10 <= sr1 * 6 / 5 + 100,
          s"probe shuffle grew with the INDEX side: $sr1 -> $sr10 records")
      }
    } finally spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
  }

  test("(e) IVF probe cost: linear at fixed cells, ~flat when cells scale with the corpus") {
    // The similarity-search growth claim, measured off ivfProbeSweep's
    // n_scored (the candidate distance evaluations a query triggers):
    //  - fixed (nCells, nProbe): scored candidates grow ~linearly with
    //    the corpus and stay a bounded FRACTION of it (the coarse
    //    quantizer prunes the same share at every scale — brute force
    //    scores the whole corpus, a broken probe would too);
    //  - the deployment scale path (nCells grown with the corpus so
    //    cells keep constant size): per-query scored work stays ~flat —
    //    4x the index at 4x the cells costs what 1x cost.
    // Replication = identical vectors under offset ids: the corpus
    // distribution is unchanged, so cell geometry is scale-comparable.
    import graft.operators.Similarity
    val baseEmb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    def embAt(copies: Int): DataFrame =
      (0 until copies).map(i => baseEmb.select(
        (col("vec_id") + lit(i * Stride)).as("vec_id"), col("embedding")))
        .reduce(_ unionAll _)
    val queries = baseEmb.filter(col("vec_id") < 20)
    val nQ = queries.count()

    def scored(corpus: DataFrame, n: Long, nCells: Int, nProbe: Int): (Long, Double) = {
      val exact = Similarity.bruteForceL2TopK(corpus, queries, "vec_id", "embedding", k = 10)
      val row = Similarity.ivfProbeSweep(corpus, queries, "vec_id", "embedding",
          nCells = nCells, nProbes = Seq(nProbe), k = 10, exact = exact)
        .select("n_scored", "recall_micro").head()
      info(f"n=$n cells=$nCells probe=$nProbe: scored=${row.getLong(0)} " +
        f"(${row.getLong(0).toDouble / (nQ * n)}%.3f of brute force) " +
        f"recall=${row.getDouble(1)}%.2f")
      (row.getLong(0), row.getDouble(1))
    }

    val n1 = baseEmb.count()
    val (s1, r1) = scored(embAt(1), n1, nCells = 25, nProbe = 3)
    val (s4fixed, _) = scored(embAt(4), 4 * n1, nCells = 25, nProbe = 3)
    val (s4scaled, r4) = scored(embAt(4), 4 * n1, nCells = 100, nProbe = 3)
    assert(s1 > 0 && r1 > 0, "base sweep must score candidates and find hits")
    // pruning holds at both scales: the probe touches a bounded fraction
    // of the corpus (expected ~nProbe/nCells = 0.12; brute force = 1.0)
    assert(s1 <= nQ * n1 * 2 / 5, s"1x probe stopped pruning: $s1 of ${nQ * n1}")
    assert(s4fixed <= nQ * 4 * n1 * 2 / 5,
      s"4x probe stopped pruning: $s4fixed of ${nQ * 4 * n1}")
    // fixed cells: linear growth (cell-size wobble from fresh hash-rank
    // seeds allows [2x, 8x]; a quadratic constant would read ~16x)
    assert(s4fixed <= 8 * s1 && s4fixed >= 2 * s1,
      s"fixed-cell scored count non-linear: $s1 -> $s4fixed")
    // scaled cells: per-query cost ~flat (seed-sample duplicate vectors
    // leave some cells empty, so allow 3x headroom — never 4x-linear)
    assert(s4scaled <= 3 * s1 + 100,
      s"scaled-cells probe cost grew with the corpus: $s1 -> $s4scaled")
    assert(r4 > 0, "scaled-cells sweep must still find ground-truth hits")
  }

  test("(f) CDC chunk-overlap pairs grow ~linearly under 1x/4x/10x replication") {
    // The newest quadratic-risk surface: cdcOverlapPairs' (hash, doc)
    // self-join. Tagged copies are chunk-DISJOINT (every CDC chunk is a
    // span of the tagged text, so it contains tag characters and can
    // never equal another copy's span), so cross-copy collisions are
    // impossible and a k-times corpus must cost ~k times — a silently
    // quadratic constant (e.g. the maxDf cap not pruning the hot tail
    // before the join) would read ~16x at 4x. Unlike the MinHash axis,
    // copies are NOT boundary-isomorphic (the gear-hash boundary test
    // sees the tag bytes), so per-copy pair counts wobble — the bounds
    // allow it; quadratic growth is far outside them.
    def run(s: Int): (Long, Long, Double) = {
      val df = graft.operators.Dedup.cdcOverlapPairs(replicated(s),
        "doc_id", "text", boundaryNibbles = 1, maxDf = 100, minFrac = 0.3)
      val ((recs, n), secs) = timed {
        val r = shuffledRecords(df)
        (r, df.count())
      }
      info(f"scale ${s}x: pairs=$n shuffled=$recs records (${secs}%.2fs)")
      (n, recs, secs)
    }
    val (p1, sr1, t1) = run(1)
    val (p4, sr4, _) = run(4)
    val (p10, sr10, t10) = run(10)
    assert(p1 > 0, "base corpus must have chunk-overlap pairs")
    // pair growth: linear within boundary-wobble tolerance — quadratic
    // would overshoot ~4x at 4x scale and ~7x at 10x
    assert(p4 <= 4 * p1 * 2 && p4 >= 4 * p1 / 3, s"pairs at 4x non-linear: $p4 vs base $p1")
    assert(p10 <= 10 * p1 * 2 && p10 >= 10 * p1 / 3, s"pairs at 10x non-linear: $p10 vs base $p1")
    // the shuffles carry (hash, doc) rows and group outputs — O(chunks),
    // so shuffled records must scale ~linearly too, never quadratically
    assert(sr10 <= 10 * sr1 * 2 + 1000, s"shuffle at 10x superlinear: $sr10 vs base $sr1")
    assert(t10 <= math.max(t1, 2.0) * 30, f"10x wall time blew up: $t10%.1fs vs base $t1%.1fs")
  }

  test("(g) binary-IVF probe cost: linear at fixed cells, ~flat when cells scale with the corpus") {
    // The cell-pruned binary path's deployment claim, measured off the
    // stage-1 candidate count (the Hamming evaluations a query batch
    // triggers): fixed (nCells, nProbe) prunes the same FRACTION at
    // every scale (linear growth, bounded share of brute force), and
    // cells grown with the corpus hold per-query cost ~flat — the
    // measurement that makes 1-bit codes deployable at 100 TB, not just
    // compact. Same replication + wobble tolerances as axis (e).
    import graft.operators.Similarity
    val baseEmb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    def embAt(copies: Int): DataFrame =
      (0 until copies).map(i => baseEmb.select(
        (col("vec_id") + lit(i * Stride)).as("vec_id"), col("embedding")))
        .reduce(_ unionAll _)
    val queries = baseEmb.filter(col("vec_id") < 20)
    val nQ = queries.count()
    def scored(corpus: DataFrame, n: Long, nCells: Int, nProbe: Int): Long = {
      val cent = Similarity.coarseCentroids(corpus, "vec_id", "embedding", nCells)
      val index = Similarity.binaryIvfIndexBuild(corpus, "vec_id", "embedding",
        dims = 64, cent)
      val c = Similarity.binaryIvfCandidates(index, queries, "vec_id",
        "embedding", dims = 64, cent, nProbe).count()
      info(f"n=$n cells=$nCells probe=$nProbe: scored=$c " +
        f"(${c.toDouble / (nQ * n)}%.3f of a flat scan)")
      c
    }
    val n1 = baseEmb.count()
    val s1 = scored(embAt(1), n1, nCells = 25, nProbe = 3)
    val s4fixed = scored(embAt(4), 4 * n1, nCells = 25, nProbe = 3)
    val s4scaled = scored(embAt(4), 4 * n1, nCells = 100, nProbe = 3)
    assert(s1 > 0, "base probe must score candidates")
    // pruning holds at both scales (expected ~nProbe/nCells = 0.12 of
    // the flat scan's nQ x n)
    assert(s1 <= nQ * n1 * 2 / 5, s"1x probe stopped pruning: $s1 of ${nQ * n1}")
    assert(s4fixed <= nQ * 4 * n1 * 2 / 5,
      s"4x probe stopped pruning: $s4fixed of ${nQ * 4 * n1}")
    // fixed cells: linear growth (cell-size wobble from fresh hash-rank
    // seeds allows [2x, 8x]; a quadratic constant would read ~16x)
    assert(s4fixed <= 8 * s1 && s4fixed >= 2 * s1,
      s"fixed-cell scored count non-linear: $s1 -> $s4fixed")
    // scaled cells: per-query cost ~flat — the 100 TB deployment rule
    assert(s4scaled <= 3 * s1 + 100,
      s"scaled-cells probe cost grew with the corpus: $s1 -> $s4scaled")
  }

  test("(h) flat binary probe: shortlist exchange and rerank stay O(shortlist x queries) as the index grows 10x") {
    // The flat probe's stage-2 claim, measured: the Hamming fold runs
    // map-side under a bounded-heap partial top-k, so the per-query
    // exchange carries at most partitions x shortlist rows and the
    // rerank input is EXACTLY shortlist x queries — however large the
    // index grows. (Stage 1's scan is deliberately O(corpus) — that is
    // the flat-index trade axis (g) closes with cells.) Hash-partitioned
    // exchanges only: the ensureParallelism round-robin spread IS
    // corpus-sized by design and proves nothing about the probe.
    import graft.operators.Similarity
    val baseEmb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    def embAt(copies: Int): DataFrame =
      (0 until copies).map(i => baseEmb.select(
        (col("vec_id") + lit(i * Stride)).as("vec_id"), col("embedding")))
        .reduce(_ unionAll _)
    val queries = baseEmb.filter(col("vec_id") < 5)
    def hashShuffled(df: DataFrame): Long = {
      df.queryExecution.toRdd.count()
      df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.outputPartitioning.isInstanceOf[
              org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] =>
          e.metrics.get("shuffleRecordsWritten").map(_.value).getOrElse(0L)
      }.sum
    }
    def shortlistAt(scale: Int): (Long, Long) = {
      val corpus = embAt(scale)
      val codes = Similarity.binaryQuantize(corpus, "vec_id", "embedding", 64)
      val sl = Similarity.binaryShortlist(codes, queries, "vec_id", "embedding",
        dims = 64, shortlist = 20)
      val recs = hashShuffled(sl)
      val n = sl.count()
      info(s"index ${scale}x: shortlist rows=$n, hash-shuffled=$recs records")
      (n, recs)
    }
    // AQE's AdaptiveSparkPlanExec hides the executed exchanges from
    // collect(); the claim is about the static plan's exchange volume
    val (n1, sr1, n10, sr10) = withConf("spark.sql.adaptive.enabled" -> "false") {
      val (a, b) = shortlistAt(1)
      val (c, d) = shortlistAt(10)
      (a, b, c, d)
    }
    // rerank input is exactly shortlist x queries at BOTH scales
    assert(n1 == 20L * 5 && n10 == 20L * 5,
      s"shortlist must stay fixed at shortlist x queries: $n1 / $n10")
    assert(sr1 > 0, "expected the shortlist window to exchange partials")
    // the exchange is bounded by partitions x shortlist x queries —
    // growing the index 10x must not widen it beyond partial-heap noise
    assert(sr10 <= sr1 * 2 + 100,
      s"shortlist exchange grew with the index: $sr1 -> $sr10 records")
  }

  test("(i) quantizer drift cell stats: hash exchange stays O(cells x partitions) as the corpus grows 10x") {
    // The drift monitor's scale claim, measured: the assignment is in-row
    // (argmin over the one-row broadcast centroid table) and the single
    // hash exchange carries per-partition aggregation PARTIALS — at most
    // partitions x nCells rows whatever the corpus size. A regression
    // that shuffled assigned rows before aggregating would read ~10x
    // here. Hash-partitioned exchanges only: the ensureParallelism
    // round-robin spread is corpus-sized by design.
    import graft.operators.Similarity
    val baseEmb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    def embAt(copies: Int): DataFrame =
      (0 until copies).map(i => baseEmb.select(
        (col("vec_id") + lit(i * Stride)).as("vec_id"), col("embedding")))
        .reduce(_ unionAll _)
    val cent = Similarity.coarseCentroids(baseEmb, "vec_id", "embedding",
      nCells = 8)
    def hashShuffled(df: DataFrame): Long = {
      df.queryExecution.toRdd.count()
      df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.outputPartitioning.isInstanceOf[
              org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] =>
          e.metrics.get("shuffleRecordsWritten").map(_.value).getOrElse(0L)
      }.sum
    }
    def recsAt(scale: Int): (Long, Long) = {
      val stats = Similarity.quantizerCellStats(embAt(scale), "embedding", cent)
      val recs = hashShuffled(stats)
      val n = stats.count()
      info(s"corpus ${scale}x: cell rows=$n, hash-shuffled=$recs records")
      (n, recs)
    }
    val (n1, r1, n10, r10) = withConf("spark.sql.adaptive.enabled" -> "false") {
      val (a, b) = recsAt(1)
      val (c, d) = recsAt(10)
      (a, b, c, d)
    }
    // every cell occupied at both scales; the output never widens
    assert(n1 == 8L && n10 == 8L, s"expected 8 cell rows: $n1 / $n10")
    assert(r1 > 0, "expected the cell aggregation to exchange partials")
    // partials are bounded by partitions x cells — corpus-independent
    assert(r10 <= r1 * 2 + 100,
      s"cell-stats exchange grew with the corpus: $r1 -> $r10 records")
  }

  test("(k) codebook drift report: total shuffle stays O(cells x partitions) as the corpus grows 10x") {
    // The PQ drift monitor's scale claim, measured: the shared driftReport
    // core computes assignment + coarse error + residual-ADC error in ONE
    // in-row projection (argmin cell, quantized L2, fused min-quantized-L2
    // kernel against the broadcast codebook), so the only data-sized
    // exchange is the (side, cell) aggregation's partials — bounded by
    // partitions x 2 x nCells whatever the corpus size. A regression that
    // shuffled residuals (or exploded subvectors) before aggregating would
    // read ~10x here. The report pins an intermediate (a separate eager
    // job), so plan-tree metrics miss its stages — a listener sums shuffle
    // WRITE records across every job the report triggers instead; inputs
    // are pre-pinned so the ensureParallelism round-robin spread (corpus-
    // sized by design) stays outside the measurement.
    import graft.operators.Similarity
    val baseEmb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .transform(graft.core.Materialize.pin)
    def embAt(copies: Int): DataFrame =
      (0 until copies).map(i => baseEmb.select(
        (col("vec_id") + lit(i * Stride)).as("vec_id"), col("embedding")))
        .reduce(_ unionAll _)
        .transform(graft.core.Materialize.pin)
    val cent = Similarity.coarseCentroids(baseEmb, "vec_id", "embedding",
      nCells = 8).transform(graft.core.Materialize.pin)
    val cbP = Similarity.ivfPqResidualBuild(baseEmb, "vec_id", "embedding",
      nCells = 8, m = 8, ksub = 8, iters = 1)._1
      .transform(graft.core.Materialize.pin)
    def shuffledDuring(thunk: => Unit): Long = {
      val acc = new java.util.concurrent.atomic.AtomicLong
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          acc.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        thunk
        // listener delivery is async: poll until the counter stabilizes
        var last = -1L; var same = 0
        while (same < 5) {
          Thread.sleep(100)
          val cur = acc.get
          if (cur == last) same += 1 else { same = 0; last = cur }
        }
        acc.get
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    def recsAt(cur: DataFrame, scale: Int): Long = {
      val recs = shuffledDuring {
        Similarity.codebookDriftScenarios(Seq(("", baseEmb, cur)), "embedding", cent, cbP,
            m = 8, maxTvd = 0.1, maxQerrRatio = 1.25, maxResidRatio = 1.25)
          .collect()
        ()
      }
      info(s"current frame ${scale}x: shuffled=$recs records across all jobs")
      recs
    }
    // maxPartitionBytes=1 makes ensureParallelism's metadata estimate see
    // "already parallel" — its round-robin spread is corpus-sized by
    // design and proves nothing about the aggregation being measured
    val (r1, r10) = withConf("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.files.maxPartitionBytes" -> "1") {
      (recsAt(embAt(1), 1), recsAt(embAt(10), 10))
    }
    assert(r1 > 0, "expected the drift aggregation to exchange partials")
    assert(r10 <= r1 * 2 + 100,
      s"drift-report shuffle grew with the corpus: $r1 -> $r10 records")
  }

  test("(j) hot-cell skew: a concentrated corpus balloons stage-1 probe cost; max_cell_share names it first") {
    // The cell-pruned probe's cost model assumes balanced cells: stage-1
    // n_cand ~ nProbe/nCells of the corpus. A drifted (or naturally
    // clustered) corpus concentrates codes into few cells, and ONE hot
    // probed cell degrades n_cand toward the flat scan — a cost cliff
    // recall metrics never see. This axis measures the cliff on a
    // planted 80%-one-mode corpus AND asserts the drift report's
    // max_cell_share column names it, so the monitor pages before a
    // deployment discovers the regression as probe latency.
    import graft.operators.Similarity
    val baseEmb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // collapse 80% of the corpus into one tight mode around vector 0
    // (deterministic: v' = mode + 0.01 * (v - mode)); the remaining 20%
    // keeps its day-0 spread
    val mode = baseEmb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>").as("mv"))
    val concentrated = baseEmb.crossJoin(broadcast(mode))
      .select(col("vec_id"),
        when(col("vec_id") % 5 === 0, col("embedding").cast("array<double>"))
          .otherwise(zip_with(col("embedding").cast("array<double>"), col("mv"),
            (a, b) => b + (a - b) * lit(0.01)))
          .as("embedding"))
    // day-0 quantizer, trained on the BALANCED corpus — pinned, as deployed
    val cent = Similarity.coarseCentroids(baseEmb, "vec_id", "embedding",
      nCells = 16)
    val qIds = Seq(1L, 2L, 3L, 4L, 6L) // mode members after the collapse
    def nCand(corpus: DataFrame): Long = {
      val index = Similarity.binaryIvfIndexBuild(corpus, "vec_id", "embedding",
        dims = 64, cent)
      Similarity.binaryIvfCandidates(index,
        corpus.filter(col("vec_id").isin(qIds: _*)),
        "vec_id", "embedding", dims = 64, cent, nProbe = 2).count()
    }
    val balanced = nCand(baseEmb)
    val hot = nCand(concentrated)
    info(s"stage-1 candidates: balanced=$balanced concentrated=$hot")
    assert(balanced > 0, "balanced probe must score candidates")
    // the cliff is real: mode queries probing the hot cell score a large
    // multiple of the balanced cost at the SAME (nCells, nProbe, |corpus|)
    assert(hot >= 3 * balanced,
      s"expected the hot cell to balloon stage-1 cost: $balanced -> $hot")
    // ...and the monitor names it BEFORE the probe feels it: the drift
    // report against the day-0 baseline reads the concentration directly
    import spark.implicits._
    val (shareBase, shareHot, alarm) = Similarity.quantizerDriftScenarios(
        Seq(("", baseEmb, concentrated)), "embedding", cent,
        maxTvd = 0.1, maxQerrRatio = 1.25)
      .select(col("max_cell_share"), col("max_cell_share"), col("drift_alarm"))
      .as[(Double, Double, Boolean)].head() match {
        case (_, s, a) =>
          val b = Similarity.quantizerDriftScenarios(Seq(("", baseEmb, baseEmb)), "embedding",
              cent, maxTvd = 0.1, maxQerrRatio = 1.25)
            .select(col("max_cell_share")).as[Double].head()
          (b, s, a)
      }
    info(f"max_cell_share: balanced=$shareBase%.3f concentrated=$shareHot%.3f")
    assert(shareHot >= 0.7, s"hot-cell share must expose the mode: $shareHot")
    assert(shareBase <= 0.4, s"balanced corpus should spread: $shareBase")
    assert(alarm, "an 80%-one-mode corpus must page the drift monitor")
  }

  test("(l) hot-cell split remediation: O(hot) append, stage-1 cost restored, skew axis reads quiet(er)") {
    // Axis (j) measured the cliff; this axis measures the REMEDIAL's two
    // scale claims. (1) Cost: the split appends exactly the hot cell's
    // rows — O(hot mass), never the O(corpus) retrain re-encode — and
    // rewrites zero committed rows (the parent's copies go dead by leaf
    // arithmetic, not by I/O). (2) Effect: mode queries that probed the
    // ONE hot cell now rank its children and probe only the nearest —
    // stage-1 n_cand drops back toward the balanced cost at the same
    // nProbe, and max_cell_share reads the post-split occupancy.
    import graft.operators.Similarity
    import spark.implicits._
    val baseEmb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val mode = baseEmb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>").as("mv"))
    val concentrated = baseEmb.crossJoin(broadcast(mode))
      .select(col("vec_id"),
        when(col("vec_id") % 5 === 0, col("embedding").cast("array<double>"))
          .otherwise(zip_with(col("embedding").cast("array<double>"), col("mv"),
            (a, b) => b + (a - b) * lit(0.01)))
          .as("embedding"))
    val cent = Similarity.coarseCentroids(baseEmb, "vec_id", "embedding",
        nCells = 16)
      .transform(graft.core.Materialize.pin)
    val index = Similarity.binaryIvfIndexBuild(concentrated, "vec_id",
        "embedding", dims = 64, cent)
      .transform(graft.core.Materialize.pin)
    val total = index.count()
    val hotMass = index.groupBy("cell").count()
      .agg(max(col("count"))).as[Long].head()
    val qIds = Seq(1L, 2L, 3L, 4L, 6L) // mode members after the collapse
    val queries = concentrated.filter(col("vec_id").isin(qIds: _*))
    def nCand(idx: DataFrame, quant: DataFrame): Long =
      Similarity.binaryIvfCandidates(
        idx.select(col("vec_id"), col("cell"), col("words")),
        queries, "vec_id", "embedding", dims = 64, quant, nProbe = 2).count()
    val before = nCand(index, cent)

    val (tree, rel0) = Similarity.splitHotCells(index, "vec_id", "embedding",
      cent, maxShare = 0.5, branch = 4)
    val rel = rel0.transform(graft.core.Materialize.pin)
    // (1) the append is the hot mass, not the corpus
    assert(rel.count() == hotMass,
      s"split must append exactly the hot rows: ${rel.count()} vs $hotMass")
    assert(hotMass < total, "fixture sanity: the mode is not the whole corpus")
    // the probe path reads (old epochs + split epoch) with ZERO rewrites:
    // dead parent copies stay on disk, leaf pruning hides them
    val union = index.unionByName(rel)
    val after = nCand(union, tree)
    info(s"stage-1 candidates at nProbe=2: before=$before after=$after " +
      s"(hot mass $hotMass of $total)")
    // (2) mode queries now probe ~2 of 4 children instead of the whole
    // mode: the cliff recedes materially at the SAME probe depth
    assert(after <= (before * 7) / 10,
      s"split must restore stage-1 cost: $before -> $after")
    assert(after > 0, "post-split probe must still score candidates")
    // the monitor's skew axis reads the post-split occupancy: the max
    // leaf share drops from the parent's ~0.8 to the largest child
    def share(quant: DataFrame): Double =
      Similarity.quantizerDriftScenarios(Seq(("", concentrated, concentrated)), "embedding",
          quant, maxTvd = 0.1, maxQerrRatio = 1.25)
        .select(col("max_cell_share")).as[Double].head()
    val (shareBefore, shareAfter) = (share(cent), share(tree))
    info(f"max_cell_share: before=$shareBefore%.3f after=$shareAfter%.3f")
    assert(shareAfter < shareBefore,
      s"the split must reduce the hot-cell share: $shareBefore -> $shareAfter")
  }

  test("(m) NN-descent k-NN graph: per-round work grows linearly with the corpus, never quadratically") {
    // The graph op's reason to exist: the exact k-NN graph is an O(n^2)
    // self-join (a 4x corpus costs 16x), NN-descent bounds each round at
    // n * (2k)^2 candidate scores plus n*k exploration edges — linear in
    // n at fixed k. Measured as edge/candidate-bearing shuffle records
    // across every job of a 1-round build, 1x vs 4x replicated corpora:
    // a silently quadratic candidate stage would read ~16x.
    import graft.operators.Similarity
    val baseEmb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .transform(graft.core.Materialize.pin)
    def embAt(copies: Int): DataFrame =
      (0 until copies).map(i => baseEmb.select(
        (col("vec_id") + lit(i * Stride)).as("vec_id"), col("embedding")))
        .reduce(_ unionAll _)
        .transform(graft.core.Materialize.pin)
    def shuffledDuring(thunk: => Unit): Long = {
      val acc = new java.util.concurrent.atomic.AtomicLong
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          acc.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        thunk
        var last = -1L; var same = 0
        while (same < 5) {
          Thread.sleep(100)
          val cur = acc.get
          if (cur == last) same += 1 else { same = 0; last = cur }
        }
        acc.get
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    def recsAt(copies: Int): Long = {
      val corpus = embAt(copies)
      val recs = shuffledDuring {
        Similarity.nnDescentGraph(corpus, "vec_id", "embedding",
          k = 5, rounds = 1).collect()
        ()
      }
      info(s"${copies}x corpus: shuffled=$recs records across the build")
      recs
    }
    val (r1, r4) = withConf("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.files.maxPartitionBytes" -> "1") {
      (recsAt(1), recsAt(4))
    }
    assert(r1 > 0, "the build must shuffle candidate records")
    // linear with headroom (4x data -> <= ~6x records); quadratic reads ~16x
    assert(r4 <= 6 * r1 + 1000,
      s"NN-descent round work grew superlinearly: $r1 -> $r4 records")
  }

  test("(r) exploration-ring granularity: v2 tracks 2^nBits across the derived 9-15 range where v1's hex floor pins 256 buckets") {
    // The v1 formula reads hex chars of md5: 16^ceil(nBits/8) buckets, a
    // FLOOR that jumps only at multiples of 8 — so every derived nBits in
    // 9..15 (32k-4M nodes at target 64) got 256 exploration buckets and
    // per-round windows of n/256. v1 is frozen (committed graphs and the
    // q_knn_graph oracle replay it bit-identically); NEW graphs build
    // under v2, whose pmod(xxhash64) buckets track 2^nBits exactly like
    // the LSH init rings do. Measured: the max per-round ring window.
    import graft.operators.Similarity
    import spark.implicits._
    val n = 51200L
    val ids = spark.range(n).select(col("id").as("vec_id"))
    def maxWindow(bits: Int, v: Int): Long =
      ids.select(Similarity.explorationBucketCol(col("vec_id"), bits,
          ":1", v).as("b"))
        .groupBy("b").count().agg(max(col("count"))).as[Long].head()
    val shrink = Map(9 -> 1.4, 11 -> 3.0, 13 -> 10.0, 15 -> 16.0)
    Seq(9, 11, 13, 15).foreach { bits =>
      val (m1, m2) = (maxWindow(bits, 1), maxWindow(bits, 2))
      info(s"nBits=$bits: max ring window v1=$m1 v2=$m2")
      // the hex floor: v1 cannot get below ~n/256 in this whole range
      assert(m1 >= n / 256,
        s"v1 at nBits=$bits should sit at the 256-bucket floor: $m1")
      assert(m2 * shrink(bits) <= m1.toDouble,
        s"v2 at nBits=$bits failed to shrink the ring window: $m1 -> $m2")
    }
    // and v1 replays bit-identically forever: a pinned sample of the
    // committed formula's buckets (the q_knn_graph oracle's contract)
    val v1Sample = ids.filter(col("vec_id") < 4)
      .select(Similarity.explorationBucketCol(col("vec_id"), 9, ":1", 1)
        .cast("string").as("b"))
      .as[String].collect().toSeq
    assert(v1Sample == Seq("81", "d0", "6a", "1e"),
      s"v1 ring buckets moved — committed graphs no longer replay: $v1Sample")
  }

  test("(o) ring-window bound: per-bucket membership stays ~flat when nBits scales with the corpus, grows linearly when fixed") {
    // The NN-descent rings sort per-bucket memberships inside windows —
    // the one stage whose partition size is data-dependent. A FIXED
    // nBits at a growing corpus means n/2^nBits rows per window
    // partition (the 100 TB failure mode); the derived knob
    // (nnDescentNBits) keeps the bound ~targetBucketSize. Replication
    // duplicates vectors (copies share a sign bucket by construction),
    // so the scaled knob's extra hyperplanes thin each bucket's DISTINCT
    // membership — the measured bound must stay ~flat, not 4x.
    import graft.operators.Similarity
    val baseEmb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .transform(graft.core.Materialize.pin)
    def embAt(copies: Int): DataFrame =
      (0 until copies).map(i => baseEmb.select(
        (col("vec_id") + lit(i * Stride)).as("vec_id"), col("embedding")))
        .reduce(_ unionAll _)
    def maxBucket(corpus: DataFrame, bits: Int): Long =
      Similarity.signLshBuckets(corpus, "vec_id", "embedding", bits)
        .groupBy("bucket").count().agg(max(col("count")))
        .head().getLong(0)
    val (c1, c4) = (embAt(1), embAt(4))
    val b1 = Similarity.nnDescentNBits(c1.count())
    val b4 = Similarity.nnDescentNBits(c4.count())
    assert(b4 > b1, s"the derived knob must grow with the corpus: $b1 -> $b4")
    val m1 = maxBucket(c1, b1)
    val m4fixed = maxBucket(c4, b1)
    val m4scaled = maxBucket(c4, b4)
    info(s"max ring-window partition: 1x/bits=$b1 -> $m1; " +
      s"4x/fixed=$m4fixed; 4x/bits=$b4 -> $m4scaled")
    assert(m4fixed >= 3 * m1,
      s"fixed bits should let the window bound grow: $m1 -> $m4fixed")
    assert(m4scaled <= (2.5 * m1).toLong + 10,
      s"scaled bits failed to hold the window bound: $m1 -> $m4scaled")
  }
}
