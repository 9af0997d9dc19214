package graft.queries

import graft.QueryDef
import graft.core.Tables.t
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Training-data-pipeline analytics beyond the dedup/ANN family:
  * lang-by-source pivot, Gopher-style quality gates, rarity-weighted
  * top terms per document, and benchmark decontamination. All four are
  * oracle-checked; each is shaped so the corpus side stays map-only and
  * shuffles carry per-document summaries, never text.
  */
object PipelineQueries {

  private val Langs = Seq("de", "en", "es", "fr", "zh")

  /** DuckDB twin of TextAnalysis.md5Bucket (same construction as
    * TextQueries.duckBand256 — DuckDB lacks conv()). */
  private def duckBand256Sql(expr: String): String =
    s"""((strpos('0123456789abcdef', substr(md5($expr), 1, 1)) - 1) * 16
       + (strpos('0123456789abcdef', substr(md5($expr), 2, 1)) - 1))"""

  /** Emit the unrolled gradient-descent rounds of trainLinearProbeOnFeatures
    * as DuckDB CTEs (g1/w1 .. g{iters}/w{iters}), over an `x` CTE with
    * columns x0..x4 + y and an `nn` CTE with the row count — the oracle
    * replays the exact quantized sums and IEEE update compositions the
    * engine's loop performs, so the trained weights hash-match. */
  private def probeRoundsSql(iters: Int, nFeats: Int = 5): String = {
    def pred(ws: Seq[String]) =
      ws.zipWithIndex.map { case (w, b) => s"x$b * $w" }.mkString("(", " + ", ")")
    def qsum(e: String) =
      s"CAST(SUM(CAST(FLOOR($e * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) / 1000000.0"
    val bs = 0 until nFeats
    (1 to iters).map { i =>
      val prevW: Seq[String] =
        if (i == 1) Seq.fill(nFeats)("0.0e0") else bs.map(b => s"w$b")
      val gFrom = if (i == 1) "x" else s"x CROSS JOIN w${i - 1}"
      val g = s"g$i AS (SELECT\n            " + bs.map(b =>
        s"${qsum(s"x$b * (${pred(prevW)} - y)")} AS g$b").mkString(",\n            ") +
        s"\n            FROM $gFrom)"
      val wFrom = if (i == 1) s"g$i" else s"w${i - 1} CROSS JOIN g$i"
      val w = s"w$i AS (SELECT\n            " + bs.map(b =>
        s"${prevW(b)} - 1.0e0 * (g$b / (SELECT n FROM nn)) AS w$b").mkString(",\n            ") +
        s"\n            FROM $wFrom)"
      s"$g,\n          $w"
    }.mkString(",\n          ")
  }

  /** Mini-batch sibling of [[probeRoundsSql]]: round i's gradient CTE
    * filters to deterministic batch (i-1) % nBatches (an `x` CTE with a
    * `b` column) and its weight update divides by that batch's own row
    * count from an `nb` (b, n) CTE — the exact schedule
    * trainLinearProbeMiniBatch runs. Assumes every scheduled batch is
    * nonempty (the operator skips empty batches; the fixtures' md5-band
    * batches never are). */
  private def probeMiniBatchRoundsSql(iters: Int, nFeats: Int, nBatches: Int): String = {
    def pred(ws: Seq[String]) =
      ws.zipWithIndex.map { case (w, b) => s"x$b * $w" }.mkString("(", " + ", ")")
    def qsum(e: String) =
      s"CAST(SUM(CAST(FLOOR($e * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) / 1000000.0"
    val bs = 0 until nFeats
    (1 to iters).map { i =>
      val bid = (i - 1) % nBatches
      val prevW: Seq[String] =
        if (i == 1) Seq.fill(nFeats)("0.0e0") else bs.map(b => s"w$b")
      val gFrom = if (i == 1) "x" else s"x CROSS JOIN w${i - 1}"
      val g = s"g$i AS (SELECT\n            " + bs.map(b =>
        s"${qsum(s"x$b * (${pred(prevW)} - y)")} AS g$b").mkString(",\n            ") +
        s"\n            FROM $gFrom WHERE b = $bid)"
      val wFrom = if (i == 1) s"g$i" else s"w${i - 1} CROSS JOIN g$i"
      val w = s"w$i AS (SELECT\n            " + bs.map(b =>
        s"${prevW(b)} - 1.0e0 * (g$b / (SELECT n FROM nb WHERE b = $bid)) AS w$b").mkString(",\n            ") +
        s"\n            FROM $wFrom)"
      s"$g,\n          $w"
    }.mkString(",\n          ")
  }

  val defs: Seq[QueryDef] = Seq(

    // PIVOT — wide per-source language profile. Spark lowers this to two
    // aggregate levels ((source,lang) then pivotfirst on source), each
    // with map-side partial aggregation, so both exchanges carry one row
    // per distinct group per partition — never corpus rows. Fixed pivot
    // values keep the schema static, as a 100 TB job must (inferring
    // pivot values triggers a separate distinct scan of the corpus).
    QueryDef(
      "q_pivot",
      "per-source doc count + avg length pivoted by language (fixed values)",
      {
        val cols = Langs.map { l =>
          s"""CAST(count(CASE WHEN lang = '$l' THEN 1 END) AS BIGINT) AS ${l}_cnt,
              avg(CASE WHEN lang = '$l' THEN n_chars END) AS ${l}_avg_chars"""
        }.mkString(",\n                ")
        s"""SELECT source, $cols
           FROM documents GROUP BY source ORDER BY source"""
      }) { (s, dir) =>
      val wide = t(s, dir, "documents")
        .groupBy(col("source"))
        .pivot("lang", Langs)
        .agg(count(lit(1)).as("cnt"), avg(col("n_chars")).as("avg_chars"))
      // Spark leaves empty pivot cells null where COUNT would say 0;
      // normalize counts to 0 (avg stays null on both engines).
      val outCols = col("source") +: Langs.flatMap { l =>
        Seq(coalesce(col(s"${l}_cnt"), lit(0L)).as(s"${l}_cnt"),
          col(s"${l}_avg_chars"))
      }
      wide.select(outCols: _*).orderBy(col("source"))
    },

    // Gopher-style quality gates (Rae et al. 2021, arXiv:2112.11446 §A.1.1
    // adapted to the single-line fixture corpus): word-count bounds, mean
    // word length, distinct-word ratio, stopword presence. Map-only per
    // document; the only shuffle is the final presentation sort.
    QueryDef(
      "q_quality_gopher",
      "composite document-quality gates (word count, mean length, uniqueness, stopwords)",
      """SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
                CAST(length(replace(text, ' ', '')) AS DOUBLE)
                  / len(string_split(text, ' ')) AS mean_word_len,
                CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                  / len(string_split(text, ' ')) AS uniq_ratio,
                CAST(len(list_filter(string_split(text, ' '), w -> length(w) < 3)) AS DOUBLE)
                  / len(string_split(text, ' ')) AS short_ratio,
                len(list_filter(string_split(text, ' '), w -> w IN ('a', 'the'))) > 0 AS has_stop,
                (len(string_split(text, ' ')) BETWEEN 30 AND 120)
                  AND (CAST(length(replace(text, ' ', '')) AS DOUBLE)
                         / len(string_split(text, ' ')) BETWEEN 3 AND 10)
                  AND (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                         / len(string_split(text, ' ')) >= 0.3)
                  AND (len(list_filter(string_split(text, ' '), w -> w IN ('a', 'the'))) > 0)
                  AS pass
         FROM documents ORDER BY doc_id""") { (s, dir) =>
      graft.operators.TextAnalysis.qualityGates(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("n_words"), col("mean_word_len"),
          col("uniq_ratio"), col("short_ratio"), col("has_stop"), col("pass"))
        .orderBy(col("doc_id"))
    },

    // GATE CALIBRATION — the quality-gate counterpart of the sweep
    // pickers: instead of hand-picking a cutoff, fix the keep RATE the
    // token budget affords and read the threshold off the score
    // distribution as an exact order statistic (no interpolation —
    // engine-portable, unlike approx-percentile builtins). T = the
    // k-th highest uniq_ratio (k = floor(0.7 * n), ties to lower
    // doc_id); keep rule score >= T, tie mass reported via actual_rate.
    QueryDef(
      "q_calibrate_gate",
      "calibrate the uniq_ratio gate threshold to a 0.7 target keep rate (exact order statistic)",
      """WITH sc AS (SELECT doc_id,
                CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                  / len(string_split(text, ' ')) AS s
              FROM documents),
          n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM sc),
          rk AS (SELECT doc_id, s, ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS rn FROM sc),
          thr AS (SELECT n.n_docs, CAST(rk.rn AS BIGINT) AS k, rk.s AS threshold
                  FROM rk, n WHERE rk.rn = GREATEST(1, CAST(FLOOR(0.7e0 * n.n_docs) AS BIGINT)))
          SELECT t.n_docs, t.k, t.threshold,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM sc WHERE s >= t.threshold) AS n_kept,
                 CAST((SELECT COUNT(*) FROM sc WHERE s >= t.threshold) AS DOUBLE) / t.n_docs AS actual_rate
          FROM thr t""") { (s, dir) =>
      graft.operators.Stats.thresholdForKeepRate(
        graft.operators.TextAnalysis.qualityGates(t(s, dir, "documents"), "text"),
        "uniq_ratio", "doc_id", targetRate = 0.7)
    },

    // SAMPLE-BASED gate calibration — the production path of the query
    // above at unbounded corpus size: the threshold reads off the
    // PERSISTED KMV bottom-64 hash-rank sample (a monitoring sample;
    // run-scoped artifact here, the picker pattern), so no stage sorts more than 64 rows and the remaining
    // full-corpus pass is a map-only broadcast-threshold count. Rank
    // error vs exact is the binomial quantile-sampling bound
    // ~ n * sqrt(q(1-q)/k) (StatsSpec measures it); the oracle
    // recomputes the md5-rank sample and the threshold from scratch.
    QueryDef(
      "q_calibrate_gate_sampled",
      "uniq_ratio gate threshold for a 0.7 keep rate off the persisted KMV bottom-64 sample",
      """WITH sc AS (SELECT doc_id,
                CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                  / len(string_split(text, ' ')) AS s
              FROM documents),
          samp AS (SELECT doc_id, s FROM sc
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 64),
          n AS (SELECT CAST(COUNT(*) AS BIGINT) AS sample_n FROM samp),
          rk AS (SELECT doc_id, s, ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS rn FROM samp),
          thr AS (SELECT n.sample_n, CAST(rk.rn AS BIGINT) AS k, rk.s AS threshold
                  FROM rk, n
                  WHERE rk.rn = GREATEST(1, CAST(FLOOR(0.7e0 * n.sample_n) AS BIGINT)))
          SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM sc) AS n_docs,
                 t.sample_n, t.k, t.threshold,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM sc WHERE s >= t.threshold) AS n_kept,
                 CAST((SELECT COUNT(*) FROM sc WHERE s >= t.threshold) AS DOUBLE)
                   / (SELECT COUNT(*) FROM sc) AS actual_rate
          FROM thr t""") { (s, dir) =>
      val gates = graft.operators.TextAnalysis.qualityGates(
        t(s, dir, "documents"), "text")
      val sample = Memo.parquetArtifact(s, dir, "kmv_gate_sample") {
        graft.operators.Sketches.bottomKSample(
          gates.select(col("doc_id"), col("uniq_ratio"), lit("all").as("g")),
          "doc_id", "uniq_ratio", Seq("g"), k = 64)
      }
      graft.operators.Stats.thresholdForKeepRateSampled(gates, sample,
        "uniq_ratio", "doc_id", targetRate = 0.7)
    },

    // GATE DISTILLATION — train a linear probe to imitate the Gopher
    // gates (the pipeline move that replaces a cascade of handwritten
    // rules with one cheap learned scorer): features are the gate
    // STATISTICS themselves (n_words/120, mean_word_len/10, uniq_ratio,
    // short_ratio — signals that CAN express the thresholds, unlike
    // hashed BoW), label is the composite pass flag, 3 GD rounds under
    // squared loss via trainLinearProbeOnFeatures. Transcendental-free,
    // so the oracle unrolls the identical rounds and the distilled
    // weights hash-match bit-exactly. The per-doc stats build in the
    // same fused native kernel pass the gates use; each round is one
    // partial-agg'd aggregation over the pinned feature table.
    QueryDef(
      "q_distill_gates",
      "distill the quality gates into a linear probe: 3 GD rounds on gate statistics",
      s"""WITH st AS (SELECT
            CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
            CAST(length(replace(text, ' ', '')) AS DOUBLE)
              / len(string_split(text, ' ')) AS mean_word_len,
            CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
              / len(string_split(text, ' ')) AS uniq_ratio,
            CAST(len(list_filter(string_split(text, ' '), w -> length(w) < 3)) AS DOUBLE)
              / len(string_split(text, ' ')) AS short_ratio,
            CASE WHEN (len(string_split(text, ' ')) BETWEEN 30 AND 120)
                  AND (CAST(length(replace(text, ' ', '')) AS DOUBLE)
                         / len(string_split(text, ' ')) BETWEEN 3 AND 10)
                  AND (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                         / len(string_split(text, ' ')) >= 0.3)
                  AND (len(list_filter(string_split(text, ' '), w -> w IN ('a', 'the'))) > 0)
                 THEN 1.0e0 ELSE 0.0e0 END AS y
            FROM documents),
          x AS (SELECT CAST(n_words AS DOUBLE) / 120.0e0 AS x0,
                       mean_word_len / 10.0e0 AS x1,
                       uniq_ratio AS x2,
                       short_ratio AS x3,
                       1.0e0 AS x4, y
                FROM st),
          nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM x),
          ${probeRoundsSql(3)},
          r AS (SELECT ((x0 * w0 + x1 * w1 + x2 * w2 + x3 * w3 + x4 * w4) - y) AS rr
                FROM x CROSS JOIN w3),
          m AS (SELECT CAST(SUM(CAST(FLOOR(rr * rr * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) / 1000000.0
                         / (SELECT n FROM nn) AS mse
                FROM r)
          SELECT 'mse' AS param, mse AS value FROM m
          ${(0 to 4).map(b => s"UNION ALL SELECT 'w$b', w$b FROM w3").mkString("\n          ")}
          ORDER BY param""") { (s, dir) =>
      import s.implicits._
      val gates = graft.operators.TextAnalysis.qualityGates(
        t(s, dir, "documents"), "text")
      val feats = gates.select(
        (col("n_words").cast("double") / lit(120.0)).as("f0"),
        (col("mean_word_len") / lit(10.0)).as("f1"),
        col("uniq_ratio").as("f2"),
        col("short_ratio").as("f3"),
        when(col("pass"), 1.0).otherwise(0.0).as("y"))
      val (w, mse) = graft.operators.TextAnalysis.trainLinearProbeOnFeatures(
        feats, Seq("f0", "f1", "f2", "f3"), col("y"), iters = 3, lr = 1.0)
      (w.toSeq.zipWithIndex.map { case (v, b) => (s"w$b", v) } :+ ("mse", mse))
        .toDF("param", "value").orderBy(col("param"))
    },

    // MINI-BATCH probe training over PER-SOURCE FEATURE BLOCKS — the two
    // production extensions of the full-batch trainer above, in one
    // hash-checked run: (a) each GD round touches ONE deterministic
    // md5-band mini-batch (round r uses rows with band % 4 == r % 4, the
    // stochastic-GD cost shape at corpus scale — no RNG, the schedule is
    // a pure function of the data) and divides by that batch's own row
    // count; (b) the features are per-source BLOCKS (src1/src2/src3/other
    // x (n_words/120, uniq_ratio) interaction columns), so the one probe
    // learns per-domain calibrations — absent blocks keep weight 0. The
    // oracle unrolls the identical batched rounds (probeMiniBatchRoundsSql),
    // so the learned per-block weights hash-match bit-exactly.
    QueryDef(
      "q_probe_minibatch",
      "mini-batch GD probe on per-source feature blocks: 4 md5-band batches, 4 rounds, 9 weights",
      {
        val blocks = Seq("src1", "src2", "src3")
        val wordsE = "CAST(len(string_split(text, ' ')) AS DOUBLE) / 120.0e0"
        val uniqE = """CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
              / len(string_split(text, ' '))"""
        val blockFeats = blocks.zipWithIndex.flatMap { case (sName, i) =>
          Seq(
            s"CASE WHEN source = '$sName' THEN $wordsE ELSE 0.0e0 END AS x${2 * i}",
            s"CASE WHEN source = '$sName' THEN $uniqE ELSE 0.0e0 END AS x${2 * i + 1}")
        } ++ Seq(
          s"CASE WHEN source NOT IN (${blocks.map(b => s"'$b'").mkString(", ")}) THEN $wordsE ELSE 0.0e0 END AS x6",
          s"CASE WHEN source NOT IN (${blocks.map(b => s"'$b'").mkString(", ")}) THEN $uniqE ELSE 0.0e0 END AS x7")
        s"""WITH x AS (SELECT
            ${blockFeats.mkString(",\n            ")},
            1.0e0 AS x8,
            CASE WHEN (len(string_split(text, ' ')) BETWEEN 30 AND 120)
                  AND (CAST(length(replace(text, ' ', '')) AS DOUBLE)
                         / len(string_split(text, ' ')) BETWEEN 3 AND 10)
                  AND (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                         / len(string_split(text, ' ')) >= 0.3)
                  AND (len(list_filter(string_split(text, ' '), w -> w IN ('a', 'the'))) > 0)
                 THEN 1.0e0 ELSE 0.0e0 END AS y,
            ${duckBand256Sql("CAST(doc_id AS VARCHAR)")} % 4 AS b
            FROM documents),
          nb AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS n FROM x GROUP BY b),
          nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM x),
          ${probeMiniBatchRoundsSql(iters = 4, nFeats = 9, nBatches = 4)},
          r AS (SELECT ((${(0 to 8).map(b => s"x$b * w$b").mkString(" + ")}) - y) AS rr
                FROM x CROSS JOIN w4),
          m AS (SELECT CAST(SUM(CAST(FLOOR(rr * rr * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) / 1000000.0
                         / (SELECT n FROM nn) AS mse
                FROM r)
          SELECT 'mse' AS param, mse AS value FROM m
          ${(0 to 8).map(b => s"UNION ALL SELECT 'w$b', w$b FROM w4").mkString("\n          ")}
          ORDER BY param"""
      }) { (s, dir) =>
      import s.implicits._
      val gates = graft.operators.TextAnalysis.qualityGates(
        t(s, dir, "documents"), "text")
      val blocks = Seq("src1", "src2", "src3")
      def blockPair(cond: Column, tag: String) = Seq(
        when(cond, col("n_words").cast("double") / lit(120.0)).otherwise(0.0).as(s"f_${tag}_w"),
        when(cond, col("uniq_ratio")).otherwise(0.0).as(s"f_${tag}_u"))
      val featCols = blocks.flatMap(sn => blockPair(col("source") === sn, sn)) ++
        blockPair(!col("source").isin(blocks: _*), "other")
      val featNames = blocks.flatMap(sn => Seq(s"f_${sn}_w", s"f_${sn}_u")) ++
        Seq("f_other_w", "f_other_u")
      val feats = gates.select(featCols ++ Seq(
        when(col("pass"), 1.0).otherwise(0.0).as("y"),
        graft.operators.TextAnalysis.md5Bucket(col("doc_id").cast("string")).as("band")): _*)
      val (w, mse) = graft.operators.TextAnalysis.trainLinearProbeMiniBatch(
        feats, featNames, col("y"), col("band"), nBatches = 4, iters = 4, lr = 1.0)
      (w.toSeq.zipWithIndex.map { case (v, b) => (s"w$b", v) } :+ ("mse", mse))
        .toDF("param", "value").orderBy(col("param"))
    },

    // Rarity-weighted top terms per document: tf scaled by inverse
    // document frequency, expressed as the exact rational tf/df so the
    // score is a single IEEE division on both engines (ln() would be
    // libm-dependent). The df side aggregates to vocabulary size —
    // orders of magnitude smaller than the corpus — and broadcasts; the
    // per-doc top-3 is the row_number idiom TopKRewrite lowers to the
    // bounded-heap TopKPerKey operator.
    QueryDef(
      "q_tfidf",
      "top-3 rarity-weighted terms per document (tf/df score, bounded-heap top-k)",
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
              tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
                     FROM tok GROUP BY doc_id, token),
              df AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
              scored AS (SELECT doc_id, tf.token AS token, tf, df,
                                CAST(tf AS DOUBLE) / df AS score,
                                ROW_NUMBER() OVER (PARTITION BY doc_id
                                                   ORDER BY CAST(tf AS DOUBLE) / df DESC, tf.token) AS rn
                         FROM tf JOIN df USING (token))
         SELECT doc_id, token, tf, df, score
         FROM scored WHERE rn <= 3 ORDER BY doc_id, score DESC, token""") { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val tf = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      val score = col("tf").cast("double") / col("df")
      tf.join(broadcast(df), "token")
        .withColumn("score", score)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("token"))))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("token"), col("tf"), col("df"), col("score"))
        .orderBy(col("doc_id"), col("score").desc, col("token"))
    },

    // Benchmark decontamination: flag training documents sharing any word
    // 4-gram with the held-out eval slice (source = src0). The eval side
    // collapses to a distinct-gram set (benchmarks are tiny next to a
    // corpus) and broadcasts; the corpus side is explode + broadcast-hash
    // semi-probe, entirely map-side — the only thing ever shuffled is one
    // row per *contaminated* document. Grams travel as the native
    // WordGramHashSet xxhash64 longs, not strings: the in-row distinct
    // set builds in one zero-copy pass (InferFiltersFromGenerate
    // re-evaluates the generator input in its pre-filter, so the per-row
    // expression must be cheap), and the broadcast carries 8-byte keys.
    // The oracle joins gram STRINGS — identical counts barring a 64-bit
    // collision inside one document span (~1e-12 at benchmark scale).
    QueryDef(
      "q_decontaminate",
      "training docs sharing a word 4-gram with the eval slice (broadcast n-gram probe)",
      """WITH g AS (SELECT doc_id, source,
                           list_distinct(list_transform(
                             range(1, greatest(len(string_split(text, ' ')) - 2, 1)),
                             i -> array_to_string(string_split(text, ' ')[i:i+3], ' '))) AS gs
                    FROM documents),
              eval_g AS (SELECT DISTINCT unnest(gs) AS gram FROM g WHERE source = 'src0'),
              train AS (SELECT doc_id, len(gs) AS n_grams, unnest(gs) AS gram
                        FROM g WHERE source <> 'src0')
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
                CAST(n_grams AS BIGINT) AS n_grams,
                CAST(count(*) AS DOUBLE) / n_grams AS contamination
         FROM train JOIN eval_g USING (gram)
         GROUP BY doc_id, n_grams ORDER BY doc_id""") { (s, dir) =>
      val docs = t(s, dir, "documents")
      graft.operators.Dedup.contaminationHits(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"),
          "doc_id", "text", 4)
        .select(col("doc_id"), col("n_hits"), col("n_grams"),
          (col("n_hits").cast("double") / col("n_grams")).as("contamination"))
        .orderBy(col("doc_id"))
    },

    // The overlap MEASUREMENT over EVERY training document (q_decontaminate
    // reports only docs with >= 1 hit): the full per-doc benchmark-overlap
    // distribution, zero rows included — the corpus-health report a
    // threshold sweep reads (GPT-3-appendix-style contamination
    // accounting). Still one corpus scan: gram hashes build in-row
    // (native WordGramHashSet), explode_outer keeps gram-less docs, the
    // eval gram set broadcasts as 8-byte keys, and the per-doc counts
    // partial-aggregate map-side. Same string-vs-hash oracle note as
    // q_decontaminate.
    QueryDef(
      "q_overlap_frac",
      "per-doc benchmark 4-gram overlap fraction over ALL training docs (zero-hit rows kept)",
      """WITH g AS (SELECT doc_id, source,
                           list_distinct(list_transform(
                             range(1, greatest(len(string_split(text, ' ')) - 2, 1)),
                             i -> array_to_string(string_split(text, ' ')[i:i+3], ' '))) AS gs
                    FROM documents),
          eval_g AS (SELECT DISTINCT unnest(gs) AS gram FROM g WHERE source = 'src0'),
          train AS (SELECT doc_id, unnest(gs) AS gram
                    FROM g WHERE source <> 'src0'),
          hits AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
                   FROM train JOIN eval_g USING (gram) GROUP BY doc_id),
          census AS (SELECT doc_id, CAST(len(gs) AS BIGINT) AS n_grams
                     FROM g WHERE source <> 'src0')
          SELECT c.doc_id, c.n_grams,
                 COALESCE(h.n_hits, CAST(0 AS BIGINT)) AS n_hits,
                 CASE WHEN c.n_grams = 0 THEN 0.0e0
                      ELSE CAST(COALESCE(h.n_hits, CAST(0 AS BIGINT)) AS DOUBLE) / c.n_grams
                 END AS overlap_frac
          FROM census c LEFT JOIN hits h USING (doc_id) ORDER BY c.doc_id""") { (s, dir) =>
      val docs = t(s, dir, "documents")
      graft.operators.Dedup.overlapFractions(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"),
          "doc_id", "text", 4)
        .orderBy(col("doc_id"))
    },

    // The BLOOM-FILTER variant of the decontamination probe, for when
    // even an 8-byte-per-gram exact set is too big to broadcast (a year
    // of seen-content hashes; the union of every benchmark): mBits of
    // filter regardless of set cardinality, no false negatives, false
    // positives at a computable rate. The filter is md5-derived
    // (Sketches.bloomBuild), so the oracle rebuilds the IDENTICAL bits —
    // the per-doc bloom counts hash-check false positives included, and
    // the output exposes them next to the exact counts (n_bloom >=
    // n_exact always; has_false_positive marks the overshoot).
    QueryDef(
      "q_bloom_decontaminate",
      "bloom-filter benchmark decontamination: per-doc bloom vs exact 4-gram hit counts, filter bits oracle-identical",
      """WITH g AS (SELECT doc_id, source,
                           list_distinct(list_transform(
                             range(1, greatest(len(string_split(text, ' ')) - 2, 1)),
                             i -> array_to_string(string_split(text, ' ')[i:i+3], ' '))) AS gs
                    FROM documents),
              eval_g AS (SELECT DISTINCT unnest(gs) AS gram FROM g WHERE source = 'src0'),
              epos AS (SELECT ('0x' || substr(md5(i::VARCHAR || ':' || gram), 1, 12))::BIGINT
                                % 31744 AS p
                       FROM eval_g CROSS JOIN (SELECT unnest([0, 1, 2]) AS i)),
              bloom AS (SELECT p // 62 AS word,
                               bit_or(1::BIGINT << CAST(p % 62 AS INTEGER)) AS bits
                        FROM epos GROUP BY 1),
              train AS (SELECT doc_id, len(gs) AS n_grams, unnest(gs) AS gram
                        FROM g WHERE source <> 'src0'),
              ppos AS (SELECT doc_id, n_grams, gram,
                              ('0x' || substr(md5(i::VARCHAR || ':' || gram), 1, 12))::BIGINT
                                % 31744 AS p
                       FROM train CROSS JOIN (SELECT unnest([0, 1, 2]) AS i)),
              hit AS (SELECT doc_id, n_grams, gram,
                             MIN(CASE WHEN (bits >> CAST(p % 62 AS INTEGER)) & 1 = 1
                                 THEN 1 ELSE 0 END) AS bloom_hit
                      FROM ppos LEFT JOIN bloom ON bloom.word = p // 62
                      GROUP BY doc_id, n_grams, gram),
              agg AS (SELECT doc_id, n_grams, SUM(bloom_hit) AS n_bloom
                      FROM hit GROUP BY doc_id, n_grams),
              ex AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_exact
                     FROM train JOIN eval_g USING (gram) GROUP BY doc_id)
         SELECT a.doc_id, CAST(n_grams AS BIGINT) AS n_grams,
                CAST(n_bloom AS BIGINT) AS n_bloom,
                coalesce(n_exact, 0) AS n_exact,
                CAST(n_bloom AS BIGINT) > coalesce(n_exact, 0) AS has_false_positive
         FROM agg a LEFT JOIN ex USING (doc_id) ORDER BY a.doc_id""") { (s, dir) =>
      import graft.operators.Sketches
      val docs = t(s, dir, "documents")
      // 4-gram STRINGS in one native pass (the bloom hashes md5 of the
      // gram TEXT, so the oracle's digests match byte-for-byte — gram
      // hashes would be opaque to it); short docs yield an empty array,
      // matching DuckDB's range() guard. Pinned: three consumers read it
      // — the eval filter build, the in-row bloom count, the exact probe.
      val g = graft.core.Materialize.pin(
        docs.select(col("doc_id"), col("source"),
          graft.plans.GraftFunctions.word_gram_set(col("text"), 4).as("gs")))
      val evalG = g.filter(col("source") === "src0")
        .select(explode(col("gs")).as("gram")).distinct()
      // the filter is 512 longs BY CONSTRUCTION — collect it once and
      // evaluate membership in-row: the corpus side never explodes per
      // gram and never shuffles gram strings (the bloomProbe relational
      // form here cost two wide shuffles carrying ~30-char gram keys —
      // 16% of the whole bench)
      val words = Sketches.bloomWords(
        Sketches.bloomBuild(evalG, col("gram"), mBits = 31744, k = 3), mBits = 31744)
      val train = g.filter(col("source") =!= "src0")
      val perDoc = train.select(col("doc_id"),
        size(col("gs")).cast("bigint").as("n_grams"),
        Sketches.bloomCountHits(col("gs"), words, mBits = 31744, k = 3).as("n_bloom"))
      val exact = train.select(col("doc_id"), explode(col("gs")).as("gram"))
        .join(broadcast(evalG), Seq("gram"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_exact"))
      perDoc.join(exact, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("n_grams"), col("n_bloom"),
          coalesce(col("n_exact"), lit(0L)).as("n_exact"),
          (col("n_bloom") > coalesce(col("n_exact"), lit(0L))).as("has_false_positive"))
        .orderBy(col("doc_id"))
    },

    // Per-source quality calibration (the FineWeb/per-dump-threshold
    // shape): instead of one global score cutoff — which lets a
    // high-scoring source crowd out every other — keep the top half of
    // each source by score, so the selection pressure is calibrated to
    // each source's own distribution. Score is the distinct-token ratio
    // (one exact-integer IEEE division); the cut is percent_rank, whose
    // (rank-1)/(n-1) arithmetic is engine-portable, with doc_id as the
    // deterministic tie-break.
    //
    // Scale shape: one shuffle, keyed by source; the window sorts within
    // each source, and distinct sources parallelize across the cluster.
    // A single pathologically-huge source serializes its own sort — the
    // production escape hatch at that extreme is an approximate
    // per-source threshold (percentile_approx) applied as a map-side
    // filter, traded here for the exact rank the oracle can replay.
    QueryDef(
      "q_quality_calibrated",
      "per-source calibrated quality gate: top half of each source by distinct-token ratio",
      """WITH s AS (SELECT source, doc_id,
                           CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                             / len(string_split(text, ' ')) AS score
                    FROM documents),
          r AS (SELECT source, doc_id, score,
                       percent_rank() OVER (PARTITION BY source
                                            ORDER BY score, doc_id) AS pr
                FROM s)
         SELECT source, doc_id, score, pr FROM r
         WHERE pr >= 0.5 ORDER BY source, doc_id""") { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val toks = split(col("text"), " ")
      val score = size(array_distinct(toks)).cast("double") / size(toks)
      t(s, dir, "documents")
        .select(col("source"), col("doc_id"), score.as("score"))
        .withColumn("pr", percent_rank().over(
          Window.partitionBy(col("source")).orderBy(col("score"), col("doc_id"))))
        .filter(col("pr") >= 0.5)
        .orderBy(col("source"), col("doc_id"))
    },

    // DSIR-shaped importance weights: rank the raw pool (source <> src0)
    // by how target-like (src0) each document's hashed-bigram features
    // are. See TextAnalysis.dsirPreference for the ln-free formulation.
    // Both DSIR queries score against the run-scoped persisted dsirModel
    // (train-once / score-many — the artifact-memo pattern); the oracles
    // recompute the model from scratch, so the trained counts stay
    // hash-proven.
    QueryDef(
      "q_dsir_weights",
      "DSIR importance score: hashed-bigram target-vs-raw preference per raw doc",
      s"""WITH tok AS (SELECT doc_id, source, string_split(text, ' ') AS l FROM documents),
          f AS (SELECT doc_id, source, ${duckBand256Sql("bg")} AS bucket FROM (
                  SELECT doc_id, source,
                         unnest(list_transform(range(1, len(l)),
                           i -> l[i] || ' ' || l[i + 1])) AS bg
                  FROM tok)),
          ct AS (SELECT bucket, COUNT(*) AS ct FROM f WHERE source = 'src0' GROUP BY bucket),
          cr AS (SELECT bucket, COUNT(*) AS cr FROM f WHERE source <> 'src0' GROUP BY bucket),
          tot AS (SELECT (SELECT SUM(ct) FROM ct) AS tt, (SELECT SUM(cr) FROM cr) AS tr),
          scored AS (
            SELECT f.doc_id,
                   (COALESCE(ct.ct, 0) + 1) / CAST(tot.tt + 256 AS DOUBLE) AS pt,
                   (COALESCE(cr.cr, 0) + 1) / CAST(tot.tr + 256 AS DOUBLE) AS qr
            FROM f LEFT JOIN ct USING (bucket) LEFT JOIN cr USING (bucket) CROSS JOIN tot
            WHERE f.source <> 'src0')
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
                 CAST(SUM(CAST(FLOOR((pt / (pt + qr)) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
                   / 1000000.0 / COUNT(*) AS mean_pref
          FROM scored GROUP BY doc_id ORDER BY doc_id""") { (s, dir) =>
      val docs = t(s, dir, "documents")
      graft.operators.TextAnalysis.dsirPreferenceFromQuantized(
          docs.filter(col("source") =!= "src0"), dsirQuantized(s, dir),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // DSIR importance RESAMPLING (the selection half of the paper): keep
    // raw docs with probability proportional to their preference score,
    // deterministically — accept iff the doc's md5-uniform u < mean_pref.
    // u is one exact BIGINT/2^48 division (the mixtureSample hash-uniform
    // trick), so the sample replays bit-identically on any engine. The
    // only addition over q_dsir_weights' plan is a map-side filter.
    QueryDef(
      "q_dsir_resample",
      "DSIR importance resampling: keep raw docs where hash-uniform u < mean preference",
      s"""WITH tok AS (SELECT doc_id, source, string_split(text, ' ') AS l FROM documents),
          f AS (SELECT doc_id, source, ${duckBand256Sql("bg")} AS bucket FROM (
                  SELECT doc_id, source,
                         unnest(list_transform(range(1, len(l)),
                           i -> l[i] || ' ' || l[i + 1])) AS bg
                  FROM tok)),
          ct AS (SELECT bucket, COUNT(*) AS ct FROM f WHERE source = 'src0' GROUP BY bucket),
          cr AS (SELECT bucket, COUNT(*) AS cr FROM f WHERE source <> 'src0' GROUP BY bucket),
          tot AS (SELECT (SELECT SUM(ct) FROM ct) AS tt, (SELECT SUM(cr) FROM cr) AS tr),
          scored AS (
            SELECT f.doc_id,
                   (COALESCE(ct.ct, 0) + 1) / CAST(tot.tt + 256 AS DOUBLE) AS pt,
                   (COALESCE(cr.cr, 0) + 1) / CAST(tot.tr + 256 AS DOUBLE) AS qr
            FROM f LEFT JOIN ct USING (bucket) LEFT JOIN cr USING (bucket) CROSS JOIN tot
            WHERE f.source <> 'src0'),
          w AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
                       CAST(SUM(CAST(FLOOR((pt / (pt + qr)) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
                         / 1000000.0 / COUNT(*) AS mean_pref
                FROM scored GROUP BY doc_id),
          sampled AS (
            SELECT doc_id, n_feats, mean_pref,
                   ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
                     / 281474976710656.0e0 AS u
            FROM w)
          SELECT doc_id, n_feats, mean_pref, u FROM sampled
          WHERE u < mean_pref ORDER BY doc_id""") { (s, dir) =>
      val docs = t(s, dir, "documents")
      graft.operators.TextAnalysis.dsirResampleFromQuantized(
          docs.filter(col("source") =!= "src0"), dsirQuantized(s, dir),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    },
  )

  /** Run-scoped DSIR model artifact: the <= 256-row hashed-bigram count
    * table (TextAnalysis.dsirModel) trains once per (JVM run, sf dir) and
    * both DSIR queries read it — the production train-once/score-many
    * split, memo'd like the ANN codebooks. */
  private def dsirModelTable(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    Memo.parquetArtifact(s, dir, "dsir_model") {
      val docs = t(s, dir, "documents")
      graft.operators.TextAnalysis.dsirModel(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "doc_id", "text")
    }

  /** The model's quantized per-bucket score table, memo'd too: a
    * recurring scoring pass carries the 256 longs as a plan reference —
    * zero model-read jobs per evaluation (the collect runs once per
    * (JVM run, sf dir), the constant-size-artifact precedent). */
  private val dsirScoreQ = new java.util.concurrent.ConcurrentHashMap[String, Seq[Long]]
  private[queries] def dsirQuantized(s: org.apache.spark.sql.SparkSession, dir: String): Seq[Long] =
    dsirScoreQ.computeIfAbsent(dir,
      _ => graft.operators.TextAnalysis.dsirQuantizedScores(dsirModelTable(s, dir)))
}
