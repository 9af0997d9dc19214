package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Fns.dsum

/** Per-group robust statistics: the exact engine-portable median/MAD
  * window idiom (the oracle-checked formulation of q_median / q_mad) and
  * the APPROXIMATE escape hatch for the one-pathological-group case.
  *
  * Scale shapes:
  *  - exact: ROW_NUMBER + COUNT windows sort each group ON ONE REDUCER —
  *    correct at any scale while groups stay bounded, but a single giant
  *    group (one source holding half a 100 TB corpus) serializes into
  *    one task's sort. That is the documented limit of the exact idiom.
  *  - approx: `percentile_approx` aggregates with map-side partial
  *    combine and constant per-group sketch state, so a giant group
  *    costs the same as a small one. Rank error is bounded by
  *    n/accuracy; the result is an OBSERVED element, not the two-middle
  *    mean, so it is deliberately NOT oracle-exact — use it when group
  *    sizes are unbounded, the exact operator when results must be
  *    engine-portable bit-for-bit (reference: cross-engine interpolating
  *    percentile implementations round differently, which is why the
  *    exact idiom picks middle elements and averages them).
  */
object Stats {

  /** Exact per-group median: mean of the middle one/two elements, ranked
    * by (value, tieCol) so ties are deterministic; the mean goes through
    * the 1e6-quantized exact integer sum (dsum contract) for
    * bit-identical results on every engine. */
  def medianPerGroup(df: DataFrame, keyCols: Seq[String], valueCol: String,
                     tieCol: String, outCol: String = "median"): DataFrame = {
    val byKey = Window.partitionBy(keyCols.map(col): _*)
    df.withColumn("__rn",
        row_number().over(byKey.orderBy(col(valueCol), col(tieCol))))
      .withColumn("__n", count(lit(1)).over(byKey))
      .filter(col("__rn") === (col("__n") + 1).divide(2).cast("long") ||
              col("__rn") === (col("__n") + 2).divide(2).cast("long"))
      .groupBy(keyCols.map(col): _*)
      .agg((dsum(col(valueCol)) / count(lit(1))).as(outCol))
  }

  /** Exact per-group median absolute deviation: median of |x - median|,
    * both levels the exact idiom; the per-group medians broadcast back
    * onto the rows (one row per group). */
  def madPerGroup(df: DataFrame, keyCols: Seq[String], valueCol: String,
                  tieCol: String, outCol: String = "mad"): DataFrame = {
    val med = medianPerGroup(df, keyCols, valueCol, tieCol, "__m")
    val dev = df.join(broadcast(med), keyCols)
      .withColumn("__dev", abs(col(valueCol) - col("__m")))
    medianPerGroup(dev, keyCols, "__dev", tieCol, outCol)
  }

  /** The GATE the median/MAD pair exists for: per-group robust z-score
    * outlier accounting — how many rows sit more than `nMads` median
    * absolute deviations from their group's median. Robust because both
    * center and spread are order statistics: a handful of garbage rows
    * (a 10 MB doc in a tweet corpus) cannot drag the fence the way a
    * mean/stddev gate lets them. One row per group:
    * (keys..., n_rows, med, mad, n_outliers).
    *
    * Determinism: med and mad come off the quantized exact idiom above,
    * and the fence comparison |x - med| > nMads * mad derives from them
    * in two IEEE ops — bit-stable across engines. Degenerate spread
    * (mad = 0: over half the group identical) makes EVERY differing row
    * an outlier at any fence width; the output carries that signal as a
    * COLUMN (`spread_signal` = mad > 0) so a downstream gate consuming
    * n_outliers machine-distinguishes a real alarm from a discrete-heavy
    * group where the fence is vacuous — page on
    * n_outliers AND spread_signal, investigate the distribution when
    * spread_signal is false. Scale: inherits the exact idiom's
    * bounded-group contract; the med/mad sides broadcast (one row per
    * group). */
  def robustOutlierStats(df: DataFrame, keyCols: Seq[String], valueCol: String,
                         tieCol: String, nMads: Double = 3.0): DataFrame = {
    require(nMads > 0, s"fence width must be positive, got $nMads")
    val med = medianPerGroup(df, keyCols, valueCol, tieCol, "__m")
    val dev = df.join(broadcast(med), keyCols)
      .withColumn("__dev", abs(col(valueCol) - col("__m")))
    val mad = medianPerGroup(dev, keyCols, "__dev", tieCol, "__mad")
    dev.join(broadcast(mad), keyCols)
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).cast("long").as("n_rows"),
        // constant within the group — min() just carries them through
        min(col("__m")).as("med"),
        min(col("__mad")).as("mad"),
        sum((col("__dev") > lit(nMads) * col("__mad")).cast("int"))
          .cast("long").as("n_outliers"),
        (min(col("__mad")) > lit(0)).as("spread_signal"))
  }

  /** Calibrate a keep-THRESHOLD to a target keep RATE — the gate-tuning
    * move: instead of hand-picking a quality cutoff, pick the rate of
    * data you can afford to keep and read the threshold off the score
    * distribution. T = the k-th highest score (k = max(1,
    * floor(rate*n)), rank ties broken by `tieCol` ascending); the keep
    * rule is score >= T, so ties AT the threshold all keep and the
    * actual rate can exceed the target by the tie mass — reported
    * alongside. Exact order statistic, no interpolation: engine-portable
    * and hash-checkable (the approx-percentile builtins are not).
    *
    * Scale: the global rank is a single-reducer sort (the exact-idiom
    * limit documented on [[medianPerGroup]]) — at unbounded corpus size,
    * calibrate off a bounded sample instead (the KMV bottom-k monitor's
    * persisted sample is the production source; its hash-rank rows are a
    * uniform sample of the score distribution). Empty input yields an
    * empty result (no distribution to calibrate against).
    * Returns one row: (n_docs, k, threshold, n_kept, actual_rate). */
  def thresholdForKeepRate(df: DataFrame, scoreCol: String, tieCol: String,
                           targetRate: Double): DataFrame = {
    require(targetRate > 0 && targetRate <= 1,
      s"target keep rate must be in (0, 1], got $targetRate")
    val base = df.select(col(scoreCol).as("__s"), col(tieCol).as("__t"))
    val n1 = base.agg(count(lit(1)).cast("long").as("n_docs"))
    // pmod(n, n): 0 for every row but opaque to the optimizer — the
    // deliberate bounded single-partition window (q_o2_lexsort pattern)
    val g = Window.partitionBy(pmod(col("n_docs"), col("n_docs")))
    val thr = base.crossJoin(broadcast(n1))
      .withColumn("__rn", row_number().over(g.orderBy(col("__s").desc, col("__t"))))
      .filter(col("__rn") ===
        greatest(lit(1L), floor(lit(targetRate) * col("n_docs")).cast("long")))
      .select(col("n_docs"), col("__rn").cast("long").as("k"),
        col("__s").as("threshold"))
    base.crossJoin(broadcast(thr))
      .groupBy(col("n_docs"), col("k"), col("threshold"))
      .agg(sum(when(col("__s") >= col("threshold"), 1L).otherwise(0L)).as("n_kept"))
      .select(col("n_docs"), col("k"), col("threshold"), col("n_kept"),
        (col("n_kept").cast("double") / col("n_docs")).as("actual_rate"))
  }

  /** SAMPLE-BASED gate calibration — the production path at unbounded
    * corpus size that [[thresholdForKeepRate]]'s scaladoc names: read
    * the threshold off a KMV bottom-k hash-rank sample
    * ([[Sketches.bottomKSample]], typically a PERSISTED monitoring
    * sample) instead of globally sorting the
    * corpus. The sample's md5-rank rows are a uniform row sample of the
    * score distribution, so its rank-r order statistic estimates the
    * population quantile with rank error ~ n * sqrt(q(1-q)/k) (the
    * binomial quantile-sampling bound; StatsSpec measures it against
    * the exact operator on the fixture). The full-corpus pass that
    * remains is MAP-ONLY — one broadcast threshold + filter + count —
    * so no stage sorts more than the k-row sample. Threshold rule
    * matches the exact operator: T = the rank-max(1, floor(rate *
    * sample_n)) highest sample score (ties by `tieCol` asc); keep is
    * score >= T, tie mass reported via actual_rate. Deterministic — the
    * sample is a pure function of (corpus, k), so recalibrations
    * reproduce. Empty sample ⇒ empty result. Returns one row:
    * (n_docs, sample_n, k, threshold, n_kept, actual_rate). */
  def thresholdForKeepRateSampled(df: DataFrame, sample: DataFrame,
                                  scoreCol: String, tieCol: String,
                                  targetRate: Double): DataFrame = {
    require(targetRate > 0 && targetRate <= 1,
      s"target keep rate must be in (0, 1], got $targetRate")
    val base = df.select(col(scoreCol).as("__s"))
    val samp = sample.select(col(scoreCol).as("__s"), col(tieCol).as("__t"))
    val n1 = samp.agg(count(lit(1)).cast("long").as("sample_n"))
    // bounded single-partition window: at most k sample rows ever sort
    // here (the pmod trick keeps the optimizer from globalizing it)
    val g = Window.partitionBy(pmod(col("sample_n"), col("sample_n")))
    val thr = samp.crossJoin(broadcast(n1))
      .withColumn("__rn", row_number().over(g.orderBy(col("__s").desc, col("__t"))))
      .filter(col("__rn") ===
        greatest(lit(1L), floor(lit(targetRate) * col("sample_n")).cast("long")))
      .select(col("sample_n"), col("__rn").cast("long").as("k"),
        col("__s").as("threshold"))
    base.crossJoin(broadcast(thr))
      .groupBy(col("sample_n"), col("k"), col("threshold"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("__s") >= col("threshold"), 1L).otherwise(0L)).as("n_kept"))
      .select(col("n_docs"), col("sample_n"), col("k"), col("threshold"),
        col("n_kept"),
        (col("n_kept").cast("double") / col("n_docs")).as("actual_rate"))
  }

  /** APPROXIMATE per-group median — the unbounded-group escape hatch
    * (see object scaladoc). `accuracy` trades sketch memory for rank
    * error <= n/accuracy; groups smaller than `accuracy` rows come back
    * exact-rank (still an observed element, not the two-middle mean). */
  def approxMedianPerGroup(df: DataFrame, keyCols: Seq[String], valueCol: String,
                           outCol: String = "median",
                           accuracy: Int = 10000): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(percentile_approx(col(valueCol), lit(0.5), lit(accuracy)).as(outCol))

  /** APPROXIMATE per-group MAD: both levels sketched; same bounded-state
    * argument, same observed-element caveat. */
  def approxMadPerGroup(df: DataFrame, keyCols: Seq[String], valueCol: String,
                        outCol: String = "mad",
                        accuracy: Int = 10000): DataFrame = {
    val med = approxMedianPerGroup(df, keyCols, valueCol, "__m", accuracy)
    df.join(broadcast(med), keyCols)
      .withColumn("__dev", abs(col(valueCol) - col("__m")))
      .groupBy(keyCols.map(col): _*)
      .agg(percentile_approx(col("__dev"), lit(0.5), lit(accuracy)).as(outCol))
  }
}
