package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable frequency sketches for corpus-scale streams (Cormode &
  * Muthukrishnan, "An improved data stream summary: the count-min sketch
  * and its applications", J. Algorithms '05).
  *
  * The sketch table is (row j, bucket, cnt) with depth x width cells —
  * CONSTANT size regardless of corpus scale, built by one partial-agg'd
  * shuffle whose key space is the depth x width cells (map-side combine
  * does all the heavy lifting; no token string ever shuffles). Cells are
  * plain additive counts, so sketches merge by summing — per-partition,
  * per-batch, or per-day sketches union freely, which is the whole point
  * at 100 TB (build tiny per-shard summaries, merge, answer frequency
  * queries without touching the corpus again).
  *
  * Hashes are md5-band derived (TextAnalysis.md5Bucket shape), so an
  * external engine recomputes the identical sketch — estimates are
  * hash-checkable, not just bounded. CMS guarantees est >= true count
  * (over-estimation only, from collisions).
  */
object Sketches {

  /** Row-j bucket of a token: md5 two-hex-char band of "j:token", mod
    * width (width <= 256 keeps the band uniform). */
  def cmsBucket(tok: Column, j: Int, width: Int): Column = {
    require(width > 0 && width <= 256, s"width must be in [1,256], got $width")
    pmod(TextAnalysis.md5Bucket(concat(lit(s"$j:"), tok)), lit(width))
  }

  /** Build the (j, bucket, cnt) sketch over a token column. */
  def cmsSketch(toks: DataFrame, tokCol: String, depth: Int, width: Int): DataFrame =
    toks.select(posexplode(array(
        (0 until depth).map(j => cmsBucket(col(tokCol), j, width)): _*))
        .as(Seq("j", "bucket")))
      .groupBy(col("j"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Point-query the sketch for each probe token: est = min over rows of
    * the token's cell (absent cells read 0). The sketch is depth x width
    * rows — broadcast; probes never touch the corpus. */
  def cmsEstimate(sketch: DataFrame, probes: DataFrame, tokCol: String,
                  depth: Int, width: Int): DataFrame =
    probes.select(col(tokCol),
        posexplode(array((0 until depth).map(j => cmsBucket(col(tokCol), j, width)): _*))
          .as(Seq("j", "bucket")))
      .join(broadcast(sketch), Seq("j", "bucket"), "left_outer")
      .groupBy(col(tokCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_cnt"))

  // --- HyperLogLog (Flajolet, Fusy, Gandouet, Meunier, AofA '07) ---
  //
  // PORTABLE registers at p = 8 (m = 256): bucket = first two md5 hex
  // chars of the value, rho = 1 + leading-zero count of the NEXT 48 md5
  // bits (so every derived quantity is a pure function of the md5 digest
  // an external engine recomputes byte-identically — the builtin
  // approx_count_distinct sketch is opaque, this one is hash-checkable).
  // Registers merge by MAX: per-partition, per-shard, per-day register
  // tables union freely, same merge story as the CMS cells above. The
  // corpus-sized aggregation shuffles at most m rows per group per
  // partition after map-side combine — values never shuffle.

  /** Register table (groupCols..., j, r): j in [0,256), r = max rho. */
  def hllRegisters(df: DataFrame, value: Column, groupCols: Seq[String]): DataFrame = {
    val d = md5(value)
    val j = conv(substring(d, 1, 2), 16, 10).cast("int")
    // 48 bits after the bucket byte; rho = 49 - bitlength(v), and 49 for
    // v = 0 (all 48 bits zero). bin() renders the minimal binary string in
    // both Spark and DuckDB, so bitlength = length(bin(v)) ports exactly.
    val v = conv(substring(d, 3, 12), 16, 10).cast("long")
    val rho = when(v === 0L, lit(49))
      .otherwise(lit(49) - length(bin(v))).cast("int")
    df.select(groupCols.map(col) :+ j.as("j") :+ rho.as("rho"): _*)
      .groupBy(groupCols.map(col) :+ col("j"): _*)
      .agg(max(col("rho")).as("r"))
  }

  /** Cardinality estimate from a p=8 register table. The register sum
    * Σ 2^-r is computed EXACTLY: terms scale to integers 2^(50-r)
    * (1 <= r <= 49 by construction), absent registers contribute 2^50
    * each, and the whole denominator stays a BIGINT below 2^59 — the
    * final alpha·m²/S is then one float division, bit-identical on any
    * engine that composes the same literals. No small-range linear
    * counting correction: that needs ln(), a transcendental the
    * hash-checked contract bans; callers who need it apply
    * 256·ln(256/(256-n_hit)) driver-side from the n_hit this returns. */
  def hllEstimate(reg: DataFrame, groupCols: Seq[String]): DataFrame = {
    // alpha_256 * m^2 * 2^50, composed left-to-right exactly as the
    // oracle writes it so both engines produce the same double.
    val k = (lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0))) *
      lit(65536.0) * lit(1125899906842624.0)
    reg.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_hit"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), 50 - r)")).as("s_hit"))
      .select(groupCols.map(col) :+ col("n_hit") :+
        (k / (col("s_hit") +
          (lit(256L) - col("n_hit")) * lit(1125899906842624L))).as("hll_est"): _*)
  }

  /** Heavy hitters via the CMS — the sketch's classic end-use (Cormode &
    * Muthukrishnan §4): every distinct token probes the broadcast sketch
    * (est = min over depth rows), tokens with est >= phi * total survive,
    * top-k by (est desc, token). phi makes the threshold SCALE-FREE —
    * the same query means "more than 1/50th of all tokens" at any corpus
    * size. Shape: the corpus aggregates once into the constant-size
    * sketch and once into per-token counts over the VOCABULARY (map-side
    * combine; |V| << corpus — and at 100 TB the sketch and the vocabulary
    * both arrive merged from per-shard passes, so the probe never touches
    * the corpus again). CMS guarantees est >= true, so no true heavy
    * hitter is ever missed at the threshold — the false-positive margin
    * is visible in the (est_cnt, true_cnt) pair. */
  def cmsHeavyHitters(toks: DataFrame, tokCol: String, depth: Int, width: Int,
                      phi: Double, k: Int): DataFrame = {
    require(phi > 0 && phi < 1, s"phi must be in (0,1), got $phi")
    val sketch = cmsSketch(toks, tokCol, depth, width)
    val total = toks.agg(count(lit(1)).as("__total"))
    val probes = toks.groupBy(col(tokCol))
      .agg(count(lit(1)).as("true_cnt"))
    cmsEstimate(sketch, probes, tokCol, depth, width)
      .join(probes, Seq(tokCol))
      .crossJoin(broadcast(total))
      .filter(col("est_cnt").cast("double") >= lit(phi) * col("__total"))
      .select(col(tokCol), col("est_cnt"), col("true_cnt"))
      .orderBy(col("est_cnt").desc, col(tokCol))
      .limit(k)
  }

  /** Driver-side small-range correction for hllEstimate rows (Flajolet
    * et al. '07 §4): below the linear-counting threshold (raw <= 2.5m)
    * with empty registers remaining, the better estimator is linear
    * counting m·ln(m/(m - n_hit)). ln() is a libm transcendental the
    * hash-checked oracle contract bans from QUERY paths (Sketches
    * hllEstimate documents the formula instead of applying it) — this
    * helper is for non-oracle callers, and runs on the one aggregated
    * (n_hit, hll_est) row per group, never inside a corpus plan. */
  def hllEstimateCorrected(nHit: Long, rawEst: Double): Double = {
    val m = 256.0
    if (rawEst <= 2.5 * m && nHit < 256) m * math.log(m / (m - nHit))
    else rawEst
  }

  // --- Bloom filter (Bloom, CACM '70) ---
  //
  // The membership-set sketch for the cases where even an 8-byte-per-key
  // exact set is too big to broadcast (a seen-content-hash set over a
  // year of ingest; the union of every benchmark's grams): mBits of
  // filter regardless of cardinality, no false NEGATIVES ever, false
  // positives at a rate set by mBits/k vs n. Positions are md5-derived
  // ("i:value", first 48 bits mod mBits), so an external engine rebuilds
  // the identical filter — even the false positives hash-check. Words
  // pack 62 bits per BIGINT (shift <= 61 keeps 1<<bit positive on every
  // engine); filters over disjoint inputs merge by per-word bit_or.

  /** Bit position i (of k) for a value: uniform in [0, mBits). */
  def bloomPosition(value: Column, i: Int, mBits: Int): Column =
    pmod(conv(substring(md5(concat(lit(s"$i:"), value)), 1, 12), 16, 10)
      .cast("long"), lit(mBits.toLong))

  /** Build the (word, bits) filter table over a value column: at most
    * ceil(mBits/62) rows, built by one partial-agg'd shuffle keyed on the
    * word index — values never shuffle. */
  def bloomBuild(df: DataFrame, value: Column, mBits: Int, k: Int): DataFrame = {
    require(mBits % 62 == 0, s"mBits must pack 62-bit words, got $mBits")
    require(k >= 1 && k <= 16, s"k hash functions must be in [1,16], got $k")
    df.select(explode(array(
        (0 until k).map(i => bloomPosition(value, i, mBits)): _*)).as("p"))
      .select(expr("p DIV 62").as("word"), col("p").mod(lit(62L)).cast("int").as("bit"))
      .groupBy("word")
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))").as("bits"))
  }

  /** Probe: keeps `keyCols` and appends bloom_hit (1 = all k bits set —
    * definite OR false positive; 0 = DEFINITELY absent). The filter
    * broadcasts; the probe side is explode(k) + broadcast join + one
    * aggregation keyed on the caller's keys.
    *
    * NOTE: this relational formulation re-groups the exploded bit probes
    * on the caller's keys — if those keys carry the probed VALUE (e.g. the
    * gram text), that value string shuffles, which is the exact cost the
    * sketch exists to avoid. Per-value membership should use the in-row
    * path instead: collect the constant-size filter once (bloomWords) and
    * evaluate bloomHit per row — zero shuffles, zero fan-out. This
    * DataFrame-in/DataFrame-out form remains for filters too large to
    * embed in a plan and for the streaming merge path. */
  def bloomProbe(bloom: DataFrame, probes: DataFrame, value: Column,
                 keyCols: Seq[String], mBits: Int, k: Int): DataFrame =
    probes.select(keyCols.map(col) :+ explode(array(
        (0 until k).map(i => bloomPosition(value, i, mBits)): _*)).as("p"): _*)
      .select(keyCols.map(col) :+ expr("p DIV 62").as("word") :+
        col("p").mod(lit(62L)).cast("int").as("bit"): _*)
      .join(broadcast(bloom), Seq("word"), "left_outer")
      .groupBy(keyCols.map(col): _*)
      .agg(min(when(expr("(bits >> bit) & 1") === 1, 1).otherwise(0)).as("bloom_hit"))

  /** Collect a bloomBuild filter into its dense packed-word form: ONE
    * array of mBits/62 longs (4 KB at mBits=31744 — constant-size by
    * construction, that is the sketch's whole contract), absent words 0.
    * The driver-side collect is O(mBits/62) rows regardless of how many
    * values were inserted. */
  def bloomWords(bloom: DataFrame, mBits: Int): Array[Long] = {
    require(mBits % 62 == 0, s"mBits must pack 62-bit words, got $mBits")
    val words = new Array[Long](mBits / 62)
    bloom.select(col("word").cast("int"), col("bits"))
      .collect().foreach { r =>
        val w = r.getInt(0)
        require(w >= 0 && w < words.length,
          s"stored bloom word index $w out of range for mBits=$mBits " +
            s"(expected < ${words.length} words) — filter was built with a " +
            "different mBits than the probe config")
        words(w) = r.getLong(1)
      }
    words
  }

  /** IN-ROW membership test against a collected filter: 1 = all k bits
    * set (definite or false positive), 0 = definitely absent. The packed
    * words embed in the plan as one array literal, so every task tests
    * bits locally — no explode, no join, no shuffle; each of the k
    * positions is one md5 + two word ops. This is the 100 TB probe shape:
    * the corpus scan stays map-only and emits a 0/1 per value. */
  def bloomHit(value: Column, words: Array[Long], mBits: Int, k: Int): Column = {
    require(words.length * 62 == mBits, s"words must pack $mBits bits, got ${words.length} longs")
    val w = lit(words)
    (0 until k).map { i =>
      val p = bloomPosition(value, i, mBits)
      val word = element_at(w, call_function("div", p, lit(62L)).cast("int") + lit(1))
      call_function("shiftright", word, pmod(p, lit(62L)).cast("int"))
        .bitwiseAND(lit(1L)) === lit(1L)
    }.reduce(_ && _).cast("int")
  }

  /** Per-row COUNT of array elements that bloom-hit, as one native
    * codegen'd loop (graft.plans.BloomGramHits) — the production shape for
    * "how contaminated is this document": the builtin-function equivalent
    * (`aggregate(gs, 0, (acc, g) -> acc + bloomHit(g))`) is a
    * higher-order function, which Catalyst evaluates as CodegenFallback —
    * per-element interpreter re-entry that costs ~10x on a corpus scan. */
  def bloomCountHits(grams: Column, words: Array[Long], mBits: Int, k: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.plans.BloomGramHits(
      ColumnBridge.expression(grams), words.toSeq, mBits, k))
  }

  // --- Bottom-k hash-rank sample (KMV-style coordinated sample) ---
  //
  // The QUANTILE/sample sketch completing the family (CMS = frequency,
  // HLL = cardinality, Bloom = membership): per group, keep the k rows
  // whose md5(id) ranks lowest — a uniform row sample that is MERGEABLE
  // by construction: bottom-k of a union == bottom-k of the union of
  // per-part bottom-k's (the hash rank is a property of the row, not of
  // the partitioning), the same per-shard/per-epoch merge story as the
  // other sketches. Deterministic (no RNG), so estimates hash-check on
  // any engine that recomputes the same md5 ranking — unlike the opaque
  // builtin approx_percentile state. The Bar-Yossef et al. (RANDOM '02)
  // k-minimum-values construction, applied to row sampling.

  /** Per-group bottom-k rows by (md5(id), id). Output keeps groupCols,
    * idCol, valueCol plus the rank hash `rk` (so downstream merges can
    * re-rank without recomputing md5) and the build-k stamp `__kmv_k`
    * (the merge law holds only downward: a merge of partials must not
    * request more than their build k). The window's row_number lowers to the bounded-heap
    * TopKPerKey via TopKRewrite — map-side partial top-k, never a full
    * per-group sort. */
  def bottomKSample(df: DataFrame, idCol: String, valueCol: String,
                    groupCols: Seq[String], k: Int): DataFrame = {
    require(k >= 1, s"sample size must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("rk"), col(idCol))
    df.select(groupCols.map(col) :+ col(idCol) :+ col(valueCol) :+
        md5(col(idCol).cast("string")).as("rk"): _*)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
      .withColumn("__kmv_k", lit(k))
  }

  /** Drift alarm over two bottom-k samples — the alert rule of the
    * monitoring loop (the LIVE sample against a pinned day-0 baseline
    * sample of the same shape): per group, one quantile from each side
    * and a drifted flag. Drifted when the
    * group exists on only one side (appearing/vanishing groups ARE
    * drift) or when |cur − base| > tolerance · max(|base|, 1) — the
    * max(·,1) floor keeps a zero/near-zero baseline from alerting on
    * noise while staying scale-free above it. Everything is exact rank
    * arithmetic over constant-size samples; deterministic, so an alert
    * is reproducible, not a flake. */
  def sampleDrift(current: DataFrame, baseline: DataFrame, idCol: String,
                  valueCol: String, groupCols: Seq[String],
                  q: (String, Int, Int) = ("p50", 1, 2),
                  tolerance: Double = 0.2): DataFrame = {
    require(tolerance > 0, s"tolerance must be > 0, got $tolerance")
    val (nm, num, den) = q
    def side(df: DataFrame, as: String) =
      sampleQuantiles(df, idCol, valueCol, groupCols, Seq((nm, num, den)))
        .select(groupCols.map(col) :+ col(nm).cast("double").as(as): _*)
    side(baseline, "base").join(side(current, "cur"), groupCols, "full_outer")
      .withColumn("drifted",
        col("base").isNull || col("cur").isNull ||
          abs(col("cur") - col("base")) >
            lit(tolerance) * greatest(abs(col("base")), lit(1.0)))
  }

  /** Quantile estimates from a bottom-k sample: for each (name, num, den)
    * with q = num/den, the value at rank ceil(q*n) of the sample ordered
    * by (value, id) — EXACT order-statistic selection, no interpolation,
    * so the estimate is engine-portable integer/rank arithmetic plus one
    * value lookup (and exact whenever the group fits inside k). Output:
    * (groupCols..., sample_n, <name>...). The sample is at most k rows
    * per group, so the windows here sort constant-size partitions. */
  def sampleQuantiles(sample: DataFrame, idCol: String, valueCol: String,
                      groupCols: Seq[String],
                      qs: Seq[(String, Int, Int)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    qs.foreach { case (nm, num, den) =>
      require(num >= 1 && num <= den, s"quantile $nm = $num/$den outside (0,1]") }
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col(valueCol), col(idCol))
    val wAll = Window.partitionBy(groupCols.map(col): _*)
    val r = sample
      .withColumn("__rn", row_number().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(wAll))
    r.groupBy(groupCols.map(col): _*)
      .agg(max(col("__n")).as("sample_n"),
        qs.map { case (nm, num, den) =>
          // ceil(q*n) = (num*n + den - 1) div den, floored float division
          // (exact below 2^53, and written identically in the oracle)
          max(when(col("__rn") ===
              greatest(lit(1L), floor((col("__n") * num + (den - 1)) / lit(den))),
            col(valueCol))).as(nm)
        }: _*)
  }
}
