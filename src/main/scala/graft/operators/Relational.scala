package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator library: the reference's load/query-path building
  * blocks re-expressed as composable DataFrame transforms.
  *
  * Everything here is shuffle-conscious: joins against dimension tables take
  * an explicit broadcast flag, dedup/upsert shuffle exactly once on the key
  * columns, and nothing ever collects to the driver.
  */
object Relational {

  /** Top-k groups by count — the reference's flagship stats query
    * (`starter:etl/etl.py:56-66`). Partial aggregation happens map-side for
    * free (HashAggregate partial/final); top-k is TakeOrderedAndProject, so
    * only k rows per partition reach the driver-side final sort regardless
    * of group cardinality.
    */
  def topKByCount(df: DataFrame, key: Column, k: Int, countName: String = "cnt"): DataFrame =
    df.groupBy(key)
      .agg(count(lit(1)).as(countName))
      .orderBy(desc(countName), key)
      .limit(k)

  /** Orphan detection (data-quality): child rows whose FK has no parent —
    * the reference's `quality` check (`starter:etl/etl.py:52`) as a left
    * anti join.
    */
  def orphans(child: DataFrame, parent: DataFrame, childKey: String, parentKey: String,
              broadcastParent: Boolean = false): DataFrame = {
    val p = if (broadcastParent) broadcast(parent) else parent
    child.join(p, child(childKey) === p(parentKey), "left_anti")
  }

  /** First-wins dedup: keep the first row per key under `order` — the
    * reference skips re-inserts of already-seen keys
    * (`etl/seed/seed_from_marvel.py:248-254`), which under parallelism must
    * become an explicit deterministic choice.
    */
  def firstWins(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Idempotent upsert (MERGE): insert-if-absent + update-only-mutable-fields,
    * the reference's load path (`starter:etl/load.py:26-47`, D3/D4 in
    * SURVEY.md §2.7). Incoming is deduped first-wins on the key, then:
    *   - matched target rows take `coalesce(incoming.m, target.m)` for each
    *     mutable column (never keys / immutables),
    *   - unmatched incoming rows are inserted whole.
    * Cost model: one shuffle of each side on `keys` (single sort-merge join
    * + union with the anti side, which AQE plans off the same exchange).
    * Running it twice with the same batch is a no-op (idempotence spec'd in
    * MergeSpec).
    */
  def upsert(target: DataFrame, incoming: DataFrame, keys: Seq[String],
             mutableCols: Seq[String], incomingOrder: Seq[Column]): DataFrame = {
    val outCols = target.columns.toSeq
    val inc = firstWins(incoming, keys, incomingOrder)
    val incSel = inc.select((keys ++ mutableCols).map(col): _*)
      .toDF(keys.map("__k_" + _) ++ mutableCols.map("__m_" + _): _*)
    val keyCond = keys.map(k => target(k) === incSel("__k_" + k)).reduce(_ && _)
    val updated = target.join(incSel, keyCond, "left_outer")
      .select(outCols.map { c =>
        if (mutableCols.contains(c)) coalesce(col("__m_" + c), target(c)).as(c)
        else target(c)
      }: _*)
    val inserts = inc.join(target.select(keys.map(col): _*), keys, "left_anti")
      .select(outCols.map(col): _*)
    updated.unionByName(inserts)
  }

  /** Argmax per group, deterministic under ties: the row with max `order`
    * columns wins (reference's best-scoring-series pick,
    * `etl/seed/seed_from_marvel.py:126-138`). Window formulation so ties
    * break identically in any engine.
    */
  def argmaxPerGroup(df: DataFrame, groupKeys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(groupKeys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** As-of join (composed from existing operators per the custom-operator
    * preference order: union + ignore-nulls window, no custom SparkPlan
    * needed): for every left row, attach the payload of the latest right
    * row with the same key whose timestamp is <= the left timestamp.
    *
    * Algorithm: tag both sides, union, then one window per key ordered by
    * (ts, side, tie) carries the last non-null right payload forward; left
    * rows read it. ONE shuffle on the key — same cost as a sort-merge
    * join, with none of the range-explosion a naive
    * `left.ts >= right.ts` theta join would produce.
    *
    * `rightTie` makes ties at equal timestamps deterministic (greatest
    * wins, matching "latest"); right rows sort before left rows at the
    * same instant so an exactly-simultaneous right row IS visible.
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTs: String, rightTs: String, payloadCols: Seq[String],
               rightTie: String): DataFrame = {
    val leftTagged = left.withColumn("__ts", col(leftTs)).withColumn("__side", lit(1))
      .withColumn("__tie", lit(Long.MaxValue))
    val rightTagged = right.select((keys ++ payloadCols :+ rightTs :+ rightTie).distinct.map(col): _*)
      .withColumn("__ts", col(rightTs))
      .withColumn("__side", lit(0))
      .withColumn("__tie", col(rightTie).cast("long"))
    // align schemas for the union: each side gains the other's columns as nulls
    val allCols = (leftTagged.columns ++ payloadCols.filterNot(leftTagged.columns.contains))
      .distinct
    val l2 = allCols.foldLeft(leftTagged)((df, c) =>
      if (df.columns.contains(c)) df else df.withColumn(c, lit(null)))
    val r2 = allCols.foldLeft(rightTagged)((df, c) =>
      if (df.columns.contains(c)) df else df.withColumn(c, lit(null)))
    val unioned = l2.select(allCols.toSeq.map(col): _*).unionByName(r2.select(allCols.toSeq.map(col): _*))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ts"), col("__side"), col("__tie"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val carried = payloadCols.foldLeft(unioned) { (df, c) =>
      df.withColumn(s"__asof_$c", last(when(col("__side") === 0, col(c)), ignoreNulls = true).over(w))
    }
    val out = carried.filter(col("__side") === 1)
    val projected = out.select(
      (left.columns.toSeq.map(col) ++
        payloadCols.map(c => col(s"__asof_$c").as(s"asof_$c"))): _*)
    projected
  }

  /** Skew-salted equi-join — the DEFAULT surface. Delegates to
    * [[adaptiveSaltedJoin]]: per-key salt widths come from the fact
    * side's own key histogram, so hot keys fan out and cold keys pay
    * zero replication; `saltFactor` becomes the fan-out ceiling
    * (`maxSalt`). Result set is identical to the plain join. Reach for
    * [[staticSaltedJoin]] only when the skew is known up front and
    * uniform replication of the right side is the intent — a static
    * width on an unknown distribution replicates the right side
    * `saltFactor`× for EVERY key, hot or not.
    *
    * `factIdCol` contract (applies to all three forms): the salt is
    * `pmod(hash(factIdCol), width)`, so the effective fan-out of a hot
    * key is capped by the DISTINCT COUNT of `factIdCol` within that key
    * — pass a per-row (near-)unique id. If no single column is unique,
    * derive one first (e.g. `withColumn("__rid", concat_ws(":", pk
    * columns...))`) and salt on that.
    */
  def saltedJoin(fact: DataFrame, right: DataFrame, key: String,
                 factIdCol: String, saltFactor: Int,
                 targetRowsPerSalt: Long = 1000000L): DataFrame =
    adaptiveSaltedJoin(fact, right, key, factIdCol,
      targetRowsPerSalt = targetRowsPerSalt, maxSalt = saltFactor)

  /** Static-width salted join — the explicit opt-in for KNOWN-up-front
    * skew (or joins outside AQE's reach: streaming, required
    * distributions). Salts the fact's key `pmod(hash(factIdCol),
    * saltFactor)` and replicates the right side across ALL salts for
    * every key — prefer [[saltedJoin]] (adaptive) unless that uniform
    * replication is intended. See [[saltedJoin]] for the factIdCol
    * cardinality contract.
    *
    * Memory caveat (applies to [[adaptiveSaltedJoin]] too): the pinned
    * `shuffle_hash` build side holds ONE partition's right-side rows per
    * (key, salt) in an executor hash relation — bounded by the
    * operator's contract (salting presupposes per-key right rows are
    * modest; the salt divides the FACT side). A pathological caller
    * salting a join whose RIGHT side is itself huge per key can OOM the
    * build where sort-merge would have spilled; swap the hint for
    * `shuffle_merge` in that shape (measured r15: merge costs ~+0.2 s on
    * the demo but spills gracefully). */
  def staticSaltedJoin(fact: DataFrame, right: DataFrame, key: String,
                       factIdCol: String, saltFactor: Int): DataFrame = {
    require(saltFactor > 1)
    val salted = fact.withColumn("__salt", pmod(hash(col(factIdCol)), lit(saltFactor)))
    val replicated = right.withColumn("__salt",
      explode(array((0 until saltFactor).map(lit): _*)))
    // Pin the SHUFFLE join shape: salting presupposes both sides exceed
    // broadcast (that is why the caller salts), but on small fixtures the
    // planner sees a few MB and flips to a broadcast hash join — which
    // builds the saltFactor x replicated right side into one hash relation
    // ON THE DRIVER, serially (measured r15: ~0.9 s of the demo query's
    // 1.4 s wall, zero bytes shuffled). The hint keeps the plan the one
    // this operator exists to demonstrate at any input size; results are
    // identical either way (the oracle is the plain join).
    salted.join(replicated.hint("shuffle_hash"), Seq(key, "__salt")).drop("__salt")
  }

  /** Per-key salt widths chosen FROM THE DATA instead of one static
    * factor. One partial-agg'd count pass over the fact side builds the
    * key histogram (map-side combine means the shuffle carries one row
    * per key per partition — the histogram never sees fact rows, so it
    * is itself skew-immune), hot keys get width ceil(cnt /
    * targetRowsPerSalt) capped at maxSalt AND at the key's own row count
    * (a width beyond the rows in the key only replicates right-side
    * copies that can never match), cold keys width 1. Only the >1 widths
    * broadcast; the right side replicates each row `width` times — so
    * the replication cost is paid ONLY for hot keys, where the static
    * tool pays saltFactor x for every key. Result set is identical to
    * the plain join (each fact row keeps exactly one salt; its right
    * partner carries every salt of that key). See [[saltedJoin]] for the
    * factIdCol cardinality contract — a low-cardinality id silently
    * concentrates a wide key onto few salts.
    */
  def adaptiveSaltedJoin(fact: DataFrame, right: DataFrame, key: String,
                         factIdCol: String, targetRowsPerSalt: Long,
                         maxSalt: Int = 64): DataFrame = {
    require(targetRowsPerSalt > 0 && maxSalt > 1)
    val widths = fact.groupBy(col(key))
      .agg(count(lit(1)).as("__n"))
      .select(col(key),
        least(least(ceil(col("__n").cast("double") / lit(targetRowsPerSalt)),
          lit(maxSalt)), col("__n")).cast("int").as("__w"))
      .filter(col("__w") > 1)
    def withWidth(df: DataFrame) =
      df.join(broadcast(widths), Seq(key), "left_outer")
        .withColumn("__w", coalesce(col("__w"), lit(1)))
    val salted = withWidth(fact)
      .withColumn("__salt", pmod(hash(col(factIdCol)), col("__w")))
      .drop("__w")
    val replicated = withWidth(right)
      .withColumn("__salt", explode(sequence(lit(0), col("__w") - 1)))
      .drop("__w")
    // same shuffle-shape pin as staticSaltedJoin — see the comment there
    salted.join(replicated.hint("shuffle_hash"), Seq(key, "__salt")).drop("__salt")
  }

  /** Big-big range (interval) join as an EQUI join: each interval explodes
    * into the fixed-width bands it covers, points key into the single band
    * they fall in, and the band equi-join + residual BETWEEN filter
    * replaces the nested-loop scan. A (point, interval) match surfaces
    * exactly once — the interval's expansion contains the point's band
    * exactly once — so no dedup pass is needed.
    *
    * Scale: BroadcastNestedLoopJoin (the default plan for a BETWEEN join)
    * requires one side to fit in memory and compares every pair; banding
    * shuffles both sides by band and hash-joins. Replication factor on the
    * interval side is len/bandWidth + 1, so pick bandWidth near the
    * typical interval length. Point and bound columns must be numeric
    * (cast timestamps to epoch first).
    */
  def bandedRangeJoin(points: DataFrame, intervals: DataFrame,
                      pointCol: String, startCol: String, endCol: String,
                      bandWidth: Long): DataFrame = {
    require(bandWidth > 0, s"bandWidth must be positive, got $bandWidth")
    val p = points.withColumn("__band",
      floor(col(pointCol) / lit(bandWidth)).cast("long"))
    val iv = intervals.withColumn("__band",
      explode(sequence(floor(col(startCol) / lit(bandWidth)).cast("long"),
        floor(col(endCol) / lit(bandWidth)).cast("long"))))
    p.join(iv, Seq("__band"))
      .filter(col(pointCol) >= col(startCol) && col(pointCol) <= col(endCol))
      .drop("__band")
  }
}
