package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over embedding columns (Array[Float]).
  *
  * Two paths:
  *  - bruteForceTopK: exact cosine top-k, O(|queries| x |corpus|). The
  *    baseline; right answer when |queries| is small (queries broadcast).
  *  - signLsh*: random-hyperplane LSH — deterministic md5-derived
  *    hyperplane signs, bucket vectors by an nBits-bit signature, search
  *    only within buckets. The 100 TB path: signature is a narrow per-row
  *    expression, the join keys on the bucket.
  *
  * Numerical determinism: dot products are floor-quantized to integers at
  * 1e12 and summed exactly (associative), so scores are bit-identical
  * regardless of partitioning — and to the DuckDB oracle.
  */
object Similarity {

  /** Quantization scale for vector math: 12 fractional digits (see
    * graft.functions.Fns — floor-quantized integer sums are the only
    * double-aggregation both engines compute bit-identically). */
  private val VScale = 1e12

  /** Engine-portable exact sum of a double expression at VScale. */
  private def vsum(c: Column): Column =
    sum(floor(c * lit(VScale) + lit(0.5)).cast(LongType)) / lit(VScale)

  // ---- fused per-row kernels (plans/vectorExpressions.scala) ----------
  // Same quantized arithmetic as vsum, computed in one loop per PAIR
  // instead of a posexplode + dimension join + groupBy (which shuffles 64
  // rows per pair just to add them back together). Embeddings are cast to
  // ARRAY<DOUBLE> once (float->double widening is exact, matching the
  // oracle's CAST(x AS DOUBLE)).
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column => pcol, expression => pexpr}
  private def dvec(c: Column): Column = c.cast("array<double>")
  private def qdot(a: Column, b: Column): Column =
    pcol(graft.plans.QuantizedDotSum(pexpr(a), pexpr(b))) / lit(VScale)
  private def ql2(a: Column, b: Column): Column =
    pcol(graft.plans.QuantizedL2Sum(pexpr(a), pexpr(b))) / lit(VScale)
  private def qnorm(a: Column): Column = sqrt(qdot(a, a))
  // Pair-forming scorers precompute qnorm per input ROW (a `__n*` column on
  // each side's projection) instead of inside the pair projection: the norm
  // is a per-row function, and recomputing it per PAIR costs two extra fused
  // dot loops on every candidate pair — ~3x the per-pair arithmetic of the
  // cosine itself (guide: per-task work). Same expression over the same row,
  // so the division sees bit-identical operands and every cosine is
  // unchanged (oracle-checked).

  // ---- in-row argmin kernels ------------------------------------------
  // Coarse-cell assignment and PQ encoding are ARGMINS against a tiny
  // centroid table — there is no reason to shuffle the corpus for them.
  // The table reshapes to ONE row (array of structs), broadcasts via
  // crossJoin, and the per-vector argmin folds over the array with least()
  // on (d2, cc) structs. least is the lexicographic struct min —
  // associative and commutative — so the collect_list order cannot matter,
  // and ties break to the lower cc exactly like the previous
  // min(struct(d2, cc)) aggregation. At 100 TB this turns the widest stage
  // of every IVF/PQ build (assigning/encoding EVERY corpus vector) into a
  // map-only projection: the scan never exchanges.

  /** Coarse-quantizer seed centroids for the IVF family: the `n` corpus
    * vectors ranked first by (md5(vid), vid) — a deterministic,
    * engine-portable hash-rank sample (the oracle reproduces it as
    * `ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT n`). Seeding by lowest
    * ids (the previous policy) skews the cells whenever low ids are
    * homogeneous — ingest order = crawl order is the common case at
    * 100 TB — which silently degrades nProbe recall; a hash-rank sample
    * is uniform over the corpus regardless of id layout (IvfSeedSpec
    * measures the recall gap on a planted crawl-prefix cluster).
    * orderBy+limit lowers to TakeOrderedAndProject — a distributed
    * partial top-n, no global sort. Returns (cc, cv), cc = seed vid. */
  private def coarseSeeds(vecs: DataFrame, n: Int): DataFrame =
    vecs.orderBy(md5(col("vid").cast("string")), col("vid")).limit(n)
      .select(col("vid").as("cc"), col("v").as("cv"))

  /** (cc, cv) centroid table reshaped to one broadcastable row. */
  private def centOneRow(cent: DataFrame): DataFrame =
    cent.groupBy().agg(collect_list(
      struct(col("cc").cast(LongType).as("cc"), dvec(col("cv")).as("cv"))).as("cents"))

  /** The IVF family's probe ranking, in-row: each row of `q` (qid, qv,
    * ...) becomes one row per probed cell — `cell`, and `rn` its probe
    * rank, 1 = nearest — for its `nProbe` nearest cells of `cent`, ties
    * (d2, cc). plans.NearestCellsExpr ranks against the same one-row
    * broadcast the corpus side's [[argminCell]] reads, so the query side
    * never shuffles (it replaces a per-query row_number window). */
  private def probeCells(q: DataFrame, cent: DataFrame, nProbe: Int): DataFrame =
    q.crossJoin(broadcast(centOneRow(cent)))
      .select(q.columns.toSeq.map(col) :+ posexplode(pcol(graft.plans.NearestCellsExpr(
          pexpr(col("qv")), pexpr(col("cents")), nProbe))).as(Seq("__pos", "cell")): _*)
      .withColumn("rn", col("__pos") + 1)
      .drop("__pos")

  /** Nearest-centroid id for one vector — one native fused loop per row
    * (plans.ArgminCellExpr; the HOF aggregate/least composition it
    * replaces was CodegenFallback — interpreted per centroid per row). */
  private def argminCell(v: Column, cents: Column): Column =
    pcol(graft.plans.ArgminCellExpr(pexpr(v), pexpr(cents)))

  /** A quantizer artifact in canonical tree form: (cc long, cv double[],
    * parent long?, axis double[]?, plo long?, phi long?). Flat (cc, cv)
    * tables — the pre-split common case — normalize to all-roots. A
    * split root carries the slab `axis` its children partition along;
    * each child carries its half-open projection interval [plo, phi)
    * in raw quantized-dot units (exact longs — interval membership can
    * never flap across engines or partitionings). */
  private def normalizeTree(tree: DataFrame): DataFrame = {
    def opt(df: DataFrame, c: String, v: Column): DataFrame =
      if (df.columns.contains(c)) df.withColumn(c, v) else df.withColumn(c,
        lit(null).cast(if (c == "axis") ArrayType(DoubleType): DataType
                       else LongType))
    var t = tree.withColumn("cc", col("cc").cast(LongType))
      .withColumn("cv", dvec(col("cv")))
    t = opt(t, "parent", col("parent").cast(LongType))
    t = opt(t, "axis", dvec(col("axis")))
    t = opt(t, "plo", col("plo").cast(LongType))
    t = opt(t, "phi", col("phi").cast(LongType))
    t.select(col("cc"), col("cv"), col("parent"), col("axis"),
      col("plo"), col("phi"))
  }

  /** The probe-rankable rows of a quantizer artifact — the cells that
    * STORE codes. A flat (cc, cv) table is all leaves; after
    * [[splitHotCells]] the artifact carries a `parent` column and a split
    * root only ROUTES (its children store), so it drops out here. Probe
    * ranking, identity stamping ([[quantizerIdentity]]), live-row
    * filtering, and the drift report's cell set all read THIS view. */
  def leafCells(tree: DataFrame): DataFrame =
    if (!tree.columns.contains("parent")) tree
    else tree.join(
      broadcast(tree.filter(col("parent").isNotNull)
        .select(col("parent").cast(LongType).as("__pp")).distinct()),
      tree("cc").cast(LongType) === col("__pp"), "left_anti")

  /** Input columns plus `cell` assigned by the (possibly split)
    * quantizer: argmin over the level-0 roots, then — when that root was
    * split ([[splitHotCells]]) — the child whose half-open projection
    * interval [plo, phi) contains the vector's raw quantized dot with the
    * root's slab axis. A flat (cc, cv) table is pure level-0 (one argmin,
    * the historical path and plan); either way assignment is map-only
    * (broadcast one-row tables, in-row kernels) and a pure function of
    * (tree, vector), so incremental appends still equal a from-scratch
    * build row-for-row. The interval compare is on exact longs —
    * boundary membership cannot flap. */
  private def withTreeCell(df: DataFrame, v: Column, tree: DataFrame): DataFrame =
    if (!tree.columns.contains("parent"))
      df.crossJoin(broadcast(centOneRow(tree)))
        .withColumn("cell", argminCell(v, col("cents")))
        .drop("cents")
    else {
      val tn = normalizeTree(tree)
      val kids = tn.filter(col("parent").isNotNull)
        .groupBy(col("parent").as("__root"))
        .agg(sort_array(collect_list(struct(col("plo"), col("phi"),
          col("cc")))).as("__kids"))
      val axes = tn.filter(col("parent").isNull && col("axis").isNotNull)
        .select(col("cc").as("__root"), col("axis").as("__axis"))
      val info = kids.join(axes, Seq("__root"))
      val p = pcol(graft.plans.QuantizedDotSum(pexpr(v), pexpr(col("__axis"))))
      df.crossJoin(broadcast(centOneRow(tn.filter(col("parent").isNull))))
        .withColumn("__root", argminCell(v, col("cents"))).drop("cents")
        .join(broadcast(info), Seq("__root"), "left_outer")
        .withColumn("cell", when(col("__kids").isNull, col("__root"))
          .otherwise(element_at(filter(col("__kids"),
              k => p >= k.getField("plo") && p < k.getField("phi")), 1)
            .getField("cc")))
        .drop("__root", "__kids", "__axis")
    }

  /** (id, d, x) exploded view of a vector column, x widened to double;
    * input is spread across the cluster first (the explode fans out 64x). */
  def explodeDims(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    graft.core.Tables.ensureParallelism(df)
      .select(col(idCol), posexplode(col(vecCol)).as(Seq("d", "x")))
      .select(col(idCol), col("d"), col("x").cast(DoubleType).as("x"))

  /** Exact cosine top-k: for each query vector, the k nearest corpus
    * vectors (self-matches excluded). Query side should be small; the
    * dimension-join runs queries x corpus x dims through a partial-agg
    * friendly groupBy.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val c = graft.core.Tables.ensureParallelism(corpus)
      .select(col(idCol).as("cid"), dvec(col(vecCol)).as("cv"))
      .withColumn("__cn", qnorm(col("cv")))
    val q = queries.select(col(idCol).as("qid"), dvec(col(vecCol)).as("qv"))
      .withColumn("__qn", qnorm(col("qv")))
    // queries broadcast against the corpus; norms precompute per row (see
    // qnorm note), so each pair pays exactly one fused dot loop
    val scored = broadcast(q).join(c, col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        (qdot(col("qv"), col("cv")) / (col("__qn") * col("__cn"))).as("cosine"))
    val w = Window.partitionBy("qid").orderBy(desc("cosine"), col("cid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("cid"), col("cosine"), col("rank").cast(IntegerType).as("rank"))
  }

  /** Contrastive hard-negative mining: for each query vector, the k most
    * cosine-similar corpus vectors with a DIFFERENT label — the closest
    * impostors, the negatives that actually move a contrastive/embedding
    * loss (easy negatives contribute ~zero gradient). Same broadcast
    * queries x corpus shape as bruteForceTopK with the label inequality
    * pushed into the join condition, so cross-label pairs never
    * materialize; swap the corpus side for an LSH/IVF shortlist at
    * 100 TB exactly as search does. Quantized scoring — oracle-exact. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, labelCol: String, k: Int): DataFrame = {
    val c = graft.core.Tables.ensureParallelism(corpus)
      .select(col(idCol).as("cid"), col(labelCol).as("c_label"), dvec(col(vecCol)).as("cv"))
      .withColumn("__cn", qnorm(col("cv")))
    val q = queries.select(col(idCol).as("qid"), col(labelCol).as("q_label"),
      dvec(col(vecCol)).as("qv"))
      .withColumn("__qn", qnorm(col("qv")))
    val scored = broadcast(q).join(c,
        col("qid") =!= col("cid") && col("q_label") =!= col("c_label"))
      .select(col("qid"), col("q_label"), col("cid"), col("c_label"),
        (qdot(col("qv"), col("cv")) / (col("__qn") * col("__cn"))).as("cosine"))
    val w = Window.partitionBy("qid").orderBy(desc("cosine"), col("cid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("q_label"), col("cid"), col("c_label"),
        col("cosine"), col("rank").cast(IntegerType).as("rank"))
  }

  // ---- k-NN graph construction (NN-Descent) ----------------------------
  // The all-nodes neighbor graph a SemDeDup-style pipeline, graph-based
  // retrieval, or density estimation wants is O(n^2) exact — at 100 TB
  // that join never runs. NN-Descent (Dong, Charikar, Li, WWW'11) builds
  // an approximate k-NN graph in O(n * k^2) work per round: start from
  // cheap locality buckets, then repeatedly score neighbors-of-neighbors
  // — "my neighbor's neighbor is probably my neighbor" — keeping the
  // best k per node. Every stage is a key join + bounded per-node top-k,
  // exactly the shapes that scale on Spark.

  /** Exploration-ring formula versions (see [[explorationBucketCol]]).
    * The version is GRAPH IDENTITY: a committed graph replays
    * bit-identically only under the formula that built it. */
  final val RingVersions: Set[Int] = Set(1, 2)

  /** The per-round exploration-ring bucket of one node id.
    *
    *  - v1 (historical): hex chars of md5 — 16^ceil(nBits/8) buckets.
    *    The hex floor jumps at multiples of 8: a derived nBits in 9..15
    *    (32k-4M nodes at target 64) gets only 256 buckets, i.e.
    *    exploration windows of n/256 — parallel and salted-uniform, but
    *    heavy. Kept bit-identical forever: committed graphs and the
    *    q_knn_graph oracle replay under it.
    *  - v2 (default for NEW graphs): pmod(xxhash64(id || salt), 2^nBits)
    *    — full 2^nBits granularity, so the exploration windows track the
    *    derived knob exactly like the LSH init rings do (GrowthSpec
    *    measures the bound across nBits 9..15). */
  def explorationBucketCol(id: Column, nBits: Int, salt: String,
                           ringVersion: Int): Column = ringVersion match {
    case 1 => substring(md5(concat(id.cast("string"), lit(salt))), 1,
      1.max((nBits + 7) / 8))
    case 2 => pmod(xxhash64(concat(id.cast("string"), lit(salt))),
      lit(1L << nBits))
    case v => throw new IllegalArgumentException(
      s"ring formula version must be one of $RingVersions, got $v")
  }

  /** Approximate k-NN graph by NN-Descent: (vec_id, nid, cosine, rank),
    * up to k neighbors per node, ranked by quantized cosine (ties to the
    * lower nid — deterministic and oracle-replayable end to end).
    *
    *  - init: nodes bucket by [[signLshBuckets]] (nBits); within each
    *    bucket, members order by (md5(id), id) and each takes the next
    *    min(k, m-1) members on the ring — O(n*k) locality-seeded edges
    *    with NO global sort (the per-bucket windows are bounded).
    *  - round: candidates = current edges ∪ reversed edges ∪
    *    neighbors-of-neighbors over the undirected view, deduplicated;
    *    score all candidates, keep the top k per node. The candidate set
    *    CONTAINS the current edges, so per-node neighbor quality is
    *    monotone in rounds by construction (spec-asserted); per-round
    *    work is bounded by n * (2k)^2 candidate scores (GrowthSpec
    *    measures the linear-in-n growth that makes this the scale path
    *    where the exact O(n^2) graph is not).
    *
    * The reference has no graph surface; the operator follows the public
    * NN-Descent paper shape. */
  def nnDescentGraph(df: DataFrame, idCol: String, vecCol: String,
                     k: Int, rounds: Int, nBits: Int = 8,
                     ringVersion: Int = 1): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    require(RingVersions(ringVersion),
      s"ring formula version must be one of $RingVersions, got $ringVersion")
    import df.sparkSession.implicits._
    // the pinned node table carries each vector's norm: computed once per
    // NODE for the whole build instead of twice per scored candidate pair
    // per round (see qnorm note)
    val vecs = graft.core.Tables.ensureParallelism(df)
      .select(col(idCol).as("__nid"), dvec(col(vecCol)).as("__nv"))
      .withColumn("__nn", qnorm(col("__nv")))
      .transform(graft.core.Materialize.pin)
    def score(pairs: DataFrame): DataFrame =
      pairs
        .join(vecs.select(col("__nid").as("a"), col("__nv").as("__va"),
          col("__nn").as("__na")), Seq("a"))
        .join(vecs.select(col("__nid").as("b"), col("__nv").as("__vb"),
          col("__nn").as("__snb")), Seq("b"))
        .select(col("a"), col("b"),
          (qdot(col("__va"), col("__vb"))
            / (col("__na") * col("__snb"))).as("cosine"))
    val wK = Window.partitionBy("a").orderBy(desc("cosine"), col("b"))
    def topK(scored: DataFrame): DataFrame =
      scored.withColumn("__rn", row_number().over(wK))
        .filter(col("__rn") <= k).drop("__rn")
    // ring edges inside a bucketing column: members order by the salted
    // hash rank, each takes the next min(k, m-1) on the ring — O(n*k)
    // edges, bounded per-bucket windows, NO global sort
    def ring(bucketed: DataFrame, salt: String): DataFrame = {
      val rank = md5(concat(col(idCol).cast("string"), lit(salt)))
      val wB = Window.partitionBy("bucket").orderBy(rank, col(idCol))
      val mem = bucketed
        .withColumn("pos", row_number().over(wB))
        .withColumn("m", count(lit(1)).over(Window.partitionBy("bucket")))
      mem.select(col("bucket"), col(idCol).as("a"), col("pos"), col("m"))
        .crossJoin(broadcast((1 to k).toDF("off")))
        .filter(col("off") < col("m"))
        .select(col("bucket"), col("a"),
          (pmod(col("pos") - 1 + col("off"), col("m")) + 1).as("__tpos"))
        .join(mem.select(col("bucket"), col(idCol).as("b"),
          col("pos").as("__tpos")), Seq("bucket", "__tpos"))
        .select(col("a"), col("b"))
    }
    // salted HASH buckets (locality-free): the per-round exploration set.
    // Pure hill-climbing on neighbors-of-neighbors plateaus at a local
    // optimum when the data has little neighborhood transitivity (random
    // vectors are the worst case — measured 67% of the exact graph's
    // quality); k fresh deterministic candidates per node per round keep
    // the search moving. Exploration buckets scale as 16^ceil(nBits/8)
    // hex chars — coarser than the init's 2^nBits (hex granularity), but
    // monotone in the derived knob so a corpus-scaled nBits also bounds
    // THESE windows (ceil, not integer-div: nBits 9-15 must already read
    // two chars, or the derived knob would leave a 32k-node corpus's
    // exploration windows at n/16). nBits <= 8 keeps the historical one
    // char, so committed oracles replay unchanged.
    def hashRing(salt: String): DataFrame =
      ring(df.select(col(idCol),
        explorationBucketCol(col(idCol), nBits, salt, ringVersion)
          .as("bucket")), salt)
    // init: LSH-bucket locality at two granularities — nBits for signal,
    // nBits/2 as the safety net (a node alone in its fine bucket would
    // otherwise start, and stay, isolated: nothing links to it, so no
    // reversed edge ever reaches it)
    val e0 = ring(signLshBuckets(df, idCol, vecCol, nBits), "")
      .unionByName(ring(signLshBuckets(df, idCol, vecCol, 1.max(nBits / 2)), ""))
      .distinct()
    var cur = graft.core.Materialize.pin(topK(score(e0)))
    for (r <- 1 to rounds) {
      val und = cur.select(col("a"), col("b"))
        .unionByName(cur.select(col("b").as("a"), col("a").as("b")))
      val non = und.select(col("a"), col("b").as("__x"))
        .join(und.select(col("a").as("__x"), col("b")), Seq("__x"))
        .select(col("a"), col("b"))
      val cand = und.unionByName(non).unionByName(hashRing(s":$r"))
        .filter(col("a") =!= col("b")).distinct()
      cur = graft.core.Materialize.pin(topK(score(cand)))
    }
    cur.withColumn("rank", row_number().over(wK).cast(IntegerType))
      .select(col("a").as(idCol), col("b").as("nid"), col("cosine"), col("rank"))
  }

  /** Graph-powered contrastive hard-negative mining — the committed k-NN
    * graph's first consumer, replacing [[hardNegatives]]' per-query
    * broadcast x corpus scan for the every-node mining a contrastive
    * training run wants: each node's negatives are its GRAPH neighbors
    * with a different label, re-ranked over the already-scored edges.
    * Cost is a key join + bounded window over O(|nodes| x k) edge rows —
    * no vector is touched and no corpus pass runs, which is the point of
    * committing the graph. Negatives per node are bounded by the graph's
    * k (a node whose neighborhood is single-label yields fewer than
    * `k` rows — mine with a larger graph k than the training k, exactly
    * as retrieval over-fetches a shortlist). The brute operator stays as
    * the oracle cross-check; consumers of a COMMITTED graph must refuse
    * a stale corpus first (EtlCli.requireStamp over `corpus_id`). */
  def hardNegativesFromGraph(graph: DataFrame, labels: DataFrame,
                             idCol: String, labelCol: String,
                             k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val l = labels.select(col(idCol), col(labelCol))
    val w = Window.partitionBy("qid").orderBy(desc("cosine"), col("cid"))
    graph.select(col(idCol).as("qid"), col("nid").as("cid"), col("cosine"))
      .join(l.select(col(idCol).as("qid"), col(labelCol).as("q_label")), Seq("qid"))
      .join(l.select(col(idCol).as("cid"), col(labelCol).as("c_label")), Seq("cid"))
      .filter(col("q_label") =!= col("c_label"))
      .withColumn("rank", row_number().over(w).cast(IntegerType))
      .filter(col("rank") <= k)
      .select(col("qid"), col("q_label"), col("cid"), col("c_label"),
        col("cosine"), col("rank"))
  }

  /** Deterministic identity of an embedding CORPUS: bit-XOR of per-row
    * xxhash64 over (id-as-string, vec-as-double) — order-independent
    * (rows are unique by id), layout-independent (exact float→double
    * widening), and id-type agnostic (string cast, the hash-rank-sample
    * idiom). This is [[quantizerIdentity]]'s sibling for the k-NN graph
    * family: a committed graph names the corpus it was built OVER, and a
    * consumer holding a re-embedded corpus (new model, new epochs) must
    * refuse the stale graph instead of silently mining degraded
    * neighbors. XOR over disjoint row sets COMPOSES — identity(old ∪
    * batch) = identity(old) XOR identity(batch); duplicate (id, vec) rows
    * would XOR out, so identity is taken over one-copy-per-id views. */
  def corpusIdentity(df: DataFrame, idCol: String, vecCol: String): Long =
    df.select(xxhash64(col(idCol).cast("string"), dvec(col(vecCol))).as("h"))
      .agg(coalesce(expr("bit_xor(h)"), lit(0L)).as("id"))
      .collect().head.getLong(0)

  /** The NN-descent ring-bucket knob, derived from corpus size: nBits
    * such that the 2^nBits fine LSH buckets hold ~targetBucketSize
    * members each — the same "buckets scale with the corpus" posture as
    * the IVF families' cells (GrowthSpec g). The per-bucket ring windows
    * sort bucket memberships, so a FIXED nBits at a growing corpus means
    * n/2^nBits rows sorted per window partition — the bound this
    * derivation keeps ~flat (GrowthSpec axis). Clamped to [2, 24]:
    * below, the rings degenerate to near-global windows; above, 16M+
    * buckets exceed any corpus this hyperplane family separates. */
  def nnDescentNBits(n: Long, targetBucketSize: Int = 64): Int = {
    require(targetBucketSize >= 1,
      s"targetBucketSize must be >= 1, got $targetBucketSize")
    val buckets = math.max(1.0, n.toDouble / targetBucketSize)
    math.min(24, math.max(2, math.ceil(math.log(buckets) / math.log(2.0)).toInt))
  }

  /** nBits-bit sign-LSH bucket id per vector: bit h = [dot(v, plane_h) > 0]
    * with deterministic hyperplane signs (the high bit of md5("h:d")'s
    * first hex char — portable across engines; precomputed inside the
    * fused SignLshBucketExpr). One map-only projection, no explode/agg.
    */
  def signLshBuckets(df: DataFrame, idCol: String, vecCol: String, nBits: Int): DataFrame =
    graft.core.Tables.ensureParallelism(df)
      .select(col(idCol),
        pcol(graft.plans.SignLshBucketExpr(pexpr(dvec(col(vecCol))), nBits)).as("bucket"))

  /** LSH-bucketed near-neighbor pairs: same-bucket candidate pairs with
    * exact cosine verification. At scale, the only shuffle keys on the
    * bucket id (skew-safe for nBits >= ~16 via AQE skew split); the join
    * carries the embedding arrays (bytes per row), and every pair's
    * cosine is one fused loop.
    */
  def lshNeighborPairs(df: DataFrame, idCol: String, vecCol: String, nBits: Int,
                       minCosine: Double): DataFrame = {
    val bv = graft.core.Tables.ensureParallelism(df)
      .select(col(idCol).as("id"), dvec(col(vecCol)).as("v"))
      .select(col("id"), col("v"),
        pcol(graft.plans.SignLshBucketExpr(pexpr(col("v")), nBits)).as("bucket"),
        qnorm(col("v")).as("__nrm"))
    bv.as("a").join(bv.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (qdot(col("a.v"), col("b.v")) /
          (col("a.__nrm") * col("b.__nrm"))).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** Two-stage retrieval (retrieve → rerank), the production search
    * shape: a cheap sign-LSH bucket SHORTLIST prunes the corpus, then the
    * exact quantized-cosine scorer reranks only the shortlist. Queries
    * broadcast with their bucket; the corpus side is a map-only bucket
    * projection, so the only join keys on (bucket, ≠self) and exact
    * scoring touches |same-bucket| rows instead of the corpus. Recall
    * trades against shortlist size via nBits (fewer bits → bigger
    * buckets → higher recall, more rerank work) — same knob family as
    * IVF's nProbe. Returns (qid, cid, cosine, rank) with rank <= k over
    * the SHORTLIST (a bucket with fewer than k members returns fewer). */
  def lshRerankTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, nBits: Int, k: Int): DataFrame = {
    def withBucket(df: DataFrame, as: String) =
      df.select(col(idCol).as(as), dvec(col(vecCol)).as(s"${as}_v"))
        .select(col(as), col(s"${as}_v"),
          pcol(graft.plans.SignLshBucketExpr(pexpr(col(s"${as}_v")), nBits)).as("bucket"),
          qnorm(col(s"${as}_v")).as(s"${as}_n"))
    val c = withBucket(graft.core.Tables.ensureParallelism(corpus), "cid")
    val q = withBucket(queries, "qid")
    val scored = broadcast(q).join(c,
        col("qid") =!= col("cid") && q("bucket") === c("bucket"))
      .select(col("qid"), col("cid"),
        (qdot(col("qid_v"), col("cid_v")) /
          (col("qid_n") * col("cid_n"))).as("cosine"))
    val w = Window.partitionBy("qid").orderBy(desc("cosine"), col("cid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("cid"), col("cosine"), col("rank").cast(IntegerType).as("rank"))
  }

  /** Matryoshka-style prefix-rerank ANN (the MRL deployment trick,
    * Kusupati et al. '22: nested representations make the first
    * `prefixDims` dims a usable low-dim embedding): stage 1 scores every
    * corpus vector against the broadcast queries on the PREFIX ONLY —
    * prefixDims/dims of the arithmetic, and at 100 TB the prefix can be
    * its own stored column so the scan reads a fraction of the bytes —
    * keeping `shortlist` candidates per query; stage 2 reranks only the
    * shortlist with the exact full-dim quantized cosine. The shortlist
    * window carries (qid, cid, pdist) rows — never vectors — and the
    * rerank joins the tiny shortlist BACK to the corpus broadcast-side,
    * so both corpus passes are map-only. Recall trades via prefixDims
    * and shortlist exactly like nBits/nProbe in the LSH/IVF paths. */
  def prefixRerankTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                       vecCol: String, prefixDims: Int, shortlist: Int,
                       k: Int): DataFrame = {
    require(prefixDims >= 1 && shortlist >= k,
      s"need prefixDims >= 1 and shortlist $shortlist >= k $k")
    val c = graft.core.Tables.ensureParallelism(corpus)
      .select(col(idCol).as("cid"), dvec(col(vecCol)).as("cv"))
    val q = queries.select(col(idCol).as("qid"), dvec(col(vecCol)).as("qv"))
    // stage-1 metric is PREFIX COSINE — aligned with the rerank metric
    // (an L2 shortlist against a cosine rerank throws away recall on
    // un-normalized vectors)
    def pvec(v: Column) = slice(v, 1, prefixDims)
    // the prefix slice and its norm are per-row functions: computed once
    // per vector ahead of the q x corpus pair stage (see qnorm note) — the
    // stage-1 pair projection is then exactly one fused prefix-dot loop
    val cp = c.withColumn("__cp", pvec(col("cv")))
      .withColumn("__cpn", qnorm(col("__cp")))
    val qp = q.withColumn("__qp", pvec(col("qv")))
      .withColumn("__qpn", qnorm(col("__qp")))
    val pd = broadcast(qp).join(cp, col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        (qdot(col("__qp"), col("__cp")) /
          (col("__qpn") * col("__cpn"))).as("pcos"))
    val w1 = Window.partitionBy("qid").orderBy(desc("pcos"), col("cid"))
    val short = pd.withColumn("rn", row_number().over(w1))
      .filter(col("rn") <= shortlist).select(col("qid"), col("cid"))
    val rerank = c.join(broadcast(short), Seq("cid"))
      .join(broadcast(q), Seq("qid"))
      .select(col("qid"), col("cid"),
        (qdot(col("qv"), col("cv")) / (qnorm(col("qv")) * qnorm(col("cv")))).as("cosine"))
    val w2 = Window.partitionBy("qid").orderBy(desc("cosine"), col("cid"))
    rerank.withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= k)
      .select(col("qid"), col("cid"), col("cosine"),
        col("rank").cast(IntegerType).as("rank"))
  }

  /** IVF (inverted-file) ANN — the second scale path alongside sign-LSH:
    * a coarse quantizer of `nCells` cells (deterministic hash-rank seed
    * centroids — see coarseSeeds; optional quantized-mean refinement
    * iterations), every vector assigned to its nearest cell, queries probe
    * only the `nProbe` closest cells. Metric: squared L2 with quantized
    * sums, so assignment and ranking are bit-deterministic.
    *
    * Cost shape: the centroid table reshapes to one broadcast row; each
    * query ranks its probe cells in-row against it, and the corpus side
    * is ONE map-only scan — in-row cell, a broadcast-hash join to the
    * (|queries| x nProbe) probe rows on cell, the distance in-row. The
    * only shuffle on the search path is the per-query top-k window.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
              nCells: Int, nProbe: Int, k: Int, refineIters: Int = 0): DataFrame = {
    val vecs = graft.core.Tables.ensureParallelism(corpus)
      .select(col(idCol).as("vid"), dvec(col(vecCol)).as("v"))
    // centroid table as (cc, cv array): seed = hash-rank sample;
    // refinement keeps the per-dim quantized means of the old formulation
    // (dimension-level aggregation is genuinely per-dim, so it stays on
    // the exploded view; the table is nCells x dims — tiny)
    var cent = coarseSeeds(vecs, nCells)
    (0 until refineIters).foreach { _ =>
      // map-only reassignment (in-row argmin against the one-row centroid
      // table); the only shuffle per iteration is the quantized-mean update
      val assigned = vecs.crossJoin(broadcast(centOneRow(cent)))
        .select(argminCell(col("v"), col("cents")).as("cc"), col("v"))
      cent = assigned.select(col("cc"), posexplode(col("v")).as(Seq("d", "x")))
        .groupBy("cc", "d")
        .agg((vsum(col("x")) / count(lit(1))).as("cx"))
        .groupBy("cc")
        .agg(transform(array_sort(collect_list(struct(col("d"), col("cx")))),
          s => s.getField("cx")).as("cv"))
    }
    val q = queries.select(col(idCol).as("qid"), dvec(col(vecCol)).as("qv"))
    val wK = Window.partitionBy("qid").orderBy(col("dist"), col("cid"))
    ivfScored(vecs, cent, q, nProbe)
      .withColumn("rank", row_number().over(wK)).filter(col("rank") <= k)
      .select(col("qid"), col("cid"), col("dist"), col("rank").cast(IntegerType).as("rank"))
  }

  /** The IVF candidate skeleton shared by [[ivfTopK]] and
    * [[ivfProbeSweep]]: (qid, cid, rn, dist) for every corpus vector in
    * one of its query's `nProbe` nearest cells (rn = that cell's probe
    * rank), self-matches excluded. One map-only corpus scan — the cell
    * and the distance are computed in-row, the probe rows broadcast —
    * with no join back to the vectors by cid. */
  private def ivfScored(vecs: DataFrame, cent: DataFrame, q: DataFrame,
                        nProbe: Int): DataFrame =
    vecs.crossJoin(broadcast(centOneRow(cent)))
      .select(col("vid").as("cid"), argminCell(col("v"), col("cents")).as("cell"),
        col("v"))
      .join(broadcast(probeCells(q, cent, nProbe)), "cell")
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), col("rn"), ql2(col("qv"), col("v")).as("dist"))

  /** Exact top-k by the SAME quantized squared-L2 the IVF family ranks
    * with — the ground-truth side of recall evaluation (bruteForceTopK
    * ranks by cosine, a different metric). Broadcast queries x corpus,
    * in-row native distance, deterministic (dist, cid) tie-break.
    * Output (qid, cid, dist, rank). */
  def bruteForceL2TopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                       vecCol: String, k: Int): DataFrame = {
    val vecs = graft.core.Tables.ensureParallelism(corpus)
      .select(col(idCol).as("cid"), dvec(col(vecCol)).as("cv"))
    val q = queries.select(col(idCol).as("qid"), dvec(col(vecCol)).as("qv"))
    val wK = Window.partitionBy("qid").orderBy(col("dist"), col("cid"))
    vecs.crossJoin(broadcast(q))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), ql2(col("qv"), col("cv")).as("dist"))
      .withColumn("rank", row_number().over(wK)).filter(col("rank") <= k)
      .select(col("qid"), col("cid"), col("dist"), col("rank").cast(IntegerType).as("rank"))
  }

  /** Recall@k — THE acceptance metric for any approximate-ANN
    * deployment: per query, the fraction of the exact top-k that the
    * approximate result found. Metric-agnostic: both inputs are
    * (qid, cid, ...) top-k tables (compare like with like — rank both
    * under the same distance). Queries the approximation missed entirely
    * keep a 0.0 row (the outer join on the exact side's query set), so a
    * broken index reads as recall 0, not as an empty result. Both sides
    * must use deterministic k-boundary tie-breaks (every operator here
    * orders by (dist, cid)) or recall itself becomes nondeterministic. */
  def annRecallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame =
    recallRows(approx, exact, k).drop("n_denom")

  /** [[annRecallAtK]]'s rows plus each query's denominator `n_denom`
    * (its exact row count, capped at k) — the integer a micro average
    * over queries sums. */
  private def recallRows(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val hits = exact.select(col("qid"), col("cid"))
      .join(approx.select(col("qid"), col("cid")), Seq("qid", "cid"), "left_semi")
      .groupBy("qid").agg(count(lit(1)).as("__n"))
    // denominator: what the exact side ACTUALLY holds for the query,
    // capped at k — on a corpus smaller than k the exact top-k has fewer
    // rows, and dividing by the constant k would make recall 1.0
    // unreachable for even a perfect index
    exact.groupBy(col("qid")).agg(count(lit(1)).as("__d"))
      .join(hits, Seq("qid"), "left_outer")
      .select(col("qid"),
        coalesce(col("__n"), lit(0L)).as("n_hit"),
        (coalesce(col("__n"), lit(0L)).cast(DoubleType) /
          least(lit(k.toLong), col("__d"))).as("recall"),
        least(lit(k.toLong), col("__d")).as("n_denom"))
  }

  /** Sampled exact-recall probe of a k-NN graph `(idCol, nid, ...)` built
    * over `corpus`: hash-rank sample `nQueries` nodes (md5 of the id),
    * brute-force their exact cosine top-k, and score the graph's
    * neighborhoods of those nodes against it — [[recallRows]] per sampled
    * node. Distribution shift moves a graph's mean cosine but not this
    * recall; a stale graph (built over other vectors) moves recall. */
  def graphRecall(graph: DataFrame, corpus: DataFrame, idCol: String,
                  vecCol: String, nQueries: Int, k: Int): DataFrame = {
    require(nQueries >= 1, s"need at least one probe query, got $nQueries")
    val queries = corpus
      .orderBy(md5(col(idCol).cast("string")), col(idCol)).limit(nQueries)
    val exact = bruteForceTopK(corpus, queries, idCol, vecCol, k)
      .select(col("qid"), col("cid"))
    val approx = graph
      .join(queries.select(col(idCol)), Seq(idCol), "left_semi")
      .select(col(idCol).as("qid"), col("nid").as("cid"))
    recallRows(approx, exact, k)
  }

  // ---- the sweep frontier tail ---------------------------------------
  // Every sweep below reduces to one scored candidate table — one row per
  // (qid, cid) at the DEEPEST grid point, carrying the depth that admits
  // it — and a membership predicate per grid point. The tail is shared:
  // ONE window per qid (a total order; cid breaks every tie) carries a
  // running member count per grid point, which for a member row IS its
  // row_number() within that grid point; the exact truth rides the same
  // window as rows of its own (no truth join); ONE global aggregation
  // counts every grid point; the one-row result explodes into the
  // frontier rows. No per-grid-point window, no pin, no
  // (grid x candidates) fan-out.

  /** `rows` plus, per grid point i, `__m{i}` (never-null membership) and
    * `__r{i}` (the row's running member count under `order` within its
    * qid — its rank within grid point i when `__m{i}` holds). */
  private def gridRanks(rows: DataFrame, order: Seq[Column],
                        members: Seq[Column]): DataFrame = {
    val run = Window.partitionBy("qid").orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rows.select(col("*") +: members.zipWithIndex.map { case (m, i) =>
        coalesce(m, lit(false)).as(s"__m$i") }: _*)
      .select(col("*") +: members.indices.map(i =>
        count(when(col(s"__m$i"), 1)).over(run).as(s"__r$i")): _*)
  }

  /** n_scored per grid point of a [[gridRanks]] table, as `__s{i}`. */
  private def scoredCounts(nPoints: Int): Seq[Column] =
    (0 until nPoints).map(i => count(when(col(s"__m$i"), 1)).as(s"__s$i"))

  /** `rows` plus the exact truth, as rows of their own: (qid, cid,
    * `__t` = true), every candidate column null — so the truth rides the
    * frontier window's one exchange instead of a join of its own. A truth
    * row is a member of no grid point (its depth is null). */
  private def withTruth(rows: DataFrame, exact: DataFrame): DataFrame =
    rows.unionByName(exact.select(col("qid"), col("cid"), lit(true).as("__t")),
      allowMissingColumns = true)

  /** The one global aggregation of an exact-recall sweep over a
    * [[gridRanks]] table that carries [[withTruth]] rows; one row: per
    * grid point i, `__s{i}` (members) and `__h{i}` (members ranked <= k
    * that the truth holds, counted with the truth's multiplicity — a
    * duplicated truth row counts twice, as an inner join with the truth
    * counts it), `extra` aggregates, and `n_denom` (per query, its truth
    * rows capped at k, summed: the truth rows numbered within their qid,
    * those numbered <= k counted). Both truth windows partition within
    * the qid partitioning the rank window already has: no exchange. */
  private def frontierCounts(ranked: DataFrame, nPoints: Int, k: Int,
                             extra: Seq[Column] = Nil): DataFrame = {
    val truthNo = Window.partitionBy("qid").orderBy(col("cid"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val flagged = ranked
      .withColumn("__xm", count(when(col("__t"), 1)).over(Window.partitionBy("qid", "cid")))
      .withColumn("__tn", count(when(col("__t"), 1)).over(truthNo))
    val aggs = scoredCounts(nPoints) ++ (0 until nPoints).map(i =>
      coalesce(sum(when(col(s"__m$i") && col(s"__r$i") <= k, col("__xm"))),
        lit(0L)).as(s"__h$i")) ++ extra :+
      count(when(col("__t") && col("__tn") <= k, 1)).as("n_denom")
    flagged.agg(aggs.head, aggs.tail: _*)
  }

  /** hits / n_denom, exact integers until one final IEEE division; an
    * empty truth reads recall 1.0. */
  private def microRecall(hit: Column): Column =
    when(col("n_denom") === 0, lit(1.0))
      .otherwise(hit.cast(DoubleType) / col("n_denom"))

  /** The frontier rows off a one-row counts frame: one row per entry of
    * `rows` (each entry the output columns of one requested grid point —
    * a duplicated request keeps its duplicate row). */
  private def gridRows(counts: DataFrame, rows: Seq[Seq[Column]]): DataFrame =
    counts.select(explode(array(rows.map(r => struct(r: _*)): _*)).as("__g"))
      .select("__g.*")

  /** The one-knob frontier (ivfProbeSweep, ivfPqResidualSweep,
    * binaryShortlistSweep): grid point d admits the rows with
    * `depthCol` <= d; output (`key`, n_scored, n_hit, n_denom,
    * recall_micro), one row per requested depth. */
  private def depthFrontier(scored: DataFrame, order: Seq[Column],
                            depthCol: String, key: String, depths: Seq[Int],
                            k: Int, exact: DataFrame): DataFrame = {
    val ds = depths.distinct
    val counts = frontierCounts(gridRanks(withTruth(scored, exact), order,
      ds.map(d => col(depthCol) <= d)), ds.size, k)
    gridRows(counts, depths.map { d =>
      val i = ds.indexOf(d)
      Seq(lit(d).as(key), col(s"__s$i").as("n_scored"), col(s"__h$i").as("n_hit"),
        col("n_denom"), microRecall(col(s"__h$i")).as("recall_micro"))
    })
  }

  /** Recall/cost frontier over IVF probe depths — the config-selection
    * query annRecallAtK enables: which nProbe do I deploy? One row per
    * probe depth with the numbers the choice trades off: n_scored (the
    * candidate distance evaluations the depth triggers — IVF's cost
    * axis) and micro-averaged recall@k against the exact ground truth.
    *
    * Cost shape: the [[ivfTopK]] candidate skeleton runs ONCE at
    * max(nProbes) — one map-only corpus scan, each candidate tagged with
    * the probe rank `rn` that reaches it — and the shared frontier tail
    * derives every depth from it: one window per qid ranks the candidates
    * by (dist, cid) with a running count per depth, one broadcast join
    * flags the exact rows, one aggregation counts every depth. Recall is
    * micro-averaged with exact integer sums (hits / sum of per-query
    * denominators, one final IEEE division) — order-independent,
    * engine-portable. Returns (n_probe, n_scored, n_hit, n_denom,
    * recall_micro), one row per requested depth. */
  def ivfProbeSweep(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, nCells: Int, nProbes: Seq[Int], k: Int,
                    exact: DataFrame): DataFrame = {
    require(nProbes.nonEmpty && nProbes.forall(p => p >= 1 && p <= nCells),
      s"every probe depth must lie in [1, nCells=$nCells], got $nProbes")
    val vecs = graft.core.Tables.ensureParallelism(corpus)
      .select(col(idCol).as("vid"), dvec(col(vecCol)).as("v"))
    val q = queries.select(col(idCol).as("qid"), dvec(col(vecCol)).as("qv"))
    depthFrontier(ivfScored(vecs, coarseSeeds(vecs, nCells), q, nProbes.max),
      Seq(col("dist"), col("cid")), "rn", "n_probe", nProbes, k, exact)
  }

  /** IVF-PQ composition (the FAISS-style full scale path, Jegou et al.
    * TPAMI'11 §V): the coarse quantizer restricts the search to `nProbe`
    * probed cells, and within them distances come from the PQ codes via
    * ADC — so a query touches nProbe/nCells of the corpus and reads only
    * m-byte codes, never raw vectors. Codes here encode the RAW vectors
    * (not residuals): residual encoding sharpens recall but couples the
    * codebook to the coarse quantizer; the uncoupled variant keeps both
    * artifacts independently reusable and the oracle math composable.
    * `corpusCodes`/`codebook` are pqEncode/pqCodebook output (typically
    * read back from their persisted parquet); cells and probes recompute
    * from the deterministic hash-rank seed exactly as ivfTopK.
    * Output (qid, cid, adist, rank).
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
                nCells: Int, nProbe: Int, corpusCodes: DataFrame,
                codebook: DataFrame, m: Int, k: Int): DataFrame = {
    val vecs = graft.core.Tables.ensureParallelism(corpus)
      .select(col(idCol).as("vid"), dvec(col(vecCol)).as("v"))
    val cent = coarseSeeds(vecs, nCells)
    // full-corpus cell assignment is map-only (in-row argmin)
    val cells = vecs.crossJoin(broadcast(centOneRow(cent)))
      .select(col("vid").as("cid"), argminCell(col("v"), col("cents")).as("cell"))
    val q = queries.select(col(idCol).as("qid"), dvec(col(vecCol)).as("qv"))
    // candidates: members of probed cells only — the IVF pruning
    val cands = cells.join(broadcast(probeCells(q, cent, nProbe).select("qid", "cell")), "cell")
      .filter(col("qid") =!= col("cid")).select("qid", "cid")
    // ADC: per-query (sub, centroid) distance table broadcasts; each
    // candidate's distance is the sum of its codes' table entries
    val table = subvectors(queries, idCol, vecCol, m)
      .join(broadcast(codebook), "sub")
      .select(col("vid").as("qid"), col("sub"), col("cc"),
        ql2(col("sv"), col("cv")).as("d2"))
    val codes = corpusCodes.select(col("vid").as("cid"),
      posexplode(col("codes")).as(Seq("sub", "cc")))
    val w = Window.partitionBy("qid").orderBy(col("adist"), col("cid"))
    cands.join(codes, "cid")
      .join(broadcast(table), Seq("qid", "sub", "cc"))
      .groupBy("qid", "cid")
      .agg(vsum(col("d2")).as("adist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("cid"), col("adist"),
        col("rank").cast(IntegerType).as("rank"))
  }

  /** RESIDUAL IVF-PQ (the full FAISS IndexIVFPQ design, Jegou et al.
    * TPAMI'11 §V-A): the PQ codebook is trained on RESIDUALS
    * v − centroid(cell), so the quantizer spends its codes on the
    * within-cell variation instead of re-describing the coarse structure —
    * sharper distances than ivfPqTopK's raw-vector codes at the price of
    * coupling codebook to coarse quantizer. The query side builds one ADC
    * table PER PROBED CELL (the query's residual differs per cell):
    * queries × nProbe × m × ksub rows — still a broadcast. Candidates are
    * restricted to probed cells by the (cell, sub, cc) table join itself.
    * Same quantized arithmetic as every vector path, so results are
    * bit-deterministic; oracle-checked end-to-end (q_ann_ivfpq_res reads
    * the persisted codebook + codes back and recomputes cells, probes,
    * per-cell residual tables, and the ADC ranking from scratch) plus
    * spec-checked against exact L2 recall.
    */
  def ivfPqResidualTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                        vecCol: String, nCells: Int, nProbe: Int,
                        m: Int, ksub: Int, iters: Int, k: Int): DataFrame = {
    val (codebook, codes) =
      ivfPqResidualBuild(corpus, idCol, vecCol, nCells, m, ksub, iters)
    ivfPqResidualScore(corpus, queries, idCol, vecCol, nCells, nProbe,
      codes, codebook, m, k)
  }

  /** Coarse centroid table (cc, cv) for the IVF family — the hash-rank
    * seeds over the corpus, exposed so a production index can PERSIST its
    * coarse quantizer: an incremental encode ([[ivfPqResidualEncode]])
    * must assign against the ORIGINAL centroids — re-deriving seeds over
    * a grown corpus would shift the hash-rank seed set and silently
    * invalidate every stored cell assignment. */
  def coarseCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                      nCells: Int): DataFrame =
    coarseSeeds(
      graft.core.Tables.ensureParallelism(corpus)
        .select(col(idCol).as("vid"), dvec(col(vecCol)).as("v")),
      nCells)

  /** (cid, cell, codes) from a pinned residual frame — one in-row argmin
    * pass against the broadcast codebook, cell rides the row (no join
    * back, no shuffle). */
  private def encodeResiduals(resid: DataFrame, codebook: DataFrame, m: Int): DataFrame =
    resid.crossJoin(broadcast(cbOneRow(codebook)))
      .select(col("vid").as("cid"), col("cell"),
        pqCodes(col("r"), col("cb"), m).as("codes"))

  /** Map-only residual-PQ encode of a batch against GIVEN artifacts —
    * coarse centroids + residual codebook, typically read back from their
    * persisted tables: in-row argmin cell assignment, broadcast-join
    * residual subtraction, in-row code argmin. Zero shuffles, no
    * retraining — the O(|batch|) incremental half of the ANN index
    * (codes are a pure function of (centroids, codebook, vector), so
    * incremental equals from-scratch exactly — the reference
    * retrain-ivfpq's re-encode is checked against). Returns (cid, cell,
    * codes). */
  def ivfPqResidualEncode(batch: DataFrame, idCol: String, vecCol: String,
                          cent: DataFrame, codebook: DataFrame, m: Int): DataFrame = {
    val vecs = graft.core.Tables.ensureParallelism(batch)
      .select(col(idCol).as("vid"), dvec(col(vecCol)).as("v"))
    val cells = vecs.crossJoin(broadcast(centOneRow(cent)))
      .select(col("vid"), argminCell(col("v"), col("cents")).as("cell"), col("v"))
    val resid = cells.join(broadcast(cent.select(col("cc").as("cell"), col("cv"))), "cell")
      .select(col("vid"), col("cell"),
        zip_with(col("v"), col("cv"), (a, b) => a - b).as("r"))
    encodeResiduals(resid, codebook, m)
  }

  /** Train-and-encode half of residual IVF-PQ: returns (codebook, codes)
    * — codes carry their cell, (cid, cell, codes) — the two artifacts a
    * production index PERSISTS. */
  def ivfPqResidualBuild(corpus: DataFrame, idCol: String, vecCol: String,
                         nCells: Int, m: Int, ksub: Int,
                         iters: Int): (DataFrame, DataFrame) = {
    val vecs = graft.core.Tables.ensureParallelism(corpus)
      .select(col(idCol).as("vid"), dvec(col(vecCol)).as("v"))
    val cent = coarseSeeds(vecs, nCells)
    // full-corpus cell assignment is map-only (in-row argmin)
    val cells = vecs.crossJoin(broadcast(centOneRow(cent)))
      .select(col("vid"), argminCell(col("v"), col("cents")).as("cell"), col("v"))
    // corpus residuals against the OWN cell's centroid (exact IEEE
    // subtraction, no quantization loss before encoding)
    // pinned: k-means training re-scans its input per iteration, and the
    // encode pass scans it again — without the pin the assignment tower
    // above would re-execute each time
    val resid = cells.join(broadcast(cent.select(col("cc").as("cell"), col("cv"))), "cell")
      .select(col("vid"), col("cell"),
        zip_with(col("v"), col("cv"), (a, b) => a - b).as("r"))
      .transform(graft.core.Materialize.pin)
    // Seed correction: the coarse centroids' own residuals are (near-)zero
    // vectors, which would collapse pqCodebook's hash-rank seeds toward
    // one point if any centroid hash-ranked into the seed set — so the
    // centroid rows are excluded from TRAINING (a broadcast anti-join on
    // the nCells seed ids); encoding still runs over every vector.
    // pinned: the trained codebook is embedded in the codes lineage AND
    // returned for its own persistence — without the pin, materializing
    // codes would re-run the whole k-means
    val codebook = pqCodebook(
      resid.join(broadcast(cent.select(col("cc").as("vid"))), Seq("vid"), "left_anti"),
      "vid", "r", m, ksub, iters)
      .transform(graft.core.Materialize.pin)
    // cell rides the pinned residual row — no join-back needed
    (codebook, encodeResiduals(resid, codebook, m))
  }

  /** Scoring half of residual IVF-PQ, against GIVEN artifacts (typically
    * read back from parquet): per-probed-cell query residual tables +
    * ADC over the stored codes. Cells/probes recompute from the
    * deterministic hash-rank seed exactly as the build did. */
  def ivfPqResidualScore(corpus: DataFrame, queries: DataFrame, idCol: String,
                         vecCol: String, nCells: Int, nProbe: Int,
                         codes: DataFrame, codebook: DataFrame,
                         m: Int, k: Int): DataFrame = {
    val vecs = graft.core.Tables.ensureParallelism(corpus)
      .select(col(idCol).as("vid"), dvec(col(vecCol)).as("v"))
    residualAdcTopK(coarseSeeds(vecs, nCells), codebook, codes, queries,
      idCol, vecCol, m, nProbe, k)
  }

  /** The residual-ADC ranking against GIVEN artifacts — the shared tail
    * of [[ivfPqResidualScore]] (cent re-derived from the corpus) and
    * [[ivfPqResidualProbeIndex]] (cent read from the persisted quantizer,
    * codes pre-pruned to probed cells). Probed-cell restriction is
    * enforced by the (cell, sub, cc) table join either way — the
    * probe-index path ADDITIONALLY prunes the SCAN. */
  private def residualAdcTopK(cent: DataFrame, codebook: DataFrame,
                              codes: DataFrame, queries: DataFrame,
                              idCol: String, vecCol: String, m: Int,
                              nProbe: Int, k: Int): DataFrame = {
    val probes = residualProbes(cent, queries, idCol, vecCol, nProbe)
      .select(struct(col("qid"), col("cell")).as("qc"), col("qr"))
    val table = subvectors(probes, "qc", "qr", m)
      .join(broadcast(codebook), "sub")
      .select(col("vid.qid").as("qid"), col("vid.cell").as("cell"),
        col("sub"), col("cc"), ql2(col("sv"), col("cv")).as("d2"))
    val codesEx = codes.select(col("cid"), col("cell").cast(LongType).as("cell"),
      posexplode(col("codes")).as(Seq("sub", "cc")))
    val w = Window.partitionBy("qid").orderBy(col("adist"), col("cid"))
    codesEx.join(broadcast(table), Seq("cell", "sub", "cc"))
      .filter(col("qid") =!= col("cid"))
      .groupBy("qid", "cid")
      .agg(vsum(col("d2")).as("adist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("cid"), col("adist"),
        col("rank").cast(IntegerType).as("rank"))
  }

  /** (qid, cell, rn, qr) — each query's residual against each of its
    * `nProbe` probed cells (rn = probe rank), ranked in-row; the probed
    * centroid vector comes in by a broadcast join on cell. */
  private def residualProbes(cent: DataFrame, queries: DataFrame, idCol: String,
                             vecCol: String, nProbe: Int): DataFrame =
    probeCells(queries.select(col(idCol).as("qid"), dvec(col(vecCol)).as("qv")),
        cent, nProbe)
      .join(broadcast(cent.select(col("cc").cast(LongType).as("cell"),
        dvec(col("cv")).as("cv"))), "cell")
      .select(col("qid"), col("cell"), col("rn"),
        zip_with(col("qv"), col("cv"), (a, b) => a - b).as("qr"))

  /** The distinct cells any query probes at depth `nProbe` — the static
    * partition filter of the probe-index read paths, bounded by
    * min(|queries| x nProbe, nCells) and collected to the driver. */
  private def probedCellSet(queries: DataFrame, idCol: String, vecCol: String,
                            cent: DataFrame, nProbe: Int): Seq[Long] =
    probeCells(queries.select(col(idCol).as("qid"), dvec(col(vecCol)).as("qv")),
        cent, nProbe)
      .select(col("cell")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq

  /** The production read path over a cell-PARTITIONED persisted codes
    * table (written partitioned by cell): resolve the probed
    * cells first — bounded at min(|queries| x nProbe, nCells), a
    * driver-side artifact like the binary probe's — then read the codes
    * with a static cell filter, so partition pruning drops every unprobed
    * cell's files before a byte is scanned. [[ivfPqResidualScore]] gets
    * the same candidate SET via its table join, but its scan still reads
    * the whole codes table; at 100 TB the static filter is the difference
    * between listing nProbe directories and scanning every m-byte code.
    * `cent` is the PERSISTED coarse quantizer the codes were encoded
    * against (EtlCli.retrainIvfPq / coarseCentroids output) — identical
    * math to the re-derived seeds, spec-asserted equal to the Score path.
    * The scan also prunes columns to (cid, codes): the partition column
    * rides the directory name, and this table stores no raw vectors at
    * all — that is the point of PQ. */
  def ivfPqResidualProbeIndex(spark: org.apache.spark.sql.SparkSession,
                              codesPath: String, queries: DataFrame,
                              idCol: String, vecCol: String, cent: DataFrame,
                              codebook: DataFrame, m: Int, nProbe: Int,
                              k: Int): DataFrame = {
    val probedCells = probedCellSet(queries, idCol, vecCol, cent, nProbe)
    // the path is a committed data_vN dir or a run-scoped artifact —
    // immutable, so its footer schema is inferred once per JVM
    val pruned = graft.core.Tables.parquetStableSchema(spark, codesPath)
      .filter(col("cell").isin(probedCells: _*))
    residualAdcTopK(cent, codebook,
      pruned.select(col("cid"), col("cell"), col("codes")),
      queries, idCol, vecCol, m, nProbe, k)
  }

  /** Recall/cost frontier over the residual IVF-PQ probe's depth knob —
    * the sweep→floor→choice loop for the PQ family (LSH bands, IVF
    * probes, flat binary, and binary-IVF each have theirs; this is the
    * last ANN family without one). Per depth: n_scored (ADC-scored
    * candidates — the scan-cost axis: members of probed cells, whose
    * m-byte codes the probe reads) and micro recall@k of the ADC ranking
    * against the given exact truth. Unlike the exact-rerank sweeps,
    * recall here is NOT guaranteed monotone in depth — the FINAL ranking
    * is approximate, so a far cell's candidate with an optimistic ADC
    * distance can displace a true neighbor (measure it, don't assume
    * it). Cost shape: each query ranks its cells in-row once to
    * max(nProbes), the ADC distance computes ONCE per max-depth
    * candidate (each tagged with its probe rank), and the shared frontier
    * tail derives every depth — one window per qid by (adist, cid), one
    * aggregation. Output
    * (n_probe, n_scored, n_hit, n_denom, recall_micro) — the exact
    * schema [[SweepFamily.ivf]] picks from. */
  def ivfPqResidualSweep(codes: DataFrame, codebook: DataFrame,
                         cent: DataFrame, queries: DataFrame, idCol: String,
                         vecCol: String, m: Int, nProbes: Seq[Int], k: Int,
                         exact: DataFrame): DataFrame = {
    require(nProbes.nonEmpty && nProbes.forall(_ >= 1),
      s"probe depths must be positive, got $nProbes")
    val qrs = residualProbes(cent, queries, idCol, vecCol, nProbes.max)
      .select(struct(col("qid"), col("cell"), col("rn")).as("qc"), col("qr"))
    val table = subvectors(qrs, "qc", "qr", m)
      .join(broadcast(codebook), "sub")
      .select(col("vid.qid").as("qid"), col("vid.cell").as("cell"),
        col("vid.rn").as("rn"), col("sub"), col("cc"),
        ql2(col("sv"), col("cv")).as("d2"))
    val codesEx = codes.select(col("cid"),
      col("cell").cast(LongType).as("cell"),
      posexplode(col("codes")).as(Seq("sub", "cc")))
    // each candidate lives in ONE cell, so (qid, cid) occurs once and
    // carries the probe rank that reaches it (rn is a function of
    // (qid, cell), so grouping by it splits nothing); ADC computes once
    val scored = codesEx.join(broadcast(table), Seq("cell", "sub", "cc"))
      .filter(col("qid") =!= col("cid"))
      .groupBy("qid", "cell", "rn", "cid")
      .agg(vsum(col("d2")).as("adist"))
    depthFrontier(scored, Seq(col("adist"), col("cid")), "rn", "n_probe",
      nProbes, k, exact)
  }

  // ---- semantic dedup (SemDeDup: Abbas et al., arXiv:2303.09540) -------
  // Embedding-space near-duplicate removal at corpus scale: a coarse
  // quantizer partitions the corpus into cells (same deterministic
  // first-nCells seed as ivfTopK), candidate pairs form only WITHIN a
  // cell, and every candidate is verified by exact quantized cosine. The
  // cross-cell pair space never materializes — at 100 TB the only wide
  // shuffle keys on the cell id (AQE skew-splits hot cells), and the
  // per-pair cosine is one fused loop.

  /** Within-cell cosine near-dup pairs: (id_a, id_b, cell, cosine) with
    * id_a < id_b and cosine >= minCosine. Recall is bounded by the cell
    * partition (a true near-dup pair split across a cell boundary is
    * missed — the SemDeDup trade; lshNeighborPairs is the
    * boundary-insensitive alternative).
    *
    * `maxCell` (off by default — recall-exact, matches the oracle) guards
    * the quadratic hot cell: the within-cell self-join is m²/2 pairs per
    * cell, and seeds are the first nCells vectors by id, so a clustered
    * corpus can drop a large fraction of vectors into ONE cell. Over-cap
    * cells are dropped whole (the same skew guard as
    * Dedup.simhashNearDups.maxBucket). Recall trade: pairs inside a
    * dropped cell are lost — but a cell that dense is exactly the one
    * whose pairs are redundant for dedup purposes (any member stands in
    * for the cluster); raise nCells or pre-split with kmeansAssign when
    * that recall matters. */
  def semanticNearDups(df: DataFrame, idCol: String, vecCol: String,
                       nCells: Int, minCosine: Double, maxCell: Int = 0): DataFrame = {
    val vecs = graft.core.Tables.ensureParallelism(df)
      .select(col(idCol).as("vid"), dvec(col(vecCol)).as("v"))
    val cent = vecs.filter(col("vid") < nCells)
      .select(col("vid").as("cc"), col("v").as("cv"))
    // map-only assignment: in-row argmin against the one-row centroid
    // table — the full-corpus stage never shuffles, and the vector stays
    // in its row with no join-back or first() reconstruction
    // the assignment projection carries each vector's norm: computed once
    // per VECTOR in the map-only pass, not twice per within-cell pair (the
    // cell self-join below is the quadratic stage — see qnorm note)
    val cv0 = vecs.crossJoin(broadcast(centOneRow(cent)))
      .select(col("vid"), argminCell(col("v"), col("cents")).as("cell"), col("v"),
        qnorm(col("v")).as("__nrm"))
    // hot-cell guard: the cell-count aggregate is one row per cell (tiny,
    // broadcasts); the anti join is map-side, so the guard costs one extra
    // pass over the assignments and nothing quadratic ever forms
    val cv = if (maxCell > 0) {
      val hot = cv0.groupBy("cell").agg(count(lit(1)).as("__m"))
        .filter(col("__m") > maxCell).select("cell")
      cv0.join(broadcast(hot), Seq("cell"), "left_anti")
    } else cv0
    cv.as("a").join(cv.as("b"),
        col("a.cell") === col("b.cell") && col("a.vid") < col("b.vid"))
      .select(col("a.vid").as("id_a"), col("b.vid").as("id_b"),
        col("a.cell").as("cell"),
        (qdot(col("a.v"), col("b.v")) /
          (col("a.__nrm") * col("b.__nrm"))).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** SemDeDup keep-set: drops every vector cosine-similar (>= minCosine)
    * to a LOWER-id vector in its cell. Lowest-id-wins is the deterministic
    * representative choice; a chain a~b, b~c drops both b and c even when
    * a is not similar to c — matching the paper's collapse of each similar
    * group to one kept example. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    nCells: Int, minCosine: Double): DataFrame = {
    val dropped = semanticNearDups(df, idCol, vecCol, nCells, minCosine)
      .select(col("id_b").as(idCol)).distinct()
    df.join(dropped, Seq(idCol), "left_anti")
  }

  /** Lloyd's k-means over the embedding column with the deterministic
    * quantized framework: seed centroids = first k vectors by id,
    * assignments by quantized squared-L2 argmin (ties to the lower cell
    * id), centroid updates by quantized means — every iteration is
    * bit-reproducible regardless of partitioning. Returns (id, cell)
    * assignments after `iters` update steps. Each iteration: one
    * (vectors x centroids) partial-agg groupBy + one mean groupBy.
    */
  def kmeansAssign(df: DataFrame, idCol: String, vecCol: String, k: Int,
                   iters: Int): DataFrame = {
    val dims = explodeDims(df, idCol, vecCol).toDF("vid", "d", "x")
    var cent = dims.filter(col("vid") < k).toDF("cc", "d", "cx")
    def assign(): DataFrame = {
      val w = Window.partitionBy("vid").orderBy(col("d2"), col("cc"))
      dims.join(cent, "d")
        .groupBy("vid", "cc")
        .agg(vsum((col("x") - col("cx")) * (col("x") - col("cx"))).as("d2"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("vid"), col("cc").as("cell"))
    }
    (0 until iters).foreach { _ =>
      cent = assign().join(dims, "vid")
        .groupBy(col("cell").as("cc"), col("d"))
        .agg((vsum(col("x")) / count(lit(1))).as("cx"))
    }
    assign().toDF(idCol, "cell")
  }

  /** Per-group centroid of an embedding column: exact decimal mean per
    * dimension. Output: (group, d, centroid). */
  def centroids(df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    df.select(col(groupCol), posexplode(col(vecCol)).as(Seq("d", "x")))
      .select(col(groupCol), col("d"), col("x").cast(DoubleType).as("x"))
      .groupBy(groupCol, "d")
      .agg((vsum(col("x")) / count(lit(1))).as("centroid"))

  /** Cluster-balanced sampling — the topic-diversity retention policy a
    * web-scale curation pipeline runs AFTER dedup (cap the head topics,
    * keep the tail whole; cf. the cluster-then-sample stage of
    * SemDeDup-style pipelines): every vector assigns to its nearest
    * hash-rank coarse centroid (the IVF assignment stage — map-only
    * in-row argmin against the broadcast nCells-row table), then at most
    * `cap` vectors per cell survive by deterministic md5 rank. No RNG:
    * the kept set is a pure function of (corpus, nCells, cap), stable
    * across runs and partitionings, so re-curations are reproducible.
    * Output (id, cell, rn). Scale shape: one map-only assignment pass +
    * one bounded per-cell top-k (TopKRewrite lowers the row_number window
    * to the bounded-heap TopKPerKey — map-side partial top-k, never a
    * full per-cell sort; a hot mega-cluster costs O(cap) state, not a
    * sort of its membership). */
  def clusterBalancedSample(df: DataFrame, idCol: String, vecCol: String,
                            nCells: Int, cap: Int): DataFrame = {
    require(cap >= 1, s"per-cell cap must be >= 1, got $cap")
    val vecs = graft.core.Tables.ensureParallelism(df)
      .select(col(idCol).as("vid"), dvec(col(vecCol)).as("v"))
    val cent = coarseSeeds(vecs, nCells)
    val cells = vecs.crossJoin(broadcast(centOneRow(cent)))
      .select(col("vid"), argminCell(col("v"), col("cents")).as("cell"))
    val w = Window.partitionBy("cell")
      .orderBy(md5(col("vid").cast("string")), col("vid"))
    cells.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= cap)
      .select(col("vid").as(idCol), col("cell"), col("rn").cast(IntegerType).as("rn"))
  }

  // ---- product quantization (Jegou/Douze/Schmid, TPAMI 2011) ----------
  // The third scale path alongside sign-LSH and IVF: vectors compress to m
  // small codes (one per subspace), so a 100 TB corpus's search structure
  // is m bytes/vector instead of 4*dims — it fits where the vectors don't.
  // Distances are asymmetric (ADC): the query stays exact, corpus vectors
  // are approximated by their per-subspace centroids.

  /** (vid, sub, sv) subvector view: dims split into m equal slices. */
  private def subvectors(df: DataFrame, idCol: String, vecCol: String, m: Int): DataFrame = {
    val v = dvec(col(vecCol))
    graft.core.Tables.ensureParallelism(df)
      .select(col(idCol).as("vid"), posexplode(
        transform(sequence(lit(0), lit(m - 1)),
          s => slice(v, s * (size(v) / m) + lit(1), size(v) / m)))
        .as(Seq("sub", "sv")))
  }

  /** (sub, cc, cv) codebook reshaped to one broadcastable row. */
  private def cbOneRow(codebook: DataFrame): DataFrame =
    codebook.groupBy().agg(collect_list(struct(col("sub"),
      col("cc").cast(LongType).as("cc"), col("cv").as("cv"))).as("cb"))

  /** All m PQ codes for one vector, computed in-row by one native fused
    * loop (plans.PqCodesExpr): per subspace, the argmin centroid of that
    * subspace's slice, ties to the lower cc. The production encode shape
    * — FAISS encodes in one scan — with zero shuffles, zero row fan-out,
    * and no interpreted-HOF lambda frames (the previous
    * transform/filter/aggregate pyramid re-entered the interpreter
    * m x ksub times per row). */
  private def pqCodes(v: Column, cb: Column, m: Int): Column =
    pcol(graft.plans.PqCodesExpr(pexpr(v), pexpr(cb), m))

  /** Train the PQ codebook: independent deterministic k-means per subspace
    * (seed = subvectors of the ksub hash-rank-first ids — the same
    * ingest-order-decorrelated sample as coarseSeeds, and the reason the
    * residual build can train on an id set with holes; quantized argmin
    * with ties to the lower cell; quantized means), all m subspaces
    * refined in the SAME aggregation pass — `sub` rides the grouping key,
    * so training m codebooks costs one k-means, not m. Assignment is the
    * map-only in-row encode; the only shuffle per iteration is the
    * quantized-mean update. Returns (sub, cc, cv) with cc = seed vid.
    *
    * Training input is CAPPED at a deterministic hash-rank sample: the
    * `trainCap` vectors ranked first by (md5(vid), vid) — the seed ids
    * are the ksub-prefix of the SAME ranking, so seeds always sit inside
    * the sample. k-means re-scans its input `iters` times; production
    * trains codebooks on a bounded sample and encodes everything (the
    * FAISS-style ~64 points per centroid) — without the cap a 100 TB
    * corpus pays iters full scans for a 16-row-per-subspace artifact.
    * trainCap=0 picks the 64*ksub default; encoding (pqEncode /
    * encodeResiduals) always runs over EVERY vector. */
  def pqCodebook(corpus: DataFrame, idCol: String, vecCol: String,
                 m: Int, ksub: Int, iters: Int, trainCap: Int = 0): DataFrame = {
    val cap = if (trainCap > 0) trainCap else 64 * ksub
    require(cap >= ksub, s"trainCap $cap must cover the $ksub k-means seeds")
    val vecs = graft.core.Tables.ensureParallelism(corpus)
      .select(col(idCol).as("vid"), dvec(col(vecCol)).as("v"))
    // hash-rank prefix: orderBy+limit lowers to TakeOrderedAndProject (a
    // distributed partial top-n, no global sort); pinned because k-means
    // re-reads it every iteration
    val train = vecs.join(broadcast(
        vecs.orderBy(md5(col("vid").cast("string")), col("vid"))
          .limit(cap).select(col("vid"))), "vid")
      .transform(graft.core.Materialize.pin)
    val seedIds = vecs.orderBy(md5(col("vid").cast("string")), col("vid"))
      .limit(ksub).select(col("vid"))
    var cent = subvectors(corpus, idCol, vecCol, m)
      .join(broadcast(seedIds), "vid")
      .select(col("sub"), col("vid").as("cc"), col("sv").as("cv"))
    (0 until iters).foreach { _ =>
      val assigned = train.crossJoin(broadcast(cbOneRow(cent)))
        .select(col("v"), posexplode(pqCodes(col("v"), col("cb"), m)).as(Seq("sub", "cc")))
      val dsub = size(col("v")) / m
      cent = assigned
        .select(col("sub"), col("cc"),
          posexplode(slice(col("v"), col("sub") * dsub + lit(1), dsub)).as(Seq("d", "x")))
        .groupBy("sub", "cc", "d")
        .agg((vsum(col("x")) / count(lit(1))).as("cx"))
        .groupBy("sub", "cc")
        .agg(transform(array_sort(collect_list(struct(col("d"), col("cx")))),
          s => s.getField("cx")).as("cv"))
    }
    cent
  }

  /** Encode vectors to their m-code PQ representation (vid, codes) —
    * map-only: one in-row argmin pass against the broadcast codebook. */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
               codebook: DataFrame, m: Int): DataFrame =
    graft.core.Tables.ensureParallelism(df)
      .select(col(idCol).as("vid"), dvec(col(vecCol)).as("v"))
      .crossJoin(broadcast(cbOneRow(codebook)))
      .select(col("vid"), pqCodes(col("v"), col("cb"), m).as("codes"))

  /** ADC top-k: per-query distance table to every (sub, centroid) — a
    * (m x ksub)-row broadcast — then each corpus vector's approximate
    * distance is the sum of its codes' table entries. The scan side
    * touches only the m-byte codes; the window top-k lowers to the
    * bounded-heap TopKPerKey. Output (qid, cid, adist, rank). */
  /** Per-dimension corpus bounds (mins, maxs) as ONE row — the SQ8
    * training step. Uses the constant-size elementwise Aggregators
    * (graft.functions.VectorAgg): one partial-agg pass, the shuffle
    * carries a d-length buffer per partition, never n x d rows. min/max
    * are exact (no rounding), so the result is order-independent and
    * oracle-recomputable bit-for-bit. */
  def sq8Bounds(corpus: DataFrame, vecCol: String): DataFrame = {
    implicit val enc: org.apache.spark.sql.Encoder[Array[Float]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Float]]()
    corpus.agg(
      udaf(graft.functions.VectorAgg.vectorMin).apply(col(vecCol)).as("mins"),
      udaf(graft.functions.VectorAgg.vectorMax).apply(col(vecCol)).as("maxs"))
  }

  /** SQ8 encode expression: per-dimension affine quantization to [0,255]
    * (code = round((x - min) * 255 / (max - min)), constant dims collapse
    * to 0). Engine-portable: float inputs widen exactly to double, then
    * every op is a single IEEE mul/div and one floor. Map-only per row. */
  def sq8Code(v: Column, mins: Column, maxs: Column): Column =
    transform(v, (x, i) => {
      val mn = element_at(mins, i + 1).cast(DoubleType)
      val mx = element_at(maxs, i + 1).cast(DoubleType)
      when(mx === mn, lit(0L)).otherwise(
        floor(((x.cast(DoubleType) - mn) * lit(255.0)) / (mx - mn) + lit(0.5))
          .cast(LongType))
    })

  /** Scalar-quantized (SQ8) ANN: symmetric approximate-L2 ADC. Corpus
    * AND queries encode against the same per-dimension bounds; the
    * distance between two codes dequantizes each dimension's code delta
    * by that dimension's step (delta_d = (max-min)/255), so
    * dist ~= true L2 up to int8 rounding:
    * dist^2 = sum_d ((cq - cc) * step_d)^2. Each squared term is
    * floor-quantized at 1e12 and accumulated as an exact long INSIDE the
    * row fold — no float aggregation anywhere, bit-identical on any
    * engine and partitioning.
    *
    * Scale shape: bounds are one broadcast row; encode is map-only; the
    * query side broadcasts; per-query top-k lowers to the bounded-heap
    * TopKPerKey. At 100 TB the corpus codes table is what persists (4x
    * smaller than float32 vectors) — the compression rung below PQ (32x)
    * on the same recall/size ladder. */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int): DataFrame = {
    val bounds = sq8Bounds(corpus, vecCol)
      .select(col("mins"), col("maxs"),
        zip_with(col("maxs"), col("mins"),
          (mx, mn) => (mx.cast(DoubleType) - mn.cast(DoubleType)) / lit(255.0))
          .as("steps"))
    def encode(df: DataFrame, as: String) =
      df.crossJoin(broadcast(bounds))
        .select(col(idCol).as(as),
          sq8Code(col(vecCol), col("mins"), col("maxs")).as(s"${as}_c"),
          col("steps"))
    val cc = encode(corpus, "cid")
    val qc = encode(queries, "qid").drop("steps")
    val qdist = aggregate(
      zip_with(
        zip_with(col("qid_c"), col("cid_c"), (a, b) => a - b),
        col("steps"),
        (d, s) => {
          val t = d.cast(DoubleType) * s
          t * t
        }),
      lit(0L), (acc, x) => acc + floor(x * lit(VScale) + lit(0.5)).cast(LongType))
    broadcast(qc).join(cc, col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), (qdist / lit(VScale)).as("dist"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("dist"), col("cid"))))
      .filter(col("rank") <= k)
      .select(col("qid"), col("cid"), col("dist"), col("rank"))
  }

  /** Reciprocal Rank Fusion (Cormack/Clarke/Buettcher 2009): fuse N
    * ranked lists into one by score = sum_systems 1/(kRrf + rank) — the
    * production hybrid-search combiner (lexical BM25 + dense ANN), which
    * needs NO score calibration between systems because only ranks enter.
    * Inputs are (idCol, rankCol) frames that are already top-k lists, so
    * everything downstream is bounded at systems x k rows: the union is
    * tiny, the groupBy is tiny, and the final global rank window sorts at
    * most systems x k rows regardless of corpus size — the corpus-scale
    * work lives entirely inside the upstream retrievers. Each
    * contribution is one IEEE division; contributions sum floor-quantized
    * at 1e12 (the vector-math contract), so fusion is bit-stable across
    * engines and partitionings. Ties break (rrf desc, id).
    * Output: (id, n_systems, rrf, rank) for the fused top `topK`. */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, rankCol: String,
              kRrf: Int = 60, topK: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(kRrf >= 1, s"kRrf must be >= 1, got $kRrf")
    val contribs = rankings.map(_.select(col(idCol),
        (lit(1.0) / (lit(kRrf).cast(DoubleType) + col(rankCol).cast(DoubleType)))
          .as("contrib")))
      .reduce(_ unionAll _)
    val fused = contribs.groupBy(idCol)
      .agg(count(lit(1)).cast(IntegerType).as("n_systems"),
        vsum(col("contrib")).as("rrf"))
    // bounded single-partition window: the fused id set is the union of
    // a few top-k rankings (n_systems >= 1 on every row, so the pmod key
    // is the constant 0 — the idiom keeps the optimizer from flagging a
    // global WindowExec while the semantics stay the global ranking)
    val w = Window.partitionBy(pmod(col("n_systems"), col("n_systems")))
      .orderBy(desc("rrf"), col(idCol))
    fused.withColumn("rank", row_number().over(w).cast(IntegerType))
      .filter(col("rank") <= topK)
  }

  /** Binary (1-bit) quantization: dimension d's SIGN bit (x_d > 0),
    * packed 64 dims per BIGINT word — the bottom rung of the
    * compression ladder under SQ8 (4x) and PQ (32x): 64-dim float32
    * vectors collapse from 256 bytes to ONE long (32x), and candidate
    * scoring becomes xor + popcount — no float math at all. This is the
    * coordinate-sign binarization of binary-index designs (FAISS
    * IndexBinaryFlat / the "binary quantization" rung of modern vector
    * stores), distinct from signLshBuckets: no random hyperplanes, the
    * data's own signs ARE the code, so Hamming distance lower-bounds
    * angular disagreement dimension-by-dimension.
    *
    * Bit layout: word w holds dims [64w, 64w+64), first dim of the slice
    * at the HIGH end (shift-left fold) — internal only; every consumer
    * compares codes to codes. Exactness: (x > 0) on the exactly-widened
    * double matches any engine's float sign test bit-for-bit, ties at
    * 0.0 pack as 0. Map-only projection; at scale the words column is
    * what persists and stage-1 scans touch nothing else. */
  /** The packed-sign-words expression itself, shared by binaryQuantize
    * and the one-pass binary-IVF index build. */
  private def packWords(v: Column, dims: Int): Column = {
    require(dims > 0, s"dims must be positive, got $dims")
    val nWords = (dims + 63) / 64
    transform(sequence(lit(0), lit(nWords - 1)), w =>
      aggregate(slice(dvec(v), w * lit(64) + lit(1), lit(64)),
        lit(0L),
        // shiftleft+or, not acc*2+bit: the fold's last doubling sets the
        // sign bit, which ANSI-mode multiply rejects as long overflow
        (acc, x) => shiftleft(acc, 1).bitwiseOR(when(x > lit(0.0), 1L).otherwise(0L))))
  }

  def binaryQuantize(df: DataFrame, idCol: String, vecCol: String,
                     dims: Int): DataFrame =
    graft.core.Tables.ensureParallelism(df)
      .select(col(idCol), packWords(col(vecCol), dims).as("words"))

  /** Hamming distance between two packed sign-bit codes: one fused
    * xor+popcount loop per pair — integer-exact, no quantization needed.
    * Native codegen kernel (plans.HammingDistExpr, r16): the previous
    * `aggregate(zip_with(...))` HOF composition is CodegenFallback —
    * two array allocations + interpreted lambda frames per candidate
    * pair on the binary family's hottest loop. Same values, same null
    * semantics. */
  private def hammingDist(a: Column, b: Column): Column =
    pcol(graft.plans.HammingDistExpr(pexpr(a), pexpr(b)))

  /** Two-stage binary-quantized retrieval: a Hamming-distance shortlist
    * over the packed sign codes, then the exact quantized-cosine rerank
    * over shortlist vectors only. The production read path scans the
    * 8-byte codes column for EVERY corpus row but touches the 256-byte
    * float vectors for only `shortlist` rows per query (a semi-join
    * against the corpus on cid); the shortlist stage is pure integer
    * xor/popcount, so stage-1 cost is bandwidth-bound at 1/32 the bytes
    * of a float scan. Shortlist ties break (hamming, cid) and rerank
    * ties (cosine desc, cid) — fully deterministic; both top-k windows
    * lower to the bounded-heap TopKPerKey. Output
    * (qid, cid, hamming, cosine, rank). */
  def binaryRerankTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                       vecCol: String, dims: Int, shortlist: Int,
                       k: Int): DataFrame =
    binaryProbeTopK(binaryQuantize(corpus, idCol, vecCol, dims), corpus,
      queries, idCol, vecCol, dims, shortlist, k)

  /** The binary index as it persists: (id, words, vec) in ONE table —
    * the probe's stage 1 selects only (id, words), so a columnar store
    * prunes the scan to the 8-byte codes (the 1/32-bytes claim becomes a
    * ReadSchema property of the plan, not an argument); stage 2 re-reads
    * (id, vec) for shortlist rows only. Map-only build, so epochs of a
    * growing corpus can append it independently. */
  def binaryIndexBuild(corpus: DataFrame, idCol: String, vecCol: String,
                       dims: Int): DataFrame =
    binaryQuantize(corpus, idCol, vecCol, dims)
      .join(corpus.select(col(idCol), col(vecCol)), idCol)

  /** Probe half of binary-quantized retrieval, against a GIVEN index:
    * `codes` supplies stage 1's (id, words) — pass a fresh read of the
    * persisted index so column pruning drops the vectors from the scan —
    * and `vecs` supplies stage 2's (id, vec) for the shortlist semi-join.
    * Shortlist ties break (hamming, cid), rerank ties (cosine desc, cid);
    * both windows lower to the bounded-heap TopKPerKey. Output
    * (qid, cid, hamming, cosine, rank). */
  /** Stage 1 of the flat binary probe, exposed for measurement: the
    * shortlist-capped (qid, cid, hamming) candidates. The O(corpus)
    * Hamming fold happens MAP-SIDE under a bounded-heap partial top-k
    * (TopKPerKey), so the per-query exchange carries at most
    * partitions x shortlist rows however large the index grows — the
    * O(shortlist x queries) rerank claim GrowthSpec (h) measures. */
  def binaryShortlist(codes: DataFrame, queries: DataFrame, idCol: String,
                      vecCol: String, dims: Int, shortlist: Int): DataFrame = {
    require(shortlist >= 1, s"shortlist must be >= 1, got $shortlist")
    val cw = codes.select(col(idCol).as("cid"), col("words").as("cw"))
    val qw = binaryQuantize(queries, idCol, vecCol, dims)
      .select(col(idCol).as("qid"), col("words").as("qw"))
    val ham = broadcast(qw).join(cw, col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        hammingDist(col("qw"), col("cw")).as("hamming"))
    val sw = Window.partitionBy("qid").orderBy(col("hamming"), col("cid"))
    ham.withColumn("srn", row_number().over(sw))
      .filter(col("srn") <= shortlist)
      .select("qid", "cid", "hamming")
  }

  def binaryProbeTopK(codes: DataFrame, vecs: DataFrame, queries: DataFrame,
                      idCol: String, vecCol: String, dims: Int,
                      shortlist: Int, k: Int): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must cover k ($k)")
    val cand = binaryShortlist(codes, queries, idCol, vecCol, dims, shortlist)
    val c = vecs.select(col(idCol).as("cid"), dvec(col(vecCol)).as("cv"))
    val q = queries.select(col(idCol).as("qid"), dvec(col(vecCol)).as("qv"))
    val scored = cand.join(c, "cid").join(broadcast(q), "qid")
      .select(col("qid"), col("cid"), col("hamming"),
        (qdot(col("qv"), col("cv")) / (qnorm(col("qv")) * qnorm(col("cv"))))
          .as("cosine"))
    val w = Window.partitionBy("qid").orderBy(desc("cosine"), col("cid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("cid"), col("hamming"), col("cosine"),
        col("rank").cast(IntegerType).as("rank"))
  }

  /** Recall/cost frontier over binary-Hamming shortlist depths — the
    * config-selection sweep for the binary path, same contract as
    * ivfProbeSweep: Hamming ranks compute ONCE (they are depth-
    * independent), the exact cosine computes once per row of the
    * deepest shortlist, and the shared frontier tail (one window per qid
    * by (cosine desc, cid), one aggregation) gives each config
    * (n_scored, n_hit, n_denom, recall_micro) against the given exact
    * top-k. n_scored is the rerank work the config buys; on isotropic
    * data the frontier is shallow and the picker deepens the shortlist —
    * exactly the measurement a deployment needs before trusting 1-bit
    * codes. */
  def binaryShortlistSweep(codes: DataFrame, vecs: DataFrame, queries: DataFrame,
                           idCol: String, vecCol: String, dims: Int,
                           shortlists: Seq[Int], k: Int,
                           exact: DataFrame): DataFrame = {
    require(shortlists.nonEmpty && shortlists.forall(_ >= 1),
      s"shortlist depths must be positive, got $shortlists")
    val cw = codes.select(col(idCol).as("cid"), col("words").as("cw"))
    val qw = binaryQuantize(queries, idCol, vecCol, dims)
      .select(col(idCol).as("qid"), col("words").as("qw"))
    val ham = broadcast(qw).join(cw, col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        hammingDist(col("qw"), col("cw")).as("hamming"))
    val sw = Window.partitionBy("qid").orderBy(col("hamming"), col("cid"))
    val cand = ham.withColumn("srn", row_number().over(sw))
      .filter(col("srn") <= shortlists.max)
    val q = queries.select(col(idCol).as("qid"), dvec(col(vecCol)).as("qv"))
    val c = vecs.select(col(idCol).as("cid"), dvec(col(vecCol)).as("cv"))
    val scored = cand.join(c, "cid").join(broadcast(q), "qid")
      .select(col("qid"), col("cid"), col("srn"),
        (qdot(col("qv"), col("cv")) / (qnorm(col("qv")) * qnorm(col("cv"))))
          .as("cosine"))
    depthFrontier(scored, Seq(desc("cosine"), col("cid")), "srn", "shortlist",
      shortlists, k, exact)
  }

  // ---- cell-pruned binary ANN (the FAISS IndexBinaryIVF shape) --------
  // The flat binary probe's one scale asymmetry closed: stage 1 above
  // Hamming-scores EVERY corpus code per query batch — 1/32 the bytes of
  // a float scan, but still O(corpus). Putting the packed sign codes
  // UNDER the coarse quantizer the IVF family already has makes stage 1
  // touch only the nProbe probed cells' codes: per query,
  // ~nProbe/nCells of the corpus, and when nCells scales with the
  // corpus (the deployment rule: cells ~ sqrt(n) or n/targetCellSize)
  // the per-query scored-code count stays ~FLAT as the corpus grows —
  // the measurement GrowthSpec (g) makes. Stage 2 reranks the shortlist
  // with the exact quantized cosine exactly like the flat probe.

  /** The binary-IVF index as it persists: (id, cell, words, vec) built
    * in ONE map-only pass (in-row argmin cell + in-row sign packing —
    * the full-corpus stage never shuffles). Persist PARTITIONED BY cell
    * (see [[binaryIvfProbeIndex]]) so a probe's scan prunes to the
    * probed cells' files; the probe's stage 1 selects only
    * (id, cell, words), so columnar stores also prune the scan to the
    * 8-byte codes. `cent` is the persisted coarse quantizer
    * ([[coarseCentroids]]) — pinned by design, exactly like the
    * IVF-PQ codes': re-deriving seeds over a grown corpus
    * would shift the hash-rank seed set and silently invalidate every
    * stored cell assignment. Codes and cells are pure functions of
    * (cent, vector), so incremental epoch appends equal a from-scratch
    * build row-for-row. */
  def binaryIvfIndexBuild(corpus: DataFrame, idCol: String, vecCol: String,
                          dims: Int, cent: DataFrame): DataFrame =
    withTreeCell(
        graft.core.Tables.ensureParallelism(corpus).select(col(idCol), col(vecCol)),
        dvec(col(vecCol)), cent)
      .select(col(idCol), col("cell"),
        packWords(col(vecCol), dims).as("words"),
        col(vecCol))

  /** Stage 1 of the cell-pruned probe, exposed for measurement: the
    * (qid, cid, hamming) candidate scores over ONLY the probed cells'
    * codes. Queries rank the broadcast centroid table by quantized L2
    * (ties (d2, cc) — identical to ivfTopK's probe ranking), each takes
    * its nProbe nearest cells, and the (probes x query-words) side —
    * bounded at |queries| x nProbe rows — broadcasts against the codes,
    * so the corpus side never shuffles and rows outside probed cells
    * never leave their scan. GrowthSpec counts these rows: linear at
    * fixed cells, ~flat when cells scale with the corpus. */
  def binaryIvfCandidates(codes: DataFrame, queries: DataFrame, idCol: String,
                          vecCol: String, dims: Int, cent: DataFrame,
                          nProbe: Int): DataFrame = {
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    binaryIvfScored(codes, queries, idCol, vecCol, dims, cent, nProbe)
      .select("qid", "cid", "hamming")
  }

  /** The binary-IVF candidate skeleton: (qid, cid, rn, hamming) over the
    * codes of each query's `nProbe` nearest LEAF cells (rn = the cell's
    * probe rank). Queries rank cells in-row; the probe rows — bounded at
    * |queries| x nProbe, each carrying the query's packed words —
    * broadcast against the codes on cell, and Hamming computes in-row:
    * the codes side is one map-only scan. */
  private def binaryIvfScored(codes: DataFrame, queries: DataFrame, idCol: String,
                              vecCol: String, dims: Int, cent: DataFrame,
                              nProbe: Int): DataFrame = {
    // probes rank LEAF cells only: after a hot-cell split the parent row
    // routes appends but stores nothing live — probing it would resurrect
    // the stale pre-split copies in old epochs as duplicate candidates
    val q = queries.select(col(idCol).as("qid"), dvec(col(vecCol)).as("qv"),
      packWords(col(vecCol), dims).as("qw"))
    val probes = probeCells(q, leafCells(cent).select(col("cc"), col("cv")), nProbe)
      .select(col("qid"), col("qw"), col("cell"), col("rn"))
    val cw = codes.select(col(idCol).as("cid"),
      col("cell").cast(LongType).as("cell"), col("words").as("cw"))
    broadcast(probes).join(cw, Seq("cell"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), col("rn"),
        hammingDist(col("qw"), col("cw")).as("hamming"))
  }

  /** Cell-pruned binary probe against a GIVEN index: `codes` supplies
    * stage 1's (id, cell, words) — pass a fresh read of the persisted
    * index so column pruning drops the vectors from the scan — and
    * `vecs` supplies (id, vec) for the stage-2 shortlist rerank.
    * Shortlist ties break (hamming, cid), rerank ties (cosine desc,
    * cid); both top-k windows lower to the bounded-heap TopKPerKey.
    * Recall trades via nProbe exactly like ivfTopK (a true neighbor in
    * an unprobed cell is missed — the IVF trade the shortlist sweep
    * measures); within probed cells the Hamming shortlist is identical
    * to the flat probe's. Output (qid, cid, hamming, cosine, rank). */
  def binaryIvfProbeTopK(codes: DataFrame, vecs: DataFrame, queries: DataFrame,
                         idCol: String, vecCol: String, dims: Int,
                         cent: DataFrame, nProbe: Int, shortlist: Int,
                         k: Int): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must cover k ($k)")
    val ham = binaryIvfCandidates(codes, queries, idCol, vecCol, dims, cent, nProbe)
    val sw = Window.partitionBy("qid").orderBy(col("hamming"), col("cid"))
    val cand = ham.withColumn("srn", row_number().over(sw))
      .filter(col("srn") <= shortlist)
      .select("qid", "cid", "hamming")
    val c = vecs.select(col(idCol).as("cid"), dvec(col(vecCol)).as("cv"))
    val q = queries.select(col(idCol).as("qid"), dvec(col(vecCol)).as("qv"))
    val scored = cand.join(c, "cid").join(broadcast(q), "qid")
      .select(col("qid"), col("cid"), col("hamming"),
        (qdot(col("qv"), col("cv")) / (qnorm(col("qv")) * qnorm(col("cv"))))
          .as("cosine"))
    val w = Window.partitionBy("qid").orderBy(desc("cosine"), col("cid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("cid"), col("hamming"), col("cosine"),
        col("rank").cast(IntegerType).as("rank"))
  }

  /** Recall/cost frontier over the cell-pruned binary probe's TWO knobs
    * — (nProbe, shortlist) — completing the sweep→floor→choice loop for
    * the binary-IVF family (LSH bands, IVF probes, and the flat binary
    * shortlist each have theirs; a two-stage index deploys on a 2D
    * grid). Per grid point: n_cand (stage-1 Hamming evaluations the
    * probe depth triggers — the scan-cost axis), n_scored (stage-2
    * exact reranks the shortlist buys — the rerank-cost axis), and
    * micro recall@k against the given exact truth.
    *
    * Cost shape: the [[binaryIvfCandidates]] skeleton runs ONCE at
    * max(nProbes) — Hamming in-row on one map-only codes scan, every
    * candidate tagged with the probe rank `rn` that reaches it — and
    * [[binaryIvfGrid]] derives the whole grid from it: one window per
    * qid for the shortlist ranks, the rerank cosine once per row inside
    * some grid point, one window per qid for the rerank ranks, then the
    * shared frontier tail's one aggregation. Returns (n_probe,
    * shortlist, n_cand, n_scored, n_hit, n_denom, recall_micro), one row
    * per requested (n_probe, shortlist) pair. */
  def binaryIvfSweep(codes: DataFrame, vecs: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, dims: Int, cent: DataFrame,
                     nProbes: Seq[Int], shortlists: Seq[Int], k: Int,
                     exact: DataFrame): DataFrame = {
    require(nProbes.nonEmpty && nProbes.forall(_ >= 1),
      s"probe depths must be positive, got $nProbes")
    require(shortlists.nonEmpty && shortlists.forall(_ >= k),
      s"every shortlist must cover k=$k, got $shortlists")
    val g = binaryIvfGrid(codes, vecs, queries, idCol, vecCol, dims, cent,
      nProbes, shortlists, Some(exact))
    gridRows(frontierCounts(g.ranked, g.points.size, k, g.nCand),
      for (p <- nProbes; s <- shortlists) yield {
        val i = g.points.indexOf((p, s))
        Seq(lit(p).as("n_probe"), lit(s).as("shortlist"),
          col(s"__c${g.depths.indexOf(p)}").as("n_cand"),
          col(s"__s$i").as("n_scored"), col(s"__h$i").as("n_hit"),
          col("n_denom"), microRecall(col(s"__h$i")).as("recall_micro"))
      })
  }

  /** [[binaryIvfGrid]]'s result. `ranked` holds the candidate rows inside
    * some grid point, with `__m{i}`/`__r{i}` ([[gridRanks]]) for entry i
    * of `points`; `nCand` aggregates n_cand over it as `__c{j}` for probe
    * depth `depths(j)`. */
  private case class BinaryIvfGrid(ranked: DataFrame, depths: Seq[Int],
                                   points: Seq[(Int, Int)], nCand: Seq[Column])

  /** The (nProbe, shortlist) grid of the binary-IVF sweeps
    * ([[binaryIvfSweep]], [[fusedRrfSweep]]) off ONE candidate pass at
    * max(nProbes):
    *  - stage 1: one window per qid by (hamming, cid) — a total order:
    *    each (qid, cid) occurs once, so cid breaks every tie — carries,
    *    per probe depth p, the running count of rn <= p rows (for a row
    *    with rn <= p that IS its shortlist rank at depth p) and the
    *    query's total rn <= p count (its n_cand, summed off each query's
    *    first row). Rows outside every depth's deepest shortlist drop;
    *  - the exact rerank cosine computes ONCE per surviving row. The
    *    vectors join LEFT: a code id missing from `vecs` keeps its
    *    shortlist slot and its n_cand count but is never reranked (and a
    *    truth row of a query outside `queries` still counts in n_denom);
    *  - stage 2: [[gridRanks]] by (cosine desc, cid), grid point (p, s)
    *    = rows with rn <= p, shortlist rank at p <= s, and a cosine.
    * `truth` rows ([[withTruth]]) join at the stage-1 input, so they
    * share its exchange; they pass both stages as members of nothing. */
  private def binaryIvfGrid(codes: DataFrame, vecs: DataFrame, queries: DataFrame,
                            idCol: String, vecCol: String, dims: Int,
                            cent: DataFrame, nProbes: Seq[Int],
                            shortlists: Seq[Int],
                            truth: Option[DataFrame]): BinaryIvfGrid = {
    val ps = nProbes.distinct
    val points = for (p <- ps; s <- shortlists.distinct) yield (p, s)
    val w1 = Window.partitionBy("qid").orderBy(col("hamming"), col("cid"))
    val run = w1.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = w1.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    def inDepth(j: Int): Column = when(col("rn") <= ps(j), 1)
    val cand = binaryIvfScored(codes, queries, idCol, vecCol, dims, cent, ps.max)
    val stage1 = truth.fold(cand)(withTruth(cand, _))
      .select(Seq(col("*"), (count(lit(1)).over(run) === 1).as("__first")) ++
        ps.indices.flatMap(j => Seq(count(inDepth(j)).over(run).as(s"__srn$j"),
          count(inDepth(j)).over(whole).as(s"__qc$j"))): _*)
      // kept: each query's first row (it carries n_cand), every truth row
      // (null rn), and the rows inside some depth's deepest shortlist
      .filter(ps.indices.map(j => col("rn") <= ps(j) && col(s"__srn$j") <= shortlists.max)
        .foldLeft(col("__first") || col("rn").isNull)(_ || _))
    val cv = vecs.select(col(idCol).as("cid"), dvec(col(vecCol)).as("cv"))
    val qv = queries.select(col(idCol).as("qid"), dvec(col(vecCol)).as("qv"))
    val scored = stage1.join(cv, Seq("cid"), "left_outer")
      .join(broadcast(qv), Seq("qid"), "left_outer")
      .withColumn("cosine",
        qdot(col("qv"), col("cv")) / (qnorm(col("qv")) * qnorm(col("cv"))))
      .drop("qv", "cv")
    val ranked = gridRanks(scored, Seq(desc("cosine"), col("cid")),
      points.map { case (p, s) =>
        col("rn") <= p && col(s"__srn${ps.indexOf(p)}") <= s && col("cosine").isNotNull
      })
    BinaryIvfGrid(ranked, ps, points, ps.indices.map(j =>
      coalesce(sum(when(col("__first"), col(s"__qc$j"))), lit(0L)).as(s"__c$j")))
  }

  /** Fused-recall sweep over the binary-IVF (nProbe, shortlist) grid —
    * the calibration the hybrid-RRF consumer deploys from. The round-13
    * measurement showed a sweep's PER-ARM recall floor does not survive
    * rank fusion (an arm clearing 0.5 fused at 0.60 of exact-dense
    * fusion; 0.9 fused at 0.90), so a fusion deployment picking off the
    * ARM frontier claims a floor nobody measured. This sweep measures
    * the quantity the consumer actually serves: for each grid point, the
    * overlap of RRF(lex, probe-arm top-armK) top-topK with RRF(lex,
    * exact-dense top-armK) top-topK, micro-averaged over the query
    * sample. Cost axes (n_cand stage-1 Hamming evals, n_scored stage-2
    * reranks) are binaryIvfSweep's counters, so the cheapest-first
    * picker ordering carries over unchanged.
    *
    * `lex` is the shared lexical ranking (doc_id, rank) every query
    * fuses with — the retrieval-stack calibration shape (per-request
    * lexical arms vary in production, but the sweep calibrates the DENSE
    * knobs; the lex arm rides along fixed exactly as in the measured
    * r13 spec). `exactArm` is the exact-dense top-armK (qid, cid, rank)
    * ground truth, supplied like binaryIvfSweep's `exact`. All fusion
    * arithmetic is the quantized rrfFuse sum, ties (rrf desc, doc_id) —
    * oracle-recomputable bit-for-bit. */
  def fusedRrfSweep(codes: DataFrame, vecs: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, dims: Int, cent: DataFrame,
                    lex: DataFrame, exactArm: DataFrame,
                    nProbes: Seq[Int], shortlists: Seq[Int],
                    armK: Int, kRrf: Int, topK: Int): DataFrame = {
    require(nProbes.nonEmpty && nProbes.forall(_ >= 1),
      s"probe depths must be positive, got $nProbes")
    require(shortlists.nonEmpty && shortlists.forall(_ >= armK),
      s"every shortlist must cover the arm depth $armK, got $shortlists")
    require(armK >= 1 && kRrf >= 1 && topK >= 1,
      s"armK/kRrf/topK must be positive, got $armK/$kRrf/$topK")
    import queries.sparkSession.implicits._
    // ---- the arm per grid point: binaryIvfSweep's grid, its rows ranked
    // <= armK read off the same windowed table
    val g = binaryIvfGrid(codes, vecs, queries, idCol, vecCol, dims, cent,
      nProbes, shortlists, None)
    val arm = g.ranked
      .select(col("qid"), col("cid"), explode(array(g.points.zipWithIndex.map {
        case ((p, s), i) => when(col(s"__m$i") && col(s"__r$i") <= armK,
          struct(lit(p).as("n_probe"), lit(s).as("shortlist"),
            col(s"__r$i").cast(IntegerType).as("rank")))
      }: _*)).as("__a"))
      .filter(col("__a").isNotNull)
      .select(col("__a.n_probe").as("n_probe"), col("__a.shortlist").as("shortlist"),
        col("qid"), col("cid").as("doc_id"), col("__a.rank").as("rank"))
    // ---- fusion per (grid point, query): quantized rrf sum, ties
    // (rrf desc, doc_id) — the rrfFuse arithmetic inlined so one plan
    // fuses every grid point
    def contrib(rank: Column): Column =
      lit(1.0) / (lit(kRrf).cast(DoubleType) + rank.cast(DoubleType))
    val cq = g.points.toDF("n_probe", "shortlist")
      .crossJoin(queries.select(col(idCol).as("qid")))
    val fc = cq.join(broadcast(lex.select(col("doc_id"),
          contrib(col("rank")).as("contrib"))), // shared lex arm, every (cfg, qid)
        lit(true))
      .select(col("n_probe"), col("shortlist"), col("qid"), col("doc_id"),
        col("contrib"))
      .unionByName(arm.select(col("n_probe"), col("shortlist"), col("qid"),
        col("doc_id"), contrib(col("rank")).as("contrib")))
    val wF = Window.partitionBy("n_probe", "shortlist", "qid")
      .orderBy(desc("rrf"), col("doc_id"))
    val ftop = fc.groupBy(col("n_probe"), col("shortlist"), col("qid"),
          col("doc_id"))
        .agg(vsum(col("contrib")).as("rrf"))
        .withColumn("rk", row_number().over(wF))
        .filter(col("rk") <= topK)
        .select(col("n_probe"), col("shortlist"), col("qid"), col("doc_id"))
    // ---- the exact-dense fusion truth per query
    val xc = queries.select(col(idCol).as("qid"))
      .join(broadcast(lex.select(col("doc_id"),
        contrib(col("rank")).as("contrib"))), lit(true))
      .select(col("qid"), col("doc_id"), col("contrib"))
      .unionByName(exactArm.select(col("qid"), col("cid").as("doc_id"),
        contrib(col("rank")).as("contrib")))
    val wX = Window.partitionBy("qid").orderBy(desc("rrf"), col("doc_id"))
    val xtop = xc.groupBy(col("qid"), col("doc_id"))
        .agg(vsum(col("contrib")).as("rrf"))
        .withColumn("rk", row_number().over(wX))
        .filter(col("rk") <= topK)
        .select(col("qid"), col("doc_id"))
    // ---- frontier: the cost axes from one aggregation over the grid,
    // the fused hits from the overlap of the two fusions
    val hits = ftop.join(xtop, Seq("qid", "doc_id"))
      .groupBy("n_probe", "shortlist").agg(count(lit(1)).as("n_hit"))
    val counts = g.ranked.agg(g.nCand.head,
      g.nCand.tail ++ scoredCounts(g.points.size): _*)
    gridRows(counts, for (p <- nProbes; s <- shortlists) yield
        Seq(lit(p).as("n_probe"), lit(s).as("shortlist"),
          col(s"__c${g.depths.indexOf(p)}").as("n_cand"),
          col(s"__s${g.points.indexOf((p, s))}").as("n_scored")))
      .join(hits, Seq("n_probe", "shortlist"), "left_outer")
      .crossJoin(broadcast(xtop.groupBy("qid").agg(count(lit(1)).as("__d"))
        .agg(coalesce(sum(least(lit(topK.toLong), col("__d"))), lit(0L))
          .cast(LongType).as("n_denom"))))
      .select(col("n_probe"), col("shortlist"), col("n_cand"), col("n_scored"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"), col("n_denom"),
        microRecall(coalesce(col("n_hit"), lit(0L))).as("fused_recall"))
  }

  /** The production read path over a cell-PARTITIONED persisted index
    * (binaryIvfIndexBuild written with .partitionBy("cell")): resolve
    * the probed cells first — the distinct probed-cell set is bounded
    * by min(|queries| x nProbe, nCells), a constant-size driver
    * artifact like the picker choice — then read the index TWICE with a
    * static cell filter: stage 1 selects (id, cell, words) and stage 2
    * (id, vec), so the scans prune BOTH ways — partition pruning drops
    * every unprobed cell's files (the plan's PartitionFilters carry the
    * IN list; at 100 TB this is the difference between listing nProbe
    * directories and scanning the corpus) and column pruning drops the
    * vectors from stage 1 (ReadSchema = the 8-byte codes). Both
    * assertions live in PlanSpec. */
  def binaryIvfProbeIndex(spark: org.apache.spark.sql.SparkSession,
                          indexPath: String, queries: DataFrame,
                          idCol: String, vecCol: String, dims: Int,
                          cent: DataFrame, nProbe: Int, shortlist: Int,
                          k: Int): DataFrame = {
    val probedCells = probedCellSet(queries, idCol, vecCol,
      leafCells(cent).select(col("cc"), col("cv")), nProbe)
    // the path is a committed data_vN dir or a run-scoped artifact —
    // immutable, so its footer schema is inferred once per JVM
    val pruned = graft.core.Tables.parquetStableSchema(spark, indexPath)
      .filter(col("cell").isin(probedCells: _*))
    binaryIvfProbeTopK(
      pruned.select(col(idCol), col("cell"), col("words")),
      pruned.select(col(idCol), col(vecCol)),
      queries, idCol, vecCol, dims, cent, nProbe, shortlist, k)
  }

  // ---- quantizer drift monitor ----------------------------------------
  // Every IVF-shaped index here encodes against PINNED coarse centroids
  // (binaryIvfIndexBuild, ivfPqResidualEncode): re-deriving seeds over a
  // grown corpus would silently reassign every stored cell, so the
  // quantizer deliberately never moves. The flip side is silent decay —
  // a corpus whose distribution drifts away from the day-0 centroids
  // packs into fewer cells (probe pruning loses selectivity) and sits
  // farther from its assigned centroid (the coarse ranking that picks
  // probe cells gets noisier), and nothing in the index read path ever
  // says so. This monitor makes the decay measurable per batch/epoch so
  // retraining is an explicit, evidenced decision instead of a guess.

  /** Per-cell occupancy + summed quantized L2 to the assigned centroid
    * for one frame: (cell, n, qerr_sum), nCells rows. The drift report's
    * building block, and a cell-balance dashboard row on its own. The
    * corpus side is map-only (in-row argmin against the one-row
    * broadcast centroid table, centroid vector re-joined by broadcast);
    * the single hash exchange carries per-partition aggregation
    * PARTIALS — at most partitions x nCells rows whatever the corpus
    * size (GrowthSpec measures this flat under 10x growth). qerr_sum is
    * a decimal sum of the per-row quantized-L2 longs: exact,
    * order-independent, engine-portable. */
  def quantizerCellStats(df: DataFrame, vecCol: String,
                         cent: DataFrame): DataFrame =
    withTreeCell(
        graft.core.Tables.ensureParallelism(df).select(dvec(col(vecCol)).as("v")),
        col("v"), cent)
      .join(broadcast(leafCells(cent).select(col("cc").cast(LongType).as("cell"),
        col("cv"))), Seq("cell"))
      .select(col("cell"),
        pcol(graft.plans.QuantizedL2Sum(pexpr(col("v")), pexpr(col("cv"))))
          .cast(DecimalType(38, 0)).as("qerr"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n"), sum(col("qerr")).as("qerr_sum"))

  /** Drift report for a pinned coarse quantizer, one row per (scenario,
    * baseline, current) frame pair: assign BOTH
    * frames to their nearest centroid (the same in-row argmin as the
    * index build — map-only, no shuffle beyond one nCells-sized
    * aggregation per frame) and compare
    *  - cell-occupancy shape via total variation distance
    *    (0.5 * sum_cells |share_base - share_cur|, in [0,1]): rises when
    *    the corpus concentrates into different cells than the baseline;
    *  - mean quantized L2 to the assigned centroid (`qerr_*`): rises
    *    when new vectors sit far from EVERY day-0 centroid — drift the
    *    occupancy shape alone can miss (a new modality can still spread
    *    "evenly" across stale cells).
    * `drift_alarm` fires when the TVD exceeds `maxTvd` PLUS the
    * sampling-noise floor sqrt(nCells * (1/n_base + 1/n_cur)) — two
    * finite iid samples from the SAME distribution have nonzero TVD
    * (~sqrt(nCells/n)), so a fixed threshold pages on small healthy
    * batches; the floor vanishes at corpus scale, leaving `maxTvd` as
    * the operative bound — or when the error ratio exceeds
    * `maxQerrRatio` (scale-free, no floor needed). All aggregation is
    * exact-integer until the final divisions (counts, quantized-L2
    * longs summed as decimals; the TVD numerator is the integer sum
    * |n_b*N_c - n_c*N_b| so no per-cell double shares are ever added),
    * so the report is bit-identical across partitionings and engines.
    * qerr_ratio is null when the baseline error is zero (degenerate:
    * every baseline vector IS a centroid). An EMPTY frame (either side)
    * yields null metrics and alarm=false — visible emptiness, never a
    * crash or a page (streaming can deliver empty batches; under ANSI a
    * 0/0 would THROW, so every division guards on its counts).
    * `max_cell_share` reports the current frame's hot-cell
    * concentration — the probe-cost skew axis. Quantizer-generic: works
    * against any (cc, cv) centroid table, so the same report
    * instruments the IVF-PQ family's pinned quantizer too.
    *
    * All scenarios run in ONE corpus pass: every frame joins the same
    * (scenario, side)-tagged union, so a two-scenario monitor (the
    * q_quantizer_drift shape) pays one assignment scan, one pinned
    * partial table and one aggregation tower instead of two of each —
    * the per-(scenario, side, cell) sums are the identical integers, so
    * the report rows are bit-equal to one call per scenario (r16, guide
    * §2.4: two operations keyed the same way share one pass). Output =
    * the per-scenario report rows with a leading `scenario` column. */
  def quantizerDriftScenarios(scenarios: Seq[(String, DataFrame, DataFrame)],
                              vecCol: String, cent: DataFrame,
                              maxTvd: Double, maxQerrRatio: Double): DataFrame =
    driftReport(scenarios, vecCol, cent, maxTvd, maxQerrRatio, None)
      .drop("resid_base", "resid_cur", "resid_ratio")

  /** The shared drift-report core behind [[quantizerDriftScenarios]] and
    * [[codebookDriftScenarios]]: all scenarios' frames assign in ONE
    * (scenario, side)-tagged-union pass (same math as 2 x nScenarios
    * quantizerCellStats calls — the per-(scenario, side, cell) sums are
    * the identical integers — at a fraction of the corpus passes and
    * stages); with a codebook given, the SAME projection also computes
    * each row's residual-ADC error (the fused residual min-quantized-L2
    * kernel), so the PQ report costs one corpus pass, not two per
    * scenario. The <= 2 x nCells partials per scenario reshape
    * side-by-side with conditional aggregation; outer-join on the full
    * (scenario x cell) set — a cell emptied (or newly filled) by drift
    * must still contribute its |share| term to the TVD. */
  private def driftReport(scenarios: Seq[(String, DataFrame, DataFrame)],
                          vecCol: String, cent: DataFrame,
                          maxTvd: Double, maxQerrRatio: Double,
                          codebook: Option[(DataFrame, Int, Double)]): DataFrame = {
    require(scenarios.nonEmpty, "at least one (scenario, baseline, current) required")
    require(scenarios.map(_._1).distinct.size == scenarios.size,
      s"scenario labels must be distinct, got ${scenarios.map(_._1)}")
    require(maxTvd >= 0 && maxTvd <= 1, s"maxTvd must be in [0,1], got $maxTvd")
    require(maxQerrRatio > 0, s"maxQerrRatio must be > 0, got $maxQerrRatio")
    val spark = scenarios.head._2.sparkSession
    import spark.implicits._
    val zero = lit(0).cast(DecimalType(38, 0))
    def tag(df: DataFrame, scn: String, side: Int): DataFrame =
      df.select(dvec(col(vecCol)).as("v"), lit(scn).as("scn"),
        lit(side).as("side"))
    val leaves = leafCells(cent)
    val assigned =
      withTreeCell(
          graft.core.Tables.ensureParallelism(
            scenarios.map { case (n, b, c) =>
              tag(b, n, 0).unionByName(tag(c, n, 1))
            }.reduce(_ unionByName _)),
          col("v"), cent)
        .join(broadcast(leaves.select(col("cc").cast(LongType).as("cell"),
          dvec(col("cv")).as("cv"))), Seq("cell"))
    val qerr = pcol(graft.plans.QuantizedL2Sum(pexpr(col("v")), pexpr(col("cv"))))
      .cast(DecimalType(38, 0))
    val perRow = codebook match {
      case Some((cb, m, _)) =>
        // residual subtraction fused into the ADC-error kernel (r16):
        // the zip_with residual was a CodegenFallback HOF allocating an
        // array per corpus row — same IEEE arithmetic, zero alloc
        assigned.crossJoin(broadcast(cbOneRow(cb)))
          .select(col("scn"), col("side"), col("cell"), qerr.as("qerr"),
            pcol(graft.plans.PqAdcErrResidualExpr(
                pexpr(col("v")), pexpr(col("cv")), pexpr(col("cb")), m))
              .cast(DecimalType(38, 0)).as("aerr"))
      case None =>
        assigned.select(col("scn"), col("side"), col("cell"),
          qerr.as("qerr"), zero.as("aerr"))
    }
    val bySideCell = perRow
      .groupBy("scn", "side", "cell")
      .agg(count(lit(1)).as("n"), sum(col("qerr")).as("qs"),
        sum(col("aerr")).as("asum"))
    def side(s: Int, c: Column) = sum(when(col("side") === s, c))
    // Pinned deliberately (re-measured r15): `per` is 1 row per
    // (scenario, cell) and is consumed ~4x downstream; de-pinning in
    // favor of AQE runtime stage-cache reuse was tried and measured
    // WORSE (tasks 93 -> 156, shuffle bytes 2.4 -> 4.7 MiB, min wall
    // 0.91 -> 1.40 s on q_quantizer_drift) — the cache does not dedup
    // every consumer's copy of the corpus-pass subtree. The eager pin's
    // serializing effect on multi-arm callers costs less than the
    // recompute.
    val per = graft.core.Materialize.pin(
      leaves.select(col("cc").cast(LongType).as("cell"))
        .crossJoin(scenarios.map(_._1).toDF("scn"))
        .join(bySideCell.groupBy("scn", "cell").agg(
            side(0, col("n")).as("nb0"), side(0, col("qs")).as("qb0"),
            side(0, col("asum")).as("ab0"),
            side(1, col("n")).as("nc0"), side(1, col("qs")).as("qc0"),
            side(1, col("asum")).as("ac0")),
          Seq("scn", "cell"), "left_outer")
        .select(col("scn"),
          coalesce(col("nb0"), lit(0L)).as("nb"), coalesce(col("qb0"), zero).as("qb"),
          coalesce(col("ab0"), zero).as("ab"),
          coalesce(col("nc0"), lit(0L)).as("nc"), coalesce(col("qc0"), zero).as("qc"),
          coalesce(col("ac0"), zero).as("ac")))
    val totals = per.groupBy("scn").agg(
      sum(col("nb")).as("n_base"), sum(col("nc")).as("n_cur"),
      sum(col("qb")).as("qsb"), sum(col("qc")).as("qsc"),
      sum(col("ab")).as("asb"), sum(col("ac")).as("asc"),
      count(lit(1)).as("n_cells"), max(col("nc")).as("max_nc"))
    // integer TVD numerator: sum_cells |n_b * N_c - n_c * N_b| (decimal —
    // the cross products overflow longs at corpus scale)
    val tvdNum = per.join(broadcast(totals.select(col("scn"),
        col("n_base").as("tnb"), col("n_cur").as("tnc"))), Seq("scn"))
      .groupBy("scn")
      .agg(sum(abs(col("nb").cast(DecimalType(38, 0)) * col("tnc")
        - col("nc").cast(DecimalType(38, 0)) * col("tnb"))).as("tvd_num"))
    // EMPTY-frame guards: under ANSI (Spark 4's default) EVERY division
    // by a zero count throws DIVIDE_BY_ZERO — double included — so an
    // empty frame would CRASH the report, not just mis-alarm. Each metric guards on the count(s) it divides by and
    // reads null when a frame is empty; emptiness stays visible
    // (n_base/n_cur = 0, null metrics) and the ALARM below is guarded
    // off — reserved for measured drift. CaseWhen evaluates branches
    // lazily, so the guarded division never executes on the empty path.
    val emptyFrame = col("n_base") === 0 || col("n_cur") === 0
    val nullD = lit(null).cast(DoubleType)
    val qerrB = when(col("n_base") === 0, nullD)
      .otherwise((col("qsb").cast(DoubleType) / col("n_base")) / lit(VScale))
    val qerrC = when(col("n_cur") === 0, nullD)
      .otherwise((col("qsc").cast(DoubleType) / col("n_cur")) / lit(VScale))
    val residB = when(col("n_base") === 0, nullD)
      .otherwise((col("asb").cast(DoubleType) / col("n_base")) / lit(VScale))
    val residC = when(col("n_cur") === 0, nullD)
      .otherwise((col("asc").cast(DoubleType) / col("n_cur")) / lit(VScale))
    val residAlarm = codebook match {
      case Some((_, _, maxResidRatio)) =>
        coalesce(col("resid_ratio") > maxResidRatio, lit(false))
      case None => lit(false)
    }
    totals.join(broadcast(tvdNum), Seq("scn"))
      .select(col("scn").as("scenario"), col("n_base"), col("n_cur"),
        qerrB.as("qerr_base"), qerrC.as("qerr_cur"),
        when(emptyFrame || qerrB === 0, nullD)
          .otherwise(qerrC / qerrB).as("qerr_ratio"),
        when(emptyFrame, nullD)
          .otherwise(col("tvd_num").cast(DoubleType)
            / (lit(2.0) * col("n_base") * col("n_cur"))).as("tvd"),
        when(emptyFrame, nullD)
          .otherwise(sqrt(col("n_cells").cast(DoubleType)
            * (lit(1.0) / col("n_base") + lit(1.0) / col("n_cur"))))
          .as("noise_floor"),
        // the hot-cell skew axis: share of the CURRENT frame in its most
        // occupied cell. The cell-pruned probe's stage-1 cost is the
        // probed cells' occupancy, so a corpus concentrating into few
        // cells degrades n_cand toward the flat scan LONG before recall
        // moves — this column lets the monitor name the cost cliff
        // (GrowthSpec measures the degradation on a planted hot mode).
        // A balanced quantizer reads ~1/n_cells; null on an empty frame.
        when(col("n_cur") === 0, nullD)
          .otherwise(col("max_nc").cast(DoubleType) / col("n_cur"))
          .as("max_cell_share"),
        residB.as("resid_base"), residC.as("resid_cur"),
        when(emptyFrame || residB === 0, nullD)
          .otherwise(residC / residB).as("resid_ratio"))
      .withColumn("drift_alarm",
        when(col("n_base") === 0 || col("n_cur") === 0, lit(false))
          .otherwise(col("tvd") > lit(maxTvd) + col("noise_floor")
            || coalesce(col("qerr_ratio") > maxQerrRatio, lit(false))
            || residAlarm))
  }

  /** Per-vector coarse-cell assignment against a GIVEN centroid table —
    * the IVF assignment stage as a public surface: (idCol, cell).
    * Map-only (in-row argmin against the one-row broadcast centroid
    * table); ties break to the lower cc exactly like every IVF build
    * here, so the output matches the cells a binaryIvfIndexBuild /
    * ivfPqResidualEncode would store. */
  def assignCells(df: DataFrame, idCol: String, vecCol: String,
                  cent: DataFrame): DataFrame =
    withTreeCell(
        graft.core.Tables.ensureParallelism(df)
          .select(col(idCol), dvec(col(vecCol)).as("__v")),
        col("__v"), cent)
      .select(col(idCol), col("cell"))

  /** [[quantizerDriftScenarios]] for the RESIDUAL-PQ family — the same
    * occupancy/coarse-error report PLUS the decay axis PQ uniquely has:
    * mean residual quantization error (each vector's residual vs the
    * NEAREST codebook entry per subspace — the ADC error an exact-argmin
    * encode commits) as a ratio vs the day-0 baseline. Occupancy TVD and
    * coarse qerr can both stay quiet while residual DIRECTIONS rotate
    * off the trained codebook — reconstruction degrades and ADC rankings
    * get noisier with no signal on the coarse axes — so the monitor for
    * a pinned (centroids, codebook) pair must watch all three.
    * `resid_*` is the mean per-vector Σ-over-subspaces min quantized L2
    * (one fused in-row kernel, plans.PqAdcErrExpr — raw integer sums, so
    * the aggregation is exact and engine-portable); `resid_ratio` is
    * null on a zero-error baseline (every baseline residual IS a
    * codebook entry) or an empty frame. `drift_alarm` = the occupancy/
    * coarse alarm OR resid_ratio > maxResidRatio, guarded off for empty
    * frames exactly like the base report. Cost: ONE tagged-union
    * map-only pass over (baseline ∪ current) — the shared driftReport
    * core computes the residual-ADC error in the same projection as the
    * occupancy/coarse partials — ending in one bounded aggregation.
    * A retrain here must move centroids AND codebook and re-encode: the
    * codebook is trained on residuals against the OLD centroids, so
    * retraining centroids alone invalidates both (the invalidation
    * cascade — EtlCli.retrainIvfPq is the blue/green remedial). All
    * scenarios share one corpus pass, as in [[quantizerDriftScenarios]],
    * with the residual-ADC axis computed in the shared projection. */
  def codebookDriftScenarios(scenarios: Seq[(String, DataFrame, DataFrame)],
                             vecCol: String, cent: DataFrame, codebook: DataFrame,
                             m: Int, maxTvd: Double, maxQerrRatio: Double,
                             maxResidRatio: Double): DataFrame = {
    require(maxResidRatio > 0, s"maxResidRatio must be > 0, got $maxResidRatio")
    driftReport(scenarios, vecCol, cent, maxTvd, maxQerrRatio,
      Some((codebook, m, maxResidRatio)))
  }

  /** Deterministic identity of a quantizer artifact: bit-XOR of
    * per-row xxhash64 — order-independent (XOR is commutative; rows are
    * unique by cc) and layout-independent (floats widen to double
    * exactly, matching every quantized kernel's view of the vectors).
    * For a FLAT (cc, cv) table the hash covers the leaf rows as
    * (cc, cv), so historical stamps stay valid. For a TREE
    * ([[splitHotCells]] output, `parent` column present) the hash covers
    * EVERY row — routing parents included — and folds the routing
    * parameters (parent, axis, plo, phi, each null-safe via an explicit
    * null flag: plo/phi legitimately take Long.MinValue, so a sentinel
    * cannot stand in for null): cell ASSIGNMENT is a function of the
    * split root's cv + axis and the children's slab intervals, so two
    * trees with identical leaf centroids but different intervals assign
    * differently and MUST NOT share an identity (a sweep stamped under
    * one would otherwise read as measured under the other). Recall
    * claims are measured AGAINST a quantizer: a sweep artifact stamped
    * with this identity names the centroids it was measured under (the
    * stale-sweep-after-retrain hazard — see EtlCli.sweepBinaryIvf).
    * Driver-side cost is one nCells-row aggregation. */
  def quantizerIdentity(cent: DataFrame): Long = {
    val rows =
      if (!cent.columns.contains("parent"))
        leafCells(cent).select(xxhash64(col("cc").cast(LongType),
          dvec(col("cv"))).as("h"))
      else normalizeTree(cent).select(xxhash64(
        col("cc"), col("cv"),
        coalesce(col("parent"), lit(-1L)),
        col("parent").isNull.cast(LongType),
        coalesce(col("axis"), array().cast(ArrayType(DoubleType))),
        col("axis").isNull.cast(LongType),
        coalesce(col("plo"), lit(0L)), col("plo").isNull.cast(LongType),
        coalesce(col("phi"), lit(0L)), col("phi").isNull.cast(LongType)).as("h"))
    rows.agg(coalesce(expr("bit_xor(h)"), lit(0L)).as("id"))
      .collect().head.getLong(0)
  }

  /** [[quantizerIdentity]]'s sibling for a PQ codebook (sub, cc, cv):
    * bit-XOR of the per-entry xxhash64 — order- and layout-independent.
    * A residual sweep's recall was measured under ONE (centroids,
    * codebook) pair; stamping both identities names the artifacts a
    * sweep was measured against, and a codebook stamped with its
    * quantizer refuses a mismatched pair (EtlCli.sweepIvfPq). Ignores a
    * `quantizer_id` stamp column if present (the stamp must not change
    * the identity it rides with). */
  def codebookIdentity(cb: DataFrame): Long =
    cb.select(xxhash64(col("sub").cast(LongType), col("cc").cast(LongType),
        dvec(col("cv"))).as("h"))
      .agg(coalesce(expr("bit_xor(h)"), lit(0L)).as("id"))
      .collect().head.getLong(0)

  // ---- hot-cell split: the skew remedial -------------------------------
  // the drift report's max_cell_share names the cost cliff (a corpus
  // concentrating into few cells degrades the cell-pruned probe's
  // stage-1 n_cand toward the flat scan — GrowthSpec measures it); this
  // is the remedial sized to the problem. A full retrain moves EVERY
  // stored cell: O(corpus) re-encode and rewrite. A hot cell is local,
  // so the fix is local — split ONLY the hot cells, append ONLY their
  // relabeled rows, flip the quantizer artifact.

  /** Split every leaf cell holding more than `maxShare` of the LIVE
    * index into up to `branch` child cells — the hot-cell remedial,
    * O(hot mass), never O(corpus).
    *
    * Mechanics (deterministic and engine-portable; the oracle replays
    * the bisect in SQL). The split is a BALANCED projection slab, not a
    * k-means step: the remedial's goal is probe-COST balance — a hot
    * cell is hot because too many rows share one probe target — and a
    * clustering step on a tight mode collapses back to one dominant
    * child (measured: 2-means left stage-1 cost at 99% of the cliff),
    * while rank-quantile slabs guarantee children within one row of
    * hot/branch at build time.
    *  - hot = leaf cells whose share of live rows exceeds `maxShare`
    *    (live = stored under [[leafCells]]; stale parent copies from an
    *    earlier split are dead weight probes never read, so counts must
    *    not see them either).
    *  - slab axis per hot cell: from the hash-rank-first member
    *    ((md5(id), id) — the coarseSeeds idiom) to the member farthest
    *    from it by quantized L2 (ties to the lower id) — the cell's
    *    widest measured direction.
    *  - every member's raw quantized dot with the axis is an exact long;
    *    thresholds sit at the projection-rank quantiles (k·n/branch,
    *    k = 1..branch-1), deduplicated and kept only above the cell
    *    minimum, so every half-open interval [plo, phi) holds at least
    *    one member and a cell of identical vectors yields NO threshold —
    *    it does NOT split (no quantizer refinement rebalances one
    *    point).
    *  - membership IS the interval rule — a pure function of the stored
    *    (axis, plo, phi): a from-scratch [[binaryIvfIndexBuild]] under
    *    the new tree reproduces the relabeled rows bit-for-bit, and
    *    boundary membership is an integer compare that can never flap.
    *  - child centroid = exact-quantized coordinate mean of its slab
    *    (integer sums, one double division) — used by probes to RANK
    *    cells, never to assign.
    *  - child ids are fresh (max cc + rank over (parent, slab)) and
    *    the parent row STAYS as a routing node (`parent` column): future
    *    appends assign root-then-child ([[assignCells]] /
    *    [[binaryIvfIndexBuild]] are tree-aware), probes rank
    *    [[leafCells]] — which no longer include the parent — so the
    *    stale parent-cell rows in committed epochs become INVISIBLE
    *    without rewriting one committed file. That is the 100 TB
    *    contract: remediation cost scales with the hot mass (one
    *    appended epoch + an nCells-row quantizer flip); a later rewrite
    *    of the index can drop the dead rows.
    *
    * Returns (newTree, relabeled): the tree to commit at the quantizer
    * path — (cc, cv, parent); its [[quantizerIdentity]] covers leaves, so
    * every sweep stamped against the old leaf set refuses — and the hot
    * rows relabeled to child cells in index layout (id, cell, words,
    * vec), to append as a new epoch BEFORE the tree flips: child cells
    * are not leaves of the OLD tree, so a crash between the two commits
    * leaves old readers exactly correct. `relabeled` is EMPTY when
    * nothing is hot or nothing is splittable — the caller's no-op signal
    * (`newTree` is then the input, unchanged). A hot cell that is
    * already a CHILD refuses loudly: the local remedial is spent, and a
    * persistently concentrated corpus needs the full retrain
    * (EtlCli.retrainBinaryIvf). The reference has no ANN maintenance
    * surface; the split shape follows the public FAISS IndexIVF
    * discussion of bucket balance. */
  def splitHotCells(index: DataFrame, idCol: String, vecCol: String,
                    tree: DataFrame, maxShare: Double,
                    branch: Int = 2): (DataFrame, DataFrame) = {
    require(maxShare > 0 && maxShare < 1,
      s"maxShare must be in (0,1), got $maxShare")
    require(branch >= 2 && branch <= 256,
      s"branch must be in [2,256], got $branch")
    Seq(idCol, "cell", "words", vecCol).foreach(c =>
      require(index.columns.contains(c),
        s"index lacks column '$c' (columns: ${index.columns.mkString(", ")}) " +
          "— splitHotCells runs over a binaryIvfIndexBuild layout " +
          "(id, cell, words, vec)"))
    val treeN = normalizeTree(tree)
    val leaves = leafCells(treeN)
    val emptyRelabel = index.select(col(idCol),
      col("cell").cast(LongType).as("cell"), col("words"), col(vecCol)).limit(0)
    // live occupancy over leaf cells: nLeaves rows, driver-resolved like
    // the probe's cell set
    val occ = index.select(col("cell").cast(LongType).as("cell"))
      .join(broadcast(leaves.select(col("cc").as("cell"))), Seq("cell"))
      .groupBy("cell").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val total = occ.map(_._2).sum
    val hot = occ.filter { case (_, n) => n.toDouble > maxShare * total }
      .map(_._1).sorted.toSeq
    if (total == 0L || hot.isEmpty) return (tree, emptyRelabel)
    val spentChildren = treeN.filter(col("parent").isNotNull)
      .filter(col("cc").isin(hot: _*))
      .select(col("cc")).collect().map(_.getLong(0)).sorted
    if (spentChildren.nonEmpty)
      sys.error(s"cell(s) ${spentChildren.mkString(", ")} are split children " +
        s"and STILL hold more than $maxShare of the live index — the local " +
        "split is spent; a persistently concentrated corpus needs the full " +
        "retrain (retrain-binary-ivf: fresh quantizer, full re-encode)")
    val spark0 = index.sparkSession
    import spark0.implicits._
    val members = graft.core.Materialize.pin(
      graft.core.Tables.ensureParallelism(index)
        .filter(col("cell").cast(LongType).isin(hot: _*))
        .select(col(idCol), col("cell").cast(LongType).as("cell"),
          col("words"), col(vecCol), dvec(col(vecCol)).as("__v")))
    def rawl2(a: Column, b: Column): Column =
      pcol(graft.plans.QuantizedL2Sum(pexpr(a), pexpr(b)))
    def rawdot(a: Column, b: Column): Column =
      pcol(graft.plans.QuantizedDotSum(pexpr(a), pexpr(b)))
    // slab axis per hot cell: from the hash-rank-first member a to the
    // member farthest from it b — the cell's widest measured direction,
    // two bounded window passes over the pinned hot members
    val w0 = Window.partitionBy("cell")
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    val aSeed = members
      .withColumn("__rn", row_number().over(w0)).filter(col("__rn") === 1)
      .select(col("cell"), col("__v").as("__av"))
    val wFar = Window.partitionBy("cell").orderBy(desc("__d0"), col(idCol))
    // pinned: the projection join below AND the tree update both read
    // this nHot-row table — unpinned, each would re-run the two window
    // passes over the hot mass
    val axes = graft.core.Materialize.pin(members
      .join(broadcast(aSeed), Seq("cell"))
      .select(col(idCol), col("cell"), col("__av"), col("__v"),
        rawl2(col("__v"), col("__av")).as("__d0"))
      .withColumn("__rn", row_number().over(wFar)).filter(col("__rn") === 1)
      .select(col("cell"),
        zip_with(col("__v"), col("__av"), (x, y) => x - y).as("__axis")))
    // raw quantized projection per member (exact long — thresholds and
    // membership can never disagree between engines or partitionings)
    val pvals = graft.core.Materialize.pin(
      members.join(broadcast(axes), Seq("cell"))
        .withColumn("__p", rawdot(col("__v"), col("__axis"))))
    // thresholds at the projection-rank quantiles: sorted distinct values
    // above the cell minimum, so every interval holds >= 1 member and a
    // one-point cell yields NO threshold (unsplittable, dropped). The
    // collect is bounded by hot x branch rows — a quantizer-artifact-
    // sized table, driver-resolved like the probe's cell set.
    val wRank = Window.partitionBy("cell").orderBy(col("__p"), col(idCol))
    val wCell = Window.partitionBy("cell")
    val thrRows = pvals
      .select(col("cell"), col("__p"), col(idCol))
      .withColumn("__rn", row_number().over(wRank))
      .withColumn("__n", count(lit(1)).over(wCell))
      .withColumn("__mp", min(col("__p")).over(wCell))
      .crossJoin(broadcast((1 until branch).map(_.toLong).toDF("__k")))
      .filter(col("__rn") ===
        floor(col("__k") * col("__n") / lit(branch.toLong)) + 1)
      .filter(col("__p") > col("__mp"))
      .select(col("cell"), col("__p").as("__t")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    if (thrRows.isEmpty) return (tree, emptyRelabel)
    val thrByCell: Map[Long, Seq[Long]] =
      thrRows.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    // fresh child ids + half-open intervals, ordered by (parent, slab)
    val maxCc = treeN.agg(max(col("cc"))).collect().head.getLong(0)
    var nextCc = maxCc
    val kidRows = thrByCell.keys.toSeq.sorted.flatMap { cell =>
      val ts = thrByCell(cell)
      val bounds = (Long.MinValue +: ts) :+ Long.MaxValue
      bounds.sliding(2).map { case Seq(lo, hi) =>
        nextCc += 1
        (nextCc, cell, lo, hi)
      }.toSeq
    }
    val kids = kidRows.toDF("__kcc", "__kp", "__plo", "__phi")
    val assigned = graft.core.Materialize.pin(
      pvals.join(broadcast(kids),
        pvals("cell") === col("__kp") && col("__p") >= col("__plo")
          && col("__p") < col("__phi")))
    val relabeled = assigned
      .select(col(idCol), col("__kcc").as("cell"), col("words"), col(vecCol))
    // child centroid = exact-quantized coordinate mean of its slab (for
    // probe RANKING; membership is the interval rule, stored on the row)
    val cvByCc: Map[Long, Seq[Double]] = assigned
      .select(col("__kcc"), posexplode(col("__v")).as(Seq("d", "x")))
      .groupBy("__kcc", "d")
      .agg(sum(floor(col("x") * lit(VScale) + lit(0.5)).cast(LongType)
        .cast(DecimalType(38, 0))).as("sx"), count(lit(1)).as("n"))
      .select(col("__kcc"), col("d"),
        (col("sx").cast(DoubleType) / col("n") / lit(VScale)).as("cx"))
      .groupBy("__kcc")
      .agg(collect_list(struct(col("d"), col("cx"))).as("dc"))
      .select(col("__kcc"),
        transform(array_sort(col("dc")), s => s.getField("cx")).as("cv"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toMap
    val children = kidRows
      .map { case (cc, parent, lo, hi) => (cc, cvByCc(cc), parent, lo, hi) }
      .toDF("cc", "cv", "parent", "plo", "phi")
      .select(col("cc"), col("cv"), col("parent"),
        lit(null).cast(ArrayType(DoubleType)).as("axis"), col("plo"), col("phi"))
    // the split parent keeps its row (it ROUTES appends) and gains the
    // slab axis its children partition along
    val axByCell: Map[Long, Seq[Double]] =
      axes.collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toMap
        .filter { case (c, _) => thrByCell.contains(c) }
    val axDF = axByCell.toSeq.toDF("__ac", "__av2")
    val newTree = treeN
      .join(broadcast(axDF), treeN("cc") === col("__ac"), "left_outer")
      .select(col("cc"), col("cv"), col("parent"),
        coalesce(col("__av2"), col("axis")).as("axis"), col("plo"), col("phi"))
      .unionByName(children)
    (newTree, relabeled)
  }

  def pqTopK(corpusCodes: DataFrame, queries: DataFrame, codebook: DataFrame,
             idCol: String, vecCol: String, m: Int, k: Int): DataFrame = {
    val table = subvectors(queries, idCol, vecCol, m)
      .join(broadcast(codebook), "sub")
      .select(col("vid").as("qid"), col("sub"), col("cc"),
        ql2(col("sv"), col("cv")).as("d2"))
    val codes = corpusCodes.select(col("vid").as("cid"),
      posexplode(col("codes")).as(Seq("sub", "cc")))
    val w = Window.partitionBy("qid").orderBy(col("adist"), col("cid"))
    codes.join(broadcast(table), Seq("sub", "cc"))
      .filter(col("qid") =!= col("cid"))
      .groupBy("qid", "cid")
      .agg(vsum(col("d2")).as("adist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("cid"), col("adist"),
        col("rank").cast(IntegerType).as("rank"))
  }
}
