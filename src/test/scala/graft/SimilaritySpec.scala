package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("q_ann_topk_fast returns the same neighbor sets as the verified q_ann_topk") {
    // The fused-kernel variant accumulates floats (not the quantized oracle
    // formulation), so its SCORES are rows-only — but its top-10 per query
    // must agree with the oracle-verified exact query's neighbor sets.
    val dir = "/root/testdata/sf0.001"
    def rankSets(name: String): Map[Long, Set[Long]] =
      graft.SparkEntry.queries(name)(spark, dir)
        .select(col("qid").cast("long"), col("cid").cast("long"))
        .as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = rankSets("q_ann_topk")
    val fast = rankSets("q_ann_topk_fast")
    assert(fast.keySet == exact.keySet)
    exact.foreach { case (qid, cids) =>
      assert(fast(qid) == cids, s"neighbor set diverged for query $qid")
    }
  }

  test("PQ: codes compress to m entries; ADC recall vs exact L2 is high; deterministic") {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    val (m, ksub) = (16, 32)
    val codebook = Similarity.pqCodebook(emb, "vec_id", "embedding", m, ksub, iters = 3)
    assert(codebook.count() == m.toLong * ksub)
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", codebook, m)
    assert(codes.select(size(col("codes"))).distinct().as[Int].collect().toSeq == Seq(m))
    // encoding is deterministic: two runs produce identical codes
    val c1 = codes.orderBy("vid").collect().toSeq
    val c2 = Similarity.pqEncode(emb, "vec_id", "embedding", codebook, m)
      .orderBy("vid").collect().toSeq
    assert(c1 == c2)

    val k = 10
    val pq = Similarity.pqTopK(codes, queries, codebook, "vec_id", "embedding", m, k)
      .select(col("qid").cast("long"), col("cid").cast("long"))
      .as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // exact L2 top-k baseline (same tie-break: distance, then cid)
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col("vec_id").as("qid"), col("embedding").cast("array<double>").as("qv"))
    val c = emb.select(col("vec_id").as("cid"), col("embedding").cast("array<double>").as("cv"))
    val w = Window.partitionBy("qid").orderBy(col("d2"), col("cid"))
    val exact = q.crossJoin(c).filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), aggregate(
        zip_with(col("qv"), col("cv"), (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x).as("d2"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("qid").cast("long"), col("cid").cast("long"))
      .as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.keys.toSeq.sorted.map { qid =>
      (pq(qid) intersect exact(qid)).size.toDouble / k
    }
    val meanRecall = recalls.sum / recalls.size
    assert(meanRecall >= 0.5, s"ADC recall@$k too low: $meanRecall ($recalls)")
  }

  test("matryoshka prefix rerank: shortlist bounds hold; recall is high on MRL-structured vectors") {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    // The operator's input contract is MRL-TRAINED embeddings — nested
    // representations where the prefix carries the bulk of the signal.
    // The fixture's dims are unstructured (prefix cosine of 16/64 random
    // dims is weakly informative — measured recall ~0.45 at a 10%
    // shortlist), so structure the vectors the way MRL training does:
    // keep the prefix, shrink the tail.
    val structured = emb.select(col("vec_id"), col("label"),
      org.apache.spark.sql.functions.transform(col("embedding"),
        (x, i) => when(i < 16, x).otherwise(x * lit(0.05f))).as("embedding"))
    val queries = structured.filter(col("vec_id") < 5)
    val k = 5
    val got = Similarity.prefixRerankTopK(structured, queries, "vec_id", "embedding",
        prefixDims = 16, shortlist = 50, k = k)
      .select(col("qid").cast("long"), col("cid").cast("long"))
      .as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(got.keys.size == 5 && got.values.forall(_.size == k))
    val exact = Similarity.bruteForceTopK(structured, queries, "vec_id", "embedding", k)
      .select(col("qid").cast("long"), col("cid").cast("long"))
      .as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.keys.toSeq.sorted.map { qid =>
      (got(qid) intersect exact(qid)).size.toDouble / k
    }
    val meanRecall = recalls.sum / recalls.size
    assert(meanRecall >= 0.8, s"prefix-rerank recall@$k too low: $meanRecall ($recalls)")
  }

  test("IVF-PQ candidates are a subset of probed cells; agrees with unpruned ADC there") {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    val (m, ksub, nCells, nProbe, k) = (8, 16, 16, 2, 10)
    val codebook = Similarity.pqCodebook(emb, "vec_id", "embedding", m, ksub, iters = 2)
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", codebook, m)
    val ivfpq = Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding",
        nCells, nProbe, codes, codebook, m, k)
      .select(col("qid").cast("long"), col("cid").cast("long"), col("adist"))
      .as[(Long, Long, Double)].collect()
    assert(ivfpq.map(_._1).distinct.length == 5)
    // every (qid, cid, adist) must appear in the UNPRUNED ADC ranking with
    // the identical quantized distance — IVF only prunes, never rescores
    val full = Similarity.pqTopK(codes, queries, codebook, "vec_id", "embedding",
        m, k = Int.MaxValue)
      .select(col("qid").cast("long"), col("cid").cast("long"), col("adist"))
      .as[(Long, Long, Double)].collect()
      .map { case (q, c, d) => (q, c) -> d }.toMap
    ivfpq.foreach { case (q, c, d) =>
      assert(full.get((q, c)).contains(d), s"($q,$c) adist $d diverged from unpruned ADC")
    }
  }

  test("residual IVF-PQ: deterministic, probed-cell-pruned, competitive recall") {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    val (nCells, nProbe, m, ksub, k) = (16, 2, 8, 16, 10)
    def run() = Similarity.ivfPqResidualTopK(emb, queries, "vec_id", "embedding",
        nCells, nProbe, m, ksub, iters = 2, k)
      .select(col("qid").cast("long"), col("cid").cast("long"), col("adist"))
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._3, r._2))
    val got = run()
    assert(got.map(_._1).distinct.length == 5)
    assert(got.toSeq == run().toSeq, "residual IVF-PQ is not deterministic")
    // exact L2 top-k baseline for recall measurement
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col("vec_id").as("qid"), col("embedding").cast("array<double>").as("qv"))
    val c = emb.select(col("vec_id").as("cid"), col("embedding").cast("array<double>").as("cv"))
    val w = Window.partitionBy("qid").orderBy(col("d2"), col("cid"))
    val exact = q.crossJoin(c).filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), aggregate(
        zip_with(col("qv"), col("cv"), (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x).as("d2"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("qid").cast("long"), col("cid").cast("long"))
      .as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def meanRecall(pairs: Seq[(Long, Long)]): Double = {
      val byQ = pairs.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      exact.keys.toSeq.map(qid =>
        (byQ.getOrElse(qid, Set.empty) intersect exact(qid)).size.toDouble / k)
        .sum / exact.size
    }
    val residRecall = meanRecall(got.map(r => (r._1, r._2)).toSeq)
    // the point of residual encoding: at equal (m, ksub) it must not rank
    // WORSE than the raw-code variant (same coarse pruning on both sides)
    val cb = Similarity.pqCodebook(emb, "vec_id", "embedding", m, ksub, iters = 2)
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", cb, m)
    val rawRecall = meanRecall(
      Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding", nCells, nProbe,
          codes, cb, m, k)
        .select(col("qid").cast("long"), col("cid").cast("long"))
        .as[(Long, Long)].collect().toSeq)
    assert(residRecall >= rawRecall - 1e-9,
      s"residual recall@$k $residRecall below raw-code $rawRecall")
    assert(residRecall >= 0.2, s"residual IVF-PQ recall@$k degenerate: $residRecall")
  }

  private def vecs = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f)),
    (2L, Array(0.9f, 0.1f, 0.0f)),   // near vec 1
    (3L, Array(0.0f, 1.0f, 0.0f)),
    (4L, Array(0.0f, 0.0f, 1.0f))
  ).toDF("vec_id", "embedding")

  test("annRecallAtK: full-probe IVF reaches recall 1.0; missed queries keep a 0.0 row") {
    import graft.operators.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 3)
    val exact = Similarity.bruteForceL2TopK(emb, q, "vec_id", "embedding", k = 5)
    // probing EVERY cell makes IVF exhaustive — recall must be exactly 1
    val full = Similarity.ivfTopK(emb, q, "vec_id", "embedding",
      nCells = 4, nProbe = 4, k = 5)
    val r = Similarity.annRecallAtK(full, exact, k = 5)
      .select("qid", "recall").as[(Long, Double)].collect().toMap
    assert(r.size == 3 && r.values.forall(_ == 1.0), r.toString)
    // an approximation that returns nothing for a query must surface
    // recall 0.0 for it, not silently drop the row
    val broken = full.filter(col("qid") =!= 0L)
    val r0 = Similarity.annRecallAtK(broken, exact, k = 5)
      .select("qid", "recall").as[(Long, Double)].collect().toMap
    assert(r0(0L) == 0.0 && r0(1L) == 1.0 && r0(2L) == 1.0, r0.toString)
  }

  test("ivfProbeSweep: recall and cost grow monotonically with probe depth; full probe = recall 1") {
    import graft.operators.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 3)
    val exact = Similarity.bruteForceL2TopK(emb, q, "vec_id", "embedding", k = 5)
    val sweep = Similarity.ivfProbeSweep(emb, q, "vec_id", "embedding",
        nCells = 4, nProbes = Seq(1, 2, 4), k = 5, exact = exact)
      .orderBy(col("n_probe"))
      .select("n_probe", "n_scored", "n_hit", "n_denom", "recall_micro")
      .as[(Int, Long, Long, Long, Double)].collect()
    assert(sweep.map(_._1).toSeq == Seq(1, 2, 4))
    // deeper probing scores strictly more candidates and can only gain hits
    assert(sweep.map(_._2).toSeq == sweep.map(_._2).toSeq.sorted, sweep.mkString(","))
    assert(sweep.map(_._5).toSeq == sweep.map(_._5).toSeq.sorted, sweep.mkString(","))
    // probing every cell is exhaustive search — micro recall exactly 1
    assert(sweep.last._5 == 1.0 && sweep.last._3 == sweep.last._4, sweep.mkString(","))
    // and the full-probe grid point scores every non-self pair
    assert(sweep.last._2 == 3L * (emb.count() - 1))
    // the picker closes the loop: cheapest depth clearing the floor; an
    // unreachable floor returns NO row
    val sweepDf = Similarity.ivfProbeSweep(emb, q, "vec_id", "embedding",
      nCells = 4, nProbes = Seq(1, 2, 4), k = 5, exact = exact)
    val floor = sweep.head._5 // the shallowest depth's recall qualifies everyone above it
    val picked = graft.operators.SweepFamily.ivf.pick(sweepDf, floor)
      .select("n_probe").as[Int].collect()
    assert(picked.toSeq == Seq(1), s"cheapest qualifying depth is 1: $picked")
    assert(graft.operators.SweepFamily.ivf.pick(sweepDf, 1.1).count() == 0)
  }

  test("bruteForceTopK ranks the nearest vector first") {
    val got = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 1), "vec_id",
        "embedding", k = 3)
      .orderBy("rank").select("cid").as[Long].collect()
    assert(got.head == 2L)           // closest
    assert(got.toSet == Set(2L, 3L, 4L))
  }

  test("cosine of an identical direction is 1.0 within quantization") {
    val dup = Seq((1L, Array(1.0f, 2.0f, 3.0f)), (2L, Array(2.0f, 4.0f, 6.0f)))
      .toDF("vec_id", "embedding")
    val cos = Similarity.bruteForceTopK(dup, dup.filter(col("vec_id") === 1), "vec_id",
        "embedding", k = 1)
      .select("cosine").as[Double].head()
    assert(math.abs(cos - 1.0) < 1e-9)
  }

  test("centroids average per dimension exactly") {
    val df = Seq((0, Array(1.0f, 3.0f)), (0, Array(3.0f, 5.0f)), (1, Array(10.0f, 10.0f)))
      .toDF("label", "embedding")
    val got = Similarity.centroids(df, "label", "embedding")
      .orderBy("label", "d").select("centroid").as[Double].collect()
    assert(got.toSeq == Seq(2.0, 4.0, 10.0, 10.0))
  }

  test("semanticNearDups/semanticDedup: in-cell near-dups dropped, lowest id kept") {
    // seeds: vec 0 -> cell 0 centroid (1,0), vec 1 -> cell 1 centroid (0,1);
    // 2 is near-parallel to 0 (same cell), 3 near-parallel to 1 (same cell),
    // 4 lands in cell 0 but at cosine < 0.9 to everything there
    val df = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, Array(2.0f, 0.1f)), (3L, Array(0.1f, 3.0f)), (4L, Array(5.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.semanticNearDups(df, "vec_id", "embedding", nCells = 2, minCosine = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 2L), (1L, 3L)))
    val kept = Similarity.semanticDedup(df, "vec_id", "embedding", nCells = 2, minCosine = 0.9)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(0L, 1L, 4L))
  }

  test("semanticNearDups pairs are a subset of the all-pairs baseline with equal cosines") {
    // nCells = 1 degenerates to the exact all-pairs cosine join — the
    // brute-force baseline; 16-cell pairs must be a subset with
    // bit-identical scores (quantized arithmetic), and the dedup keep-set
    // must be exactly corpus minus distinct dropped ids.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def pairsAt(cells: Int): Map[(Long, Long), Double] =
      Similarity.semanticNearDups(emb, "vec_id", "embedding", cells, minCosine = 0.35)
        .select(col("id_a"), col("id_b"), col("cosine"))
        .as[(Long, Long, Double)].collect()
        .map { case (a, b, c) => (a, b) -> c }.toMap
    val sem = pairsAt(16)
    val all = pairsAt(1)
    assert(sem.nonEmpty)
    sem.foreach { case (k, c) =>
      assert(all.get(k).contains(c), s"pair $k missing or score diverged vs all-pairs")
    }
    val dropped = sem.keySet.map(_._2)
    val kept = Similarity.semanticDedup(emb, "vec_id", "embedding", 16, 0.35).count()
    assert(kept == emb.count() - dropped.size)
  }

  test("semanticNearDups maxCell guard drops the quadratic hot cell only") {
    // planted skew: seeds are vids 0 (→ cell around (1,0)) and 1 (→ cell
    // around (0,1)); vids 2..41 all cluster on (1,0) making cell 0 hot
    // (41 members → m²/2 ≈ 800 candidate pairs), vids 42-43 sit with seed
    // 1 in a 3-member cell
    val hot = (2 to 41).map(i => (i.toLong, Array(1.0f, i * 1e-4f)))
    val cold = Seq((42L, Array(0.01f, 1.0f)), (43L, Array(0.02f, 1.0f)))
    val df = (Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f))) ++ hot ++ cold)
      .toDF("vec_id", "embedding")
    val unguarded = Similarity.semanticNearDups(df, "vec_id", "embedding",
      nCells = 2, minCosine = 0.9)
    assert(unguarded.filter(col("cell") === 0).count() > 100,
      "fixture failed to make cell 0 quadratic")
    val guarded = Similarity.semanticNearDups(df, "vec_id", "embedding",
      nCells = 2, minCosine = 0.9, maxCell = 10)
      .select("id_a", "id_b", "cell").as[(Long, Long, Long)].collect()
    // the hot cell is dropped whole; the small cell's pairs survive intact
    assert(guarded.forall(_._3 == 1L), "over-cap cell 0 leaked pairs")
    assert(guarded.length <= 3) // 3-member cell -> at most 3 pairs
    assert(guarded.map(p => (p._1, p._2)).toSet ==
      unguarded.filter(col("cell") === 1).select("id_a", "id_b")
        .as[(Long, Long)].collect().toSet)
  }

  test("persisted-ANN artifacts are per-run scoped and the oracle reads the same dir") {
    // two concurrent sessions (driver bench + judge re-run) must not
    // clobber each other's codebooks: the artifact root embeds this JVM's
    // pid (unless explicitly overridden), and every persisted-ANN oracle
    // reads the exact dir the query writes
    val root = graft.queries.VectorQueries.annArtifactRoot
    if (!sys.env.contains("GRAFT_ANN_ARTIFACT_DIR"))
      assert(root.endsWith(s"_${ProcessHandle.current().pid()}"),
        s"artifact root $root is not scoped to this run")
    for (q <- Seq("q_pq_adc", "q_ann_ivfpq", "q_ann_ivfpq_res"))
      assert(graft.SparkEntry.oracleSql(q).contains(root),
        s"$q oracle does not read this run's artifact dir")
  }

  test("signLshBuckets puts identical vectors in the same bucket") {
    val df = Seq((1L, Array(1.0f, 2.0f, 3.0f)), (2L, Array(1.0f, 2.0f, 3.0f)),
                 (3L, Array(-5.0f, 1.0f, -2.0f)))
      .toDF("vec_id", "embedding")
    val b = Similarity.signLshBuckets(df, "vec_id", "embedding", nBits = 8)
      .as[(Long, Long)].collect().toMap
    assert(b(1L) == b(2L))
  }

  test("lshRerankTopK: shortlist is bucket-pruned; cosines agree with brute force") {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 5)
    val buckets = Similarity.signLshBuckets(emb, "vec_id", "embedding", nBits = 8)
      .as[(Long, Long)].collect().toMap
    val rr = Similarity.lshRerankTopK(emb, q, "vec_id", "embedding", nBits = 8, k = 5)
      .select(col("qid").cast("long"), col("cid").cast("long"), col("cosine"))
      .as[(Long, Long, Double)].collect()
    assert(rr.nonEmpty)
    // every reranked candidate shares its query's bucket
    rr.foreach { case (qid, cid, _) =>
      assert(buckets(qid) == buckets(cid), s"$cid not in $qid's bucket")
    }
    // exact scorer: cosines equal the brute-force scorer's on those pairs
    val bf = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = emb.count().toInt)
      .select(col("qid").cast("long"), col("cid").cast("long"), col("cosine"))
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    rr.foreach { case (qid, cid, cos) =>
      assert(bf((qid, cid)) == cos, s"rerank cosine diverges for ($qid,$cid)")
    }
  }

  test("sq8Bounds are exact elementwise min/max; constant dims encode to 0") {
    val df = Seq(
      (1L, Array(0.0f, 5.0f, 7.0f)),
      (2L, Array(2.0f, -3.0f, 7.0f)),
      (3L, Array(1.0f, 1.0f, 7.0f))).toDF("vec_id", "embedding")
    val (mins, maxs) = Similarity.sq8Bounds(df, "embedding")
      .as[(Array[Float], Array[Float])].head()
    assert(mins.toSeq == Seq(0.0f, -3.0f, 7.0f))
    assert(maxs.toSeq == Seq(2.0f, 5.0f, 7.0f))
    val codes = df.crossJoin(Similarity.sq8Bounds(df, "embedding"))
      .select(col("vec_id"),
        Similarity.sq8Code(col("embedding"), col("mins"), col("maxs")).as("c"))
      .as[(Long, Array[Long])].collect().map(r => r._1 -> r._2.toSeq).toMap
    // endpoints hit 0/255 exactly; the constant dim collapses to 0
    assert(codes(1L) == Seq(0L, 255L, 0L))
    assert(codes(2L) == Seq(255L, 0L, 0L))
    assert(codes.values.forall(_.forall(c => c >= 0 && c <= 255)))
  }

  test("SQ8 top-10 recall vs exact L2 top-10 is high on the fixture corpus") {
    import org.apache.spark.sql.expressions.Window
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 5)
    // exact L2 reference (SQ8 approximates L2, not cosine — unnormalized
    // vectors make those two metrics rank differently)
    val exact = broadcast(q.select(col("vec_id").as("qid"), col("embedding").as("qv")))
      .join(emb.select(col("vec_id").as("cid"), col("embedding").as("cv")),
        col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        aggregate(zip_with(col("qv"), col("cv"), (a, b) => {
          val d = a.cast("double") - b.cast("double"); d * d
        }), lit(0.0), (s, x) => s + x).as("l2"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("l2"), col("cid"))))
      .filter(col("rank") <= 10)
      .select(col("qid").cast("long"), col("cid").cast("long"))
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val sq8 = Similarity.sq8TopK(emb, q, "vec_id", "embedding", k = 10)
      .select(col("qid").cast("long"), col("cid").cast("long"))
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(sq8.keySet == exact.keySet)
    val recall = exact.map { case (qid, cids) => (sq8(qid) & cids).size.toDouble / cids.size }
    val mean = recall.sum / recall.size
    assert(mean >= 0.9, s"mean SQ8 recall $mean too low (per-query: $recall)")
  }

  test("clusterBalancedSample: per-cell cap enforced, small cells kept whole, deterministic") {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val kept = Similarity.clusterBalancedSample(emb, "vec_id", "embedding",
        nCells = 8, cap = 5)
      .select(col("vec_id").cast("long"), col("cell").cast("long"), col("rn").cast("int"))
      .as[(Long, Long, Int)].collect()
    // cap respected, ranks are 1..min(cap, |cell|) with no gaps
    val byCell = kept.groupBy(_._2).view.mapValues(_.map(_._3).sorted.toSeq).toMap
    assert(byCell.values.forall(rns => rns == (1 to rns.size) && rns.size <= 5))
    // cells smaller than the cap survive whole: recompute memberships via
    // the same operator with a cap far above the corpus size
    val full = Similarity.clusterBalancedSample(emb, "vec_id", "embedding",
        nCells = 8, cap = 1000000)
      .select(col("cell").cast("long")).as[Long].collect()
      .groupBy(identity).view.mapValues(_.size).toMap
    byCell.foreach { case (cell, rns) =>
      if (full(cell) <= 5) assert(rns.size == full(cell),
        s"cell $cell dropped members below the cap") }
    // deterministic: a second run returns the identical kept set
    val again = Similarity.clusterBalancedSample(emb, "vec_id", "embedding",
        nCells = 8, cap = 5)
      .select(col("vec_id").cast("long"), col("cell").cast("long"), col("rn").cast("int"))
      .as[(Long, Long, Int)].collect()
    assert(kept.toSet == again.toSet)
  }

  test("rrfFuse: hand-checked fusion scores, single-system docs, deterministic ties") {
    // system A ranks docs 1,2,3; system B ranks 2,1,4.
    val a = Seq((1L, 1), (2L, 2), (3L, 3)).toDF("doc_id", "rank")
    val b = Seq((2L, 1), (1L, 2), (4L, 3)).toDF("doc_id", "rank")
    val got = Similarity.rrfFuse(Seq(a, b), "doc_id", "rank", kRrf = 60, topK = 10)
      .select(col("doc_id"), col("n_systems"), col("rrf"), col("rank"))
      .as[(Long, Int, Double, Int)].collect().sortBy(_._4).toSeq
    def q(x: Double) = math.floor(x * 1e12 + 0.5) / 1e12
    val s1 = q(1.0 / 61) + q(1.0 / 62) // docs 1 and 2, symmetric ranks
    // docs 1,2 tie exactly at 1/61+1/62 -> id asc breaks it; 3 and 4 both
    // hold a single rank-3 slot -> tie again, id asc
    assert(got.map(x => (x._1, x._2, x._4)) ==
      Seq((1L, 2, 1), (2L, 2, 2), (3L, 1, 3), (4L, 1, 4)), got.toString)
    assert(got.take(2).forall(r => math.abs(r._3 - s1) < 1e-9), got.toString)
    assert(got.drop(2).forall(r => math.abs(r._3 - q(1.0 / 63)) < 1e-9))
    // topK truncates the fused list, not the inputs
    assert(Similarity.rrfFuse(Seq(a, b), "doc_id", "rank", kRrf = 60, topK = 2)
      .count() == 2)
  }

  test("binaryShortlistSweep: recall monotone in depth, full-depth degenerates to 1.0; picker edges") {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val n = emb.count().toInt
    val queries = emb.filter(col("vec_id") < 3)
    val index = Similarity.binaryIndexBuild(emb, "vec_id", "embedding", dims = 64)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
      .select(col("qid"), col("cid"))
    val sweep = Similarity.binaryShortlistSweep(index, index, queries,
        "vec_id", "embedding", dims = 64, shortlists = Seq(10, 40, n), k = 5,
        exact = exact)
      .orderBy("shortlist")
      .select(col("shortlist"), col("n_scored"), col("recall_micro"))
      .as[(Int, Long, Double)].collect().toSeq
    // cost is exactly depth x queries (each query has >= depth candidates
    // on this corpus); recall is monotone and hits 1.0 at full depth
    assert(sweep.map(_._2) == Seq(30L, 120L, 3L * (n - 1)), sweep.toString)
    assert(sweep.map(_._3) == sweep.map(_._3).sorted, s"recall not monotone: $sweep")
    assert(sweep.last._3 == 1.0, s"full-depth sweep must reach exact recall: $sweep")
    // picker: floor above every point -> empty (re-sweep, never the best
    // loser); floor 0 -> cheapest depth wins
    val sw = Similarity.binaryShortlistSweep(index, index, queries,
      "vec_id", "embedding", dims = 64, shortlists = Seq(10, 40, n), k = 5,
      exact = exact)
    assert(graft.operators.SweepFamily.binary.pick(sw, floor = 1.01).count() == 0)
    assert(graft.operators.SweepFamily.binary.pick(sw, floor = 0.0)
      .select(col("shortlist")).as[Int].head() == 10)
  }

  test("binaryQuantize: known sign pattern packs to the expected words; 32x width") {
    // 64 dims, one word: dims 0..63, positive exactly at dims {0, 63} ->
    // high-end-first fold puts dim 0 at bit 63 and dim 63 at bit 0
    val v = Array.tabulate(64)(d => if (d == 0 || d == 63) 1.0f else -1.0f)
    val df = Seq((1L, v)).toDF("vec_id", "embedding")
    val words = Similarity.binaryQuantize(df, "vec_id", "embedding", dims = 64)
      .select(col("words")).as[Seq[Long]].head()
    assert(words == Seq(java.lang.Long.MIN_VALUE | 1L), words.toString)
    // zero packs as 0 (strict > 0), multi-word shapes pad cleanly
    val v2 = Array.tabulate(80)(d => if (d == 64) 0.5f else 0.0f)
    val w2 = Similarity.binaryQuantize(Seq((2L, v2)).toDF("vec_id", "embedding"),
        "vec_id", "embedding", dims = 80)
      .select(col("words")).as[Seq[Long]].head()
    // word 1 holds dims 64..79 as its 16 leading fold steps: dim 64 is
    // the first element folded, then 15 more acc*2 doublings
    assert(w2 == Seq(0L, 1L << 15), w2.toString)
  }

  test("binaryRerankTopK: full-corpus shortlist degenerates to exact brute-force top-k") {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val n = emb.count().toInt
    val queries = emb.filter(col("vec_id") < 3)
    // shortlist covering the whole corpus makes stage 1 a no-op filter,
    // so the rerank must reproduce bruteForceTopK exactly (ids AND ranks)
    val got = Similarity.binaryRerankTopK(emb, queries, "vec_id", "embedding",
        dims = 64, shortlist = n, k = 5)
      .select(col("qid").cast("long"), col("cid").cast("long"), col("rank"))
      .as[(Long, Long, Int)].collect().toSet
    val want = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
      .select(col("qid").cast("long"), col("cid").cast("long"), col("rank"))
      .as[(Long, Long, Int)].collect().toSet
    assert(got == want)
    // the real (pruned) config keeps useful recall on this corpus: top-5
    // under a 50-candidate Hamming shortlist overlaps exact top-5 heavily
    val pruned = Similarity.binaryRerankTopK(emb, queries, "vec_id", "embedding",
        dims = 64, shortlist = 50, k = 5)
      .select(col("qid").cast("long"), col("cid").cast("long"))
      .as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = want.toSeq.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.map { case (q, ids) =>
      pruned(q).intersect(ids).size.toDouble / ids.size }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.5, s"binary shortlist recall collapsed: $recalls")
  }

  test("binary-IVF probe: full probe equals the flat scan; pruned candidates stay in probed cells; partitioned path identical") {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val n = emb.count().toInt
    val queries = emb.filter(col("vec_id") < 3)
    val cent = Similarity.coarseCentroids(emb, "vec_id", "embedding", nCells = 8)
    val index = Similarity.binaryIvfIndexBuild(emb, "vec_id", "embedding",
      dims = 64, cent)
    // law 1: probing EVERY cell degenerates to the flat binary probe
    // exactly (ids, hamming, cosine, rank) — the pruning is the only
    // difference between the two operators
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("qid").cast("long"), col("cid").cast("long"),
        col("hamming").cast("long"), col("rank"))
      .as[(Long, Long, Long, Int)].collect().toSet
    val full = rows(Similarity.binaryIvfProbeTopK(index, index, queries,
      "vec_id", "embedding", dims = 64, cent, nProbe = 8, shortlist = n, k = 5))
    val flat = rows(Similarity.binaryProbeTopK(
      Similarity.binaryQuantize(emb, "vec_id", "embedding", 64), emb, queries,
      "vec_id", "embedding", dims = 64, shortlist = n, k = 5))
    assert(full == flat, "full-probe binary-IVF must equal the flat probe")
    // law 2: at nProbe < nCells every candidate lies in its query's
    // probed cells — the pruning is real, not cosmetic
    val cells = index.select(col("vec_id").cast("long"), col("cell").cast("long"))
      .as[(Long, Long)].collect().toMap
    val probed = Similarity.binaryIvfCandidates(index, queries, "vec_id",
        "embedding", dims = 64, cent, nProbe = 2)
      .select(col("qid").cast("long"), col("cid").cast("long"))
      .as[(Long, Long)].collect()
    assert(probed.nonEmpty, "2-probe candidates must be non-empty on the fixture")
    val qCells = probed.groupBy(_._1).view
      .mapValues(_.map(p => cells(p._2)).toSet).toMap
    qCells.foreach { case (q, cs) =>
      assert(cs.size <= 2, s"query $q scored candidates from ${cs.size} > nProbe cells")
    }
    // law 3: the partitioned persisted read path returns the identical
    // result (layout changes nothing but the scan shape)
    val idxPath = java.nio.file.Files.createTempDirectory("bivf").toString + "/idx"
    index.write.mode("overwrite").partitionBy("cell").parquet(idxPath)
    val viaPath = rows(Similarity.binaryIvfProbeIndex(spark, idxPath, queries,
      "vec_id", "embedding", dims = 64, cent, nProbe = 2, shortlist = 20, k = 5))
    val viaDf = rows(Similarity.binaryIvfProbeTopK(index, index, queries,
      "vec_id", "embedding", dims = 64, cent, nProbe = 2, shortlist = 20, k = 5))
    assert(viaPath == viaDf, "partitioned-path probe diverged from the frame probe")
  }

  test("binaryIvfSweep: full grid point reaches recall 1.0; cost axes monotone; picker edges") {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val n = emb.count().toInt
    val queries = emb.filter(col("vec_id") < 3)
    val cent = Similarity.coarseCentroids(emb, "vec_id", "embedding", nCells = 8)
    val index = Similarity.binaryIvfIndexBuild(emb, "vec_id", "embedding",
      dims = 64, cent)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
      .select(col("qid"), col("cid"))
    def grid() = Similarity.binaryIvfSweep(index, index, queries, "vec_id",
      "embedding", dims = 64, cent, nProbes = Seq(2, 8),
      shortlists = Seq(10, n), k = 5, exact = exact)
    val rows = grid()
      .select(col("n_probe"), col("shortlist"), col("n_cand"), col("n_scored"),
        col("recall_micro"))
      .as[(Int, Int, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    // probing every cell with a corpus-wide shortlist IS the exact
    // cosine ranking: recall must be 1.0 and both cost axes degenerate
    // to the full corpus (queries x (n-1))
    val (cFull, sFull, rFull) = rows((8, n))
    assert(rFull == 1.0, s"full grid point must reach exact recall: $rFull")
    assert(cFull == 3L * (n - 1) && sFull == cFull, rows.toString)
    // cost laws: n_cand monotone in n_probe (probed cells nest);
    // n_scored monotone in shortlist at fixed probe depth; and the
    // shortlist can never rerank more than stage 1 scored
    assert(rows((2, 10))._1 <= rows((8, 10))._1, rows.toString)
    assert(rows((2, 10))._2 <= rows((2, n))._2, rows.toString)
    rows.foreach { case (k2, (cand, scored, _)) =>
      assert(scored <= cand, s"config $k2 reranked more than it scored: $scored > $cand")
    }
    // picker: unreachable floor -> empty (re-sweep, never the best
    // loser); floor 0 -> cheapest stage-1 cost wins
    assert(graft.operators.SweepFamily.binaryIvf.pick(grid(), floor = 1.01).count() == 0)
    val pick = graft.operators.SweepFamily.binaryIvf.pick(grid(), floor = 0.0)
      .select(col("n_probe"), col("shortlist")).as[(Int, Int)].head()
    assert(pick == ((2, 10)), s"picker must take the cheapest grid point: $pick")
  }

  test("quantizerDriftScenarios: identical frames are driftless; planted shift alarms; degenerate baseline safe") {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val cent = Similarity.coarseCentroids(emb, "vec_id", "embedding", nCells = 8)
    def stats(base: org.apache.spark.sql.DataFrame,
              cur: org.apache.spark.sql.DataFrame) =
      Similarity.quantizerDriftScenarios(Seq(("", base, cur)), "embedding", cent,
          maxTvd = 0.1, maxQerrRatio = 1.25)
        .select(col("n_base"), col("n_cur"), col("qerr_ratio"), col("tvd"),
          col("noise_floor"), col("drift_alarm"))
        .as[(Long, Long, Option[Double], Double, Double, Boolean)].head()
    // a corpus vs itself: zero TVD, unit error ratio, no alarm
    val same = stats(emb, emb)
    assert(same._1 == same._2 && same._3.contains(1.0) && same._4 == 0.0 && !same._6,
      s"self-comparison must be driftless: $same")
    // disjoint iid halves: TVD is pure sampling noise — it must sit
    // under the noise floor the alarm adds to its threshold
    val halves = stats(emb.filter(col("vec_id") % 2 === 0),
      emb.filter(col("vec_id") % 2 === 1))
    assert(!halves._6, s"iid halves must not page the monitor: $halves")
    assert(halves._4 < 0.1 + halves._5,
      s"iid TVD ${halves._4} vs floored threshold ${0.1 + halves._5}")
    // planted diagonal shift: every vector moves away from the day-0
    // centroid cloud — the error ratio alone must trip the alarm
    val shifted = stats(emb, emb.select(col("vec_id"),
      transform(col("embedding").cast("array<double>"), x => x + lit(0.5))
        .as("embedding")))
    assert(shifted._6 && shifted._3.exists(_ > 1.25),
      s"planted shift must alarm via the error ratio: $shifted")
    // degenerate baseline: the centroids THEMSELVES (qerr_base = 0) —
    // ratio is null, not a division blowup, and the TVD side still works
    val seeds = emb.join(cent.select(col("cc").as("vec_id")), Seq("vec_id"))
    val degen = stats(seeds, seeds)
    assert(degen._3.isEmpty && degen._4 == 0.0 && !degen._6,
      s"zero-error baseline must yield a null ratio, not an alarm: $degen")
    // EMPTY frame (streaming delivers empty batches): under ANSI every
    // division by the zero count would THROW — the metrics must read
    // null, the counts must stay visible, and the alarm must read false
    // (an unguarded empty batch would crash the report or page the
    // monitor spuriously)
    def optStats(base: org.apache.spark.sql.DataFrame,
                 cur: org.apache.spark.sql.DataFrame) =
      Similarity.quantizerDriftScenarios(Seq(("", base, cur)), "embedding", cent,
          maxTvd = 0.1, maxQerrRatio = 1.25)
        .select(col("n_base"), col("n_cur"), col("qerr_ratio"), col("tvd"),
          col("noise_floor"), col("drift_alarm"))
        .as[(Long, Long, Option[Double], Option[Double], Option[Double], Boolean)]
        .head()
    val empty = optStats(emb, emb.limit(0))
    assert(empty._2 == 0L, s"emptiness must stay visible: $empty")
    assert(empty._3.isEmpty && empty._4.isEmpty,
      s"empty-frame metrics must read null: $empty")
    assert(!empty._6, s"an empty batch must never alarm: $empty")
    val emptyBase = optStats(emb.limit(0), emb)
    assert(emptyBase._1 == 0L && !emptyBase._6,
      s"an empty baseline must never alarm: $emptyBase")
    // hot-cell skew axis: a frame forced into ONE cell reads
    // max_cell_share = 1.0; the full corpus reads well under it; an
    // empty frame reads null (no concentration to report)
    def share(base: org.apache.spark.sql.DataFrame,
              cur: org.apache.spark.sql.DataFrame) =
      Similarity.quantizerDriftScenarios(Seq(("", base, cur)), "embedding", cent,
          maxTvd = 0.1, maxQerrRatio = 1.25)
        .select(col("max_cell_share")).as[Option[Double]].head()
    val oneCellId = emb.select(col("vec_id")).orderBy("vec_id").limit(1)
    val oneCell = emb.join(oneCellId, Seq("vec_id"))
    assert(share(emb, oneCell).contains(1.0),
      "a single-vector frame concentrates into one cell")
    val full = share(emb, emb)
    assert(full.exists(s => s > 0.0 && s < 1.0),
      s"full-corpus hot-cell share out of range: $full")
    assert(share(emb, emb.limit(0)).isEmpty,
      "empty frame must report a null hot-cell share")
  }

  test("codebookDriftScenarios: residual-ADC axis quiet on self, alarmed by residual scale-up, empty-safe") {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val cent = Similarity.coarseCentroids(emb, "vec_id", "embedding", nCells = 8)
      .transform(graft.core.Materialize.pin)
    val (cb, _) = Similarity.ivfPqResidualBuild(emb, "vec_id", "embedding",
      nCells = 8, m = 8, ksub = 8, iters = 1)
    def stats(base: org.apache.spark.sql.DataFrame,
              cur: org.apache.spark.sql.DataFrame) =
      Similarity.codebookDriftScenarios(Seq(("", base, cur)), "embedding", cent, cb, m = 8,
          maxTvd = 0.1, maxQerrRatio = 1.25, maxResidRatio = 1.25)
        .select(col("n_cur"), col("qerr_ratio"), col("resid_base"),
          col("resid_cur"), col("resid_ratio"), col("drift_alarm"))
        .as[(Long, Option[Double], Option[Double], Option[Double],
             Option[Double], Boolean)].head()
    // self-comparison: every axis reads 1.0/quiet
    val same = stats(emb, emb)
    assert(same._5.contains(1.0) && !same._6,
      s"self-comparison must be driftless on the residual axis: $same")
    // residual scale-up around the ASSIGNED centroid (v' = 2v - cv):
    // coarse error AND residual ADC error read ~4x; the alarm fires even
    // with the occupancy axis quiet
    val cells = Similarity.assignCells(emb, "vec_id", "embedding", cent)
    val scaled = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .join(cells, "vec_id")
      .join(broadcast(cent.select(col("cc").cast("long").as("cell"),
        col("cv").cast("array<double>").as("cv"))), "cell")
      .select(col("vec_id"),
        zip_with(col("v"), col("cv"), (a, b) => a * lit(2.0) - b).as("embedding"))
    val up = stats(emb, scaled)
    assert(up._6 && up._5.exists(_ > 1.25),
      s"residual scale-up must alarm via resid_ratio: $up")
    assert(up._5.exists(r => r > 2.0 && r < 8.0),
      s"doubled residuals should read ~4x ADC error: ${up._5}")
    // empty current frame: null metrics, no alarm, no ANSI crash
    val empty = stats(emb, emb.limit(0))
    assert(empty._1 == 0L && empty._4.isEmpty && empty._5.isEmpty && !empty._6,
      s"empty frame must be visible and quiet: $empty")
  }

  /** The GrowthSpec (j) fixture: 80% of the corpus collapsed into one
    * tight mode around vector 0 — the hot-cell skew scenario the split
    * remedial exists for. */
  private def concentrated(emb: org.apache.spark.sql.DataFrame) = {
    val mode = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>").as("mv"))
    emb.crossJoin(broadcast(mode))
      .select(col("vec_id"),
        when(col("vec_id") % 5 === 0, col("embedding").cast("array<double>"))
          .otherwise(zip_with(col("embedding").cast("array<double>"), col("mv"),
            (a, b) => b + (a - b) * lit(0.01)))
          .as("embedding"))
  }

  test("splitHotCells: relabel equals a from-scratch tree build; parent routes, probes prune it out") {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val conc = concentrated(emb)
    // day-0 quantizer trained on the BALANCED corpus, as deployed
    val cent = Similarity.coarseCentroids(emb, "vec_id", "embedding", nCells = 16)
      .transform(graft.core.Materialize.pin)
    val index = Similarity.binaryIvfIndexBuild(conc, "vec_id", "embedding",
      dims = 64, cent).transform(graft.core.Materialize.pin)
    val total = index.count()
    val occ0 = index.groupBy("cell").count()
      .as[(Long, Long)].collect().toMap
    val hotCell = occ0.maxBy(_._2)._1
    assert(occ0(hotCell).toDouble / total > 0.5, "fixture must plant a hot cell")

    val (tree, rel0) = Similarity.splitHotCells(index, "vec_id", "embedding",
      cent, maxShare = 0.5, branch = 4)
    val rel = rel0.transform(graft.core.Materialize.pin)
    // exactly the hot cell split: its members relabel, everything else is untouched
    assert(rel.count() == occ0(hotCell),
      "the relabel must cover exactly the hot cell's rows — O(hot), not O(corpus)")
    val children = tree.filter(col("parent").isNotNull)
      .select(col("cc").cast("long"), col("parent").cast("long"))
      .as[(Long, Long)].collect().toSeq
    assert(children.nonEmpty && children.forall(_._2 == hotCell),
      s"children must hang off the hot cell: $children")
    val maxOldCc = cent.agg(max(col("cc").cast("long"))).as[Long].head()
    assert(children.forall(_._1 > maxOldCc), "child ids must be fresh")
    val relCells = rel.select(col("cell")).distinct().as[Long].collect().toSet
    assert(relCells.subsetOf(children.map(_._1).toSet),
      s"relabeled rows must land in child cells only: $relCells")

    // THE invariant: live rows (old epochs minus the dead parent, plus the
    // split epoch) == a from-scratch build under the committed tree
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Seq[Long])] =
      df.select(col("vec_id").cast("long"), col("cell").cast("long"),
          col("words").cast("array<long>"))
        .as[(Long, Long, Seq[Long])].collect().toSeq.sortBy(_._1)
    val live = index.filter(col("cell") =!= hotCell).unionByName(rel)
    val scratch = Similarity.binaryIvfIndexBuild(conc, "vec_id", "embedding",
      dims = 64, tree)
    assert(rows(live) == rows(scratch),
      "live rows must equal the from-scratch tree build bit-for-bit")
    // ...and the tree-aware assignment surface agrees with the stored cells
    val assigned = Similarity.assignCells(conc, "vec_id", "embedding", tree)
      .select(col("vec_id").cast("long"), col("cell").cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(rows(live).forall { case (id, cell, _) => assigned(id) == cell },
      "assignCells must reproduce the stored tree assignment")

    // identity binding: the flip moves the leaf identity (stale sweeps
    // refuse), and normalization alone does not
    assert(Similarity.quantizerIdentity(tree) != Similarity.quantizerIdentity(cent),
      "the split must move the quantizer identity")
    assert(Similarity.leafCells(cent).count() == 16L,
      "a flat table is all leaves")
    assert(Similarity.leafCells(tree).filter(col("cc") === hotCell).isEmpty,
      "the split parent must stop being a leaf")

    // probes prune the parent out: the FULL index (old epochs + split
    // epoch, dead copies included) probed under the new tree returns no
    // duplicate candidates and never touches the parent cell
    val union = index.unionByName(rel)
    val queries = conc.filter(col("vec_id").isin(1L, 2L, 3L))
    val cand = Similarity.binaryIvfCandidates(
        union.select(col("vec_id"), col("cell"), col("words")),
        queries, "vec_id", "embedding", dims = 64, tree,
        nProbe = Similarity.leafCells(tree).count().toInt)
      .select(col("qid").cast("long"), col("cid").cast("long"))
      .as[(Long, Long)].collect().toSeq
    assert(cand.size == cand.distinct.size,
      "stale parent copies must never resurface as duplicate candidates")
    assert(cand.groupBy(_._1).values.forall(_.size == total.toInt - 1),
      "an all-leaves probe must still reach every live vector exactly once")
  }

  test("nnDescentGraph: rounds monotonically improve the graph; every node keeps neighbors; quality approaches the exact graph") {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val n = emb.count()
    def graph(rounds: Int) = Similarity.nnDescentGraph(emb, "vec_id",
      "embedding", k = 5, rounds = rounds)
    val (g0, g1, g2) = (graph(0), graph(1), graph(2))
    // totality: the dual-granularity init reaches every node
    assert(g2.select(col("vec_id")).distinct().count() == n,
      "every node must carry neighbors")
    assert(g2.groupBy("vec_id").count().agg(max(col("count")))
      .as[Long].head() <= 5L, "no node may exceed k neighbors")
    // keep-best monotonicity: each round's candidate set contains the
    // current edges, so the per-node top-k cosine sum never decreases
    def quality(g: org.apache.spark.sql.DataFrame): Map[Long, Double] = g
      .groupBy(col("vec_id").cast("long").as("id"))
      .agg(sum(col("cosine")).as("q"))
      .as[(Long, Double)].collect().toMap
    val (q0, q1, q2) = (quality(g0), quality(g1), quality(g2))
    q2.keys.foreach { id =>
      assert(q1.getOrElse(id, -99.0) >= q0.getOrElse(id, -99.0) - 1e-12 &&
        q2(id) >= q1.getOrElse(id, -99.0) - 1e-12,
        s"node $id lost neighbor quality across rounds")
    }
    // acceptance is GRAPH QUALITY vs the exact graph, not edge recall:
    // on the near-isotropic fixture the exact top-5 is barely separated
    // from rank-50 (cosines concentrate), so edge recall stays low even
    // at near-optimal quality — same fixture ceiling the binary recall
    // row documents. Total top-k cosine is the objective NN-descent
    // optimizes and the comparable number.
    val exactQ = Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding",
      k = 5).agg(sum(col("cosine"))).as[Double].head()
    val g4q = graph(4).agg(sum(col("cosine"))).as[Double].head()
    info(f"knn-graph quality: round4=${g4q / exactQ}%.3f of the exact graph " +
      f"(init=${q0.values.sum / exactQ}%.3f)")
    assert(g4q >= 0.8 * exactQ,
      s"four rounds should reach >= 80% of exact-graph quality: " +
        s"${g4q / exactQ}")
    // ...and the exploration candidates keep rounds from plateauing: the
    // measured hill-climb-only variant stalled at 67% of exact
    assert(g4q > q2.values.sum,
      "round 4 must improve on round 2 (no plateau)")
  }

  test("nnDescentGraph ring v2: same construction contract as v1 — full coverage, k-bounded, quality parity on the fixture") {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val n = emb.count()
    val bits = Similarity.nnDescentNBits(n)
    def build(v: Int) = Similarity.nnDescentGraph(emb, "vec_id", "embedding",
      k = 5, rounds = 2, nBits = bits, ringVersion = v)
    def q(g: org.apache.spark.sql.DataFrame): Double =
      g.agg(sum(col("cosine"))).as[Double].head()
    val g2 = build(2)
    assert(g2.select(col("vec_id")).distinct().count() == n,
      "v2 build must cover every node")
    assert(g2.groupBy("vec_id").count().agg(max(col("count")))
      .as[Long].head() <= 5L, "v2 build must bound neighborhoods at k")
    val (q1, q2) = (q(build(1)), q(g2))
    info(f"quality sum: ring v1 $q1%.2f, ring v2 $q2%.2f (${q2 / q1}%.3f)")
    // the formulas differ only in how the per-round exploration set is
    // bucketed — converged quality must be interchangeable
    assert(q2 >= 0.9 * q1, s"ring v2 degraded converged quality: $q1 -> $q2")
    val bad = intercept[IllegalArgumentException] {
      Similarity.nnDescentGraph(emb, "vec_id", "embedding", 5, 1, bits,
        ringVersion = 3)
    }
    assert(bad.getMessage.contains("version"), bad.getMessage)
  }

  test("hybrid RRF over the production ANN arm: swept probe serves the dense side; fused recall vs exact-dense fusion measured") {
    import org.apache.spark.sql.expressions.Window
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val root = java.nio.file.Files.createTempDirectory("rrf_ann")
    // the production loop: a cell-partitioned index + a REAL sweep
    // (recall measured on the fixture, quantizer-stamped), then the
    // probe at the pick serves retrieval's dense arm
    val cent = Similarity.coarseCentroids(emb, "vec_id", "embedding", 16)
    graft.tools.EtlCli.writeTable(cent, s"$root/cent")
    Similarity.binaryIvfIndexBuild(emb, "vec_id", "embedding", 64, cent)
      .write.partitionBy("cell").parquet(s"$root/idx")
    graft.tools.EtlCli.sweepBinaryIvf(spark, s"$root/idx", s"$root/cent",
      s"$root/sweep", nQueries = 3, k = 20)
    val queries = emb.filter(col("vec_id") === 0)
    val lex = graft.operators.TextAnalysis.bm25(docs, "doc_id", "text",
        Seq("vector", "spark", "filter"), k1 = 1.2, b = 0.75, topK = 20)
      .withColumn("rank", row_number().over(
        Window.partitionBy(lit(0)).orderBy(desc("score"), col("doc_id"))))
      .select(col("doc_id"), col("rank"))
    def denseAnn(minRecall: Double) = {
      val (nProbe, shortlist) = graft.operators.SweepFamily.binaryIvf
        .pick(graft.tools.EtlCli.readTable(spark, s"$root/sweep"), minRecall)
        .select(col("n_probe").cast("int"), col("shortlist").cast("int"))
        .as[(Int, Int)].head()
      Similarity.binaryIvfProbeIndex(spark, s"$root/idx", queries, "vec_id",
          "embedding", dims = 64, cent, nProbe, shortlist, k = 20)
        .select(col("cid").as("doc_id"), col("rank"))
    }
    val denseExact = Similarity.bruteForceTopK(emb, queries, "vec_id",
        "embedding", k = 20)
      .select(col("cid").as("doc_id"), col("rank"))
    def top10(dense: org.apache.spark.sql.DataFrame): Seq[Long] =
      Similarity.rrfFuse(Seq(lex, dense), "doc_id", "rank", kRrf = 60,
          topK = 10)
        .select(col("doc_id").cast("long")).as[Long].collect().toSeq
    val fExact = top10(denseExact)
    // the sweep's recall floor is a PER-ARM claim; whether it survives
    // rank fusion is a separate question — measured, not assumed (the
    // ivfPqResidualSweep lesson). Measured here: the CHEAPEST config
    // clearing a 0.5 arm floor fuses measurably worse than the config a
    // 0.9 floor picks — the fusion consumer must demand a deeper floor
    // than its arm would need standalone.
    def fusedRecall(minRecall: Double): Double = {
      val f = top10(denseAnn(minRecall))
      assert(f.size == 10, "fusion must fill top-10")
      (f.toSet intersect fExact.toSet).size / 10.0
    }
    val (shallow, deep) = (fusedRecall(0.5), fusedRecall(0.9))
    info(f"fused top-10 recall vs exact-dense fusion: arm floor 0.5 -> " +
      f"$shallow%.2f, arm floor 0.9 -> $deep%.2f")
    assert(deep >= shallow,
      s"a deeper swept config must not fuse worse: $shallow -> $deep")
    assert(deep >= 0.8,
      s"the 0.9-floor swept arm degraded the fused ranking below 0.8: $deep")
  }

  test("corpusIdentity: XOR-composes over disjoint slices; order-independent; moves on a re-embed") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val whole = Similarity.corpusIdentity(emb, "vec_id", "embedding")
    val even = Similarity.corpusIdentity(
      emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding")
    val odd = Similarity.corpusIdentity(
      emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
    assert(whole == (even ^ odd),
      "identity must XOR-compose over disjoint row sets (the O(batch) " +
        "incremental-stamp contract)")
    assert(Similarity.corpusIdentity(emb.orderBy(desc("vec_id")),
      "vec_id", "embedding") == whole, "identity must be order-independent")
    val moved = Similarity.corpusIdentity(emb.withColumn("embedding",
      transform(col("embedding"), x => x * lit(1.01f))), "vec_id", "embedding")
    assert(moved != whole, "a re-embedded corpus must change identity")
  }

  test("nnDescentNBits: buckets scale with the corpus at ~targetBucketSize, clamped") {
    assert(Similarity.nnDescentNBits(0L) == 2)
    assert(Similarity.nnDescentNBits(60L) == 2)           // one bucket's worth
    assert(Similarity.nnDescentNBits(64L * 16) == 4)      // 16 buckets
    assert(Similarity.nnDescentNBits(64L * 256) == 8)     // the old default
    assert(Similarity.nnDescentNBits(1L << 40) == 24)     // clamped high
    assert(Similarity.nnDescentNBits(1000L, targetBucketSize = 10) == 7)
  }

  test("ivfPqResidualProbeIndex: partition-pruned probe equals the given-artifacts scorer") {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val (cb, codes0) = Similarity.ivfPqResidualBuild(emb, "vec_id", "embedding",
      nCells = 16, m = 8, ksub = 8, iters = 1)
    val codes = codes0.transform(graft.core.Materialize.pin)
    val root = java.nio.file.Files.createTempDirectory("pq_probe")
    codes.write.partitionBy("cell").parquet(s"$root/codes")
    // the persisted quantizer: identical to the seeds the build derived
    val cent = Similarity.coarseCentroids(emb, "vec_id", "embedding", 16)
    val q = emb.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("qid").cast("long"), col("cid").cast("long"),
        col("adist"), col("rank"))
      .as[(Long, Long, Double, Int)].collect().toSeq.sorted
    val viaIndex = rows(Similarity.ivfPqResidualProbeIndex(spark,
      s"$root/codes", q, "vec_id", "embedding", cent, cb,
      m = 8, nProbe = 4, k = 10))
    val viaScore = rows(Similarity.ivfPqResidualScore(emb, q,
      "vec_id", "embedding", nCells = 16, nProbe = 4, codes, cb,
      m = 8, k = 10))
    assert(viaIndex.nonEmpty && viaIndex == viaScore,
      "the partition-pruned probe must equal the full-scan scorer bit-for-bit")
  }

  test("ivfPqResidualSweep: cost axis monotone and exact at full depth; frontier consistent with the scorer") {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val (cb, codes0) = Similarity.ivfPqResidualBuild(emb, "vec_id", "embedding",
      nCells = 16, m = 8, ksub = 16, iters = 1)
    val codes = codes0.transform(graft.core.Materialize.pin)
    val cent = Similarity.coarseCentroids(emb, "vec_id", "embedding", 16)
    val q = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceL2TopK(emb, q, "vec_id", "embedding", 10)
      .select(col("qid"), col("cid"))
      .transform(graft.core.Materialize.pin)
    val sweep = Similarity.ivfPqResidualSweep(codes, cb, cent, q,
        "vec_id", "embedding", m = 8, nProbes = Seq(1, 2, 4, 16), k = 10,
        exact = exact)
      .orderBy(col("n_probe"))
      .select(col("n_probe"), col("n_scored"), col("n_hit"), col("n_denom"),
        col("recall_micro"))
      .as[(Int, Long, Long, Long, Double)].collect().toSeq
    assert(sweep.map(_._1) == Seq(1, 2, 4, 16))
    // scan cost is monotone in depth, and full depth scores everything
    assert(sweep.map(_._2) == sweep.map(_._2).sorted,
      s"n_scored must be monotone in depth: $sweep")
    assert(sweep.last._2 == 5L * (emb.count() - 1),
      "probing every cell must ADC-score the whole corpus per query")
    // frontier consistency: the full-depth row's hits equal the hits the
    // given-artifacts scorer produces at the same depth
    val scoreHits = Similarity.ivfPqResidualScore(emb, q, "vec_id", "embedding",
        nCells = 16, nProbe = 16, codes, cb, m = 8, k = 10)
      .select(col("qid"), col("cid"))
      .join(exact, Seq("qid", "cid")).count()
    assert(sweep.last._3 == scoreHits,
      s"sweep full-depth hits ${sweep.last._3} != scorer hits $scoreHits")
    assert(sweep.last._4 == 50L, "5 queries x k=10 ground truth")
    // picker reads the same schema the IVF sweep emits
    val pick = graft.operators.SweepFamily.ivf.pick(
      Similarity.ivfPqResidualSweep(codes, cb, cent, q, "vec_id", "embedding",
        m = 8, nProbes = Seq(1, 2, 4, 16), k = 10, exact = exact),
      floor = 0.0)
    assert(pick.count() == 1, "a zero floor must always pick the cheapest depth")
    assert(pick.select(col("n_probe").cast("int")).as[Int].head() == 1)
  }

  test("splitHotCells: two hot cells split in one call; fresh ids stay disjoint across parents") {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // two tight modes (~40% each) around vectors 0 and 1
    val modes = emb.filter(col("vec_id") < 2)
      .groupBy().agg(
        max(when(col("vec_id") === 0, col("embedding").cast("array<double>")))
          .as("ma"),
        max(when(col("vec_id") === 1, col("embedding").cast("array<double>")))
          .as("mb"))
    val conc = emb.crossJoin(broadcast(modes))
      .select(col("vec_id"),
        when(col("vec_id") % 5 === 0, col("embedding").cast("array<double>"))
          .when(col("vec_id") % 5 <= 2,
            zip_with(col("embedding").cast("array<double>"), col("ma"),
              (a, b) => b + (a - b) * lit(0.01)))
          .otherwise(
            zip_with(col("embedding").cast("array<double>"), col("mb"),
              (a, b) => b + (a - b) * lit(0.01)))
          .as("embedding"))
    val cent = Similarity.coarseCentroids(emb, "vec_id", "embedding", nCells = 16)
      .transform(graft.core.Materialize.pin)
    val index = Similarity.binaryIvfIndexBuild(conc, "vec_id", "embedding",
      dims = 64, cent).transform(graft.core.Materialize.pin)
    val occ = index.groupBy("cell").count().as[(Long, Long)].collect().toMap
    val total = occ.values.sum
    val hot = occ.filter(_._2.toDouble > 0.3 * total).keySet
    assert(hot.size == 2, s"fixture must plant two hot cells: $occ")

    val (tree, rel0) = Similarity.splitHotCells(index, "vec_id", "embedding",
      cent, maxShare = 0.3, branch = 2)
    val rel = rel0.transform(graft.core.Materialize.pin)
    assert(rel.count() == hot.toSeq.map(occ).sum,
      "both hot cells' members relabel, nothing else")
    val children = tree.filter(col("parent").isNotNull)
      .select(col("cc").cast("long"), col("parent").cast("long"))
      .as[(Long, Long)].collect().toSeq
    assert(children.map(_._2).toSet == hot, s"children must cover both parents")
    assert(children.size == 4 && children.map(_._1).distinct.size == 4,
      s"2 parents x branch 2 = 4 DISTINCT fresh ids: $children")
    // THE invariant still holds across a multi-cell split
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id").cast("long"), col("cell").cast("long"))
      .as[(Long, Long)].collect().toSeq.sortBy(_._1)
    val live = index.filter(!col("cell").isin(hot.toSeq: _*)).unionByName(rel)
    assert(rows(live) == rows(Similarity.binaryIvfIndexBuild(conc, "vec_id",
      "embedding", dims = 64, tree)),
      "multi-cell split must still equal the from-scratch tree build")
  }

  test("splitHotCells: balanced corpora and unsplittable cells no-op; a hot child refuses") {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val cent = Similarity.coarseCentroids(emb, "vec_id", "embedding", nCells = 16)
      .transform(graft.core.Materialize.pin)
    // balanced: nothing crosses the share bound — no-op, tree untouched
    val balanced = Similarity.binaryIvfIndexBuild(emb, "vec_id", "embedding",
      dims = 64, cent)
    val (t1, r1) = Similarity.splitHotCells(balanced, "vec_id", "embedding",
      cent, maxShare = 0.5)
    assert(r1.isEmpty, "a balanced index must not split")
    assert(Similarity.quantizerIdentity(t1) == Similarity.quantizerIdentity(cent),
      "a no-op must leave the quantizer identity in place")
    // unsplittable: every member of the hot cell is the SAME point — one
    // seed, no children, no relabel (no refinement separates duplicates)
    val dupe = emb.limit(1).select(col("embedding")).crossJoin(
      emb.select(col("vec_id"))).select(col("vec_id"), col("embedding"))
    val dupeIndex = Similarity.binaryIvfIndexBuild(dupe, "vec_id", "embedding",
      dims = 64, cent)
    val (t2, r2) = Similarity.splitHotCells(dupeIndex, "vec_id", "embedding",
      cent, maxShare = 0.5)
    assert(r2.isEmpty, "identical vectors cannot be split apart")
    assert(Similarity.quantizerIdentity(t2) == Similarity.quantizerIdentity(cent))
    // a hot CHILD refuses: the local remedial is spent — retrain territory
    val conc = concentrated(emb)
    val index = Similarity.binaryIvfIndexBuild(conc, "vec_id", "embedding",
      dims = 64, cent)
    val (tree, rel) = Similarity.splitHotCells(index, "vec_id", "embedding",
      cent, maxShare = 0.5, branch = 4)
    val live = index.join(Similarity.leafCells(tree).select(
        col("cc").cast("long").as("cell")), Seq("cell"), "left_semi")
      .unionByName(rel)
    val ex = intercept[RuntimeException] {
      Similarity.splitHotCells(live, "vec_id", "embedding", tree,
        maxShare = 0.05, branch = 4)
    }
    assert(ex.getMessage.contains("retrain"), ex.getMessage)
  }

  test("fused frontier lexical-arm sensitivity: the committed sweep's SHAPE and floor-pick transfer across disjoint term sets") {
    // The committed fused sweep calibrates the DENSE knobs under one
    // fixed BM25 arm while production requests vary theirs. This
    // measures how much the frontier depends on that fixture: for each
    // of three disjoint term sets, sweep the same grid and compare (a)
    // the shape (recall at the deepest grid point dominates the
    // shallowest) and (b) the operational outcome — the config the
    // picker would deploy at the serving floor. The artifact records
    // lex_id/lex_terms so a reader can tell which arm calibrated a pick.
    import org.apache.spark.sql.expressions.Window
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val cent = Similarity.coarseCentroids(emb, "vec_id", "embedding", 16)
    val idx = Similarity.binaryIvfIndexBuild(emb, "vec_id", "embedding", 64,
      cent).transform(graft.core.Materialize.pin)
    val qids = emb.select(col("vec_id"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(3)
    val queries = emb.join(qids, "vec_id")
    val (armK, nProbes, shortlists) = (20, Seq(1, 4, 8), Seq(25, 100, 200))
    val exactArm = Similarity.bruteForceTopK(emb, queries, "vec_id",
        "embedding", armK)
      .select(col("qid"), col("cid"), col("rank"))
      .transform(graft.core.Materialize.pin)
    def lexFor(terms: Seq[String]) = graft.operators.TextAnalysis
      .bm25(docs, "doc_id", "text", terms, k1 = 1.2, b = 0.75, topK = armK)
      .withColumn("rank", row_number().over(
        Window.partitionBy(pmod(length(md5(col("doc_id").cast("string"))), lit(32)))
          .orderBy(desc("score"), col("doc_id"))))
      .select(col("doc_id"), col("rank"))
    val termSets = Seq(
      Seq("vector", "spark", "filter"),
      Seq("data", "query", "index"),
      Seq("stream", "model", "join"))
    val frontiers = termSets.map { ts =>
      val sw = Similarity.fusedRrfSweep(
        idx.select(col("vec_id"), col("cell"), col("words")),
        emb, queries, "vec_id", "embedding", 64, cent,
        lexFor(ts), exactArm, nProbes, shortlists,
        armK = armK, kRrf = 60, topK = 10)
        .select(col("n_probe").cast("int"), col("shortlist").cast("int"),
          col("fused_recall"))
        .as[(Int, Int, Double)].collect()
        .map { case (p, s, r) => (p, s) -> r }.toMap
      ts -> sw
    }
    val deepest = (nProbes.max, shortlists.max)
    val shallowest = (nProbes.min, shortlists.min)
    frontiers.foreach { case (ts, f) =>
      info(ts.mkString("/") + ": " +
        f.toSeq.sortBy(_._1).map { case ((p, s), r) => f"($p,$s)=$r%.2f" }
          .mkString(" "))
      assert(f(deepest) >= f(shallowest) - 1e-9,
        s"${ts.mkString("/")}: the frontier lost its shape — deepest " +
          s"${f(deepest)} < shallowest ${f(shallowest)}")
    }
    // the operational claim: the deepest grid point clears the committed
    // serving floor under EVERY arm (the pick never comes up empty), and
    // the per-grid-point spread across arms is bounded — the fixture
    // moves absolute recall, not the decision band
    val floor = 0.5
    frontiers.foreach { case (ts, f) =>
      assert(f(deepest) >= floor,
        s"${ts.mkString("/")}: deepest grid point ${f(deepest)} under the $floor floor")
    }
    val spread = frontiers.head._2.keys.map { k =>
      val rs = frontiers.map(_._2(k))
      k -> (rs.max - rs.min)
    }.toMap
    info("cross-arm spread per grid point: " + spread.toSeq.sortBy(_._1)
      .map { case ((p, s), d) => f"($p,$s)=$d%.2f" }.mkString(" "))
    assert(spread.values.max <= 0.2,
      f"cross-arm fused-recall spread blew past the documented band " +
        f"(measured 0.07 across three disjoint term sets at commit time): " +
        f"${spread.values.max}%.2f")
  }

  // ---- frontier equivalence: every sweep (and ivfTopK) against a
  // plain-Scala reference computed from the collected rows, with the
  // edge cases the one-aggregation frontier tail handles on purpose:
  // duplicate grid requests, queries whose probed cells hold no
  // candidate, an empty truth, a duplicated truth row, a code id missing
  // from the vectors, and distance ties (broken by cid).
  private object Ref {
    val Scale = 1e12
    private def q(x: Double): Long = math.floor(x * Scale + 0.5).toLong
    def l2Long(a: Seq[Double], b: Seq[Double]): Long =
      a.zip(b).map { case (x, y) => q((x - y) * (x - y)) }.sum
    def l2(a: Seq[Double], b: Seq[Double]): Double = l2Long(a, b) / Scale
    def dot(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).map { case (x, y) => q(x * y) }.sum / Scale
    def cosine(a: Seq[Double], b: Seq[Double]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    /** the quantized sum of doubles, as vsum computes it */
    def vsum(xs: Seq[Double]): Double = xs.map(q).sum / Scale
    /** centroid ids nearest first, ties (d2, cc) */
    def nearest(v: Seq[Double], cents: Seq[(Long, Seq[Double])]): Seq[Long] =
      cents.map { case (cc, cv) => (l2(v, cv), cc) }.sortBy(identity).map(_._2)
    def hamming(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y).toLong }.sum

    /** A scored candidate: `depth` admits it, `key` ranks it (ascending;
      * cid breaks ties). */
    case class Cand(qid: Long, cid: Long, depth: Int, key: Double)
    def topK(rows: Seq[Cand], k: Int): Seq[Cand] =
      rows.groupBy(_.qid).values.flatMap(_.sortBy(c => (c.key, c.cid)).take(k)).toSeq
    def hits(top: Seq[Cand], exact: Seq[(Long, Long)]): Long = {
      val mult = exact.groupBy(identity).map { case (x, v) => x -> v.size.toLong }
      top.map(c => mult.getOrElse((c.qid, c.cid), 0L)).sum
    }
    def denom(exact: Seq[(Long, Long)], k: Int): Long =
      exact.groupBy(_._1).values.map(v => math.min(k, v.size).toLong).sum
    def recall(h: Long, d: Long): Double = if (d == 0) 1.0 else h.toDouble / d
    /** (depth, n_scored, n_hit, n_denom, recall) per requested depth */
    def depthFrontier(cands: Seq[Cand], depths: Seq[Int], k: Int,
                      exact: Seq[(Long, Long)]): Seq[(Int, Long, Long, Long, Double)] =
      depths.map { d =>
        val in = cands.filter(_.depth <= d)
        val (h, dn) = (hits(topK(in, k), exact), denom(exact, k))
        (d, in.size.toLong, h, dn, recall(h, dn))
      }
  }

  /** The sf0.001 embeddings fixture (TESTDATA.md). */
  private val fixtureEmbeddings = "/root/testdata/sf0.001/embeddings.parquet"

  private def vecsOf(df: org.apache.spark.sql.DataFrame, id: String,
                     v: String): Seq[(Long, Seq[Double])] =
    df.select(col(id).cast("long"), col(v).cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toSeq

  private def frontierOf(df: org.apache.spark.sql.DataFrame,
                         key: String): Seq[(Int, Long, Long, Long, Double)] =
    df.select(col(key), col("n_scored"), col("n_hit"), col("n_denom"),
        col("recall_micro"))
      .as[(Int, Long, Long, Long, Double)].collect().toSeq.sortBy(identity)

  /** A small corpus with planted ties: 8-dim vectors on a 0.25 grid (many
    * equal distances) plus exact copies of vectors 1 and 2. */
  private def tieCorpus: Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(7)
    val base = (0 until 40).map(i => i.toLong -> Array.fill(8)((rnd.nextInt(9) - 4) / 4.0f))
    base ++ Seq(100L -> base(1)._2, 101L -> base(1)._2, 102L -> base(2)._2)
  }

  test("frontier equivalence: ivfProbeSweep and ivfTopK equal a plain-Scala IVF") {
    val rows = tieCorpus
    val corpus = rows.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id").isin(1L, 2L, 3L))
    def ivfCands(nCells: Int): Seq[Ref.Cand] = {
      val cents = vecsOf(Similarity.coarseCentroids(corpus, "vec_id", "embedding", nCells),
        "cc", "cv")
      val vs = rows.map { case (id, v) => id -> v.toSeq.map(_.toDouble) }
      val cell = vs.map { case (id, v) => id -> Ref.nearest(v, cents).head }.toMap
      vs.filter(v => Set(1L, 2L, 3L)(v._1)).flatMap { case (qid, qv) =>
        val rn = Ref.nearest(qv, cents).zipWithIndex.map { case (c, i) => c -> (i + 1) }.toMap
        vs.collect { case (cid, cv) if cid != qid =>
          Ref.Cand(qid, cid, rn(cell(cid)), Ref.l2(qv, cv)) }
      }
    }
    // ties: vectors 1/100/101 coincide, so their distances to every query tie
    val cands = ivfCands(5)
    assert(cands.groupBy(c => (c.qid, c.key)).exists(_._2.size > 1), "fixture must plant ties")
    val exhaustive = Ref.topK(cands, 3).map(c => (c.qid, c.cid))
    // a duplicated truth row counts twice, as the inner join with it did;
    // a truth row of a query outside the sample still counts in n_denom
    val exact = exhaustive :+ exhaustive.head :+ ((777L, 1L))
    val got = frontierOf(Similarity.ivfProbeSweep(corpus, queries, "vec_id", "embedding",
      nCells = 5, nProbes = Seq(1, 2, 2, 5), k = 3, exact = exact.toDF("qid", "cid")), "n_probe")
    val want = Ref.depthFrontier(cands, Seq(1, 2, 2, 5), 3, exact).sortBy(identity)
    assert(got == want, s"ivfProbeSweep\n got $got\nwant $want")
    assert(got.count(_._1 == 2) == 2, "a duplicated depth keeps its duplicate row")
    // ivfTopK: the same candidates, ranked (dist, cid)
    val top = Similarity.ivfTopK(corpus, queries, "vec_id", "embedding",
        nCells = 5, nProbe = 2, k = 3)
      .select(col("qid"), col("cid"), col("dist"), col("rank"))
      .as[(Long, Long, Double, Int)].collect().toSeq.sortBy(identity)
    val wantTop = cands.filter(_.depth <= 2).groupBy(_.qid).values.flatMap(
        _.sortBy(c => (c.key, c.cid)).take(3).zipWithIndex
          .map { case (c, i) => (c.qid, c.cid, c.key, i + 1) })
      .toSeq.sortBy(identity)
    assert(top == wantTop, s"ivfTopK\n got $top\nwant $wantTop")

    // one vector per cell: a query's own cell holds no other candidate,
    // so depth 1 scores nothing; an empty truth reads recall 1.0
    val tiny = rows.take(5).toDF("vec_id", "embedding")
    val none = Seq.empty[(Long, Long)]
    val tinyGot = frontierOf(Similarity.ivfProbeSweep(tiny,
      tiny.filter(col("vec_id") < 3), "vec_id", "embedding", nCells = 5,
      nProbes = Seq(1, 2), k = 2, exact = none.toDF("qid", "cid")), "n_probe")
    assert(tinyGot == Seq((1, 0L, 0L, 0L, 1.0), (2, 3L, 0L, 0L, 1.0)), tinyGot.toString)
  }

  test("frontier equivalence: ivfPqResidualSweep equals a plain-Scala residual ADC frontier") {
    val emb = spark.read.parquet(fixtureEmbeddings)
    val (m, nCells, k) = (8, 16, 10)
    val (cb0, codes0) = Similarity.ivfPqResidualBuild(emb, "vec_id", "embedding",
      nCells = nCells, m = m, ksub = 16, iters = 1)
    val codes = codes0.transform(graft.core.Materialize.pin)
    val cb = cb0.transform(graft.core.Materialize.pin)
    val cent = Similarity.coarseCentroids(emb, "vec_id", "embedding", nCells)
    val q = emb.filter(col("vec_id") < 5)
    val cents = vecsOf(cent, "cc", "cv")
    val centOf = cents.toMap
    val book = cb.select(col("sub"), col("cc").cast("long"), col("cv").cast("array<double>"))
      .as[(Int, Long, Seq[Double])].collect().map(r => (r._1, r._2) -> r._3).toMap
    val codeRows = codes.select(col("cid").cast("long"), col("cell").cast("long"),
        col("codes").cast("array<bigint>"))
      .as[(Long, Long, Seq[Long])].collect().toSeq
    val cands = vecsOf(q, "vec_id", "embedding").flatMap { case (qid, qv) =>
      val dsub = qv.size / m
      Ref.nearest(qv, cents).zipWithIndex.flatMap { case (cell, i) =>
        val qr = qv.zip(centOf(cell)).map { case (a, b) => a - b }
        codeRows.collect { case (cid, `cell`, cs) if cid != qid =>
          Ref.Cand(qid, cid, i + 1, Ref.vsum(cs.zipWithIndex.map { case (cc, s) =>
            Ref.l2(qr.slice(s * dsub, s * dsub + dsub), book((s, cc))) }))
        }
      }
    }
    val exact0 = Similarity.bruteForceL2TopK(emb, q, "vec_id", "embedding", k)
      .select(col("qid").cast("long"), col("cid").cast("long")).as[(Long, Long)]
      .collect().toSeq
    val exact = exact0 :+ exact0.last :+ ((777L, 1L))
    val depths = Seq(1, 2, 2, 4, 16)
    val got = frontierOf(Similarity.ivfPqResidualSweep(codes, cb, cent, q,
      "vec_id", "embedding", m = m, nProbes = depths, k = k,
      exact = exact.toDF("qid", "cid")), "n_probe")
    val want = Ref.depthFrontier(cands, depths, k, exact).sortBy(identity)
    assert(got == want, s"ivfPqResidualSweep\n got $got\nwant $want")
  }

  test("frontier equivalence: binaryShortlistSweep, binaryIvfSweep and fusedRrfSweep equal plain-Scala references") {
    val emb = spark.read.parquet(fixtureEmbeddings)
      .select(col("vec_id"), col("embedding"))
    val (dims, k) = (64, 5)
    // one planted EMPTY cell far from the corpus, and a query sitting on
    // it: its nearest probed cell holds no candidate
    val far = Array.fill(dims)(50.0f)
    val cent = Similarity.coarseCentroids(emb, "vec_id", "embedding", 8)
      .unionByName(Seq((10000L, far.map(_.toDouble))).toDF("cc", "cv"))
    val index = Similarity.binaryIvfIndexBuild(emb, "vec_id", "embedding", dims, cent)
      .transform(graft.core.Materialize.pin)
    val queries = emb.filter(col("vec_id") < 3)
      .unionByName(Seq((9999L, far)).toDF("vec_id", "embedding"))
    val qs = vecsOf(queries, "vec_id", "embedding")
    val qWords = Similarity.binaryQuantize(queries, "vec_id", "embedding", dims)
      .select(col("vec_id"), col("words")).as[(Long, Seq[Long])].collect().toMap
    val idx = index.select(col("vec_id"), col("cell").cast("long"), col("words"),
        col("embedding").cast("array<double>"))
      .as[(Long, Long, Seq[Long], Seq[Double])].collect().toSeq
    val cents = vecsOf(cent, "cc", "cv")
    // (qid, cid, rn, hamming) over every probe depth
    val ivfCands = qs.flatMap { case (qid, qv) =>
      val rn = Ref.nearest(qv, cents).zipWithIndex.map { case (c, i) => c -> (i + 1) }.toMap
      idx.collect { case (cid, cell, w, _) if cid != qid =>
        (qid, cid, rn(cell), Ref.hamming(qWords(qid), w)) }
    }
    assert(!ivfCands.exists(c => c._1 == 9999L && c._3 == 1), "planted cell must be empty")
    // the code with query 0's best Hamming rank at depth 1 has no vector
    val missing = ivfCands.filter(c => c._1 == 0L && c._3 == 1).minBy(c => (c._4, c._2))._2
    val vecs = index.filter(col("vec_id") =!= missing)
    val vecOf = idx.collect { case (cid, _, _, v) if cid != missing => cid -> v }.toMap
    val qvOf = qs.toMap
    def cos(qid: Long, cid: Long): Option[Double] = vecOf.get(cid).map(Ref.cosine(qvOf(qid), _))
    val exact0 = Ref.topK(idx.flatMap { case (cid, _, _, v) =>
      qs.collect { case (qid, qv) if qid != cid => Ref.Cand(qid, cid, 0, -Ref.cosine(qv, v)) } }, k)
    val exact = exact0.map(c => (c.qid, c.cid)) :+ ((exact0.head.qid, exact0.head.cid)) :+
      ((777L, 1L))
    val exactDf = exact.toDF("qid", "cid")
    /** per (p, s): (n_cand, scored shortlist rows as Cands keyed -cosine) */
    def grid(p: Int, s: Int): (Long, Seq[Ref.Cand]) = {
      val inP = ivfCands.filter(_._3 <= p)
      val scored = inP.groupBy(_._1).values.flatMap(_.sortBy(c => (c._4, c._2)).take(s))
        .flatMap(c => cos(c._1, c._2).map(x => Ref.Cand(c._1, c._2, 0, -x))).toSeq
      (inP.size.toLong, scored)
    }
    val (nProbes, shortlists) = (Seq(1, 2, 2, 9), Seq(5, 20, 20))

    // flat shortlist sweep: Hamming over the whole index, inner join to vecs
    val flat = qs.flatMap { case (qid, _) =>
      idx.filter(_._1 != qid).map(r => (r._1, Ref.hamming(qWords(qid), r._3)))
        .sortBy(r => (r._2, r._1)).zipWithIndex
        .flatMap { case ((cid, _), i) => cos(qid, cid).map(x => Ref.Cand(qid, cid, i + 1, -x)) }
    }
    val flatGot = frontierOf(Similarity.binaryShortlistSweep(index, vecs, queries,
      "vec_id", "embedding", dims, shortlists, k, exactDf), "shortlist")
    val flatWant = Ref.depthFrontier(flat, shortlists, k, exact).sortBy(identity)
    assert(flatGot == flatWant, s"binaryShortlistSweep\n got $flatGot\nwant $flatWant")

    val ivfGot = Similarity.binaryIvfSweep(index, vecs, queries, "vec_id", "embedding",
        dims, cent, nProbes, shortlists, k, exactDf)
      .select(col("n_probe"), col("shortlist"), col("n_cand"), col("n_scored"),
        col("n_hit"), col("n_denom"), col("recall_micro"))
      .as[(Int, Int, Long, Long, Long, Long, Double)].collect().toSeq.sortBy(identity)
    val ivfWant = (for (p <- nProbes; s <- shortlists) yield {
      val (nCand, scored) = grid(p, s)
      val h = Ref.hits(Ref.topK(scored, k), exact)
      val d = Ref.denom(exact, k)
      (p, s, nCand, scored.size.toLong, h, d, Ref.recall(h, d))
    }).sortBy(identity)
    assert(ivfGot == ivfWant, s"binaryIvfSweep\n got $ivfGot\nwant $ivfWant")

    // fused sweep: the same grid's arms fused with a fixed lexical arm
    val (armK, kRrf, topK) = (5, 60, 4)
    val lex = Seq((1L, 1), (2L, 2), (5L, 3), (300L, 4))
    val exactArm = exact0.groupBy(_.qid).toSeq.flatMap { case (qid, cs) =>
      cs.sortBy(c => (c.key, c.cid)).zipWithIndex.map { case (c, i) => (qid, c.cid, i + 1) } }
    def fuse(arm: Seq[(Long, Int)]): Set[Long] =
      (lex ++ arm).groupBy(_._1).toSeq
        .map { case (doc, rs) => (doc, Ref.vsum(rs.map(r => 1.0 / (kRrf.toDouble + r._2)))) }
        .sortBy { case (doc, rrf) => (-rrf, doc) }.take(topK).map(_._1).toSet
    val xtop = qs.map { case (qid, _) =>
      qid -> fuse(exactArm.collect { case (`qid`, cid, r) => (cid, r) }) }.toMap
    val fusedGot = Similarity.fusedRrfSweep(index, vecs, queries, "vec_id", "embedding",
        dims, cent, lex.toDF("doc_id", "rank"), exactArm.toDF("qid", "cid", "rank"),
        nProbes, shortlists, armK, kRrf, topK)
      .select(col("n_probe"), col("shortlist"), col("n_cand"), col("n_scored"),
        col("n_hit"), col("n_denom"), col("fused_recall"))
      .as[(Int, Int, Long, Long, Long, Long, Double)].collect().toSeq.sortBy(identity)
    val fusedWant = (for (p <- nProbes; s <- shortlists) yield {
      val (nCand, scored) = grid(p, s)
      val arms = scored.groupBy(_.qid).map { case (qid, cs) =>
        qid -> cs.sortBy(c => (c.key, c.cid)).take(armK).zipWithIndex
          .map { case (c, i) => (c.cid, i + 1) } }
      val h = qs.map { case (qid, _) =>
        (fuse(arms.getOrElse(qid, Nil)) intersect xtop(qid)).size.toLong }.sum
      val d = xtop.values.map(x => math.min(topK, x.size).toLong).sum
      (p, s, nCand, scored.size.toLong, h, d, Ref.recall(h, d))
    }).sortBy(identity)
    assert(fusedGot == fusedWant, s"fusedRrfSweep\n got $fusedGot\nwant $fusedWant")
  }

  test("sweep job budget: one ivfProbeSweep and one binaryIvfSweep call") {
    val emb = spark.read.parquet(fixtureEmbeddings)
    val q = emb.filter(col("vec_id") < 3)
    val exactL2 = Similarity.bruteForceL2TopK(emb, q, "vec_id", "embedding", k = 5)
      .transform(graft.core.Materialize.pin)
    val cent = Similarity.coarseCentroids(emb, "vec_id", "embedding", nCells = 8)
      .transform(graft.core.Materialize.pin)
    val index = Similarity.binaryIvfIndexBuild(emb, "vec_id", "embedding", 64, cent)
      .transform(graft.core.Materialize.pin)
    val exactCos = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 5)
      .select(col("qid"), col("cid")).transform(graft.core.Materialize.pin)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def jobsOf(body: => Unit): Int = {
      org.apache.spark.sql.graftbridge.ListenerBridge.drain(spark.sparkContext)
      jobs.set(0)
      body
      org.apache.spark.sql.graftbridge.ListenerBridge.drain(spark.sparkContext)
      jobs.get()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val ivf = jobsOf(Similarity.ivfProbeSweep(emb, q, "vec_id", "embedding",
        nCells = 4, nProbes = Seq(1, 2, 4), k = 5, exact = exactL2).collect())
      val bin = jobsOf(Similarity.binaryIvfSweep(index, index, q, "vec_id",
        "embedding", dims = 64, cent, nProbes = Seq(2, 8), shortlists = Seq(10, 50),
        k = 5, exact = exactCos).collect())
      info(s"jobs: ivfProbeSweep=$ivf binaryIvfSweep=$bin")
      // Measured on this fixture: 7 and 8 jobs. Before the in-row probe
      // ranking and the one-aggregation frontier tail (per-query probe
      // windows, a pinned candidate table, per-grid-point windows and
      // joins) the same calls ran 22 and 28.
      assert(ivf <= 7, s"ivfProbeSweep jobs: $ivf")
      assert(bin <= 8, s"binaryIvfSweep jobs: $bin")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
