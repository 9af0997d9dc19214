package graft.tools

import graft.core.Graft
import graft.operators.{Audit, CorpusPipeline, Export, MarvelTransform, Relational,
  SweepFamily}
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The reference's ETL CLI (`python -m etl.etl {initdb,marvel,quality,
  * stats}` — starter:etl/etl.py:70-93) rebuilt on the Spark engine over a
  * parquet warehouse:
  *
  *   runMain graft.tools.EtlCli init    <warehouse>
  *   runMain graft.tools.EtlCli ingest  <warehouse> <rawComicsJson>
  *   runMain graft.tools.EtlCli quality <warehouse>
  *   runMain graft.tools.EtlCli stats   <warehouse> [topN]
  *
  * ingest = extract(landed JSON) -> MarvelTransform flatten/explode ->
  * idempotent upsert into issue/creator/bridge tables -> etl_run audit row
  * (the full reference lifecycle, SURVEY.md §3.1). Re-running ingest with
  * the same input is a no-op on the tables (asserted in EtlCliSpec).
  */
object EtlCli {

  def main(args: Array[String]): Unit = {
    val spark = Graft.session("graft-etl")
    try run(spark, args.toSeq)
    finally spark.stop()
  }

  def run(spark: SparkSession, args: Seq[String]): Unit = args match {
    case Seq("init", wh)           => init(spark, wh)
    case Seq("ingest", wh, raw)    => ingest(spark, wh, raw)
    case Seq("quality", wh)        => quality(spark, wh).show(truncate = false)
    case Seq("stats", wh)          => stats(spark, wh, 10).show(truncate = false)
    case Seq("stats", wh, top)     => stats(spark, wh, top.toInt).show(truncate = false)
    case Seq("export", wh, docs, eval)     => export(spark, wh, docs, eval)
    case Seq("export", wh, docs, eval, n)  => export(spark, wh, docs, eval, n.toInt)
    case Seq("export", wh, docs, eval, n, fmt, flags @ _*) =>
      val unknown = flags.filterNot(f => f == "bpe" || f.startsWith("epochs="))
      if (unknown.nonEmpty)
        sys.error(s"unknown export flags: ${unknown.mkString(", ")} " +
          "(expected 'bpe' and/or 'epochs=src:2.5,other:0.5')")
      export(spark, wh, docs, eval, n.toInt, format = fmt,
        bpeTokens = flags.contains("bpe"),
        epochs = flags.find(_.startsWith("epochs="))
          .map(f => parseEpochs(f.stripPrefix("epochs="))).getOrElse(Map.empty))
    case Seq("learn-bpe", wh, docs, nMerges) =>
      learnBpe(spark, wh, docs, nMerges.toInt)
    case Seq("versions", path)      => println(versions(spark, path).mkString(","))
    case Seq("vacuum", path)        => vacuum(spark, path)
    case Seq("vacuum", path, n)     => vacuum(spark, path, n.toInt)
    case Seq("diff", path, key, a, b) =>
      diffVersions(spark, path, key, a.toLong, b.toLong)
        .orderBy("change", key).show(numRows = 1000, truncate = false)
    case Seq("verify-export", path) =>
      val bad = verifyExport(spark, path)
      if (bad.nonEmpty) sys.error(s"export at $path FAILED verification — " +
        s"shards diverging from the committed manifest: ${bad.mkString(", ")}")
      else println(s"export at $path verifies against its manifest")
    case Seq("sweep-lsh", corpusTable, outTable) =>
      sweepLsh(spark, corpusTable, outTable).show(truncate = false)
    case Seq("sweep-lsh", corpusTable, outTable, samplePeriod) =>
      sweepLsh(spark, corpusTable, outTable, samplePeriod.toInt).show(truncate = false)
    case Seq("sweep-binary", indexTable, outTable) =>
      sweepBinary(spark, indexTable, outTable).show(truncate = false)
    case Seq("sweep-binary", indexTable, outTable, nQueries) =>
      sweepBinary(spark, indexTable, outTable, nQueries.toInt).show(truncate = false)
    case Seq("sweep-binary", indexTable, outTable, nQueries, idCol, vecCol) =>
      sweepBinary(spark, indexTable, outTable, nQueries.toInt,
        idCol = idCol, vecCol = vecCol).show(truncate = false)
    case Seq("sweep-binary-ivf", indexTable, centPath, outTable) =>
      sweepBinaryIvf(spark, indexTable, centPath, outTable)
        .show(numRows = 100, truncate = false)
    case Seq("sweep-binary-ivf", indexTable, centPath, outTable, nQueries) =>
      sweepBinaryIvf(spark, indexTable, centPath, outTable, nQueries.toInt)
        .show(numRows = 100, truncate = false)
    case Seq("sweep-binary-ivf", indexTable, centPath, outTable, nQueries, idCol, vecCol) =>
      sweepBinaryIvf(spark, indexTable, centPath, outTable, nQueries.toInt,
        idCol = idCol, vecCol = vecCol).show(numRows = 100, truncate = false)
    case Seq("sweep-fused-rrf", indexTable, centPath, docsTable, outTable,
             terms) =>
      sweepFusedRrf(spark, indexTable, centPath, docsTable, outTable,
        terms.split(",").toSeq).show(numRows = 100, truncate = false)
    case Seq("sweep-fused-rrf", indexTable, centPath, docsTable, outTable,
             terms, nQueries) =>
      sweepFusedRrf(spark, indexTable, centPath, docsTable, outTable,
        terms.split(",").toSeq, nQueries.toInt)
        .show(numRows = 100, truncate = false)
    case Seq("retrain-binary-ivf", indexTable, centOut, idxOut, nCells, dims) =>
      retrainBinaryIvf(spark, indexTable, centOut, idxOut, nCells.toInt, dims.toInt)
    case Seq("retrain-binary-ivf", indexTable, centOut, idxOut, nCells, dims,
             idCol, vecCol) =>
      retrainBinaryIvf(spark, indexTable, centOut, idxOut, nCells.toInt, dims.toInt,
        idCol, vecCol)
    case Seq("retrain-ivfpq", vecsTable, centOut, cbOut, codesOut,
             nCells, m, ksub, iters) =>
      retrainIvfPq(spark, vecsTable, centOut, cbOut, codesOut,
        nCells.toInt, m.toInt, ksub.toInt, iters.toInt)
    case Seq("retrain-ivfpq", vecsTable, centOut, cbOut, codesOut,
             nCells, m, ksub, iters, idCol, vecCol) =>
      retrainIvfPq(spark, vecsTable, centOut, cbOut, codesOut,
        nCells.toInt, m.toInt, ksub.toInt, iters.toInt, idCol, vecCol)
    case Seq("sweep-ivfpq", codesTable, centPath, cbPath, vecsTable, outTable) =>
      sweepIvfPq(spark, codesTable, centPath, cbPath, vecsTable, outTable)
        .show(numRows = 100, truncate = false)
    case Seq("sweep-ivfpq", codesTable, centPath, cbPath, vecsTable, outTable,
             nQueries) =>
      sweepIvfPq(spark, codesTable, centPath, cbPath, vecsTable, outTable,
        nQueries.toInt).show(numRows = 100, truncate = false)
    case Seq("sweep-ivfpq", codesTable, centPath, cbPath, vecsTable, outTable,
             nQueries, idCol, vecCol) =>
      sweepIvfPq(spark, codesTable, centPath, cbPath, vecsTable, outTable,
        nQueries.toInt, idCol = idCol, vecCol = vecCol)
        .show(numRows = 100, truncate = false)
    case Seq("knn-graph", vecsTable, outTable, k, rounds) =>
      knnGraph(spark, vecsTable, outTable, k.toInt, rounds.toInt)
    case Seq("knn-graph", vecsTable, outTable, k, rounds, nBits) =>
      knnGraph(spark, vecsTable, outTable, k.toInt, rounds.toInt,
        nBits = Some(nBits.toInt))
    case Seq("knn-graph", vecsTable, outTable, k, rounds, idCol, vecCol) =>
      knnGraph(spark, vecsTable, outTable, k.toInt, rounds.toInt, idCol, vecCol)
    case Seq("knn-graph", vecsTable, outTable, k, rounds, nBits, idCol, vecCol) =>
      knnGraph(spark, vecsTable, outTable, k.toInt, rounds.toInt, idCol, vecCol,
        Some(nBits.toInt))
    case Seq("probe-graph-recall", graphTable, vecsTable) =>
      probeGraphRecall(spark, graphTable, vecsTable).show(truncate = false)
    case Seq("probe-graph-recall", graphTable, vecsTable, nQueries) =>
      probeGraphRecall(spark, graphTable, vecsTable, nQueries.toInt)
        .show(truncate = false)
    case Seq("hard-negatives", graphTable, vecsTable, outTable, k) =>
      mineHardNegatives(spark, graphTable, vecsTable, outTable, k.toInt)
    case Seq("hard-negatives", graphTable, vecsTable, outTable, k,
             idCol, vecCol, labelCol) =>
      mineHardNegatives(spark, graphTable, vecsTable, outTable, k.toInt,
        idCol, vecCol, labelCol)
    case other =>
      sys.error("usage: init|ingest|quality|stats|export|learn-bpe|versions|" +
        "vacuum|diff|verify-export|sweep-lsh|sweep-binary|sweep-binary-ivf|" +
        "sweep-fused-rrf|retrain-binary-ivf|retrain-ivfpq|sweep-ivfpq|" +
        "knn-graph|probe-graph-recall|hard-negatives ... " +
        s"(got $other)")
  }

  /** Build and COMMIT the LSH band-sweep artifact `SweepFamily.lsh`
    * picks from: sample the corpus 1/samplePeriod by doc id, build
    * exhaustive exact-Jaccard truth over the sample (O(sample²) by nature
    * — the period bounds it), sweep every band size dividing numHashes
    * against that truth, and commit the frontier at `outTable` via the
    * versioned-table protocol. Reads the corpus in any layout
    * ([[readAnyTable]]: the curation sink's epoch log, a versioned table
    * or a raw directory). Returns the committed frontier. */
  def sweepLsh(spark: SparkSession, corpusTable: String, outTable: String,
               samplePeriod: Int = 3, k: Int = 9, numHashes: Int = 8,
               threshold: Double = 0.8): DataFrame = {
    require(samplePeriod >= 1, s"sample period must be >= 1, got $samplePeriod")
    val docs = readAnyTable(spark, corpusTable).select(col("doc_id"), col("text"))
    val sample = docs.filter(pmod(col("doc_id"), lit(samplePeriod.toLong)) === 0)
    val truth = graft.operators.Dedup.jaccardPairsExhaustive(
      sample, "doc_id", "text", k, threshold)
    val bandSizes = (1 to numHashes).filter(numHashes % _ == 0)
    // stamped with the shingle k the frontier was MEASURED at: a frontier
    // swept at k=9 says nothing about recall of k=5 bands
    commitSweep(SweepFamily.lsh, graft.operators.Dedup.lshBandSweep(
      sample, "doc_id", "text", k, numHashes, bandSizes, truth), outTable, Seq(k))
  }

  // ---- the sweep commands' shared preamble and tail ----------------------

  /** Refuse `df` unless it has every one of `cols`; `what` names it with
    * its verb ("vectors at t lack"). */
  private def requireColumns(df: DataFrame, what: String, cols: String*): Unit = {
    val missing = cols.filterNot(df.columns.contains)
    if (missing.nonEmpty)
      sys.error(s"$what column(s) ${missing.mkString(", ")} — pass the column " +
        s"names it was built with (got: ${df.columns.mkString(", ")})")
  }

  /** Refuse a sweep input `df` (read from `table`) that lacks one of
    * `cols` of the layout `command` runs over, or that is empty; returns
    * the width of the first `arrayCol` value (the vector dims, or the PQ
    * code width m). */
  private def sweepInputWidth(df: DataFrame, table: String, command: String,
                              layout: String, cols: Seq[String],
                              arrayCol: String): Int = {
    requireColumns(df, s"$table ($command runs over $layout) lacks", cols: _*)
    val first = df.select(size(col(arrayCol))).limit(1).collect()
    require(first.nonEmpty, s"$table is empty — nothing to sweep; ingest at " +
      s"least one epoch before running $command")
    first.head.getInt(0)
  }

  /** The sweep's query sample: the first `n` ids by deterministic hash
    * rank (the coarseSeeds idiom — no RNG, re-sweeps are reproducible)
    * with their vectors. */
  private def hashRankQueries(df: DataFrame, idCol: String, vecCol: String,
                              n: Int): DataFrame = {
    require(n >= 1, s"need at least one query vector, got $n")
    val qids = df.select(col(idCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
      .limit(n)
    df.join(qids, idCol).select(col(idCol), col(vecCol))
  }

  /** The shared input of the two binary-IVF sweeps: the index (any
    * layout, [[readAnyTable]]), the quantizer at `centroidsPath`, the
    * dims and the query sample. */
  private def binaryIvfSweepInput(spark: SparkSession, indexTable: String,
                                  centroidsPath: String, command: String,
                                  nQueries: Int, idCol: String,
                                  vecCol: String): (DataFrame, DataFrame, Int, DataFrame) = {
    val index = readAnyTable(spark, indexTable)
    val dims = sweepInputWidth(index, s"index at $indexTable", command,
      "a binaryIvfIndexBuild layout (id, cell, words, vec)",
      Seq(idCol, vecCol, "cell", "words"), vecCol)
    (index, readTable(spark, centroidsPath), dims,
      hashRankQueries(index, idCol, vecCol, nQueries))
  }

  /** Commit a sweep frontier at `outTable` with `family`'s identity
    * stamps (one value each, in `family.stamps` order) and any
    * `provenance` columns after them, via the versioned-table protocol;
    * returns the committed frontier as read back. */
  private def commitSweep(family: SweepFamily, sweep: DataFrame, outTable: String,
                          stamps: Seq[Any],
                          provenance: Seq[(String, Any)] = Nil): DataFrame = {
    require(stamps.size == family.stamps.size,
      s"${family.command} stamps ${family.stamps.mkString(", ")}")
    writeTable((family.stamps.zip(stamps) ++ provenance).foldLeft(sweep) {
      case (df, (c, v)) => df.withColumn(c, lit(v))
    }, outTable)
    readTable(sweep.sparkSession, outTable)
  }

  /** Retrain the binary-IVF coarse quantizer on the CURRENT corpus and
    * re-encode the whole index under it. The index itself carries the
    * vectors (id, cell, words, vec), so the corpus needs no separate
    * table; it is read in any layout ([[readAnyTable]]). Writes two NEW
    * artifacts (blue/green — readers keep the old index until the
    * deployment switches paths):
    *  - `centroidsOut`: fresh hash-rank coarse centroids over the corpus
    *  - `indexOut`: the full re-encode, committed directly in the
    *    cell-partitioned probe layout
    * Both commit via the versioned-marker protocol, so a reader running
    * concurrently with the retrain never sees a half-written directory.
    * A retrain also invalidates every sweep measured against the OLD
    * quantizer (sweeps carry its identity, [[sweepBinaryIvf]]): run
    * `sweep-binary-ivf` against the new artifacts before switching. */
  def retrainBinaryIvf(spark: SparkSession, indexTable: String,
                       centroidsOut: String, indexOut: String,
                       nCells: Int, dims: Int, idCol: String = "vec_id",
                       vecCol: String = "embedding"): Unit = {
    require(nCells >= 1, s"nCells must be >= 1, got $nCells")
    val index = readAnyTable(spark, indexTable)
    requireColumns(index, s"index at $indexTable lacks", idCol, vecCol)
    val corpus = index.select(col(idCol), col(vecCol))
    if (corpus.isEmpty)
      sys.error(s"index at $indexTable is empty — nothing to retrain on")
    writeTable(graft.operators.Similarity.coarseCentroids(
      corpus, idCol, vecCol, nCells), centroidsOut)
    writeTable(
      graft.operators.Similarity.binaryIvfIndexBuild(corpus, idCol, vecCol,
        dims, readTable(spark, centroidsOut)),
      indexOut, partitionBy = Seq("cell"))
  }

  /** The residual IVF-PQ retrain — an invalidation CASCADE: fresh coarse
    * centroids over the current corpus, a fresh residual codebook trained
    * against them (the old codebook encodes residuals vs the OLD
    * centroids, so retraining centroids alone invalidates the codebook
    * too — both must move together), and a full re-encode — all committed
    * blue/green via the versioned protocol, so readers keep the old
    * artifacts until the deployment switches paths. `vectorsTable`
    * supplies (idCol, vecCol): unlike the binary index the PQ codes table
    * deliberately does NOT carry vectors (8-byte codes ARE the point), so
    * the retrain reads the corpus table the embedding pipeline maintains,
    * in any layout ([[readAnyTable]]). */
  def retrainIvfPq(spark: SparkSession, vectorsTable: String,
                   centroidsOut: String, codebookOut: String,
                   codesOut: String, nCells: Int, m: Int, ksub: Int,
                   iters: Int, idCol: String = "vec_id",
                   vecCol: String = "embedding"): Unit = {
    require(nCells >= 1, s"nCells must be >= 1, got $nCells")
    val vecs = readAnyTable(spark, vectorsTable)
    requireColumns(vecs, s"vectors at $vectorsTable lack", idCol, vecCol)
    val corpus = vecs.select(col(idCol), col(vecCol))
    if (corpus.isEmpty)
      sys.error(s"vectors at $vectorsTable are empty — nothing to retrain on")
    // ivfPqResidualBuild derives its coarse seeds from the corpus by the
    // same deterministic hash-rank rule as coarseCentroids, so the
    // persisted centroid table below IS the quantizer the codebook and
    // codes were trained under — bit-for-bit
    writeTable(graft.operators.Similarity.coarseCentroids(
      corpus, idCol, vecCol, nCells), centroidsOut)
    val (cb, codes) = graft.operators.Similarity.ivfPqResidualBuild(
      corpus, idCol, vecCol, nCells, m, ksub, iters)
    // stamp the codebook with the quantizer it was trained UNDER: the
    // residual codebook is meaningless against any other centroids, and
    // sweep-ivfpq refuses a mismatched pair
    writeTable(cb.withColumn("quantizer_id",
      lit(graft.operators.Similarity.quantizerIdentity(
        readTable(spark, centroidsOut)))), codebookOut)
    writeTable(codes, codesOut)
  }

  /** Build and COMMIT the binary-IVF 2D sweep artifact
    * `SweepFamily.binaryIvf` picks from — the sweep-binary sibling for the
    * cell-pruned family, and the re-sweep step after a retrain: sample
    * nQueries query vectors by deterministic hash rank, build exact
    * cosine truth for them over the index, sweep the (nProbe, shortlist)
    * grid against that truth, and commit the frontier stamped with the
    * IDENTITY of the quantizer it was measured against
    * (Similarity.quantizerIdentity over `centroidsPath`): recall was
    * measured under THESE cells, and the stamp tells a reader which. */
  def sweepBinaryIvf(spark: SparkSession, indexTable: String,
                     centroidsPath: String, outTable: String,
                     nQueries: Int = 5, k: Int = 10,
                     nProbes: Seq[Int] = Seq(1, 2, 4, 8),
                     shortlists: Seq[Int] = Seq(25, 50, 100, 200),
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val (index, cent, dims, queries) = binaryIvfSweepInput(spark, indexTable,
      centroidsPath, SweepFamily.binaryIvf.command, nQueries, idCol, vecCol)
    val exact = graft.operators.Similarity.bruteForceTopK(
        index.select(col(idCol), col(vecCol)), queries, idCol, vecCol, k)
      .select(col("qid"), col("cid"))
    commitSweep(SweepFamily.binaryIvf, graft.operators.Similarity.binaryIvfSweep(
        index.select(col(idCol), col("cell"), col("words")),
        index.select(col(idCol), col(vecCol)),
        queries, idCol, vecCol, dims, cent, nProbes, shortlists, k, exact),
      outTable, Seq(graft.operators.Similarity.quantizerIdentity(cent)))
  }

  /** Build and COMMIT the FUSED-recall sweep `SweepFamily.fusedRrf`
    * picks from — the measured r13 rule ("fusion consumers must sweep
    * against a deeper floor than their arm needs standalone") turned
    * into an artifact + picker instead of prose. For each (nProbe,
    * shortlist) grid point, the committed frontier carries the recall of
    * RRF(BM25 lex, probe-arm) against RRF(BM25 lex, exact-dense) at the
    * same fusion knobs, measured over a hash-rank query sample of the
    * index. Stamped with the quantizer identity (a retrain moves every
    * stored cell, invalidating the measurement) plus the fusion knobs
    * (arm_k / k_rrf / top_k): the fused shape that was measured. */
  def sweepFusedRrf(spark: SparkSession, indexTable: String,
                    centroidsPath: String, docsTable: String,
                    outTable: String, terms: Seq[String],
                    nQueries: Int = 3, armK: Int = 20, kRrf: Int = 60,
                    topK: Int = 10,
                    nProbes: Seq[Int] = Seq(1, 2, 4, 8),
                    shortlists: Seq[Int] = Seq(25, 50, 100, 200),
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    require(terms.nonEmpty, "the lexical arm needs at least one term")
    val (index, cent, dims, queries) = binaryIvfSweepInput(spark, indexTable,
      centroidsPath, SweepFamily.fusedRrf.command, nQueries, idCol, vecCol)
    val exactArm = graft.operators.Similarity.bruteForceTopK(
        index.select(col(idCol), col(vecCol)), queries, idCol, vecCol, armK)
      .select(col("qid"), col("cid"), col("rank"))
    val docs = readAnyTable(spark, docsTable)
    // the shared lexical arm: BM25 top-armK over the docs table (the
    // hybrid query's exact shape)
    val lex = graft.operators.TextAnalysis.bm25Ranks(docs, "doc_id", "text",
      terms, topK = armK)
    val sweep = graft.operators.Similarity.fusedRrfSweep(
      index.select(col(idCol), col("cell"), col("words")),
      index.select(col(idCol), col(vecCol)),
      queries, idCol, vecCol, dims, cent, lex, exactArm,
      nProbes, shortlists, armK, kRrf, topK)
    // lexical-arm provenance: the frontier was measured under ONE fixed
    // lex arm while production requests vary theirs — record the arm's
    // identity (order-independent fold over its ranked rows) and terms
    // so a reader can tell WHICH arm calibrated the committed pick.
    // Measured sensitivity (SimilaritySpec "lexical-arm sensitivity"):
    // across three disjoint term sets the per-grid-point fused recall
    // moved at most 0.07 — the dense knobs the sweep calibrates barely
    // feel the lexical fixture (RRF's rank-only fusion bounds any one
    // arm's pull), so the committed pick transfers to production's
    // varying arms; the stamp exists for provenance and drift forensics,
    // not as a refusal key.
    val lexId = lex.agg(coalesce(expr(
        "bit_xor(xxhash64(concat(cast(doc_id as string), ':', " +
          "cast(rank as string))))"), lit(0L)))
      .collect().head.getLong(0)
    commitSweep(SweepFamily.fusedRrf, sweep, outTable,
      Seq(graft.operators.Similarity.quantizerIdentity(cent)),
      Seq("arm_k" -> armK, "k_rrf" -> kRrf, "top_k" -> topK,
        "lex_id" -> lexId, "lex_terms" -> terms.mkString(",")))
  }

  /** Read a table in whatever layout it was maintained in: the epoch log
    * the curation sink accretes, a versioned flat table (writeTable
    * output), or a raw parquet dir — the acceptance contract of every
    * artifact-consuming CLI arm. */
  def readAnyTable(spark: SparkSession, table: String): DataFrame =
    scala.util.Try(readEpochTable(spark, table))
      .orElse(scala.util.Try(readTable(spark, table)))
      .getOrElse(spark.read.parquet(table))

  /** Exploration-ring formula the CLI builds graphs under
    * (Similarity.RingVersions); the catalog queries replay v1. */
  private final val KnnGraphRingVersion = 2

  /** Build and COMMIT the approximate k-NN graph
    * (Similarity.nnDescentGraph) over a corpus table — the batch
    * maintenance job a SemDeDup-style pipeline or graph-retrieval
    * deployment schedules, and the one way to refresh the graph of a
    * grown or re-embedded corpus. Versioned commit, blue/green like every
    * maintained artifact. */
  def knnGraph(spark: SparkSession, vecsTable: String, outTable: String,
               k: Int, rounds: Int, idCol: String = "vec_id",
               vecCol: String = "embedding", nBits: Option[Int] = None): Unit = {
    val vecs = readAnyTable(spark, vecsTable)
    requireColumns(vecs, s"vectors at $vecsTable lack", idCol, vecCol)
    val corpus = vecs.select(col(idCol), col(vecCol))
    // ring-bucket knob: derived from the corpus size unless pinned — a
    // FIXED bucket count at a growing corpus turns the per-bucket ring
    // windows into near-global sorts (Similarity.nnDescentNBits)
    val bits = nBits.getOrElse(
      graft.operators.Similarity.nnDescentNBits(corpus.count()))
    // stamp: the corpus identity the graph was built OVER — consumers
    // (hard-negative mining, curation) refuse a re-embedded corpus via
    // requireStamp instead of silently mining degraded neighbors
    val cid = graft.operators.Similarity.corpusIdentity(corpus, idCol, vecCol)
    writeTable(graft.operators.Similarity.nnDescentGraph(
        corpus, idCol, vecCol, k, rounds, bits, KnnGraphRingVersion)
      .withColumn("corpus_id", lit(cid)), outTable)
    println(s"k-NN graph (k=$k, $rounds NN-descent rounds, nBits=$bits, " +
      s"ring v$KnnGraphRingVersion) committed at $outTable, stamped corpus_id=$cid")
  }

  /** Sampled exact-recall probe of a committed k-NN graph (the knn-graph
    * output) against the vectors it was built over
    * (Similarity.graphRecall): one row of k, n_queries, n_hit, n_denom
    * and recall_micro = n_hit / n_denom. k is the graph's own
    * neighborhood size (its max rank). Refuses a graph stamped for a
    * different corpus identity than the vectors, as hard-negatives does:
    * a stale graph needs a rebuild, not a recall figure. */
  def probeGraphRecall(spark: SparkSession, graphTable: String,
                       vecsTable: String, nQueries: Int = 16): DataFrame = {
    val (idCol, vecCol) = ("vec_id", "embedding")
    val graph = readAnyTable(spark, graphTable)
    val vecs = readAnyTable(spark, vecsTable)
    requireColumns(vecs, s"vectors at $vecsTable lack", idCol, vecCol)
    requireColumns(graph, s"graph at $graphTable lacks", idCol, "nid", "rank")
    requireStamp(graph, "corpus_id",
      graft.operators.Similarity.corpusIdentity(vecs, idCol, vecCol),
      s"graph at $graphTable was built over corpus",
      s"the vectors at $vecsTable",
      "the embeddings moved since the graph was built — rebuild " +
        "(knn-graph) before probing")
    val k = graph.agg(max(col("rank")).cast("int")).collect().head match {
      case r if r.isNullAt(0) => sys.error(s"graph at $graphTable has no edges")
      case r => r.getInt(0)
    }
    graft.operators.Similarity.graphRecall(graph,
        vecs.select(col(idCol), col(vecCol)), idCol, vecCol, nQueries, k)
      .agg(count(lit(1)).as("n_queries"), sum(col("n_hit")).as("n_hit"),
        sum(col("n_denom")).as("n_denom"))
      .select(lit(k).as("k"), col("n_queries"), col("n_hit"), col("n_denom"),
        (col("n_hit").cast("double") / col("n_denom")).as("recall_micro"))
  }

  /** The committed graph's first consumer — graph-powered contrastive
    * hard-negative mining (Similarity.hardNegativesFromGraph): per node,
    * the cosine-nearest different-label graph neighbors, a key join +
    * bounded re-rank over already-scored edges instead of a corpus scan
    * per query. Refuses a graph stamped for a DIFFERENT corpus identity
    * than the live vectors table (the re-embedded-corpus staleness the
    * stamp exists for) before reading one edge. */
  def mineHardNegatives(spark: SparkSession, graphTable: String,
                        vecsTable: String, outTable: String, k: Int,
                        idCol: String = "vec_id", vecCol: String = "embedding",
                        labelCol: String = "label"): Unit = {
    val graph = readAnyTable(spark, graphTable)
    val vecs = readAnyTable(spark, vecsTable)
    requireColumns(vecs, s"vectors at $vecsTable lack", idCol, vecCol, labelCol)
    requireStamp(graph, "corpus_id",
      graft.operators.Similarity.corpusIdentity(vecs, idCol, vecCol),
      s"graph at $graphTable was built over corpus",
      s"the vectors at $vecsTable",
      "the embeddings moved since the graph was built — rebuild " +
        "(knn-graph) before mining")
    writeTable(graft.operators.Similarity.hardNegativesFromGraph(
      graph, vecs, idCol, labelCol, k), outTable)
    println(s"graph-mined hard negatives (top-$k per node) committed at $outTable")
  }

  /** THE identity-stamp guard, shared by every binding check
    * (graph↔corpus, codebook↔quantizer): when `df` carries the stamp
    * column, its distinct value must equal the live identity or the
    * command refuses, naming both sides and the remedial. Unstamped
    * artifacts pass unchecked — stamps are additive. */
  def requireStamp(df: DataFrame, column: String, live: Long,
                   stampedDesc: String, liveDesc: String,
                   hint: String): Unit =
    if (df.columns.contains(column)) {
      val stamped = df.select(col(column).cast("long"))
        .distinct().collect().map(_.getLong(0)).toSeq
      require(stamped == Seq(live),
        s"$stampedDesc identity ${stamped.mkString(",")} but $liveDesc has " +
          s"identity $live — $hint")
    }

  /** Build and COMMIT the residual IVF-PQ probe-depth sweep
    * `SweepFamily.ivf` picks from — the last ANN family's
    * sweep→floor→choice loop. The codes table carries no raw vectors
    * (that is the point of PQ), so `vectorsTable` supplies (idCol,
    * vecCol) for the hash-rank query sample and the exact-L2 truth —
    * the corpus table the embedding pipeline maintains, exactly as
    * retrain-ivfpq reads it. The committed frontier is STAMPED with BOTH
    * identities it was measured under — the coarse quantizer's and the
    * codebook's — because residual-ADC recall depends on the pair. The
    * codebook must itself pair with the centroids (refused otherwise).
    * m infers from the stored code width. */
  def sweepIvfPq(spark: SparkSession, codesTable: String,
                 centroidsPath: String, codebookPath: String,
                 vectorsTable: String, outTable: String,
                 nQueries: Int = 5, k: Int = 10,
                 nProbes: Seq[Int] = Seq(1, 2, 4, 8),
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    val codes = readAnyTable(spark, codesTable)
    val m = sweepInputWidth(codes, s"codes at $codesTable", SweepFamily.ivf.command,
      "an ivfPqResidualEncode layout (cid, cell, codes)",
      Seq("cid", "cell", "codes"), "codes")
    val cent = readTable(spark, centroidsPath)
    val cb = readTable(spark, codebookPath)
    requireStamp(cb, "quantizer_id",
      graft.operators.Similarity.quantizerIdentity(cent),
      s"codebook at $codebookPath was trained against quantizer",
      s"the centroids at $centroidsPath",
      "a sweep against a mismatched pair would measure recall of an index " +
        "that cannot exist")
    val vecs = readAnyTable(spark, vectorsTable).select(col(idCol), col(vecCol))
    val queries = hashRankQueries(vecs, idCol, vecCol, nQueries)
    val exact = graft.operators.Similarity.bruteForceL2TopK(
        vecs, queries, idCol, vecCol, k)
      .select(col("qid"), col("cid"))
    commitSweep(SweepFamily.ivf, graft.operators.Similarity.ivfPqResidualSweep(
        codes.select(col("cid"), col("cell"), col("codes")),
        cb.drop("quantizer_id"), cent, queries, idCol, vecCol, m, nProbes, k,
        exact),
      outTable, Seq(graft.operators.Similarity.quantizerIdentity(cent),
        graft.operators.Similarity.codebookIdentity(cb)))
  }

  /** Build and COMMIT the binary shortlist-sweep artifact
    * `SweepFamily.binary` picks from — the sweep-lsh sibling for the
    * binary ANN path: sample nQueries query vectors by deterministic hash
    * rank (the coarseSeeds idiom — no RNG, re-sweeps are reproducible),
    * build exact cosine truth for them over the index, sweep the
    * shortlist depths against that truth, and commit the frontier at
    * `outTable` via the versioned-table protocol. Reads the index in any
    * layout ([[readAnyTable]]) and under any id/vector column names; dims
    * infer from the stored vectors. */
  def sweepBinary(spark: SparkSession, indexTable: String, outTable: String,
                  nQueries: Int = 5, k: Int = 10,
                  shortlists: Seq[Int] = Seq(25, 50, 100, 200),
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val index = readAnyTable(spark, indexTable)
    val dims = sweepInputWidth(index, s"index at $indexTable",
      SweepFamily.binary.command, "a binaryIndexBuild layout (id, words, vec)",
      Seq(idCol, vecCol), vecCol)
    val queries = hashRankQueries(index, idCol, vecCol, nQueries)
    val exact = graft.operators.Similarity.bruteForceTopK(
        index, queries, idCol, vecCol, k)
      .select(col("qid"), col("cid"))
    commitSweep(SweepFamily.binary, graft.operators.Similarity.binaryShortlistSweep(
      index, index, queries, idCol, vecCol, dims, shortlists, k, exact), outTable, Nil)
  }

  private def issuesPath(wh: String)  = s"$wh/issue"
  private def creatorsPath(wh: String) = s"$wh/creator"
  private def bridgePath(wh: String)  = s"$wh/issue_creator"

  /** Create empty tables with the canonical schemas. */
  def init(spark: SparkSession, wh: String): Unit = {
    import spark.implicits._
    writeTable(Seq.empty[(Long, String, String, java.sql.Date, Long, Boolean)]
      .toDF("marvel_comic_id", "title", "issue_number", "onsale_date",
        "price_cents", "is_variant"), issuesPath(wh))
    writeTable(Seq.empty[String].toDF("creator_name"), creatorsPath(wh))
    writeTable(Seq.empty[(Long, String, String)]
      .toDF("marvel_comic_id", "creator_name", "role"), bridgePath(wh))
  }

  /** Extract -> transform -> idempotent load -> audit. Malformed JSON
    * lines divert to a quarantine table (F7) instead of failing the batch
    * or loading garbage. */
  def ingest(spark: SparkSession, wh: String, rawJsonPath: String): Audit.EtlRun =
    Audit.audited(spark, "marvel", s"$wh/etl_run") { (readObs, loadObs) =>
      // cache: Spark disallows queries touching only _corrupt_record on a
      // raw JSON scan; a materialized batch lifts the restriction (and a
      // landed batch is read 3x below anyway)
      val landed = spark.read.json(rawJsonPath).cache()
      val raw0 =
        if (landed.columns.contains("_corrupt_record")) {
          landed.filter(col("_corrupt_record").isNotNull)
            .select(col("_corrupt_record").as("raw_line"))
            .write.mode(SaveMode.Append).parquet(s"$wh/quarantine")
          landed.filter(col("_corrupt_record").isNull).drop("_corrupt_record")
        } else landed
      val raw = Audit.observed(raw0, readObs)

      // transform (P1/X1-X7): whitelist + normalize
      val incomingIssues = MarvelTransform.flattenComics(raw)
        .select("marvel_comic_id", "title", "issue_number", "onsale_date",
          "price_cents", "is_variant")

      // load: insert-if-absent + update-mutable (J4/D3/D4), first-wins
      val target = readTable(spark, issuesPath(wh))
      val merged = Relational.upsert(target, incomingIssues,
        keys = Seq("marvel_comic_id"),
        mutableCols = Seq("title", "onsale_date", "price_cents", "is_variant"),
        incomingOrder = Seq(col("marvel_comic_id")))
      val loaded = Audit.observed(merged, loadObs)
      writeTable(loaded, issuesPath(wh))

      // creators dimension + M:N bridge (J5), insert-if-absent
      val credits = MarvelTransform.explodeCreators(raw)
      val existingCreators = readTable(spark, creatorsPath(wh))
      val newCreators = credits.select(col("creator_name")).distinct()
        .join(existingCreators, Seq("creator_name"), "left_anti")
      writeTable(existingCreators.unionByName(newCreators), creatorsPath(wh))

      val existingBridge = readTable(spark, bridgePath(wh))
      val newLinks = credits.select("marvel_comic_id", "creator_name", "role").distinct()
        .join(existingBridge, Seq("marvel_comic_id", "creator_name", "role"), "left_anti")
      writeTable(existingBridge.unionByName(newLinks), bridgePath(wh))
    }

  /** Learn a BPE merge table from a corpus and commit it as the versioned
    * `wh`/bpe_merges table — the tokenizer-training half of the export
    * story. `export ... bpe` then measures sequence budgets in REAL
    * tokens under this table. */
  def learnBpe(spark: SparkSession, wh: String, docsPath: String,
               nMerges: Int): Unit =
    writeTable(
      graft.operators.Tokenize.learnBpeMerges(
        spark.read.parquet(docsPath), "text", nMerges),
      s"$wh/bpe_merges")

  /** Parse "web:2.5,books:1.5" into an epochs map (source → repetition
    * factor for Export.mixtureRepeat). */
  private[graft] def parseEpochs(s: String): Map[String, Double] =
    s.split(",").iterator.filter(_.nonEmpty).map { kv =>
      kv.split(":") match {
        case Array(g, e) => g -> e.toDouble
        case _ => sys.error(s"bad epochs entry '$kv' (expected source:factor)")
      }
    }.toMap

  /** Training-data EXPORT: the full corpus pipeline composed end-to-end on
    * the versioned warehouse —
    *
    *   CorpusPipeline.clean (quality gates → exact dedup → LSH near-dup →
    *   decontaminate) → Export.mixtureSample (uniform target share per
    *   source) → Export.packAssignments → Store.writeShards into
    *   `wh`/export under the same atomic commit protocol as the ETL
    *   tables, with read/loaded counters observed into the etl_run audit
    *   row.
    *
    * Everything downstream of the scan is deterministic (hash bands, no
    * RNG, md5 pseudo-shuffle row order inside each shard file), so a
    * re-run commits a byte-identical next version — asserted in
    * EtlCliSpec. Failure anywhere leaves the previous export version live.
    */
  def export(spark: SparkSession, wh: String, docsPath: String, evalPath: String,
             nShards: Int = 8, budget: Int = 2048,
             format: String = "parquet", bpeTokens: Boolean = false,
             epochs: Map[String, Double] = Map.empty): Audit.EtlRun =
    Audit.audited(spark, "export", s"$wh/etl_run") { (readObs, loadObs) =>
      // token measure for packing: whitespace by default; with bpeTokens
      // the learned merge table loads from the warehouse and becomes a
      // plan-time constant (vocab-sized — a config read, not a data
      // collect, same footing as the source census below)
      val tokens: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        if (bpeTokens) {
          val rules = readTable(spark, s"$wh/bpe_merges").orderBy("rank")
            .select("rule").collect().map(_.getString(0)).toSeq
          Export.bpeTokens(rules)
        } else Export.whitespaceTokens
      val docs = Audit.observed(spark.read.parquet(docsPath), readObs)
      val evalDocs = spark.read.parquet(evalPath)
      // pin: the cleaned slice feeds the source census, both mixture scans,
      // and the packing join — without it the LSH dedup tower would re-run
      // per consumer
      val cleaned = CorpusPipeline.clean(docs, evalDocs, "doc_id", "text",
          CorpusPipeline.Config(chunkLen = 0))
        .transform(graft.core.Materialize.pin)
      // uniform target share per surviving source: "balance the mixture".
      // The census is config-sized (distinct sources), not a data collect.
      val sources = cleaned.select("source").distinct()
        .collect().map(_.getString(0)).sorted
      val targets = sources.map(_ -> 1.0 / sources.length).toMap
      val mixed = Export.mixtureSample(cleaned, "doc_id", "source", targets)
        .filter(col("keep"))
        .select(cleaned.columns.map(col): _*)
      // epochs: the UPSAMPLING half of mixture building — repeat each
      // group per its factor (mixtureRepeat; deterministic md5-band
      // fractional copies). Every copy gets a unique export_id so the
      // packing order, shard layout, and shuffleOrder's md5 sort stay
      // TOTALLY ordered — duplicate keys would tie in the md5 sort and
      // leak reduce-side fetch order into the shard bytes, breaking the
      // byte-identical re-run contract.
      val (toPack, key) =
        if (epochs.isEmpty) (mixed, "doc_id")
        else (Export.mixtureRepeat(mixed, "doc_id", "source", epochs)
                .withColumn("export_id", concat_ws("#", col("doc_id"), col("copy")))
                .drop("epochs", "n_copies"),
              "export_id")
      val packed = Export.packAssignments(toPack, key, "text", nShards, budget, tokens)
      val out = toPack.join(packed.select(key, "n_tokens", "pack"), key)
      val loaded = Audit.observed(out, loadObs)
      val path = s"$wh/export"
      val f = fs(spark, path)
      val next = committedVersion(f, path).getOrElse(0L) + 1
      format match {
        case "parquet" | "orc" =>
          graft.core.Store.writeShards(loaded, s"$path/data_v$next", key,
            nShards, shuffleOrder = true, format = format)
        case "jsonl" =>
          graft.core.Store.writeJsonlShards(loaded, s"$path/data_v$next", key,
            nShards, shuffleOrder = true)
        case other => sys.error(s"export format must be parquet|orc|jsonl, got $other")
      }
      // delivery receipt: manifest computed from the STAGED shards (what
      // actually landed), written as `_manifest` INSIDE the version dir —
      // the leading underscore hides it from shard readers, and the one
      // commit marker below covers shards + receipt atomically. orderBy +
      // coalesce(1) make the manifest file itself byte-deterministic, so
      // the byte-identical re-export contract extends to the receipt. A
      // ZERO-ROW export stages no shard files (nothing to read back, no
      // schema to infer) — it commits with no manifest, and verifyExport
      // treats manifest-less empty versions as trivially verified.
      val stagedDir = s"$path/data_v$next"
      if (hasShardFiles(f, stagedDir)) {
        val staged = format match {
          case "jsonl" => spark.read.text(stagedDir)
          case fmt     => spark.read.format(fmt).load(stagedDir)
        }
        graft.core.Store.shardManifest(staged).orderBy("shard").coalesce(1)
          .write.parquet(s"$stagedDir/_manifest")
      }
      commit(spark, path, next)
    }

  /** Cheap FS check: does the dir hold any non-hidden shard data file?
    * (A zero-row export stages only _SUCCESS — no schema to read back.) */
  private def hasShardFiles(f: FileSystem, dir: String): Boolean = {
    val it = f.listFiles(new org.apache.hadoop.fs.Path(dir), true)
    var found = false
    while (it.hasNext && !found) {
      val n = it.next().getPath.getName
      found = !n.startsWith("_") && !n.startsWith(".") &&
        (n.endsWith(".parquet") || n.endsWith(".orc") || n.endsWith(".txt"))
    }
    found
  }

  /** Consumer-side receipt check: recompute Store.shardManifest over the
    * current export version's landed shards and compare to the committed
    * `_manifest`. Returns the diverging shard ids (empty = verified) —
    * the check a downstream trainer runs after transferring an export,
    * proving integrity without trusting file sizes or counts. Works for
    * columnar and jsonl exports alike (the manifest was computed from the
    * same read shape at commit time). */
  def verifyExport(spark: SparkSession, path: String): Seq[String] = {
    val f = fs(spark, path)
    val v = committedVersion(f, path).getOrElse(
      sys.error(s"no committed export at $path"))
    val dir = s"$path/data_v$v"
    val hasManifest = f.exists(new org.apache.hadoop.fs.Path(s"$dir/_manifest"))
    if (!hasManifest) {
      // a zero-row export commits with no manifest (nothing to receipt);
      // a version with SHARDS but no manifest is a broken commit
      if (hasShardFiles(f, dir))
        sys.error(s"export version $v at $path holds shards but no _manifest receipt")
      return Seq.empty
    }
    // sniffFormat deliberately errors on text shards (jsonl exports are
    // not columnar tables) — here that same signal routes to the text read
    val landed = scala.util.Try(sniffFormat(f, dir)) match {
      case scala.util.Success(fmt) => spark.read.format(fmt).load(dir)
      case scala.util.Failure(_) => spark.read.text(dir)
    }
    val exp = spark.read.parquet(s"$dir/_manifest")
      .select(col("shard").cast("string").as("shard"), col("n_rows"), col("checksum"))
    val got = graft.core.Store.shardManifest(landed)
      .select(col("shard").cast("string").as("shard"), col("n_rows"), col("checksum"))
    exp.join(got, Seq("shard"), "full_outer")
      .filter(exp("n_rows").isNull || got("n_rows").isNull ||
        exp("n_rows") =!= got("n_rows") || exp("checksum") =!= got("checksum"))
      .select("shard").collect().map(_.getString(0)).toSeq.sorted
  }

  // ---- versioned table layout -------------------------------------------
  //
  // A logical table at `path` is a directory of immutable versioned data
  // dirs plus commit markers:
  //
  //   path/data_v3/...parquet     path/_committed_v3
  //   path/data_v4/...parquet     path/_committed_v4   <- current
  //
  // Readers resolve max(committed version); writers stage data_v{N+1} fully,
  // then create the marker (one atomic file create = the commit point), then
  // prune superseded versions. A crash anywhere before the marker leaves the
  // old version untouched and readable — unlike the previous
  // stage-then-overwrite double-write, which destroyed the live table if
  // the process died between the two writes. This also solves
  // read-modify-write on the same logical table without a materialization
  // barrier (the new version is a DIFFERENT directory than the one the
  // plan reads), and halves the write volume (one data write, not two).

  // resolved once per public call: each resolve builds a Hadoop conf
  private def fs(spark: SparkSession, path: String): FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())

  private def committedVersion(f: FileSystem, path: String): Option[Long] = {
    val dir = new org.apache.hadoop.fs.Path(path)
    if (!f.exists(dir)) None
    else f.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("_committed_v") => n.drop("_committed_v".length).toLong }
      .maxOption
  }

  /** Resolve the current committed version of a versioned table. The data
    * format is self-describing: the reader sniffs the staged files'
    * extension (.orc vs .parquet), so a table can be written in either
    * format — or migrate between them across versions — with no catalog. */
  def readTable(spark: SparkSession, path: String): DataFrame = {
    val f = fs(spark, path)
    val v = committedVersion(f, path)
      .getOrElse(sys.error(s"no committed version at $path — run `init` first"))
    spark.read.format(sniffFormat(f, s"$path/data_v$v")).load(s"$path/data_v$v")
  }

  private def sniffFormat(f: FileSystem, dataDir: String): String = {
    val it = f.listFiles(new org.apache.hadoop.fs.Path(dataDir), true)
    var fmt = "parquet"
    var found = false
    // hidden = any path segment BELOW dataDir starting with _ or .
    // (the _manifest receipt, _SUCCESS, ...): Spark's readers ignore
    // those, so the sniff must too — a jsonl export's parquet receipt
    // must not masquerade as the table. Only segments below dataDir
    // count: a warehouse that happens to LIVE under /data/_staging/...
    // must not have every file skipped by its ancestors' names.
    // qualify base through the SAME filesystem as the listed paths so a
    // RELATIVE dataDir still strips — otherwise every ancestor segment
    // would be re-included in the hidden check (a cwd under /x/.cache/
    // would classify all files hidden and silently fall back to parquet)
    val base = f.makeQualified(new org.apache.hadoop.fs.Path(dataDir))
      .toUri.getPath.stripSuffix("/")
    def hiddenBelowBase(p: org.apache.hadoop.fs.Path): Boolean = {
      val rel = p.toUri.getPath.stripPrefix(base).stripPrefix("/")
      rel.split('/').exists(s => s.startsWith("_") || s.startsWith("."))
    }
    while (it.hasNext && !found) {
      val p = it.next().getPath
      val n = p.getName
      if (hiddenBelowBase(p)) ()
      else if (n.endsWith(".orc")) { fmt = "orc"; found = true }
      else if (n.endsWith(".parquet")) found = true
      else if (n.endsWith(".txt") || n.endsWith(".json")) sys.error(
        s"table at $dataDir holds text shards (jsonl export) — jsonl exports " +
          "are trainer interchange files, not readTable/compact-compatible " +
          "columnar tables; read them with spark.read.text/json directly")
    }
    fmt
  }

  /** Stage the next version's data dir WITHOUT committing it (the spec's
    * crash-simulation seam; writeTable = stage + commit + prune). */
  private[graft] def stage(df: DataFrame, path: String,
                           format: String = "parquet",
                           partitionBy: Seq[String] = Nil): Long = {
    val next = committedVersion(fs(df.sparkSession, path), path).getOrElse(0L) + 1
    df.write.mode(SaveMode.Overwrite).format(format)
      .partitionBy(partitionBy: _*).save(s"$path/data_v$next")
    next
  }

  /** All committed versions at `path`, ascending. */
  def versions(spark: SparkSession, path: String): Seq[Long] = versions(fs(spark, path), path)

  private def versions(f: FileSystem, path: String): Seq[Long] = {
    val dir = new org.apache.hadoop.fs.Path(path)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("_committed_v") => n.drop("_committed_v".length).toLong }
      .sorted
  }

  /** Time-travel read: a SPECIFIC committed version (readTable resolves the
    * newest). Versions exist while retention keeps them — writeTable's
    * `retain` bounds how far back a reader can travel, and vacuum prunes
    * explicitly. Storage cost is retain × table size (versions share no
    * files), which is why retain defaults to 1: history is an opt-in cost
    * the operator sizes, exactly like lakehouse VACUUM retention. */
  def readTableAt(spark: SparkSession, path: String, version: Long): DataFrame = {
    val f = fs(spark, path)
    if (!f.exists(new org.apache.hadoop.fs.Path(s"$path/_committed_v$version")))
      sys.error(s"version $version at $path is not committed (vacuumed or never " +
        s"written; committed: ${versions(f, path).mkString(",")})")
    val dir = s"$path/data_v$version"
    spark.read.format(sniffFormat(f, dir)).load(dir)
  }

  /** Version diff — the "what changed since the last export" audit over a
    * versioned table's retained history: rows keyed by `keyCol`, change
    * classified by comparing an md5 fingerprint of ALL other columns
    * (md5 of the to_json'd struct, fields sorted by name — field names in
    * the JSON make the encoding unambiguous across column boundaries and
    * null-safe, and schema-order-independent). Output (key, change) with
    * change in added | removed | changed; unchanged rows are dropped —
    * the diff is sized by the churn, not the table. Scale shape: each
    * side reduces to (key, 32-hex fingerprint) IN the scan projection, so
    * the one full-outer join shuffles 40-byte rows — never payloads — and
    * at 100 TB the diff costs two scans plus a churn-sized join. */
  def diffVersions(spark: SparkSession, path: String, keyCol: String,
                   vOld: Long, vNew: Long): DataFrame = {
    def fp(df: DataFrame, as: String) = {
      val others = df.columns.filterNot(_ == keyCol).sorted
      require(others.nonEmpty, s"table at $path has no non-key columns to diff")
      df.select(col(keyCol),
        md5(to_json(struct(others.map(col): _*))).as(as))
    }
    fp(readTableAt(spark, path, vOld), "__fp_old")
      .join(fp(readTableAt(spark, path, vNew), "__fp_new"), Seq(keyCol), "full_outer")
      .select(col(keyCol),
        when(col("__fp_old").isNull, lit("added"))
          .when(col("__fp_new").isNull, lit("removed"))
          .when(col("__fp_old") =!= col("__fp_new"), lit("changed"))
          .otherwise(lit("unchanged")).as("change"))
      .filter(col("change") =!= "unchanged")
  }

  /** Drop all but the newest `retain` committed versions, plus any
    * abandoned (never-committed) stage dirs. Single-maintenance-window
    * assumption as compact: don't vacuum while a writer is staging. */
  def vacuum(spark: SparkSession, path: String, retain: Int = 1): Unit = {
    require(retain >= 1, s"retain must be >= 1, got $retain")
    val f = fs(spark, path)
    val keep = versions(f, path).takeRight(retain).toSet
    if (keep.isEmpty) sys.error(s"no committed version at $path — nothing to vacuum")
    prune(f, path, keep)
  }

  private def prune(f: FileSystem, path: String, keep: Set[Long]): Unit =
    f.listStatus(new org.apache.hadoop.fs.Path(path)).foreach { st =>
      val n = st.getPath.getName
      val stale =
        (n.startsWith("_committed_v") && !keep(n.drop("_committed_v".length).toLong)) ||
        (n.startsWith("data_v") && !keep(n.drop("data_v".length).toLong))
      if (stale) f.delete(st.getPath, true)
    }

  private[graft] def commit(spark: SparkSession, path: String, version: Long,
                            retain: Int = 1): Unit = {
    require(retain >= 1, s"retain must be >= 1, got $retain")
    val f = fs(spark, path)
    f.create(new org.apache.hadoop.fs.Path(s"$path/_committed_v$version"), true).close()
    // keep the newest `retain` committed versions (the one just committed
    // included); prune the rest + abandoned stage dirs
    prune(f, path, versions(f, path).takeRight(retain).toSet + version)
  }

  /** Atomically replace the table at `path` with `df` (stage + commit +
    * prune). Public: the streaming sink and any bespoke loader use the
    * same commit protocol as the ETL. `format` is parquet or orc —
    * readers sniff it back, so the choice is per-version, not per-table.
    * `retain` keeps that many committed versions readable via readTableAt
    * (time travel); the default keeps only the new current. `partitionBy`
    * lays the staged data out hive-partitioned (e.g. the binary-IVF probe
    * layout partitioned by cell) — readTable discovers the partitions. */
  def writeTable(df: DataFrame, path: String, format: String = "parquet",
                 retain: Int = 1, partitionBy: Seq[String] = Nil): Unit = {
    require(graft.core.Store.Formats(format), s"unsupported table format $format")
    commit(df.sparkSession, path, stage(df, path, format, partitionBy), retain)
  }

  // ---- epoch-partitioned versioned tables --------------------------------
  //
  // A table whose data accretes in INGEST EPOCHS (one per streaming
  // micro-batch / daily increment) is laid out as independent versioned
  // tables, one per epoch directory:
  //
  //   path/epoch=0/data_v1/...  path/epoch=0/_committed_v1
  //   path/epoch=7/data_v1/...  path/epoch=7/_committed_v1
  //
  // Appending epoch N stages + commits ONLY path/epoch=N — commit compute
  // and I/O are O(|batch|), prior epochs' files are never rewritten or even
  // listed by the writer. Each epoch dir carries the SAME atomic marker
  // protocol as a flat table (writeTable), so a replayed epoch rewrites its
  // own directory idempotently (new version, identical deterministic
  // content) and a crash mid-append leaves every other epoch readable.
  // This is the 100 TB ingest posture: the flat-table alternative
  // (union + rewrite per batch) is O(|corpus|) per increment.

  /** Append `df` as ingest epoch `epoch` of the table at `path` — an
    * atomic commit scoped to that one epoch's directory. Re-appending an
    * existing epoch replaces it (idempotent replay). */
  def appendEpoch(df: DataFrame, path: String, epoch: Long,
                  format: String = "parquet"): Unit =
    writeTable(df, s"$path/epoch=$epoch", format)

  /** Epoch ceiling covered by the newest epoch-compaction fencepost, if
    * any (`_epochs_compacted_E` top-level marker — see compactEpochs). */
  private def epochsCompactedThrough(f: FileSystem, path: String): Option[Long] = {
    val dir = new org.apache.hadoop.fs.Path(path)
    if (!f.exists(dir)) None
    else f.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("_epochs_compacted_") =>
        n.drop("_epochs_compacted_".length).toLong }
      .maxOption
  }

  /** Epochs of `path` that have a committed version AND are not superseded
    * by an epoch compaction, ascending. Driver-side metadata listing only
    * (one dir list + one marker probe per epoch). */
  def committedEpochs(spark: SparkSession, path: String): Seq[Long] =
    committedEpochs(fs(spark, path), path).map(_._1)

  /** (epoch, its committed version), ascending by epoch. */
  private def committedEpochs(f: FileSystem, path: String): Seq[(Long, Long)] = {
    val dir = new org.apache.hadoop.fs.Path(path)
    val floor = epochsCompactedThrough(f, path).getOrElse(Long.MinValue)
    if (!f.exists(dir)) Nil
    else f.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("epoch=") => n.drop("epoch=".length).toLong }
      .filter(_ > floor)
      .flatMap(e => committedVersion(f, s"$path/epoch=$e").map(e -> _))
      .sortBy(_._1)
  }

  /** (epoch, committed data dir) of each visible part of the epoch table:
    * the newest fold (tagged with its fencepost), then later epochs. */
  private def epochDataDirs(f: FileSystem, path: String): Seq[(Long, String)] =
    epochsCompactedThrough(f, path).map { e =>
      val p = s"$path/compact=$e"
      (e, s"$p/data_v${committedVersion(f, p).get}")
    }.toSeq ++ committedEpochs(f, path).map { case (e, v) => (e, s"$path/epoch=$e/data_v$v") }

  /** Has ingest epoch `epoch` of the table at `path` already committed —
    * either directly (its own version marker) or by being folded behind a
    * compaction fencepost? This is the curation sink's replay guard for
    * batches whose COMMITTED output is a strict subset of their input
    * (curation drops docs): a redelivered batch must detect "my fencepost
    * epoch exists" and no-op, because recomputing from `input minus
    * committed-output` would see only the previously-dropped rows and
    * overwrite the epoch with garbage. */
  def epochCommitted(spark: SparkSession, path: String, epoch: Long): Boolean = {
    val f = fs(spark, path)
    epochsCompactedThrough(f, path).exists(_ >= epoch) ||
      committedVersion(f, s"$path/epoch=$epoch").isDefined
  }

  /** Read the union of every committed epoch of the table at `path` (the
    * epoch-partitioned analog of readTable): the newest compaction's
    * folded data, plus every epoch appended after it. Errors when no epoch
    * has ever committed. A caller that knows the table's `schema` (a sink
    * reading back what it writes) passes it: the read then skips Spark's
    * footer schema inference, which is a job of its own. */
  def readEpochTable(spark: SparkSession, path: String,
                     schema: Option[StructType] = None): DataFrame = {
    val f = fs(spark, path)
    val dirs = epochDataDirs(f, path).map(_._2)
    if (dirs.isEmpty) sys.error(s"no committed epochs at $path — nothing ingested yet")
    val reader = spark.read.format(sniffFormat(f, dirs.head))
    schema.fold(reader)(reader.schema).load(dirs: _*)
  }

  /** Fold every visible epoch (plus any prior compaction) of the table at
    * `path` into one size-targeted `compact=E` dir — the maintenance
    * counterpart of the curation sink's O(batch) epoch appends. A year of
    * 5-minute micro-batches is ~100k epoch dirs whose per-read listing and
    * tiny files eventually dominate scan cost; compaction folds them back
    * to ~table-size/targetFileBytes files without ever blocking the
    * writer.
    *
    * Protocol: the folded union stages + commits under `compact=E` (E =
    * newest folded epoch) via the same versioned-marker protocol as any
    * table, INVISIBLE to readers; the top-level `_epochs_compacted_E`
    * fencepost — one atomic file create, same primitive as the version
    * markers — then flips reads to (compact=E) ∪ (epochs > E). A crash
    * anywhere before the fencepost leaves the old view fully intact; a
    * crash after it loses nothing (superseded dirs are garbage, not
    * truth). Safe against a concurrently-running sink: the stream only
    * appends NEW epochs (> E by construction), which stay visible through
    * the filter; a checkpoint-replayed epoch ≤ E re-appends byte-identical
    * content whose rows compact=E already holds. Superseded dirs are
    * reclaimed lazily by vacuumEpochs, never inline, so concurrent readers
    * mid-plan keep their files. */
  def compactEpochs(spark: SparkSession, path: String,
                    format: String = "parquet",
                    targetFileBytes: Long = 128L * 1024 * 1024): Unit = {
    val f = fs(spark, path)
    val parts = epochDataDirs(f, path)
    val live = parts.filter { case (_, d) => d.startsWith(s"$path/epoch=") }
    if (live.isEmpty) return // nothing appended since the last fold
    val upTo = live.last._1
    // ONE consistent snapshot: resolve every source data dir from the same
    // listing that defined upTo, and build the union from those
    // paths directly. (Calling readEpochTable here would re-list the
    // directory — a sink committing epoch upTo+1 between the two listings
    // would fold its rows into compact=upTo while epoch=upTo+1 stays
    // visible past the fencepost, double-counting them in every read.)
    val dataDirs = parts.map(_._2)
    val union = spark.read.format(sniffFormat(f, dataDirs.head)).load(dataDirs: _*)
    val bytes = dataDirs.map { p =>
      f.getContentSummary(new org.apache.hadoop.fs.Path(p)).getLength
    }.sum
    val nFiles = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    writeTable(union.coalesce(nFiles), s"$path/compact=$upTo", format)
    f.create(new org.apache.hadoop.fs.Path(s"$path/_epochs_compacted_$upTo"), true).close()
  }

  /** Reclaim epoch/compact dirs superseded by the newest compaction
    * fencepost (the epoch-table vacuum; run it when no reader still holds
    * a pre-compaction plan). */
  def vacuumEpochs(spark: SparkSession, path: String): Unit = {
    val f = fs(spark, path)
    epochsCompactedThrough(f, path).foreach { e =>
      f.listStatus(new org.apache.hadoop.fs.Path(path)).toSeq.foreach { st =>
        val n = st.getPath.getName
        val stale =
          (n.startsWith("epoch=") && n.drop("epoch=".length).toLong <= e) ||
          (n.startsWith("compact=") && n.drop("compact=".length).toLong < e) ||
          (n.startsWith("_epochs_compacted_") &&
            n.drop("_epochs_compacted_".length).toLong < e)
        if (stale) f.delete(st.getPath, true)
      }
    }
  }

  /** Small-files compaction (the OPTIMIZE of this warehouse): rewrite the
    * current version into ceil(bytes / targetFileBytes) files via the same
    * atomic stage+commit, so readers never see a half-compacted table.
    * Streaming upserts and frequent small batches accrete one file per
    * shuffle partition per write — at 100 TB unbounded file counts rot
    * scan planning and open-cost; compaction restores a healthy layout. */
  def compact(spark: SparkSession, path: String,
              targetFileBytes: Long = 128L * 1024 * 1024): Unit = {
    val f = fs(spark, path)
    val v = committedVersion(f, path)
      .getOrElse(sys.error(s"no committed version at $path"))
    val dataDir = new org.apache.hadoop.fs.Path(s"$path/data_v$v")
    val bytes = f.getContentSummary(dataDir).getLength
    val nFiles = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    writeTable(readTable(spark, path).coalesce(nFiles), path)
  }

  /** The reference `quality` command: null counts + orphan bridge rows. */
  def quality(spark: SparkSession, wh: String): DataFrame = {
    val issues = readTable(spark, issuesPath(wh))
    val bridge = readTable(spark, bridgePath(wh))
    val nullDates = issues.filter(col("onsale_date").isNull)
      .agg(count(lit(1)).as("issues_null_onsale_date"))
    val orphans = Relational.orphans(bridge, issues, "marvel_comic_id", "marvel_comic_id")
      .agg(count(lit(1)).as("orphan_credit_rows"))
    nullDates.crossJoin(orphans)
  }

  /** The reference `stats` command: top titles by credit count. */
  def stats(spark: SparkSession, wh: String, top: Int): DataFrame = {
    val issues = readTable(spark, issuesPath(wh))
    val bridge = readTable(spark, bridgePath(wh))
    Relational.topKByCount(
      bridge.join(broadcast(issues), "marvel_comic_id"),
      col("title"), top, "credit_count")
  }
}
