package graft.streaming

import graft.operators.{Dedup, SweepFamily}
import graft.tools.EtlCli
import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** Streaming composition of the incremental-dedup production shape
  * (SURVEY.md §2.9 extension + the round-3 incremental dedup operator):
  * each micro-batch of documents PROBES the persisted LSH band index for
  * near-dups against everything ingested so far (plus itself), then
  * atomically EXTENDS the index with its own bands — so the band index,
  * the near-dup pairs table, and the ingested-corpus table stay in
  * lockstep through EtlCli's versioned commit protocol.
  *
  * This is the 100 TB ingest loop: per batch the signing is map-only over
  * the batch, the probe joins only on band keys, and verification touches
  * text for the candidate slice alone — O(|batch|) work per increment,
  * never a corpus re-scan.
  */
object CorpusStreams {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Every sink below: run `body` once per micro-batch of `incoming`
    * (at-least-once, keyed by batchId) until the input available at
    * start is drained, checkpointing under `checkpointDir`. */
  private def eachBatch(incoming: DataFrame, checkpointDir: String)
                       (body: (DataFrame, Long) => Unit): StreamingQuery =
    incoming.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Update())
      .foreachBatch(body)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Start the incremental-dedup sink over a streaming `incoming` frame of
    * (idCol, textCol, ...) documents. Three EPOCH-PARTITIONED versioned
    * tables (EtlCli.appendEpoch / readEpochTable; epoch = batchId):
    *
    *  - `indexPath`:  (doc_id, band) — the persisted LSH band index
    *  - `pairsPath`:  (doc_a, doc_b, jaccard) — all near-dup pairs found
    *  - `corpusPath`: (idCol, textCol) — ingested docs (verification text
    *                  for future probes, and the replay guard)
    *
    * Each micro-batch commits as an APPEND of its own epoch partition:
    * commit compute and I/O are O(|batch|), and prior epochs' files are
    * never rewritten — the same posture as the probe math (the earlier
    * union + distinct + whole-table rewrite was O(|corpus|) per batch,
    * which defeated the operator's own incremental design at exactly the
    * 100 TB target). No distinct() is needed: epochs are disjoint by
    * construction — the replay guard anti-joins committed docs out, bands
    * are keyed by the batch's own doc ids, and every pair involves at
    * least one doc of its batch (corpus x corpus pairs were found when
    * those epochs ingested).
    *
    * Replay safety (foreachBatch is at-least-once): a replayed batch
    * anti-joins against the committed corpus, so already-ingested docs
    * sign nothing and emit nothing; a batch whose corpus epoch never
    * committed recomputes deterministically and re-appends ITS OWN epoch
    * partitions idempotently (appendEpoch replaces that one epoch).
    * Commit ORDER is pairs → index → corpus: the corpus commit is the
    * replay-guard fencepost, so a crash between any two commits replays
    * into identical state — at-least-once delivery becomes exactly-once
    * table state, the same contract as the CDC upsert sink.
    */
  def incrementalDedupSink(incoming: DataFrame, idCol: String, textCol: String,
                           indexPath: String, pairsPath: String, corpusPath: String,
                           checkpointDir: String, k: Int, numHashes: Int,
                           bandSize: Int, threshold: Double, dfCap: Int = 0)
      : StreamingQuery =
    eachBatch(incoming, checkpointDir) { (batch0, batchId) =>
      val spark = batch0.sparkSession
      // the sink reads back tables it writes, so `empty` carries their
      // schema: the read skips footer inference (one job per table)
      def tableOr(path: String, empty: DataFrame): DataFrame =
        scala.util.Try(EtlCli.readEpochTable(spark, path, schema = Some(empty.schema)))
          .getOrElse(empty)
      val batch = batch0.select(col(idCol), col(textCol))
      val corpus = tableOr(corpusPath, batch.limit(0))
      val corpusBands = tableOr(indexPath,
        batch.select(col(idCol).as("doc_id"), lit("").as("band")).limit(0))
      // replay guard: docs already committed to the corpus were fully
      // processed by a previous (possibly crashed-after-commit) attempt
      val (newDocs, nNew) = pinCounted(batch
        .join(corpus.select(col(idCol)), Seq(idCol), "left_anti"))
      if (nNew > 0) {
        // sign ONCE; the bands both probe the index and extend it
        val newBands = Dedup.signBands(newDocs, idCol, textCol, k, numHashes,
            bandSize, dfCap)
          .transform(graft.core.Materialize.pin)
        val pairs = Dedup.incrementalNearDupsFromBands(newBands, newDocs,
          corpus, corpusBands, idCol, textCol, k, threshold)
        EtlCli.appendEpoch(pairs, pairsPath, batchId)
        EtlCli.appendEpoch(newBands, indexPath, batchId)
        EtlCli.appendEpoch(newDocs, corpusPath, batchId)
      }
    }

  /** The full streaming CURATION loop — quality gates → benchmark
    * decontamination → incremental near-dup dedup — composed into one
    * exactly-once sink whose committed corpus table IS the clean corpus
    * (incrementalDedupSink only RECORDS pairs; this one enforces
    * survivorship). Per micro-batch, each stage is the batch operator it
    * names, applied to O(|batch|) data:
    *
    *  1. quality gates: map-only projection + filter
    *  2. exact-gram decontamination vs `evalDocs`: broadcast gram probe
    *  2b. (optional, cfg.bloomMBits > 0 + `bloomPath`) bloom-set
    *     decontamination vs the GROWING seen-set filter a bloomSketchSink
    *     maintains: in-row native probe, reason `bloom_contaminated` —
    *     the scale path when the seen-set outgrows the exact broadcast
    *  2c. (optional, `dsirModelPath`) DSIR importance selection vs the
    *     PERSISTED day-0 model (TextAnalysis.dsirModel via
    *     EtlCli.writeTable): keep docs whose hash-uniform u < mean_pref,
    *     reason `dsir_rejected` — deterministic, so replay re-derives
    *     the identical sample; map-only (the <= B-row model broadcasts)
    *  2d. (optional, `kmvSamplePath`) accepted-length monitoring: each
    *     batch appends a bottom-kmvK hash-rank sample partial of its
    *     survivors' doc lengths — readKmvSample + sampleQuantiles over
    *     the epochs is the live length distribution for drift dashboards
    *  3. near-dup vs committed corpus + in-batch: band-index probe
    *     (the batch signs once; its pinned bands both probe and extend
    *     the index), then ONE driver-side resolution over the collected
    *     verified pairs, each side flagged in-batch or corpus by a
    *     broadcast of the batch ids: a batch doc drops when paired with
    *     any corpus doc (corpus member wins — it is already training
    *     data), and of each in-batch duplicate component (union-find
    *     over the batch-internal pairs) every doc but the least id
    *     drops. Exact, and driver memory is O(docs in this batch's
    *     verified pairs); the drop ids go on as a local relation
    *
    * Tables: `indexPath` holds SURVIVOR bands only (future batches probe
    * the clean corpus), `corpusPath` the survivors, `droppedPath` a
    * (doc_id, reason) log — reason ∈ quality|contaminated|
    * bloom_contaminated|dsir_rejected|near_dup, first failing stage wins.
    * All three commit as epoch=batchId appends;
    * commit order dropped → index → corpus keeps the corpus commit as the
    * replay-guard fencepost.
    *
    * Replay safety differs from incrementalDedupSink, because this sink's
    * committed corpus is a strict SUBSET of its input (docs drop). The
    * per-doc anti-join alone is therefore NOT enough: a batch redelivered
    * AFTER its corpus epoch committed (crash between sink completion and
    * checkpoint offset commit) would see newDocs = exactly its previously
    * DROPPED docs, re-drop them all against the now-committed corpus, and
    * appendEpoch would then replace epoch=batchId with the empty result —
    * deleting that batch's committed survivors. So the first guard is the
    * fencepost itself: if corpus epoch=batchId is already committed, the
    * whole batch is a no-op. The anti-join remains as the second guard for
    * the partial-commit window (crash between dropped/index and corpus):
    * there the corpus epoch is absent, the batch recomputes
    * deterministically from unchanged committed state, and re-appends its
    * own epochs idempotently. */
  def curatedIngestSink(incoming: DataFrame, evalDocs: DataFrame,
                        idCol: String, textCol: String,
                        indexPath: String, corpusPath: String,
                        droppedPath: String, checkpointDir: String,
                        cfg: graft.operators.CorpusPipeline.Config =
                          graft.operators.CorpusPipeline.Config(),
                        bloomPath: Option[String] = None,
                        dsirModelPath: Option[String] = None,
                        kmvSamplePath: Option[String] = None,
                        kmvK: Int = 64,
                        sweepPath: Option[String] = None,
                        sweepMinRecall: Double = 0.9)
      : StreamingQuery =
    eachBatch(incoming, checkpointDir) { (batch0, batchId) =>
      val spark = batch0.sparkSession
      import graft.core.Materialize.pin
      // the sink reads back tables it writes, so `empty` carries their
      // schema: the read skips footer inference (one job per table)
      def tableOr(path: String, empty: DataFrame): DataFrame =
        scala.util.Try(EtlCli.readEpochTable(spark, path, schema = Some(empty.schema)))
          .getOrElse(empty)
      // fencepost guard: corpus epoch=batchId committed ⇒ this batch
      // fully committed on a previous attempt — replay is a no-op (see
      // the scaladoc; recomputing here would overwrite the epoch with
      // the re-dropped remainder)
      val replayed = EtlCli.epochCommitted(spark, corpusPath, batchId)
      lazy val batch = batch0.select(col(idCol), col(textCol))
      lazy val corpus = tableOr(corpusPath, batch.limit(0))
      lazy val corpusBands = tableOr(indexPath,
        batch.select(col(idCol).as("doc_id"), lit("").as("band")).limit(0))
      // stage 1 as ONE pin: the replay anti-join, the quality gates and
      // a `contaminated` flag (gate-passing docs sharing a word n-gram
      // with `evalDocs`). Its row count is observed on the pin's own
      // action; decon0 and the quality/contaminated drop rows are
      // filters over it.
      lazy val (stage1, nNew) = {
        val gated = graft.operators.TextAnalysis.qualityGates(
          batch.join(corpus.select(col(idCol)), Seq(idCol), "left_anti"),
          textCol, cfg.stop, cfg.minWords, cfg.maxWords,
          cfg.minMeanLen, cfg.maxMeanLen, cfg.minUniqRatio)
        val hits = Dedup.contaminatedIds(
            gated.filter(col("pass")).select(col(idCol), col(textCol)),
            evalDocs, idCol, textCol, cfg.decontaminateGramN)
          .withColumn("contaminated", lit(true))
        pinCounted(gated.join(broadcast(hits), Seq(idCol), "left_outer")
          .withColumn("contaminated", coalesce(col("contaminated"), lit(false))))
      }
      if (!replayed && nNew > 0) {
        // Resolve THIS batch's LSH signing config: when `sweepPath` is
        // wired, the picker's choice off the persisted sweep artifact
        // (lshBandSweep committed via EtlCli.writeTable) — the
        // sweep -> choice -> deploy loop's last mile; a sweep update
        // changes the signing config on the NEXT epoch. No qualifying
        // config fails the batch loudly: silently deploying the best
        // loser is the one move a recall monitor exists to prevent.
        val (bandSize, numHashes) = sweepPath match {
          case Some(sp) =>
            // The frontier's recall was measured at the sweep's OWN
            // shingle k (stamped by EtlCli.sweepLsh); signing at another
            // cfg.shingleK would deploy a floor nobody measured.
            val Seq(band, nBands) = deployedKnobs(spark, SweepFamily.lsh, sp,
              sweepMinRecall, cfg.shingleK.toLong -> "this sink's signing shingle k")
            (band, band * nBands)
          case None => (cfg.bandSize, cfg.numHashes)
        }
        // Config consistency with the persisted index: bands signed
        // under different configs can never collide, so probing an
        // old-config index with new-config batch bands would silently
        // miss every cross-epoch near-dup. The index carries its
        // signing config in a `_signcfg` marker table (hidden from the
        // epoch listing); when the resolved config differs, THIS batch
        // re-signs the committed corpus under the new config — one
        // O(corpus) pass, amortized over the config's lifetime — probes
        // against the re-signed bands, and appends them with its own
        // epoch so later batches probe the refreshed index. An index
        // without a marker (only a sweep-wired sink writes one) is
        // treated as signed under `cfg`.
        val cfgMarkerPath = s"$indexPath/_signcfg"
        // the marker carries shingle k too: bands signed at a different
        // k can never collide with the index's, exactly like a
        // band-size change — a k change must trigger the same corpus
        // re-sign
        val idxCfg: Option[(Int, Int, Int)] =
          scala.util.Try(EtlCli.readTable(spark, cfgMarkerPath)).toOption
            .flatMap(_.select(col("band_size").cast("int"),
                col("num_hashes").cast("int"), col("shingle_k").cast("int"))
              .collect().headOption.map(r => (r.getInt(0), r.getInt(1), r.getInt(2))))
        val configChanged =
          EtlCli.committedEpochs(spark, indexPath).nonEmpty &&
            idxCfg.getOrElse((cfg.bandSize, cfg.numHashes, cfg.shingleK)) !=
              ((bandSize, numHashes, cfg.shingleK))
        val decon0 = stage1.filter(col("pass") && !col("contaminated"))
          .select(col(idCol), col(textCol))
        // optional bloom stage: probe the GROWING seen-set filter that a
        // bloomSketchSink maintains at `bloomPath` (the scale path when
        // the seen-set outgrows stage 1's exact eval-gram broadcast).
        // The filter reads as ≤ mBits/62 words and the probe is the
        // in-row native loop — map-only over the batch. Absent/empty
        // filter table ⇒ no bits set ⇒ stage passes everything.
        val (bloomHitIds, decon) = bloomPath match {
          case Some(bp) if cfg.bloomMBits > 0 =>
            // Only "no committed epochs yet" means the zero filter; a
            // readable-but-mismatched filter (different mBits → word
            // index out of range, checked in bloomWords) or a corrupt
            // epoch table must FAIL the batch — silently probing an
            // empty filter would disable the safety gate with no signal.
            val words =
              if (EtlCli.committedEpochs(spark, bp).isEmpty)
                new Array[Long](cfg.bloomMBits / 62)
              else graft.operators.Sketches.bloomWords(
                readBloomFilter(spark, bp), cfg.bloomMBits)
            val hits = decon0.filter(graft.operators.Sketches.bloomCountHits(
              graft.plans.GraftFunctions.word_gram_set(col(textCol), cfg.decontaminateGramN),
              words, cfg.bloomMBits, cfg.bloomK) > 0)
              .select(col(idCol)).distinct()
            (hits, pin(decon0.join(hits, Seq(idCol), "left_anti")))
          case _ => (decon0.select(col(idCol)).limit(0), decon0)
        }
        // optional DSIR selection (stage 2c): score the batch against
        // the PERSISTED day-0 model (TextAnalysis.dsirModel committed
        // via EtlCli.writeTable — same pinned-artifact contract as the
        // ANN centroids) and keep docs whose hash-uniform u < mean_pref.
        // Deterministic (u = md5(doc_id)), so replay re-derives the
        // identical sample; docs with no bigram features score nothing
        // and are rejected (single-token docs — the quality gates
        // normally drop them first). Map-only: the model broadcasts.
        val (dsirDropIds, selected) = dsirModelPath match {
          case Some(mp) =>
            val model = EtlCli.readTable(spark, mp)
            // pin: the scoring aggregation feeds BOTH the reject log
            // (anti) and the survivor set (semi) — unpinned it would
            // run twice per micro-batch
            val kept = pin(graft.operators.TextAnalysis
              .dsirResampleFromModel(decon, model, idCol, textCol)
              .select(col("doc_id").as(idCol)))
            (decon.join(kept, Seq(idCol), "left_anti").select(col(idCol)),
              pin(decon.join(kept, Seq(idCol), "left_semi")))
          case None => (decon.select(col(idCol)).limit(0), decon)
        }
        val newBands = pin(Dedup.signBands(selected, idCol, textCol,
          cfg.shingleK, numHashes, bandSize, cfg.dfCap))
        val resignedCorpus: Option[DataFrame] =
          if (configChanged)
            Some(pin(Dedup.signBands(corpus, idCol, textCol,
              cfg.shingleK, numHashes, bandSize, cfg.dfCap)))
          else None
        // near-dup drops resolve ONCE, on the driver: the verified pair
        // slice (every pair has >= 1 batch doc) collects with each
        // side's batch membership from a broadcast of the batch ids —
        // a side outside the batch is a committed corpus doc
        val inBatch = broadcast(selected.select(col(idCol).as("__bid")))
        val pairs = Dedup.incrementalNearDupsFromBands(newBands, selected,
            corpus, resignedCorpus.getOrElse(corpusBands), idCol, textCol,
            cfg.shingleK, cfg.nearDupThreshold)
          .join(inBatch, col("doc_a") === col("__bid"), "left_outer")
          .select(col("doc_a"), col("doc_b"), col("__bid").isNotNull.as("a_in_batch"))
          .join(inBatch, col("doc_b") === col("__bid"), "left_outer")
          .select(col("doc_a"), col("doc_b"), col("a_in_batch"),
            col("__bid").isNotNull.as("b_in_batch"))
        val dupIds = nearDupDrops(pairs.collect().toSeq.map(r =>
          (r.get(0), r.get(1), r.getBoolean(2), r.getBoolean(3))))
        val dupDrops = spark.createDataFrame(
          java.util.Arrays.asList(dupIds.toSeq.map(Row(_)): _*),
          StructType(Seq(StructField("doc_id", pairs.schema("doc_a").dataType))))
        def notDup(idc: String): Column =
          if (dupIds.isEmpty) lit(true) else !col(idc).isin(dupIds.toSeq: _*)
        val survivors = selected.filter(notDup(idCol))
        val dropped =
          stage1.filter(!col("pass") || col("contaminated"))
            .select(col(idCol).as("doc_id"),
              when(!col("pass"), lit("quality")).otherwise(lit("contaminated")).as("reason"))
          .unionAll(bloomHitIds
            .select(col(idCol).as("doc_id"), lit("bloom_contaminated").as("reason")))
          .unionAll(dsirDropIds
            .select(col(idCol).as("doc_id"), lit("dsir_rejected").as("reason")))
          .unionAll(dupDrops.select(col("doc_id"), lit("near_dup").as("reason")))
        EtlCli.appendEpoch(dropped, droppedPath, batchId)
        // optional accepted-length monitor: a bottom-kmvK hash-rank
        // sample partial of THIS batch's survivors (doc-length value) —
        // readKmvSample over the epochs is the live distribution a
        // drift dashboard quantiles against (Sketches.sampleQuantiles).
        // Pure function of the survivors, so replay re-appends its own
        // epoch idempotently; committed before the corpus fencepost
        // like the other side tables.
        kmvSamplePath.foreach { kp =>
          EtlCli.appendEpoch(
            graft.operators.Sketches.bottomKSample(
              survivors.select(col(idCol),
                length(col(textCol)).cast("long").as("n_chars"),
                lit("all").as("g")),
              idCol, "n_chars", Seq("g"), kmvK),
            kp, batchId)
        }
        EtlCli.appendEpoch(
          newBands.filter(notDup("doc_id"))
            // a config change folds the re-signed corpus bands into
            // this epoch: later batches then probe the whole corpus
            // under the new config (superseded old-config rows are
            // dead weight — they can't match any new-config probe —
            // until compactEpochs folds them away)
            .unionByName(resignedCorpus.getOrElse(newBands.limit(0))),
          indexPath, batchId)
        EtlCli.appendEpoch(survivors, corpusPath, batchId)
        // marker strictly AFTER the corpus fencepost: a crash anywhere
        // before this line leaves the OLD marker, so the replay
        // recomputes configChanged=true and deterministically re-signs
        // again — safe (duplicate new-config bands are absorbed by the
        // candidate distinct, and the epoch append is idempotent). The
        // previously-committed ordering (marker between index and
        // corpus) had a hole: a crash after the marker but before the
        // corpus fencepost made the replay read configChanged=false and
        // overwrite the index epoch WITHOUT the re-signed corpus bands —
        // silently missing every cross-epoch near-dup thereafter. A
        // crash after the fencepost but before the marker merely costs
        // the NEXT batch one more amortized O(corpus) re-sign.
        if (sweepPath.isDefined && (idxCfg.isEmpty || configChanged))
          EtlCli.writeTable(
            spark.createDataFrame(Seq((bandSize, numHashes, cfg.shingleK)))
              .toDF("band_size", "num_hashes", "shingle_k"),
            cfgMarkerPath)
      }
    }

  /** Pin `df` and return it with its row count, observed on the pin's own
    * action — one materialization instead of a pin plus a count job. */
  private def pinCounted(df: DataFrame): (DataFrame, Long) = {
    val obs = new Observation()
    val pinned = graft.core.Materialize.pin(df.observe(obs, count(lit(1)).as("n")))
    (pinned, obs.get("n").asInstanceOf[Long])
  }

  /** curatedIngestSink's near-dup drop rule over the verified pair slice
    * `(doc_a, doc_b, a_in_batch, b_in_batch)`: a side outside the batch
    * is a committed corpus doc and wins, so its batch partner drops; of
    * each component of the batch-internal pairs (union-find) every doc
    * but the least id drops. Ids compare by their natural (Comparable)
    * order. Returns the ids to drop. */
  private[graft] def nearDupDrops(pairs: Seq[(Any, Any, Boolean, Boolean)]): Set[Any] = {
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
      var c = x
      while (c != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    val corpusWins = Set.newBuilder[Any]
    pairs.foreach { case (a, b, aIn, bIn) =>
      if (aIn && bIn) {
        val (ra, rb) = (find(a), find(b))
        if (ra.asInstanceOf[Comparable[Any]].compareTo(rb) < 0) parent(rb) = ra
        else if (ra != rb) parent(ra) = rb
      } else {
        if (!aIn) corpusWins += b
        if (!bIn) corpusWins += a
      }
    }
    corpusWins.result() ++ parent.keys.toSeq.filter(x => find(x) != x)
  }

  /** Streaming BINARY index maintenance — the trained-artifact-free
    * sibling of annIndexSink: each micro-batch sign-packs its vectors
    * (binaryIndexBuild — map-only, no quantizer to couple to) and
    * appends (id, words, vec) as ITS epoch partition; the live index is
    * the epoch union, probed by binaryProbeTopK exactly like the batch
    * build. Replay safety: words are a pure function of the vector
    * alone, so a replayed batch re-appends ITS OWN epoch idempotently —
    * at-least-once delivery, exactly-once index rows. Having no trained
    * artifact also means no retrain invalidation ever: unlike the IVF
    * family, a binary index grown over a year of epochs is IDENTICAL to
    * a from-scratch build on the same rows. */
  def binaryIndexSink(incoming: DataFrame, idCol: String, vecCol: String,
                      indexPath: String, checkpointDir: String,
                      dims: Int): StreamingQuery =
    eachBatch(incoming, checkpointDir) { (batch, batchId) =>
      EtlCli.appendEpoch(
        graft.operators.Similarity.binaryIndexBuild(
          batch.select(col(idCol), col(vecCol)), idCol, vecCol, dims),
        indexPath, batchId)
    }

  /** Streaming CELL-PRUNED binary index maintenance — binaryIndexSink's
    * IVF-shaped sibling: each micro-batch encodes against the PERSISTED
    * coarse centroids (the pinned-artifact contract of annIndexSink:
    * re-deriving hash-rank seeds over a grown corpus would shift the
    * seed set and silently reassign every stored cell) and appends its
    * (id, cell, words, vec) as ITS epoch partition — one map-only pass,
    * O(|batch|) compute and commit I/O. Cells and codes are pure
    * functions of (centroids, vector), so a replayed batch re-appends
    * idempotently and the epoch union equals a from-scratch build
    * row-for-row (spec-asserted). Epochs accrete row-wise; the
    * read-optimized CELL-PARTITIONED probe layout is produced by
    * [[binaryIvfReadOptimize]] — the compaction move, run on the
    * monitor's cadence — after which binaryIvfProbeIndex's partition
    * pruning applies; probing the raw epoch union with
    * binaryIvfProbeTopK is exact at any moment in between. */
  def binaryIvfIndexSink(incoming: DataFrame, idCol: String, vecCol: String,
                         indexPath: String, checkpointDir: String,
                         dims: Int, centroidsPath: String): StreamingQuery =
    eachBatch(incoming, checkpointDir) { (batch, batchId) =>
      encodeBinaryIvfEpoch(batch, batchId, idCol, vecCol, indexPath, dims,
        centroidsPath)
    }

  /** binaryIvfIndexSink's encode body: one map-only pass of the batch
    * against the persisted centroids, appended as epoch `batchId`.
    * Returns the centroids and the batch vectors it encoded. */
  private def encodeBinaryIvfEpoch(batch: DataFrame, batchId: Long,
                                   idCol: String, vecCol: String,
                                   indexPath: String, dims: Int,
                                   centroidsPath: String): (DataFrame, DataFrame) = {
    val cent = EtlCli.readTable(batch.sparkSession, centroidsPath)
    val vecs = batch.select(col(idCol), col(vecCol))
    EtlCli.appendEpoch(
      graft.operators.Similarity.binaryIvfIndexBuild(vecs, idCol, vecCol, dims, cent),
      indexPath, batchId)
    (cent, vecs)
  }

  /** binaryIvfIndexSink plus the decay instrument the pinned-quantizer
    * contract demands: the centroids deliberately never retrain (moving
    * them would silently reassign every stored cell), so each epoch ALSO
    * appends one quantizerDriftStats row — this batch vs the persisted
    * day-0 baseline sample at `baselinePath` (the corpus the centroids
    * were trained from, committed via EtlCli.writeTable) — to the
    * epoch-partitioned log at `driftLogPath`, tagged with its epoch.
    * Ingest never blocks on an alarm (a drifted batch is still correctly
    * encoded and probeable — recall just decays); the monitor cadence
    * runs `EtlCli.checkDrift(driftLogPath)`, which fails loudly naming
    * the alarmed epochs so retrain+re-encode is an explicit, evidenced
    * decision. Replay safety: the drift row is a pure function of
    * (baseline, centroids, batch), so a replayed batch re-appends ITS
    * OWN epoch of both tables idempotently. */
  def binaryIvfIndexSinkWithDrift(incoming: DataFrame, idCol: String,
                                  vecCol: String, indexPath: String,
                                  checkpointDir: String, dims: Int,
                                  centroidsPath: String, baselinePath: String,
                                  driftLogPath: String, maxTvd: Double,
                                  maxQerrRatio: Double): StreamingQuery =
    eachBatch(incoming, checkpointDir) { (batch, batchId) =>
      val (cent, vecs) = encodeBinaryIvfEpoch(batch, batchId, idCol, vecCol,
        indexPath, dims, centroidsPath)
      EtlCli.appendEpoch(
        graft.operators.Similarity.quantizerDriftStats(
            EtlCli.readTable(batch.sparkSession, baselinePath), vecs,
            vecCol, cent, maxTvd, maxQerrRatio)
          .withColumn("epoch", lit(batchId)),
        driftLogPath, batchId)
    }

  /** Rewrite the accreted epoch union into the read-optimized layout the
    * cell-pruned probe scans: one table PARTITIONED BY cell at
    * `outPath`. The epoch layout optimizes the WRITE path (O(batch)
    * appends, replay-idempotent); this optimizes the READ path
    * (partition pruning to probed cells) — the same write-then-compact
    * split as compactEpochs/Z-order, run on whatever cadence the probe
    * traffic justifies. Rows are immutable (id, cell, words, vec)
    * tuples, so the rewrite is a pure re-layout — probing the optimized
    * copy equals probing the union (spec-asserted). Commits via the
    * versioned-marker protocol like every other maintained artifact
    * (the previous raw overwrite deleted the live layout before the new
    * one finished — a probe racing the compaction cadence could read a
    * half-written directory); probes resolve the committed data dir via
    * EtlCli.resolveDataDir, so partition pruning still applies. */
  def binaryIvfReadOptimize(spark: org.apache.spark.sql.SparkSession,
                            indexPath: String, outPath: String): Unit =
    EtlCli.writeTable(EtlCli.readIndexWithMaintenance(spark, indexPath), outPath,
      partitionBy = Seq("cell"))

  /** binaryIvfReadOptimize's sibling for the residual IVF-PQ codes an
    * annIndexSink accretes: rewrite the epoch union into the
    * cell-partitioned layout Similarity.ivfPqResidualProbeIndex scans
    * with a static cell filter (partition pruning to the probed cells;
    * the files store only (cid, codes) — m bytes per vector, the PQ
    * promise). Same versioned commit, same write-then-compact split. */
  def annReadOptimize(spark: org.apache.spark.sql.SparkSession,
                      codesPath: String, outPath: String): Unit =
    EtlCli.writeTable(EtlCli.readEpochTable(spark, codesPath), outPath,
      partitionBy = Seq("cell"))

  /** binaryIvfReadOptimize with the quantizer in hand: additionally DROPS
    * dead rows — copies stored under cells that are no longer leaves
    * (the pre-split parent copies a [[EtlCli.splitHotCells]] leaves
    * behind in old epochs; probes already prune them out, this reclaims
    * the bytes). The compaction cadence is where that reclaim belongs:
    * the split itself stays O(hot mass) and never rewrites committed
    * files. Rows under cells the tree does not know AT ALL — neither
    * leaf nor routing parent — are NOT dead weight: that is exactly the
    * orphan epoch of a splitHotCells run that crashed between its
    * relabel commit and its quantizer flip, and silently semi-joining
    * them away here would make the eventual flip serve child cells whose
    * rows this compaction just deleted. Refuse loudly with the remedial
    * (finish or inspect the split) instead. */
  def binaryIvfReadOptimize(spark: org.apache.spark.sql.SparkSession,
                            indexPath: String, outPath: String,
                            centroidsPath: String): Unit = {
    val index = EtlCli.readIndexWithMaintenance(spark, indexPath)
    val tree = EtlCli.readTable(spark, centroidsPath)
    // bounded: distinct stored cells ∖ tree cells — quantizer-sized
    val unknown = index.select(col("cell").cast("long").as("__c")).distinct()
      .join(broadcast(tree.select(col("cc").cast("long").as("__c"))),
        Seq("__c"), "left_anti")
      .collect().map(_.getLong(0)).sorted
    if (unknown.nonEmpty)
      sys.error(s"index at $indexPath holds rows in cell(s) " +
        s"${unknown.mkString(", ")} that the quantizer at $centroidsPath " +
        "does not know — an interrupted split-hot-cells left its orphan " +
        "maintenance epoch without flipping the tree; re-run " +
        "split-hot-cells to complete the flip (or inspect the epoch log) " +
        "before compacting, or this rewrite would silently delete the " +
        "relabeled hot mass")
    val leaves = graft.operators.Similarity.leafCells(tree)
      .select(col("cc").cast("long").as("__leaf"))
    EtlCli.writeTable(
      index.join(broadcast(leaves), index("cell").cast("long") === col("__leaf"),
        "left_semi"),
      outPath, partitionBy = Seq("cell"))
  }

  /** THE deploy read of every sweep-wired path: read the committed sweep
    * at `sweepPath` PER CALL (a re-sweep moves the deployment on the next
    * call), refuse it when it is stamped under other artifacts than the
    * live ones — `live` gives, per stamp column of `family`, the live
    * identity and where it was read — and return the pick's knobs in
    * `family.knobs` order. Below the floor it refuses too, naming the
    * re-sweep command: silently deploying the best loser is the one move
    * the floor exists to prevent. */
  private def deployedKnobs(spark: org.apache.spark.sql.SparkSession,
                            family: SweepFamily, sweepPath: String,
                            floor: Double, live: (Long, String)*): Seq[Int] = {
    require(live.size == family.stamps.size,
      s"${family.command} stamps ${family.stamps.mkString(", ")}: pass one live identity each")
    val sweep = EtlCli.readTable(spark, sweepPath)
    family.stamps.zip(live).foreach { case (stamp, (id, liveDesc)) =>
      EtlCli.requireStamp(sweep, stamp, id,
        s"sweep at $sweepPath was measured under " +
          stamp.stripSuffix("_id").replace('_', ' '),
        liveDesc, s"a retrain or config change invalidates every older " +
          s"sweep; run ${family.command} against the deployed artifacts first")
    }
    val pick = family.pick(sweep, floor)
      .select(family.knobs.map(col(_).cast("int")): _*).collect()
    require(pick.nonEmpty,
      s"no (${family.knobs.mkString(", ")}) at $sweepPath clears " +
        s"${family.recall} >= $floor — re-sweep deeper/wider " +
        s"(${family.command}) before serving")
    family.knobs.indices.map(pick.head.getInt)
  }

  private def centroidIdentity(cent: DataFrame, centroidsPath: String): (Long, String) =
    graft.operators.Similarity.quantizerIdentity(cent) -> s"the centroids at $centroidsPath"

  /** Probe the streamed binary index at the SWEEP-CHOSEN shortlist depth
    * — the read-side last mile of the binary sweep→pick→deploy loop,
    * mirroring curatedIngestSink's sweepPath wiring on the LSH side (and
    * simpler by construction: sign codes are config-independent, so a
    * depth change needs no re-sign, no marker, no migration — only the
    * probe's shortlist moves). The chosen depth rides the output as a
    * `shortlist` column so monitors can see which config served each
    * result. */
  def binaryProbeWithSweep(spark: org.apache.spark.sql.SparkSession,
                           indexPath: String, sweepPath: String,
                           queries: DataFrame, idCol: String, vecCol: String,
                           minRecall: Double, k: Int): DataFrame = {
    val Seq(shortlist) = deployedKnobs(spark, SweepFamily.binary, sweepPath, minRecall)
    require(shortlist >= k,
      s"swept shortlist $shortlist cannot serve top-$k — re-sweep with " +
        "depths covering k")
    val index = EtlCli.readEpochTable(spark, indexPath)
    val firstVec = index.select(size(col(vecCol)).as("d")).limit(1).collect()
    require(firstVec.nonEmpty, s"binary index at $indexPath is empty")
    val dims = firstVec.head.getInt(0)
    graft.operators.Similarity.binaryProbeTopK(
        index.select(col(idCol), col("words")),
        index.select(col(idCol), col(vecCol)),
        queries, idCol, vecCol, dims, shortlist, k)
      .withColumn("shortlist", lit(shortlist))
  }

  /** Probe the streamed CELL-PRUNED binary index at the 2D-sweep-chosen
    * (nProbe, shortlist) — binaryProbeWithSweep's sibling for the
    * binary-IVF family, closing its sweep→pick→deploy loop: both
    * deployed knobs ride the output as columns so monitors see which
    * config served each result.
    * `indexPath` is the READ-OPTIMIZED cell-partitioned layout
    * ([[binaryIvfReadOptimize]]) so the probe's partition pruning
    * applies; `centroidsPath` the pinned day-0 coarse quantizer. */
  def binaryIvfProbeWithSweep(spark: org.apache.spark.sql.SparkSession,
                              indexPath: String, centroidsPath: String,
                              sweepPath: String, queries: DataFrame,
                              idCol: String, vecCol: String, dims: Int,
                              minRecall: Double, k: Int): DataFrame = {
    val cent = EtlCli.readTable(spark, centroidsPath)
    // Quantizer binding: the frontier's recall was measured against ONE
    // set of coarse centroids; deploying it against retrained centroids
    // would claim a floor that was never measured — every stored cell
    // moved.
    val Seq(nProbe, shortlist) = deployedKnobs(spark, SweepFamily.binaryIvf,
      sweepPath, minRecall, centroidIdentity(cent, centroidsPath))
    require(shortlist >= k,
      s"swept shortlist $shortlist cannot serve top-$k — re-sweep with " +
        "depths covering k")
    graft.operators.Similarity.binaryIvfProbeIndex(spark,
        EtlCli.resolveDataDir(spark, indexPath), queries,
        idCol, vecCol, dims, cent, nProbe, shortlist, k)
      .withColumn("n_probe", lit(nProbe))
      .withColumn("shortlist", lit(shortlist))
  }

  /** Serve hybrid RRF retrieval at the FUSED-sweep-chosen dense config —
    * the deployment arm of `EtlCli.sweepFusedRrf`, closing the loop the
    * r13 measurement opened: a per-arm recall floor does not survive
    * rank fusion, so the consumer picks the cheapest (nProbe, shortlist)
    * clearing a floor measured ON THE FUSED RANKING (SweepFamily.fusedRrf)
    * and serves the exact fused shape the sweep measured (arm_k / k_rrf
    * / top_k ride the artifact). Refuses a sweep stamped under a
    * different quantizer than the deployed centroids — a retrain moves
    * every stored cell and invalidates the fused measurement — naming
    * both identities. `lex` is the request's lexical ranking
    * (doc_id, rank); `indexPath` the read-optimized cell-partitioned
    * layout so the probe's partition pruning applies. */
  def hybridRrfWithFusedSweep(spark: org.apache.spark.sql.SparkSession,
                              indexPath: String, centroidsPath: String,
                              sweepPath: String, queries: DataFrame,
                              lex: DataFrame, idCol: String, vecCol: String,
                              dims: Int, minFusedRecall: Double): DataFrame = {
    val cent = EtlCli.readTable(spark, centroidsPath)
    val Seq(nProbe, shortlist, armK, kRrf, topK) = deployedKnobs(spark,
      SweepFamily.fusedRrf, sweepPath, minFusedRecall,
      centroidIdentity(cent, centroidsPath))
    val dense = graft.operators.Similarity.binaryIvfProbeIndex(spark,
        EtlCli.resolveDataDir(spark, indexPath), queries,
        idCol, vecCol, dims, cent, nProbe, shortlist, armK)
      .select(col("cid").as("doc_id"), col("rank"))
    graft.operators.Similarity.rrfFuse(Seq(lex, dense), "doc_id", "rank",
        kRrf, topK)
      .withColumn("n_probe", lit(nProbe))
      .withColumn("shortlist", lit(shortlist))
  }

  /** Probe the persisted residual IVF-PQ index at the SWEEP-CHOSEN depth
    * — binaryIvfProbeWithSweep's sibling for the PQ family, closing its
    * sweep→pick→deploy loop. `codesPath` is the cell-partitioned
    * read-optimized layout ([[annReadOptimize]]) so the probe's static
    * cell filter prunes the scan. Refuses, naming both identities, when
    * the sweep at `sweepPath` was measured under a DIFFERENT coarse
    * quantizer or codebook than the deployed pair (EtlCli.sweepIvfPq
    * stamps both; residual-ADC recall depends on the pair, so a
    * retrain-ivfpq invalidates every older sweep), and when the deployed
    * (centroids, codebook) pair itself mismatches. The chosen depth
    * rides the output as an `n_probe` column. m infers from the
    * codebook. */
  def ivfPqProbeWithSweep(spark: org.apache.spark.sql.SparkSession,
                          codesPath: String, centroidsPath: String,
                          codebookPath: String, sweepPath: String,
                          queries: DataFrame, idCol: String, vecCol: String,
                          minRecall: Double, k: Int): DataFrame = {
    val cent = EtlCli.readTable(spark, centroidsPath)
    val cb = EtlCli.readTable(spark, codebookPath)
    requirePairedCodebook(cent, cb, centroidsPath, codebookPath)
    val Seq(nProbe) = deployedKnobs(spark, SweepFamily.ivf, sweepPath, minRecall,
      centroidIdentity(cent, centroidsPath),
      graft.operators.Similarity.codebookIdentity(cb) -> s"the codebook at $codebookPath")
    val m = cb.agg(max(col("sub").cast("int"))).collect().head.getInt(0) + 1
    graft.operators.Similarity.ivfPqResidualProbeIndex(spark,
        EtlCli.resolveDataDir(spark, codesPath), queries, idCol, vecCol,
        cent, cb.drop("quantizer_id"), m, nProbe, k)
      .withColumn("n_probe", lit(nProbe))
  }

  /** The (centroids, codebook) PAIR-binding guard: a residual codebook is
    * trained against ONE quantizer (codes encode v - centroid[cell]), so
    * deploying retrained centroids with a stale codebook — or vice versa
    * — encodes garbage codes with no error anywhere downstream. Codebooks
    * stamped by `EtlCli.retrainIvfPq` carry the identity of the quantizer
    * they were trained under; a mismatch against the deployed centroids
    * refuses loudly, naming both. Legacy unstamped codebooks pass
    * unchecked (same posture as the sweep stamps). */
  private def requirePairedCodebook(cent: DataFrame, cb: DataFrame,
                                    centroidsPath: String,
                                    codebookPath: String): Unit =
    EtlCli.requireStamp(cb, "quantizer_id",
      graft.operators.Similarity.quantizerIdentity(cent),
      s"codebook at $codebookPath was trained against quantizer",
      s"the centroids at $centroidsPath",
      "retrain-ivfpq moves centroids and codebook together; encoding " +
        "against a mismatched pair would store garbage codes silently")

  /** Streaming ANN-index sink — the ANN analog of incrementalDedupSink:
    * each micro-batch of (idCol, vecCol) embeddings encodes against the
    * PERSISTED coarse centroids + residual PQ codebook (map-only: in-row
    * argmin cell assignment + in-row code argmin — no retraining, no
    * shuffle) and appends its (cid, cell, codes) as its own epoch
    * partition of the codes table: O(|batch|) compute AND commit I/O per
    * increment.
    *
    * `centroidsPath`/`codebookPath` hold the day-0 artifacts
    * (Similarity.coarseCentroids + ivfPqResidualBuild's codebook,
    * committed via EtlCli.writeTable). They are pinned by design:
    * re-deriving hash-rank seeds over the grown corpus would shift the
    * seed set and silently invalidate every stored cell assignment —
    * retrain and re-encode explicitly when the quantizer should move.
    * "When" is a measurement, not a guess: quantizerDriftStats against
    * the day-0 baseline instruments this family's pinned centroids the
    * same way binaryIvfIndexSinkWithDrift instruments the binary one.
    *
    * Replay safety: codes are a pure function of (centroids, codebook,
    * vector), so a replayed batch re-appends ITS OWN epoch idempotently
    * (appendEpoch replaces that one epoch) — at-least-once delivery
    * yields exactly-once table state with no replay anti-join. Vector
    * ids are assumed unique across batches (the embedding pipeline's
    * contract); a violation yields duplicate rows with IDENTICAL codes,
    * never divergent ones.
    */
  def annIndexSink(incoming: DataFrame, idCol: String, vecCol: String,
                   centroidsPath: String, codebookPath: String, codesPath: String,
                   checkpointDir: String, m: Int): StreamingQuery =
    eachBatch(incoming, checkpointDir) { (batch, batchId) =>
      encodeAnnEpoch(batch, batchId, idCol, vecCol, centroidsPath,
        codebookPath, codesPath, m)
    }

  /** annIndexSink's encode body: refuse a mismatched (centroids,
    * codebook) pair, then encode the batch's residual codes and append
    * them as epoch `batchId`. Returns the centroids, the codebook and the
    * batch vectors it encoded. */
  private def encodeAnnEpoch(batch: DataFrame, batchId: Long, idCol: String,
                             vecCol: String, centroidsPath: String,
                             codebookPath: String, codesPath: String,
                             m: Int): (DataFrame, DataFrame, DataFrame) = {
    val spark = batch.sparkSession
    val cent = EtlCli.readTable(spark, centroidsPath)
    val cb = EtlCli.readTable(spark, codebookPath)
    requirePairedCodebook(cent, cb, centroidsPath, codebookPath)
    val vecs = batch.select(col(idCol), col(vecCol))
    EtlCli.appendEpoch(
      graft.operators.Similarity.ivfPqResidualEncode(vecs, idCol, vecCol, cent, cb, m),
      codesPath, batchId)
    (cent, cb, vecs)
  }

  /** annIndexSink plus the decay instrument the pinned (centroids,
    * codebook) PAIR demands — the IVF-PQ sibling of
    * [[binaryIvfIndexSinkWithDrift]]: each epoch also appends one
    * codebookDriftStats row (this batch vs the persisted day-0 baseline
    * at `baselinePath`) to the epoch-partitioned log at `driftLogPath`.
    * Beyond the occupancy/coarse-error axes the report carries
    * `resid_ratio`: mean residual ADC error vs baseline — the decay mode
    * PQ uniquely has (residual directions rotating off the trained
    * codebook degrade reconstruction while both coarse axes stay
    * quiet). Ingest never blocks on an alarm; `EtlCli.checkDrift`
    * surfaces alarmed epochs on the monitor cadence. A retrain here must
    * move centroids AND codebook and re-encode the codes table — the
    * codebook is trained on residuals against the old centroids, so the
    * invalidation cascades (see the codebookDriftStats scaladoc).
    * Replay-idempotent for the same reason as every drift row: a pure
    * function of (baseline, centroids, codebook, batch). */
  def annIndexSinkWithDrift(incoming: DataFrame, idCol: String, vecCol: String,
                            centroidsPath: String, codebookPath: String,
                            codesPath: String, checkpointDir: String, m: Int,
                            baselinePath: String, driftLogPath: String,
                            maxTvd: Double, maxQerrRatio: Double,
                            maxResidRatio: Double): StreamingQuery =
    eachBatch(incoming, checkpointDir) { (batch, batchId) =>
      val (cent, cb, vecs) = encodeAnnEpoch(batch, batchId, idCol, vecCol,
        centroidsPath, codebookPath, codesPath, m)
      EtlCli.appendEpoch(
        graft.operators.Similarity.codebookDriftStats(
            EtlCli.readTable(batch.sparkSession, baselinePath), vecs,
            vecCol, cent, cb, m, maxTvd, maxQerrRatio, maxResidRatio)
          .withColumn("epoch", lit(batchId)),
        driftLogPath, batchId)
    }

  /** Streaming count-min sketch maintenance: each micro-batch appends its
    * own (j, bucket, cnt) partial cells as ITS epoch partition; the live
    * sketch is the cell-wise sum over epochs (readCmsSketch). CMS cells
    * are additive, so per-epoch partials ARE the merge — commit I/O per
    * batch is the constant sketch size (depth x width rows), prior epochs
    * never rewrite, and epoch compaction folds history behind the
    * fencepost exactly like the other ingest tables.
    *
    * Replay safety: cells are a pure deterministic function of the batch
    * alone (no read-modify-write), so a replayed batch re-appends ITS OWN
    * epoch idempotently — at-least-once delivery, exactly-once cells,
    * with no replay guard needed. */
  def cmsSketchSink(incoming: DataFrame, textCol: String, sketchPath: String,
                    checkpointDir: String, depth: Int, width: Int): StreamingQuery =
    eachBatch(incoming, checkpointDir) { (batch, batchId) =>
      val toks = batch.select(explode(split(col(textCol), " ")).as("t"))
      EtlCli.appendEpoch(
        graft.operators.Sketches.cmsSketch(toks, "t", depth, width),
        sketchPath, batchId)
    }

  /** The live sketch: cell-wise sum of every committed epoch's partials
    * (same result as one batch-mode sketch over everything ingested). */
  def readCmsSketch(spark: org.apache.spark.sql.SparkSession,
                    sketchPath: String): DataFrame =
    EtlCli.readEpochTable(spark, sketchPath)
      .groupBy(col("j"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))

  /** Streaming PACKED EXPORT — the training-data delivery end of the
    * ingest loop: each micro-batch of curated documents packs into
    * fixed-token-budget sequences (Export.packAssignments — hash-sharded
    * FFD by token weight, deterministic) and appends its assignments
    * (key, shard, n_tokens, pack) as epoch=batchId. A trainer consumes
    * epoch by epoch: every increment ships complete, budget-respecting
    * packs of ITS OWN docs, prior epochs never rewrite — the incremental
    * shape a 100 TB continuous-export pipeline needs (cross-epoch
    * repacking would rewrite history for marginal fill gains).
    *
    * Replay safety: assignments are a pure function of the batch alone
    * (shard = hash(key), cum ordered by key within shard), so a replayed
    * batch re-appends ITS OWN epoch idempotently — same contract as the
    * sketch sinks. */
  def packedExportSink(incoming: DataFrame, keyCol: String, textCol: String,
                       packPath: String, checkpointDir: String,
                       nShards: Int, budget: Int): StreamingQuery =
    eachBatch(incoming, checkpointDir) { (batch, batchId) =>
      EtlCli.appendEpoch(
        graft.operators.Export.packAssignments(
          batch.select(col(keyCol), col(textCol)), keyCol, textCol,
          nShards, budget),
        packPath, batchId)
    }

  /** Streaming HyperLogLog maintenance — the distinct-count sibling of
    * cmsSketchSink/bloomSketchSink, completing the mergeable-sketch sink
    * family: each micro-batch appends ITS OWN (groupCols..., j, r)
    * register partials over the batch's values as epoch=batchId; the live
    * registers are the per-(group, j) MAX over epochs (readHllRegisters),
    * which is exactly the HLL merge — so streamed registers are
    * bit-identical to one batch-mode hllRegisters over everything
    * ingested. Commit I/O per batch is bounded by m=256 registers per
    * group; replay is idempotent for the same reason as the other sketch
    * sinks (partials are a pure function of the batch alone). */
  def hllSketchSink(incoming: DataFrame, value: org.apache.spark.sql.Column,
                    groupCols: Seq[String], hllPath: String,
                    checkpointDir: String): StreamingQuery =
    eachBatch(incoming, checkpointDir) { (batch, batchId) =>
      EtlCli.appendEpoch(
        graft.operators.Sketches.hllRegisters(batch, value, groupCols),
        hllPath, batchId)
    }

  /** The live registers: per-(group, j) MAX over every committed epoch's
    * partials — feed straight into Sketches.hllEstimate /
    * hllEstimateCorrected. */
  def readHllRegisters(spark: org.apache.spark.sql.SparkSession,
                       hllPath: String, groupCols: Seq[String]): DataFrame =
    EtlCli.readEpochTable(spark, hllPath)
      .groupBy((groupCols :+ "j").map(col): _*)
      .agg(max(col("r")).as("r"))

  /** Streaming Bloom-filter maintenance — the membership sibling of
    * cmsSketchSink, for the seen-set that outgrows an exact broadcast (a
    * year of benchmark grams; every ingested content hash): each
    * micro-batch appends ITS OWN partial filter (word, bits) over the
    * batch's distinct word n-grams as epoch=batchId; the live filter is
    * the per-word bit_or over epochs (readBloomFilter). Filters over any
    * input split merge to the whole-input filter by bit_or (PropertySpec's
    * bloom law), so per-epoch partials ARE the merge — commit I/O per
    * batch is the constant filter size (≤ mBits/62 rows), prior epochs
    * never rewrite, and epoch compaction folds history behind the
    * fencepost like every other ingest table.
    *
    * Replay safety: a batch's partial filter is a pure deterministic
    * function of the batch alone, so a replayed batch re-appends ITS OWN
    * epoch idempotently — at-least-once delivery, exactly-once bits, no
    * replay guard needed. */
  def bloomSketchSink(incoming: DataFrame, textCol: String, bloomPath: String,
                      checkpointDir: String, mBits: Int, k: Int,
                      gramN: Int): StreamingQuery =
    eachBatch(incoming, checkpointDir) { (batch, batchId) =>
      val grams = batch.select(explode(
        graft.plans.GraftFunctions.word_gram_set(col(textCol), gramN)).as("gram"))
        .distinct()
      EtlCli.appendEpoch(
        graft.operators.Sketches.bloomBuild(grams, col("gram"), mBits, k),
        bloomPath, batchId)
    }

  /** The live filter: per-word bit_or of every committed epoch's partial
    * filters (bit-identical to one batch-mode bloomBuild over everything
    * ingested). */
  def readBloomFilter(spark: org.apache.spark.sql.SparkSession,
                      bloomPath: String): DataFrame =
    EtlCli.readEpochTable(spark, bloomPath)
      .groupBy(col("word"))
      .agg(expr("bit_or(bits)").as("bits"))

  /** Streaming bottom-k sample maintenance — the quantile/sample sibling
    * completing the sketch-sink family (CMS sum / HLL max / bloom bit_or /
    * KMV bottom-k): each micro-batch appends ITS OWN per-group bottom-k
    * hash-rank partial as epoch=batchId; the live sample is the bottom-k
    * re-rank over epochs (readKmvSample), which is exactly the KMV merge —
    * bottom-k of a union == bottom-k of the union of per-part bottom-k's,
    * so streamed samples are bit-identical to one batch-mode
    * bottomKSample over everything ingested. Commit I/O per batch is at
    * most k rows per group; replay is idempotent for the same reason as
    * the other sketch sinks (partials are a pure function of the batch
    * alone; ids are assumed unique across batches — the ingest contract). */
  def kmvSampleSink(incoming: DataFrame, idCol: String, valueCol: String,
                    groupCols: Seq[String], samplePath: String,
                    checkpointDir: String, k: Int): StreamingQuery =
    eachBatch(incoming, checkpointDir) { (batch, batchId) =>
      EtlCli.appendEpoch(
        graft.operators.Sketches.bottomKSample(batch, idCol, valueCol, groupCols, k),
        samplePath, batchId)
    }

  /** The live sample: bottom-k re-rank over every committed epoch's
    * partials — feed straight into Sketches.sampleQuantiles. The
    * downward-only merge law (requested k <= the partials' build k) is
    * enforced by mergeBottomK itself via the `__kmv_k` stamp every
    * bottomKSample partial carries. */
  def readKmvSample(spark: org.apache.spark.sql.SparkSession,
                    samplePath: String, idCol: String,
                    groupCols: Seq[String], k: Int): DataFrame =
    graft.operators.Sketches.mergeBottomK(
      EtlCli.readEpochTable(spark, samplePath).drop("epoch"),
      idCol, groupCols, k)
      .drop("__kmv_k")
}
