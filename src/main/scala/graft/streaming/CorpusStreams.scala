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

  // ---- incremental k-NN graph maintenance ------------------------------
  // The graph was the one committed artifact a daily-ingest corpus could
  // only maintain by O(corpus) rebuild (EtlCli knn-graph). This sink
  // extends it per micro-batch via Similarity.nnDescentExtend — O(batch)
  // candidate generation against the committed LSH buckets + edges —
  // under the sub-layout at `graphPath`:
  //
  //   nodes/    epoch table (idCol, vecCol)        — the covered corpus
  //   graph/    epoch table (idCol, nid, cosine, rank, nid_bucket,
  //             src_bucket) — FULL replacement neighborhoods of the
  //             nodes each batch touched; the read view is
  //             latest-epoch-per-node ([[readKnnGraph]])
  //   identity/ versioned 1-row (corpus_id, last_epoch, k, n_bits,
  //             ring_version) — the stale-graph guard, maintained by
  //             O(batch) XOR fold; the build knobs and ring formula
  //             version are graph-lifetime identity
  //   quality/  epoch log (n_edges, n_nodes, mean_cosine,
  //             max_bucket_members_fine, epoch) — the monitor's trend
  //             instrument + the per-batch candidate-bound skew axis
  //   occupancy/ epoch log (epoch, max_bucket_members_fine,
  //             max_bucket_members_coarse) — the full-corpus skew axes,
  //             one row per [[knnGraphCompact]]
  //   nodes_opt/ graph_opt/ — the sink's READ-OPTIMIZED layouts
  //             ([[knnGraphCompact]]): self-describing latest-copy folds
  //             of nodes/ and graph/, partitioned so the per-batch reads
  //             PRUNE files (nodes_opt by (coarse LSH bucket, id-hash);
  //             graph_opt by the source node's coarse bucket). Without
  //             them every batch scans every committed byte map-only —
  //             the I/O-layout gap at 100 TB.
  //
  // Unlike the sign/code sinks the result is NOT bit-equal to a
  // from-scratch build (NN-descent is iterative; insertion order
  // matters), so the acceptance contract is a measured QUALITY RATIO vs
  // the batch build — spec-asserted on the fixture, trended in
  // production via quality/ — plus replay idempotence (each epoch is a
  // pure function of the committed state before it).

  private def graphNodesPath(graphPath: String) = s"$graphPath/nodes"
  private def graphEdgesPath(graphPath: String) = s"$graphPath/graph"
  private def graphIdentityPath(graphPath: String) = s"$graphPath/identity"
  private def graphQualityPath(graphPath: String) = s"$graphPath/quality"
  private def graphNodesOptPath(graphPath: String) = s"$graphPath/nodes_opt"
  private def graphEdgesOptPath(graphPath: String) = s"$graphPath/graph_opt"
  private def graphSeenIdsPath(graphPath: String) = s"$graphPath/seen_ids"

  // seen-ids bloom sidecar: one OR-mergeable partial per epoch over the
  // batch's node ids. The identity fold's superseded-copy lookup probes
  // it BEFORE touching the nodes layout — an append-mostly batch (no
  // re-ingested ids) then skips the corpus read entirely, and a re-ingest
  // batch reads only the possibly-known ids' hash partitions. False
  // positives cost an extra bucket read, never a wrong fold (the lookup
  // still joins on actual ids); false negatives cannot happen, which is
  // the property the fold's correctness rides on — so the words are used
  // ONLY when the committed entries cover every node epoch < the batch
  // (see seenIdsState: gaps heal from the node log, uncoverable state
  // degrades to the full lookup, never to a missed membership).
  //
  // Width is CORPUS-DERIVED, not a constant: chosen at bootstrap from
  // the bootstrap batch with ~10x growth headroom, re-chosen by
  // knnGraphCompact from the actual folded corpus, and recorded per row
  // (m_bits) so mixed widths stay safe across the transition. Beyond
  // GraphSeenIdsMaxBits the filter saturates gracefully (fp -> 1 = the
  // pre-bloom full lookup), never corrupts.
  private[graft] val GraphSeenIdsMinBits = 62 * 8192        // ~508 Kbit
  private[graft] val GraphSeenIdsMaxBits = 62 * (1 << 21)   // ~130 Mbit (16 MB words)
  private[graft] val GraphSeenIdsBitsPerId = 96L            // fp ~1.4% at 10x growth
  private val GraphSeenIdsHashes = 4

  /** The sidecar width for an `n`-id corpus: ~[[GraphSeenIdsBitsPerId]]
    * bits per id (enough headroom that a corpus 10x the estimate still
    * probes at ~9.6 bits/id, fp ~1.4% with 4 hashes), clamped to
    * [Min, Max] and packed to 62-bit words. */
  private[graft] def graphSeenIdsBitsFor(n: Long): Int = {
    // overflow-safe: compare by division before multiplying
    val want =
      if (n >= GraphSeenIdsMaxBits.toLong / GraphSeenIdsBitsPerId)
        GraphSeenIdsMaxBits.toLong
      else math.max(GraphSeenIdsMinBits.toLong, n * GraphSeenIdsBitsPerId)
    (((want + 61) / 62) * 62).toInt
  }

  /** Committed seen-ids state for the batch about to commit as `batchId`:
    * (width, words). `words` is Some ONLY when the entries at the chosen
    * width COVER every node epoch < batchId — a gap would be a false
    * NEGATIVE (a superseded copy never XOR-removed drifts corpus_id
    * permanently, and requireKnnGraphCurrent then refuses genuinely
    * current consumers forever), so coverage is verified against the node
    * log, and missing epochs are HEALED by rebuilding their partial from
    * the node log first (a partial is a pure function of that epoch's
    * committed batch, so healing is replay-idempotent). The crash window
    * this closes: the sidecar append runs after the identity write and
    * outside the last_epoch fencepost by design, so a batch-mode crash
    * between the two left a permanent per-epoch gap the old
    * epochs-exist check never saw.
    *
    * Entry model: each epoch slot holds rows (word, bits, m_bits,
    * covers_through); covers_through null = a partial covering
    * exactly its own epoch, C = a compaction fold covering ALL node
    * epochs <= C (knnGraphCompact writes it, sharing the slot with the
    * original partial so neither width loses coverage). Width choice is
    * the newest fold's width (corpus-fit by construction), else the
    * newest entry's, else derived from the committed corpus (a graph
    * that crashed before its first sidecar append pays one O(corpus)
    * heal and gets the fast path for life). Entries from epochs/folds
    * AHEAD of batchId (an async compaction seen by a replay) are safe to
    * fold in: extra bits only add false POSITIVES, which cost a pruned
    * lookup of ids the committed-state join then drops. */
  private[graft] def seenIdsState(spark: org.apache.spark.sql.SparkSession,
                                  graphPath: String, idCol: String,
                                  prior: Seq[Long], batchId: Long,
                                  bootstrap: Boolean,
                                  bootstrapN: => Long): (Int, Option[Array[Long]]) = {
    val seenP = graphSeenIdsPath(graphPath)
    // a true bootstrap (nothing committed) starts a fresh zero filter; an
    // empty PRIOR alone does not — a fully-vacuumed graph has no raw
    // epochs but its fold entries below are the committed membership
    if (bootstrap) {
      val w = graphSeenIdsBitsFor(bootstrapN)
      return (w, Some(new Array[Long](w / 62)))
    }
    val es0 = seenIdsEntries(spark, graphPath)
    val w: Long = es0.filter(_._3.isDefined)
      .sortBy(e => (e._3.get, e._2)).lastOption.map(_._2)
      .orElse(es0.sortBy(e => (e._1, e._2)).lastOption.map(_._2))
      .getOrElse {
        val n = nodesRawBefore(spark, graphPath, batchId)
          .select(col(idCol)).distinct().count()
        graphSeenIdsBitsFor(n).toLong
      }
    val need = prior.toSet
    def covered(es: Seq[(Long, Long, Option[Long])]): Set[Long] = {
      val at = es.filter(_._2 == w)
      val foldThrough = at.flatMap(_._3).maxOption.getOrElse(Long.MinValue)
      need.filter(e => e <= foldThrough ||
        at.exists(en => en._3.isEmpty && en._1 == e))
    }
    val missing = (need -- covered(es0)).toSeq.sorted
    missing.foreach { e =>
      val part = graft.operators.Sketches.bloomBuild(
          EtlCli.readTable(spark, s"${graphNodesPath(graphPath)}/epoch=$e")
            .select(col(idCol)),
          col(idCol).cast("string"), w.toInt, GraphSeenIdsHashes)
        .withColumn("m_bits", lit(w))
        .withColumn("covers_through", lit(null).cast("long"))
      // preserve the slot's rows at OTHER widths (coverage per width)
      val keep = scala.util.Try(
          EtlCli.readTable(spark, s"$seenP/epoch=$e")).toOption
        .map(_.filter(col("m_bits") =!= lit(w)))
      EtlCli.appendEpoch(keep.fold(part)(part.unionByName(_)), seenP, e)
    }
    val es1 = if (missing.isEmpty) es0 else seenIdsEntries(spark, graphPath)
    if ((need -- covered(es1)).nonEmpty) (w.toInt, None)
    else (w.toInt, Some(graft.operators.Sketches.bloomWords(
      EtlCli.readEpochTableTagged(spark, seenP)
        .filter(col("m_bits").cast("long") === lit(w))
        .groupBy(col("word")).agg(expr("bit_or(bits)").as("bits")),
      w.toInt)))
  }

  /** The committed seen-ids entries as (epoch, m_bits, covers_through),
    * one row per entry (bounded metadata); empty before the first sidecar
    * append. */
  private def seenIdsEntries(spark: org.apache.spark.sql.SparkSession,
                             graphPath: String): Seq[(Long, Long, Option[Long])] =
    scala.util.Try(EtlCli.readEpochTableTagged(spark, graphSeenIdsPath(graphPath)))
      .toOption.toSeq
      .flatMap(_.select(col("__epoch"), col("m_bits").cast("long"),
          col("covers_through").cast("long"))
        .distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))))

  /** RAW node rows of epochs < `before`, `__epoch`-tagged, possibly
    * several copies of a re-ingested id — deliberately NOT deduped: a
    * per-batch corpus-wide groupBy is the O(corpus) shuffle the
    * incremental path exists to avoid, and nnDescentExtend dedupes after
    * its broadcast-bounded filters instead. */
  private def nodesRawBefore(spark: org.apache.spark.sql.SparkSession,
                             graphPath: String, before: Long): DataFrame =
    EtlCli.readEpochTableTagged(spark, graphNodesPath(graphPath))
      .filter(col("__epoch") < before)

  /** Fold the graph's append-only logs into the SINK's read-optimized
    * layouts — the maintenance move that makes the incremental
    * extension's per-batch reads prune files instead of scanning every
    * committed byte (the `binaryIvfReadOptimize` posture, applied to the
    * graph family):
    *
    *  - `nodes_opt/`: latest copy per id of nodes/, partitioned by
    *    (`bucket`, `id_bucket`) — the coarse sign-LSH bucket
    *    ([[graft.operators.Similarity.nnDescentCoarseBits]] of the
    *    committed nBits; a bit-projection of the fine bucket, so ONE
    *    layout serves the mate scan at both ring granularities) and the
    *    id-hash partition (the superseded-copy lookup axis). Each row
    *    keeps its origin `epoch` so latest-wins dedupes exactly against
    *    the raw tail.
    *  - `graph_opt/`: latest neighborhood per node of graph/,
    *    partitioned by `src_bucket` (the source node's current-vector
    *    coarse bucket, carried on every committed edge row) — the
    *    `latestHoods` lookup axis. Lossless by the layout invariant: a
    *    re-ingest that moves a node's bucket recomputes its hood in the
    *    same epoch, so a lookup keyed on the current vector's bucket
    *    always lands on the hood's partition.
    * Each table is SELF-DESCRIBING: its `covered_epoch` (and the nodes
    * layout's `id_hash_buckets` fan-out) ride every row, committed
    * atomically WITH the data by the versioned protocol. An earlier
    * design kept them in a separate meta table written last — which
    * opened a replay hole: a compactor crash between the data and meta
    * writes leaves opt DATA ahead of the recorded covered epoch, so a
    * checkpoint replay of an old batch (gated only on the stale meta)
    * would read FUTURE state through the bucket scans. With the covered
    * epoch in-row, each reader gates on exactly the fold generation it
    * is holding; the only crash window (between the two table writes)
    * leaves two self-consistent tables of different generations, which
    * the per-table gates handle independently.
    *
    * Safe against a concurrently-running sink exactly like compactEpochs:
    * only epochs committed at fold time are covered, newer epochs stay
    * visible through the raw tail, and a checkpoint-replayed epoch <=
    * covered makes readers fall back to the raw log (the fold holds
    * LATER state than the replay is allowed to see). A reader facing a
    * foreign id_hash_buckets fan-out skips id-hash pruning (superset)
    * rather than pruning wrong. This fold writes SEPARATE tables and
    * never moves the compaction-unsafe markers planted on nodes/ and
    * graph/; it is INCREMENTAL (the previous fold unions in as base
    * state), which is what lets [[vacuumKnnGraph]] reclaim fold-covered
    * raw epochs afterwards — the raw tail then exists only for replays
    * past the fencepost and for the next fold's delta. */
  def knnGraphCompact(spark: org.apache.spark.sql.SparkSession,
                      graphPath: String): Unit = {
    import graft.operators.Similarity
    import org.apache.spark.sql.expressions.Window
    val nodesP = graphNodesPath(graphPath)
    val edgesP = graphEdgesPath(graphPath)
    val nodeEpochs = EtlCli.committedEpochs(spark, nodesP)
    require(nodeEpochs.nonEmpty,
      s"no committed graph epochs at $graphPath — nothing to compact")
    val nBits = scala.util.Try(
        EtlCli.readTable(spark, graphIdentityPath(graphPath))
          .select(col("n_bits").cast("int")).collect().headOption)
      .toOption.flatten
      .getOrElse(sys.error(s"graph at $graphPath has no identity row — " +
        "the bucket granularity is derived from the committed n_bits; " +
        "let a commit finish before compacting"))
      .getInt(0)
    val coarse = Similarity.nnDescentCoarseBits(nBits)
    // ONE consistent snapshot per log: fold only epochs committed by the
    // listing that defined `covered` (the compactEpochs discipline).
    // INCREMENTAL: the previous fold is unioned in (tagged by each row's
    // origin epoch) — after vacuum-knn-graph reclaims fold-covered raw
    // epochs, the previous fold IS the only copy of that state; before
    // any vacuum the union merely duplicates rows the latest-wins dedupe
    // resolves to the same answer.
    val (prevN, prevE) = knnGraphFoldCovered(spark, graphPath)
    val coveredN = math.max(nodeEpochs.max, prevN.getOrElse(Long.MinValue))
    // fold-covered raw epochs are EXCLUDED from the union, not deduped
    // after: the fold already holds their latest state, and keeping both
    // would duplicate same-epoch rows past the latest-wins window
    val rawNodes = EtlCli.readEpochTableTagged(spark, nodesP)
      .filter(col("__epoch") <= coveredN &&
        col("__epoch") > prevN.getOrElse(Long.MinValue))
    val Array(idCol, vecCol) = rawNodes.columns.filterNot(_ == "__epoch")
    val nodesRaw = prevN.fold(rawNodes)(_ => rawNodes.unionByName(
      EtlCli.readTable(spark, graphNodesOptPath(graphPath))
        .select(col(idCol), col(vecCol), col("epoch").as("__epoch"))))
    // pinned: the plan reads the PREVIOUS nodes fold, and writing the new
    // fold prunes that version — every later re-execution (the occupancy
    // stats, the seen-ids fold) must run off materialized rows, not the
    // deleted files
    val latestNodes = graft.core.Materialize.pin(nodesRaw.groupBy(col(idCol))
      .agg(max_by(struct(col(vecCol).as("v"), col("__epoch").as("e")),
        struct(col("__epoch"), col(vecCol))).as("__s"))
      .select(col(idCol), col("__s.v").as(vecCol), col("__s.e").as("epoch")))
    // second layout level: a fine_bucket COLUMN, sorted within each
    // (bucket, id_bucket) partition's files so a fine-bucket filter
    // prunes parquet ROW GROUPS — the fine-first mate scan's bytes then
    // track the batch's fine buckets (~targetBucketSize each), not the
    // ~sqrt(n) coarse occupancy. A directory level per fine bucket would
    // be 2^nBits leaf dirs at corpus scale; the sort order buys the same
    // skip without the listing bill.
    EtlCli.writeTable(
      latestNodes
        .withColumn("bucket", Similarity.signLshBucketCol(col(vecCol), coarse))
        .withColumn("fine_bucket",
          Similarity.signLshBucketCol(col(vecCol), nBits))
        .withColumn("id_bucket",
          Similarity.GraphStateReaders.idHash(col(idCol)))
        .withColumn("covered_epoch", lit(coveredN))
        .withColumn("id_hash_buckets",
          lit(Similarity.GraphStateReaders.IdHashBuckets))
        .repartition(col("bucket"), col("id_bucket"))
        .sortWithinPartitions(col("bucket"), col("id_bucket"),
          col("fine_bucket")),
      graphNodesOptPath(graphPath), partitionBy = Seq("bucket", "id_bucket"))
    // full-corpus ring occupancy at BOTH granularities — free while the
    // fold holds every latest vector, and the COARSE axis's only home
    // now that the per-batch quality row measures the fine ring only
    // (the per-batch coarse read would re-widen the byte bill the
    // fine-first extension just shed)
    val fMax = latestNodes
      .groupBy(Similarity.signLshBucketCol(col(vecCol), nBits))
      .agg(countDistinct(col(idCol)).as("n")).agg(max(col("n")))
      .collect().head.getLong(0)
    val cMax = latestNodes
      .groupBy(Similarity.signLshBucketCol(col(vecCol), coarse))
      .agg(countDistinct(col(idCol)).as("n")).agg(max(col("n")))
      .collect().head.getLong(0)
    locally {
      import spark.implicits._
      EtlCli.appendEpoch(
        Seq((coveredN, fMax, cMax)).toDF("epoch",
          "max_bucket_members_fine", "max_bucket_members_coarse"),
        s"$graphPath/occupancy", coveredN)
    }
    val edgeEpochs = EtlCli.committedEpochs(spark, edgesP)
    require(edgeEpochs.nonEmpty,
      s"graph at $graphPath has committed nodes but no committed " +
        "neighborhood epochs (a half-committed bootstrap) — replay the " +
        "crashed commit (extend-knn-graph / restart the sink) before " +
        "compacting")
    val coveredE = math.max(edgeEpochs.max, prevE.getOrElse(Long.MinValue))
    val rawEdges = EtlCli.readEpochTableTagged(spark, edgesP)
      .filter(col("__epoch") <= coveredE &&
        col("__epoch") > prevE.getOrElse(Long.MinValue))
    val edgesRaw = prevE.fold(rawEdges)(_ => rawEdges.unionByName(
      EtlCli.readTable(spark, graphEdgesOptPath(graphPath))
        .drop("covered_epoch").withColumnRenamed("epoch", "__epoch")))
    val w = Window.partitionBy(col(idCol))
    val latestEdges = edgesRaw
      .withColumn("__m", max(col("__epoch")).over(w))
      .filter(col("__epoch") === col("__m")).drop("__m")
      .withColumnRenamed("__epoch", "epoch")
      .withColumn("covered_epoch", lit(coveredE))
    EtlCli.writeTable(latestEdges, graphEdgesOptPath(graphPath),
      partitionBy = Seq("src_bucket"))
    // Re-choose the seen-ids sidecar width from the ACTUAL corpus and
    // fold the whole filter into one covers_through entry: the bootstrap
    // estimate ages as the graph grows, and a saturated filter silently
    // costs the full lookup every batch. The fold shares the coveredN
    // epoch slot with the original partial (other-width rows kept) so no
    // width loses coverage; partials <= coveredN become redundant at the
    // new width and are vacuum fodder, not correctness state. ids never
    // leave the corpus (re-ingest supersedes in place), so the distinct
    // ids through coveredN are exactly latestNodes'.
    val seenW = graphSeenIdsBitsFor(latestNodes.count())
    val seenFold = graft.operators.Sketches.bloomBuild(
        latestNodes.select(col(idCol)), col(idCol).cast("string"),
        seenW, GraphSeenIdsHashes)
      .withColumn("m_bits", lit(seenW.toLong))
      .withColumn("covers_through", lit(coveredN))
    val seenKeep = scala.util.Try(
        EtlCli.readTable(spark, s"${graphSeenIdsPath(graphPath)}/epoch=$coveredN"))
      .toOption.map(_.filter(col("m_bits") =!= lit(seenW.toLong)))
    EtlCli.appendEpoch(seenKeep.fold(seenFold)(seenFold.unionByName(_)),
      graphSeenIdsPath(graphPath), coveredN)
    log.info(s"graph at $graphPath compacted: nodes_opt through epoch " +
      s"$coveredN (bucket granularity $coarse bits), graph_opt through " +
      s"epoch $coveredE, seen-ids folded at $seenW bits")
  }

  /** Reclaim the graph's fold-covered raw epochs — the move that stops
    * nodes/ and graph/ growing forever (daily batches at corpus scale
    * compound listing and storage cost without bound; the folds already
    * hold the latest state, the raw tail exists only for replays and the
    * next incremental fold).
    *
    * Deletes raw epochs <= V where V = min(nodes fold covered, edges
    * fold covered, seen-ids fold covers_through, the replay fencepost).
    * The fencepost is the streaming checkpoint's max committed batch when
    * `checkpointDir` is given (the stream can replay any batch after its
    * committed offset, and a replay whose epoch a fold already covers
    * reads the RAW tail — per-table gating in graphStateReaders — so
    * nothing at or below a possible replay's view may go); for a
    * CLI-maintained graph (no checkpoint) every fully-committed epoch is
    * final — the CLI only ever replays a half-committed max epoch, which
    * is refused below. A STREAMING graph's owner must pass the
    * checkpoint; vacuuming one without it forfeits exactly the replay
    * the checkpoint would have demanded.
    *
    * Refusals (matching the vacuumVersions posture — refuse, never guess):
    * no fold / no folded sidecar -> compact first; half-committed max
    * epoch -> replay it first; a fold covering PAST the fencepost -> let
    * the stream commit first (a replay between them needs the raw tail).
    * Returns bytes reclaimed. Idempotent; a crash mid-delete just leaves
    * fewer epochs for the next run. */
  def vacuumKnnGraph(spark: org.apache.spark.sql.SparkSession,
                     graphPath: String,
                     checkpointDir: Option[String] = None): Long = {
    val nodesP = graphNodesPath(graphPath)
    val edgesP = graphEdgesPath(graphPath)
    val seenP = graphSeenIdsPath(graphPath)
    val (prevN, prevE) = knnGraphFoldCovered(spark, graphPath)
    val coveredN = prevN.getOrElse(sys.error(s"graph at $graphPath has " +
      "no nodes fold — run compact-knn-graph first; vacuum reclaims only " +
      "fold-covered epochs"))
    val coveredE = prevE.getOrElse(sys.error(s"graph at $graphPath has " +
      "no edges fold — run compact-knn-graph first"))
    val seenEntries = seenIdsEntries(spark, graphPath)
    val seenCover = seenEntries.flatMap(_._3).maxOption.getOrElse(
      sys.error(s"graph at $graphPath has no folded seen-ids sidecar — " +
        "re-run compact-knn-graph (a compaction that crashed before its " +
        "sidecar fold leaves none); vacuuming the partials without it " +
        "would blind the superseded-copy fast path"))
    // a half-committed max epoch is the one epoch the CLI itself replays
    EtlCli.committedEpochs(spark, nodesP).maxOption.foreach { n =>
      val graphDone =
        EtlCli.committedEpochs(spark, edgesP).contains(n) || coveredE >= n
      val idDone = scala.util.Try(
        EtlCli.readTable(spark, graphIdentityPath(graphPath))
          .select(col("last_epoch").cast("long"))
          .collect().headOption.exists(_.getLong(0) >= n)).getOrElse(false)
      require(graphDone && idDone, s"epoch $n at $graphPath is " +
        "half-committed — replay it (extend-knn-graph / restart the " +
        "sink) before vacuuming: the replay reads the raw tail this " +
        "vacuum deletes")
    }
    val fencepost: Long = checkpointDir match {
      case Some(d) =>
        val commits = new org.apache.hadoop.fs.Path(s"$d/commits")
        val f = commits.getFileSystem(spark.sessionState.newHadoopConf())
        val ids =
          if (!f.exists(commits)) Seq.empty
          else f.listStatus(commits).toSeq.map(_.getPath.getName)
            .flatMap(_.toLongOption)
        ids.maxOption.getOrElse(sys.error(s"checkpoint at $d has no " +
          "committed batch — nothing is provably beyond replay yet"))
      case None =>
        math.max(
          EtlCli.committedEpochs(spark, nodesP).maxOption
            .getOrElse(Long.MinValue),
          math.max(coveredN, coveredE))
    }
    require(coveredN <= fencepost && coveredE <= fencepost &&
      seenCover <= fencepost,
      s"a fold at $graphPath covers past the replay fencepost $fencepost " +
        "— a replayed batch between them must read the raw tail this " +
        "vacuum deletes; let the stream commit (or pass its checkpoint)")
    val v = Seq(coveredN, coveredE, seenCover, fencepost).min
    def reclaim(path: String, keep: Long => Boolean): Long =
      EtlCli.committedEpochs(spark, path).filter(e => e <= v && !keep(e))
        .map { e =>
          val p = new org.apache.hadoop.fs.Path(s"$path/epoch=$e")
          val f = p.getFileSystem(spark.sessionState.newHadoopConf())
          val bytes = f.getContentSummary(p).getLength
          f.delete(p, true)
          bytes
        }.sum
    // the sidecar slot holding the CURRENT fold survives whatever its
    // epoch number; superseded folds and covered partials go
    val freed = reclaim(nodesP, _ => false) + reclaim(edgesP, _ => false) +
      reclaim(seenP, e => seenEntries.exists(en =>
        en._1 == e && en._3.contains(seenCover)))
    log.info(s"graph at $graphPath vacuumed through epoch $v: " +
      s"$freed bytes reclaimed")
    freed
  }

  /** PRUNED committed-state readers for one epoch commit: the
    * read-optimized layouts filtered by their partition columns, plus the
    * raw epoch tail after each fold's covered epoch. Falls back to the
    * raw logs when no fold exists, when the fold's id-hash fan-out is
    * foreign (filters skipped, superset), or when REPLAYING an epoch the
    * fold already covers (the fold may contain later state than the
    * replay may see — raw honors `< before` exactly). */
  private[graft] def graphStateReaders(
      spark: org.apache.spark.sql.SparkSession, graphPath: String,
      before: Long): graft.operators.Similarity.GraphStateReaders = {
    import graft.operators.Similarity.GraphStateReaders
    // each fold table is gated by ITS OWN in-row covered_epoch (atomic
    // with the data — see knnGraphCompact) so a half-crashed compaction
    // can never make a replay read future state
    def fold(path: String, extra: Seq[String]): Option[(DataFrame, Row)] =
      scala.util.Try {
        val t = EtlCli.readTable(spark, path)
        t.select((col("covered_epoch").cast("long") +: extra.map(c =>
          col(c).cast("long"))): _*).limit(1).collect().headOption.map(t -> _)
      }.toOption.flatten
    def pruned(df: DataFrame, c: String, f: Option[Seq[Long]]): DataFrame =
      f.fold(df)(vs =>
        if (vs.isEmpty) df.limit(0) else df.filter(col(c).isin(vs: _*)))
    // the raw tail may be EMPTY once vacuum-knn-graph has reclaimed every
    // fold-covered epoch — an empty log is then complete state, not an
    // error, and the fold alone serves the read (schema borrowed from the
    // fold frame). The foldless fallbacks still require raw epochs: a
    // graph with neither is simply not committed.
    def tailOr(path: String, shape: DataFrame)(read: => DataFrame): DataFrame =
      if (EtlCli.committedEpochs(spark, path).isEmpty) shape.limit(0)
      else read
    GraphStateReaders(
      nodes = (bucketF, idHashF, fineF) =>
        fold(graphNodesOptPath(graphPath), Seq("id_hash_buckets")) match {
          case Some((t, r)) if r.getLong(0) < before =>
            val idHashOk = r.getLong(1) == GraphStateReaders.IdHashBuckets
            // fine_bucket is the layout's SORT-ORDER second level — a
            // data filter parquet turns into row-group skips
            val opt = pruned(pruned(pruned(t, "fine_bucket", fineF),
                "bucket", bucketF), "id_bucket", if (idHashOk) idHashF else None)
              .drop("bucket", "fine_bucket", "id_bucket", "covered_epoch",
                "id_hash_buckets")
              .withColumnRenamed("epoch", "__epoch")
            opt.unionByName(tailOr(graphNodesPath(graphPath), opt) {
              nodesRawBefore(spark, graphPath, before)
                .filter(col("__epoch") > r.getLong(0))
            })
          case _ => nodesRawBefore(spark, graphPath, before)
        },
      edges = srcBucketF =>
        fold(graphEdgesOptPath(graphPath), Nil) match {
          case Some((t, r)) if r.getLong(0) < before =>
            val opt = pruned(t, "src_bucket", srcBucketF)
              .drop("covered_epoch")
              .withColumnRenamed("epoch", "__epoch")
            opt.unionByName(tailOr(graphEdgesPath(graphPath), opt) {
              EtlCli.readEpochTableTagged(spark, graphEdgesPath(graphPath))
                .filter(col("__epoch") > r.getLong(0) &&
                  col("__epoch") < before)
            })
          case _ =>
            EtlCli.readEpochTableTagged(spark, graphEdgesPath(graphPath))
              .filter(col("__epoch") < before)
        })
  }

  /** covered_epoch of a graph fold table, None when the fold does not
    * exist yet (one-row probe — the value rides every row). */
  private def foldCovered(spark: org.apache.spark.sql.SparkSession,
                          path: String): Option[Long] =
    scala.util.Try(EtlCli.readTable(spark, path)
      .select(col("covered_epoch").cast("long")).limit(1).collect()
      .headOption.map(_.getLong(0))).toOption.flatten

  /** (nodes fold covered, edges fold covered) — the epoch bookkeeping a
    * caller needs to reason about a possibly-vacuumed graph (the raw max
    * alone under-counts once epochs are reclaimed). */
  private[graft] def knnGraphFoldCovered(
      spark: org.apache.spark.sql.SparkSession,
      graphPath: String): (Option[Long], Option[Long]) =
    (foldCovered(spark, graphNodesOptPath(graphPath)),
      foldCovered(spark, graphEdgesOptPath(graphPath)))

  /** The committed live view of an incrementally-maintained k-NN graph:
    * each node's neighborhood from the LAST epoch that touched it
    * (epochs write full replacement neighborhoods, so latest-epoch-wins
    * is exact). Columns (idCol, nid, cosine, rank). This is the READ
    * path — its latest-epoch window is graph-sized, which is fine per
    * consumer read and is exactly what [[knnGraphReadOptimize]] folds
    * away on the compaction cadence; the SINK never calls it (per-batch
    * state is read raw and deduped only after broadcast-bounded
    * filters). Reads fold ∪ raw tail (equivalent to the whole raw log
    * while it exists, and the only complete view after vacuum-knn-graph
    * reclaims fold-covered epochs). */
  def readKnnGraph(spark: org.apache.spark.sql.SparkSession,
                   graphPath: String, idCol: String = "vec_id"): DataFrame = {
    val t = graphStateReaders(spark, graphPath, Long.MaxValue).edges(None)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
    t.withColumn("__m", max(col("__epoch")).over(w))
      .filter(col("__epoch") === col("__m"))
      .select(col(idCol), col("nid"), col("cosine"), col("rank"))
  }

  /** Fold the graph's epoch log into the read-optimized FLAT layout: the
    * latest-per-node view materialized once, stamped with the covered
    * corpus identity as a `corpus_id` column — so batch consumers
    * (EtlCli.mineHardNegatives and anything else going through
    * requireStamp) read one table, refuse staleness, and never pay the
    * per-read latest-epoch window again. THIS is the graph log's
    * compaction move; the generic epoch compaction must never run on
    * `graph/` — it UNIONS epochs, and latest-epoch-wins needs the
    * per-row provenance a union-fold erases (a node touched twice would
    * keep both neighborhoods). Versioned commit, the same
    * write-then-compact split as binaryIvfReadOptimize. */
  def knnGraphReadOptimize(spark: org.apache.spark.sql.SparkSession,
                           graphPath: String, outPath: String): Unit = {
    val sample = graphStateReaders(spark, graphPath, Long.MaxValue).edges(None)
    val idCol = sample.columns
      .filterNot(Set("nid", "cosine", "rank", "nid_bucket", "src_bucket",
        "epoch", "__epoch")).headOption
      .getOrElse(sys.error(s"graph at $graphPath has no id column " +
        s"(columns: ${sample.columns.mkString(", ")})"))
    EtlCli.writeTable(
      readKnnGraph(spark, graphPath, idCol)
        .withColumn("corpus_id", lit(knnGraphIdentity(spark, graphPath))),
      outPath)
  }

  /** GROUND-TRUTH quality probe for the incrementally-maintained graph —
    * sampled exact recall, the q_ann_recall pattern applied to the graph
    * family: hash-rank sample `nQueries` nodes from the one-copy corpus
    * view, brute-force their EXACT cosine top-k, compare against the
    * committed neighborhoods, and append one row to `recall/` keyed by
    * the max committed graph epoch (re-probing the same state replaces
    * it idempotently). The mean-cosine trend the sink logs is
    * distribution-sensitive in BOTH directions — an epoch of
    * legitimately more diverse vectors reads as decay, a denser corpus
    * can mask real staleness — while recall vs the exact graph separates
    * the two: distribution shift moves the cosine trend but not recall;
    * extension staleness moves recall. O(sample x corpus) by
    * construction — a monitor-cadence probe, never a per-batch cost. */
  def knnGraphRecallProbe(spark: org.apache.spark.sql.SparkSession,
                          graphPath: String,
                          nQueries: Int = 16): DataFrame = {
    import graft.operators.Similarity
    require(nQueries >= 1, s"need at least one probe query, got $nQueries")
    // fold-aware max: the raw tail alone under-counts on a vacuumed graph
    val probeEpoch = (EtlCli.committedEpochs(spark, graphEdgesPath(graphPath))
        ++ knnGraphFoldCovered(spark, graphPath)._2).maxOption
      .getOrElse(sys.error(s"no committed graph at $graphPath — nothing to probe"))
    val kk = EtlCli.readTable(spark, graphIdentityPath(graphPath))
      .select(col("k").cast("int")).collect().headOption
      .getOrElse(sys.error(s"graph at $graphPath has no identity row — " +
        "let a commit finish before probing"))
      .getInt(0)
    val raw = graphStateReaders(spark, graphPath, Long.MaxValue)
      .nodes(None, None, None)
    val Array(idCol, vecCol) = raw.columns.filterNot(_ == "__epoch")
    val corpus = graft.core.Materialize.pin(raw.groupBy(col(idCol))
      .agg(max_by(col(vecCol), struct(col("__epoch"), col(vecCol)))
        .as(vecCol)))
    val queries = corpus
      .orderBy(md5(col(idCol).cast("string")), col(idCol)).limit(nQueries)
    val exact = Similarity.bruteForceTopK(corpus, queries, idCol, vecCol, kk)
      .select(col("qid"), col("cid"))
    val approx = readKnnGraph(spark, graphPath, idCol)
      .join(queries.select(col(idCol)), Seq(idCol), "left_semi")
      .select(col(idCol).as("qid"), col("nid").as("cid"))
    val row = Similarity.annRecallAtK(approx, exact, kk)
      .agg(count(lit(1)).as("n_queries"), sum(col("n_hit")).as("n_hit"))
    // micro denominator: per-query exact count capped at k — exact
    // integers end to end, so the logged row replays bit-identically
    val denom = exact.groupBy(col("qid"))
      .agg(least(lit(kk.toLong), count(lit(1))).as("__d"))
      .agg(coalesce(sum(col("__d")), lit(0L)).as("n_denom"))
    val out = row.crossJoin(denom)
      .select(lit(probeEpoch).as("epoch"), lit(kk).as("k"),
        col("n_queries"), col("n_hit"), col("n_denom"),
        when(col("n_denom") === 0, lit(1.0))
          .otherwise(col("n_hit").cast("double") / col("n_denom"))
          .as("recall_micro"))
    EtlCli.appendEpoch(out, graphRecallPath(graphPath), probeEpoch)
    EtlCli.readTable(spark, s"${graphRecallPath(graphPath)}/epoch=$probeEpoch")
  }

  private def graphRecallPath(graphPath: String) = s"$graphPath/recall"

  /** The corpus identity the committed graph currently covers — compare
    * against `Similarity.corpusIdentity` of the corpus a consumer holds
    * (see [[requireKnnGraphCurrent]]). */
  def knnGraphIdentity(spark: org.apache.spark.sql.SparkSession,
                       graphPath: String): Long =
    EtlCli.readTable(spark, graphIdentityPath(graphPath))
      .select(col("corpus_id").cast("long"))
      .collect().head.getLong(0)

  /** The stale-graph guard, [[binaryIvfProbeWithSweep]]'s posture for the
    * graph family: a committed graph consumed after the corpus was
    * re-embedded (new model, new epochs) would silently mine degraded
    * neighbors — refuse loudly naming both identities instead. */
  def requireKnnGraphCurrent(spark: org.apache.spark.sql.SparkSession,
                             graphPath: String, corpus: DataFrame,
                             idCol: String, vecCol: String): Unit = {
    val stamped = knnGraphIdentity(spark, graphPath)
    val live = graft.operators.Similarity.corpusIdentity(corpus, idCol, vecCol)
    require(stamped == live,
      s"graph at $graphPath covers corpus identity $stamped but the live " +
        s"corpus has identity $live — the embeddings moved since the graph " +
        "was built (re-embedding, re-ingest); rebuild (knn-graph) or " +
        "re-stream the changed vectors through knnGraphSink before " +
        "consuming neighbors")
  }

  /** Start the incremental k-NN graph sink (layout and contract above).
    * The FIRST batch bootstraps with the full NN-descent build
    * (`rounds` descent rounds); every later batch extends in O(batch)
    * via [[graft.operators.Similarity.nnDescentExtend]]. `nBits` must
    * stay fixed across the graph's life (it keys the candidate buckets);
    * size it for the EXPECTED corpus via `Similarity.nnDescentNBits`.
    *
    * Rebuild-threshold guidance (the measured extension-quality CURVE,
    * SimilaritySpec, fixture corpus): the incremental/batch quality
    * ratio does not degrade with batch size or epoch count — one batch
    * at 10% of the committed corpus measures 1.06, at 50% 1.11, and 20
    * accumulated 4% epochs 1.12 under the fine-first conditional mate
    * ring (extensions rescore candidates the one-shot build never
    * revisits, so quality can exceed 1.0). The
    * 0.85 monitor floor therefore signals genuine pathology (staleness
    * from re-embeds, a piled bucket, a distribution break), not an
    * expected operating regime — alarm first, diagnose with
    * `probe-graph-recall` (exact ground truth) and the occupancy axis,
    * and rebuild (`knn-graph`) when either confirms.
    * Replay safety: every epoch recomputes from `epochs < batchId` only,
    * so a redelivered batch re-appends byte-identical content, and the
    * identity row's `last_epoch` fencepost keeps the XOR fold from
    * double-applying.
    *
    * Storage runbook: `compactEvery` keeps the raw TAIL short (pruned
    * reads), but the raw logs themselves only shrink when
    * `vacuum-knn-graph <graphPath> <checkpointDir>` reclaims the
    * fold-covered epochs behind this sink's committed checkpoint batch —
    * run it on the compaction cadence (never more often than a fold
    * lands) and ALWAYS pass this sink's checkpoint dir; without it the
    * vacuum assumes CLI-only maintenance and may delete raw epochs a
    * pending stream replay still needs. */
  def knnGraphSink(incoming: DataFrame, idCol: String, vecCol: String,
                   graphPath: String, checkpointDir: String, k: Int,
                   rounds: Int = 2, nBits: Int = 8,
                   ringVersion: Int = 2,
                   compactEvery: Int = 0): StreamingQuery =
    eachBatch(incoming, checkpointDir) { (batch0, batchId) =>
      knnGraphCommitBatch(batch0, batchId, graphPath, idCol, vecCol,
        k, rounds, nBits, ringVersion)
      // self-maintenance cadence: unlike the ANN families (whose
      // read-optimized layouts serve only the PROBES), the graph sink
      // consumes its own fold every batch — so it can keep the raw
      // tail short itself. Runs AFTER the epoch commit (a crash
      // mid-fold leaves the committed epoch intact and the
      // self-describing tables per-generation consistent); 0 = manual
      // compact-knn-graph only.
      if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
        knnGraphCompact(batch0.sparkSession, graphPath)
    }

  /** Commit ONE epoch of the incremental graph — the shared body of
    * [[knnGraphSink]] (batchId = the stream's checkpoint batch) and
    * `EtlCli extend-knn-graph` (batchId = next free epoch): bootstrap or
    * extend, append nodes + neighborhoods, fold the identity, log the
    * quality row. Pure function of (committed state < batchId, batch),
    * so a replay re-commits byte-identical content. */
  private[graft] def knnGraphCommitBatch(batch0: DataFrame, batchId: Long,
                                         graphPath: String, idCol: String,
                                         vecCol: String, k: Int, rounds: Int,
                                         nBits: Int, ringVersion: Int = 2,
                                         readersWrap: graft.operators.Similarity.GraphStateReaders =>
                                           graft.operators.Similarity.GraphStateReaders =
                                             identity): Unit = {
    val spark = batch0.sparkSession
    import graft.operators.Similarity
    // one copy per id inside the batch, deterministic tiebreak
    val batch = graft.core.Materialize.pin(
      batch0.select(col(idCol), col(vecCol))
        .groupBy(col(idCol)).agg(max(col(vecCol)).as(vecCol)))
    val prior = scala.util.Try(
      EtlCli.committedEpochs(spark, graphNodesPath(graphPath))
        .filter(_ < batchId)).getOrElse(Seq.empty)
    // bootstrap = NOTHING committed, not "no raw epochs": after
    // vacuum-knn-graph reclaims every fold-covered epoch the raw tail is
    // legitimately empty while the graph lives on in the folds — the
    // identity row (committed by every bootstrap before any vacuum can
    // run) is the discriminator
    val bootstrap = prior.isEmpty && !scala.util.Try(
      EtlCli.readTable(spark, graphIdentityPath(graphPath))
        .limit(1).collect().nonEmpty).getOrElse(false)
    // Replaying a FOLD-COVERED epoch reads committed state < batchId
    // through the raw tail alone (the fold holds later state than the
    // replay may see — graphStateReaders' per-table gate). Vacuum only
    // deletes epochs at or below the replay fencepost, so a legitimate
    // replay always finds its tail — but a manual commit at an old
    // batchId against a vacuumed graph would silently recompute from
    // INCOMPLETE state. Epochs are sequential from 0, so completeness
    // is checkable: refuse loudly instead of committing wrong bytes.
    if (!bootstrap) {
      val (fn, fe) = knnGraphFoldCovered(spark, graphPath)
      if (fn.exists(_ >= batchId) || fe.exists(_ >= batchId)) {
        val missing = (0L until batchId).filterNot(prior.contains)
        require(missing.isEmpty, s"replay of epoch $batchId at " +
          s"$graphPath needs raw node epochs ${missing.mkString(",")} " +
          "which vacuum-knn-graph has reclaimed — this epoch is behind " +
          "the vacuum fencepost and can no longer replay; it was fully " +
          "committed when vacuumed, so no replay should be asking")
      }
    }
    val readers = readersWrap(graphStateReaders(spark, graphPath, batchId))
    val coarse = Similarity.nnDescentCoarseBits(nBits)
    // the ring formula is BOOTSTRAP-FIXED identity: once the identity row
    // records a version, every later commit (and a sink restarted with a
    // different default) must keep it — the version exists so rebuilds
    // and replays use the formula that actually built the committed graph
    val storedRing = scala.util.Try(
        EtlCli.readTable(spark, graphIdentityPath(graphPath))).toOption
      .flatMap(_.select(col("ring_version").cast("int")).collect()
        .headOption.map(_.getInt(0)))
    val ring = storedRing.getOrElse(ringVersion)
    // --- superseded-copy lookup, SHARED by the extension's hood filter
    // and the identity fold (one id-hash-pruned point read serves both,
    // so the hood-coverage fix costs zero extra I/O). seen-ids fast
    // path: ids the bloom definitely never saw have no committed copy —
    // an append-mostly batch skips the lookup entirely. Runs before the
    // epoch append so a replay recomputes the identical hoods.
    val (seenWidth, seenWords) = seenIdsState(spark, graphPath, idCol,
      prior, batchId, bootstrap, batch.count())
    val maybeKnown = graft.core.Materialize.pin(seenWords match {
      case Some(ws) => batch.filter(graft.operators.Sketches.bloomHit(
        col(idCol).cast("string"), ws, seenWidth,
        GraphSeenIdsHashes) === 1)
      case None => batch
    })
    // the lookup prunes to the possibly-known ids' hash partitions when
    // the read-optimized layout exists (a point lookup, never a corpus
    // scan)
    val batchIdHashes = maybeKnown.select(
        Similarity.GraphStateReaders.idHash(col(idCol)).as("hb"))
      .distinct().collect().map(_.getLong(0)).toSeq.sorted
    // latest COMMITTED copy per re-ingested batch id: broadcast-filter
    // the pruned node read (map-only), THEN dedupe the bounded remainder
    // — never a corpus-wide groupBy per batch
    val oldCopies: Option[DataFrame] =
      if (bootstrap || batchIdHashes.isEmpty) None
      else Some(graft.core.Materialize.pin(
        readers.nodes(None, Some(batchIdHashes), None)
          .join(broadcast(maybeKnown.select(col(idCol))), Seq(idCol))
          .groupBy(col(idCol))
          .agg(max_by(col(vecCol), struct(col("__epoch"), col(vecCol)))
            .as(vecCol))))
    // the PRE-BATCH current buckets of the batch's re-ingests: a moved
    // vector's committed hood still lives under the old bucket — the
    // extension's hood lookup must cover it (see nnDescentExtend's
    // extraHoodBuckets). Bounded driver artifact (<= re-ingested ids).
    val extraHoodBuckets: Seq[Long] = oldCopies.map(
        _.select(Similarity.signLshBucketCol(col(vecCol), coarse).as("b"))
          .distinct().collect().map(_.getLong(0)).toSeq.sorted)
      .getOrElse(Nil)
    // bootstrap epochs carry nid_bucket/src_bucket too (each endpoint's
    // coarse bucket), so every edge epoch shares ONE schema and the
    // extension's pruning hints work whatever epoch an edge came from
    val hoods = graft.core.Materialize.pin(
      if (bootstrap)
        Similarity.nnDescentGraph(batch, idCol, vecCol, k, rounds, nBits,
          ring)
          .join(batch.select(col(idCol).as("nid"),
            Similarity.signLshBucketCol(col(vecCol), coarse)
              .as("nid_bucket")), Seq("nid"))
          .join(batch.select(col(idCol),
            Similarity.signLshBucketCol(col(vecCol), coarse)
              .as("src_bucket")), Seq(idCol))
          .select(col(idCol), col("nid"), col("cosine"), col("rank"),
            col("nid_bucket"), col("src_bucket"))
      else
        Similarity.nnDescentExtend(readers, batch, idCol, vecCol, k, nBits,
          extraHoodBuckets))
    EtlCli.appendEpoch(batch, graphNodesPath(graphPath), batchId)
    EtlCli.appendEpoch(hoods, graphEdgesPath(graphPath), batchId)
    // Both sub-logs read latest-epoch-wins (graph/: one neighborhood per
    // node; nodes/: one copy per re-ingested id) — the GENERIC epoch
    // fold erases the per-row provenance that ordering needs, so plant
    // the refusal marker compactEpochs honors. The graph's blessed
    // maintenance is compact-knn-graph (sink layouts, incremental) +
    // vacuum-knn-graph (reclaims fold-covered epochs behind the replay
    // fencepost); a rebuild (knn-graph) resets the logs wholesale.
    EtlCli.markCompactionUnsafe(spark, graphEdgesPath(graphPath),
      "latest-epoch-wins neighborhoods; folding epochs would keep " +
        "superseded copies in every read — compact with " +
        "compact-knn-graph, reclaim with vacuum-knn-graph")
    EtlCli.markCompactionUnsafe(spark, graphNodesPath(graphPath),
      "latest-epoch-wins node copies (re-ingest supersedes); folding " +
        "epochs would let a stale vector win the dedupe tiebreak — " +
        "compact with compact-knn-graph, reclaim with vacuum-knn-graph")
    // identity: prev XOR fold(batch view) XOR fold(old copies the
    // batch superseded) — O(batch), exactly corpusIdentity of the
    // post-batch one-copy-per-id view because XOR composes over the
    // disjoint row-set difference. last_epoch fenceposts the replay.
    val cur = scala.util.Try(
      EtlCli.readTable(spark, graphIdentityPath(graphPath))
        .select(col("corpus_id").cast("long"), col("last_epoch").cast("long"))
        .collect().headOption).toOption.flatten
    if (!cur.exists(_.getLong(1) >= batchId)) {
      val prev = cur.map(_.getLong(0)).getOrElse(0L)
      val superseded = oldCopies
        .map(oc => Similarity.corpusIdentity(oc, idCol, vecCol))
        .getOrElse(0L)
      val next = prev ^ Similarity.corpusIdentity(batch, idCol, vecCol) ^
        superseded
      import spark.implicits._
      EtlCli.writeTable(
        Seq((next, batchId, k, nBits, ring))
          .toDF("corpus_id", "last_epoch", "k", "n_bits", "ring_version"),
        graphIdentityPath(graphPath))
    }
    // the batch's seen-ids bloom partial, at the reader-established width
    // — an epoch replace, so a replay rewrites identical bits (or, after
    // an intervening width change, re-establishes the epoch at the NEW
    // width, whose fold already covers it — seenIdsState's coverage
    // check keeps every consumer exact either way). FOLD rows sharing the
    // slot are preserved: knnGraphCompact writes its fold at the covered
    // max epoch, and a replay of exactly that epoch must not destroy it.
    val seenPart = graft.operators.Sketches.bloomBuild(batch,
        col(idCol).cast("string"), seenWidth, GraphSeenIdsHashes)
      .withColumn("m_bits", lit(seenWidth.toLong))
      .withColumn("covers_through", lit(null).cast("long"))
    val seenKeep = scala.util.Try(EtlCli.readTable(spark,
        s"${graphSeenIdsPath(graphPath)}/epoch=$batchId")).toOption
      .map(_.filter(col("covers_through").isNotNull))
    EtlCli.appendEpoch(seenKeep.fold(seenPart)(seenPart.unionByName(_)),
      graphSeenIdsPath(graphPath), batchId)
    // quality trend: one bounded row per epoch (exact-integer mean,
    // replay-identical). A falling mean_cosine across epochs is the
    // monitor's rebuild signal — the staleness NN-descent extension
    // accumulates that bit-equality cannot measure.
    //
    // max_bucket_members_*: the SKEW instrument — max distinct-id
    // occupancy among the BATCH-occupied ring buckets at each
    // granularity, i.e. the bound the extension's broadcast mate set
    // actually depends on (candidates per new node ~ occupancy of its
    // buckets). nnDescentNBits assumes ~targetBucketSize; a
    // near-dup-heavy corpus piles into one bucket and blows that bound
    // up LINEARLY in the pile — this measures it per epoch so
    // check-graph-quality can name the remedial (rebuild at a finer
    // derived nBits) before a batch pays the cliff. The per-batch axis
    // is the FINE ring (what the fine-first extension actually pays; a
    // near-dup pile shares every plane, so it lands in the fine axis
    // first), computed over the fine-pruned scan ∪ batch — the same
    // row-group-skipped read shape the extension uses, so the
    // instrument never re-widens the batch's byte bill to the coarse
    // partitions. The coarse axis moved to compaction cadence
    // (knnGraphCompact logs it to occupancy/ for free while folding).
    val batchCoarse = Similarity
      .signLshBuckets(batch, idCol, vecCol, coarse)
      .select(col("bucket")).distinct()
      .collect().map(_.getLong(0)).toSeq.sorted
    val batchFine = Similarity
      .signLshBuckets(batch, idCol, vecCol, nBits)
      .select(col("bucket")).distinct()
      .collect().map(_.getLong(0)).toSeq.sorted
    val occView = graft.core.Materialize.pin({
      val base = batch.select(col(idCol), col(vecCol))
      if (bootstrap) base
      else base.unionByName(
        readers.nodes(Some(batchCoarse), None, Some(batchFine))
          .select(col(idCol), col(vecCol)))
    })
    def occAt(bits: Int): Long = {
      val qb = Similarity.signLshBuckets(batch, idCol, vecCol, bits)
        .select(col("bucket")).distinct()
      val m = Similarity.signLshBuckets(occView, idCol, vecCol, bits)
        .join(broadcast(qb), Seq("bucket"))
        .groupBy(col("bucket")).agg(countDistinct(col(idCol)).as("n"))
        .agg(max(col("n"))).collect().head
      if (m.isNullAt(0)) 0L else m.getLong(0)
    }
    val q = hoods.agg(
        count(lit(1)).as("n_edges"),
        countDistinct(col(idCol)).as("n_nodes"),
        (sum(floor(col("cosine") * lit(1e12) + lit(0.5)).cast("long"))
          .cast("double") / lit(1e12) / count(lit(1))).as("mean_cosine"))
      .withColumn("max_bucket_members_fine", lit(occAt(nBits)))
      .withColumn("epoch", lit(batchId))
    EtlCli.appendEpoch(q, graphQualityPath(graphPath), batchId)
    ()
  }
}
