package graft.streaming

import graft.operators.Dedup
import graft.tools.EtlCli
import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** The streaming write path: [[curatedIngestSink]] curates a stream of
  * documents. Each micro-batch is curated against the corpus committed
  * so far and appended as its own epoch of three tables through
  * EtlCli's versioned commit protocol: signing is map-only over the
  * batch, the near-dup probe joins on band keys, and verification reads
  * text for the candidate slice alone.
  */
object CorpusStreams {

  /** The streaming CURATION loop — quality gates → benchmark
    * decontamination → incremental near-dup dedup — composed into one
    * exactly-once sink whose committed corpus table IS the clean corpus.
    * Per micro-batch, each stage is the batch operator it names, applied
    * to O(|batch|) data:
    *
    *  1. quality gates: map-only projection + filter
    *  2. exact-gram decontamination vs `evalDocs`: broadcast gram probe
    *  3. near-dup vs committed corpus + in-batch: band-index probe
    *     (the batch signs once under `cfg`; its pinned bands both probe
    *     and extend the index), then ONE driver-side resolution over the
    *     collected verified pairs, each side flagged in-batch or corpus
    *     by a broadcast of the batch ids: a batch doc drops when paired
    *     with any corpus doc (corpus member wins — it is already training
    *     data), and of each in-batch duplicate component (union-find
    *     over the batch-internal pairs) every doc but the least id
    *     drops. Exact, and driver memory is O(docs in this batch's
    *     verified pairs); the drop ids go on as a local relation
    *
    * Tables: `indexPath` holds SURVIVOR bands only (future batches probe
    * the clean corpus), `corpusPath` the survivors, `droppedPath` a
    * (doc_id, reason) log — reason ∈ quality|contaminated|near_dup, first
    * failing stage wins. All three commit as epoch=batchId appends;
    * commit order dropped → index → corpus keeps the corpus commit as the
    * replay-guard fencepost.
    *
    * Replay safety: this sink's committed corpus is a strict SUBSET of
    * its input (docs drop), so a per-doc anti-join alone is NOT enough: a
    * batch redelivered AFTER its corpus epoch committed (crash between
    * sink completion and checkpoint offset commit) would see newDocs =
    * exactly its previously DROPPED docs, re-drop them all against the
    * now-committed corpus, and appendEpoch would then replace
    * epoch=batchId with the empty result — deleting that batch's
    * committed survivors. So the first guard is the fencepost itself: if
    * corpus epoch=batchId is already committed, the whole batch is a
    * no-op. The anti-join remains as the second guard for the
    * partial-commit window (crash between dropped/index and corpus):
    * there the corpus epoch is absent, the batch recomputes
    * deterministically from unchanged committed state, and re-appends its
    * own epochs idempotently. */
  def curatedIngestSink(incoming: DataFrame, evalDocs: DataFrame,
                        idCol: String, textCol: String,
                        indexPath: String, corpusPath: String,
                        droppedPath: String, checkpointDir: String,
                        cfg: graft.operators.CorpusPipeline.Config =
                          graft.operators.CorpusPipeline.Config())
      : StreamingQuery =
    incoming.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
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
        // action; the survivors and the quality/contaminated drop rows are
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
          val decon = stage1.filter(col("pass") && !col("contaminated"))
            .select(col(idCol), col(textCol))
          val newBands = pin(Dedup.signBands(decon, idCol, textCol,
            cfg.shingleK, cfg.numHashes, cfg.bandSize, cfg.dfCap))
          // near-dup drops resolve ONCE, on the driver: the verified pair
          // slice (every pair has >= 1 batch doc) collects with each
          // side's batch membership from a broadcast of the batch ids —
          // a side outside the batch is a committed corpus doc
          val inBatch = broadcast(decon.select(col(idCol).as("__bid")))
          val pairs = Dedup.incrementalNearDupsFromBands(newBands, decon,
              corpus, corpusBands, idCol, textCol, cfg.shingleK, cfg.nearDupThreshold)
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
          val dropped =
            stage1.filter(!col("pass") || col("contaminated"))
              .select(col(idCol).as("doc_id"),
                when(!col("pass"), lit("quality")).otherwise(lit("contaminated")).as("reason"))
            .unionAll(dupDrops.select(col("doc_id"), lit("near_dup").as("reason")))
          EtlCli.appendEpoch(dropped, droppedPath, batchId)
          EtlCli.appendEpoch(newBands.filter(notDup("doc_id")), indexPath, batchId)
          EtlCli.appendEpoch(decon.filter(notDup(idCol)), corpusPath, batchId)
        }
      }
      .trigger(Trigger.AvailableNow())
      .start()

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
}
