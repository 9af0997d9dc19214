package graft.streaming

import graft.operators.{CorpusPipeline, Dedup, Relational, TextAnalysis}
import graft.tools.EtlCli
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** Streaming training-corpus ingestion: the batch CorpusPipeline semantics
  * applied incrementally. Each micro-batch is quality-gated, exact-deduped
  * (in-batch AND against the accreted corpus), decontaminated against the
  * held-out eval set, and near-dup-checked against the PERSISTED band
  * index (Dedup.incrementalNearDups — O(|batch|) work per increment, the
  * historical corpus is never re-shingled). Survivors append to the
  * versioned warehouse table; their bands append to the band table.
  *
  * Replay safety: the id anti-join makes re-delivered batches no-ops on
  * the corpus, and band rows are deduped on write, so at-least-once
  * delivery yields exactly-once table state. Bands commit BEFORE docs: a
  * crash between the two leaves orphan band rows, which are harmless
  * (their candidate pairs find no corpus text and verification drops
  * them; the replayed batch re-commits both), whereas docs-first would
  * strand committed documents with no bands — permanently invisible to
  * future near-dup probes.
  *
  * Survivorship when a near-dup pair crosses the batch boundary: the
  * already-ingested corpus document wins regardless of id; within the
  * batch, first-wins by id (same policy as Dedup.dropNearDups).
  */
object CorpusIngest {

  /** Process one batch against the warehouse. Factored out of the
    * foreachBatch closure so batch jobs and specs drive the same body. */
  def ingestBatch(batch: DataFrame, evalDocs: DataFrame,
                  corpusPath: String, bandsPath: String,
                  idCol: String, textCol: String,
                  cfg: CorpusPipeline.Config): Unit = {
    val spark = batch.sparkSession
    val corpus = EtlCli.readTable(spark, corpusPath)
    val bands = EtlCli.readTable(spark, bandsPath)

    // gates, then exact dedup: first-wins in-batch, then against corpus
    // content and corpus ids (the id probe also makes replays idempotent)
    val gated = TextAnalysis.qualityGates(batch, textCol, cfg.stop,
        cfg.minWords, cfg.maxWords, cfg.minMeanLen, cfg.maxMeanLen, cfg.minUniqRatio)
      .filter(col("pass"))
      .select(batch.columns.map(col): _*)
    val inBatch = Relational.firstWins(
        gated.withColumn("__fp", TextAnalysis.fingerprint(col(textCol))),
        Seq("__fp"), Seq(col(idCol)))
    val fresh = inBatch
      .join(broadcast(corpus.select(TextAnalysis.fingerprint(col(textCol)).as("__fp")).distinct()),
        Seq("__fp"), "left_anti")
      .drop("__fp")
      .join(corpus.select(col(idCol)), Seq(idCol), "left_anti")

    val clean = Dedup.decontaminate(fresh, evalDocs, idCol, textCol, cfg.decontaminateGramN)

    // near-dup probe against the persisted index + the batch itself
    val pairs = Dedup.incrementalNearDups(clean, corpus, bands, idCol, textCol,
      cfg.shingleK, cfg.numHashes, cfg.bandSize, cfg.nearDupThreshold, cfg.dfCap)
    // (doc_a, doc_b) is (least, greatest): the greater id always loses to
    // the smaller; the smaller NEW id additionally loses to a corpus
    // partner with a greater id (corpus wins across the boundary)
    val corpusIds = corpus.select(col(idCol).as("__cid"))
    val losers = pairs.select(col("doc_b").as(idCol))
      .unionByName(pairs.join(broadcast(corpusIds), pairs("doc_b") === col("__cid"))
        .select(col("doc_a").as(idCol)))
      .distinct()
    val survivors = clean.join(broadcast(losers), Seq(idCol), "left_anti")
      .transform(graft.core.Materialize.pin) // two sinks below: evaluate once

    val newBands = Dedup.signBands(survivors, idCol, textCol,
      cfg.shingleK, cfg.numHashes, cfg.bandSize, cfg.dfCap)
    EtlCli.writeTable(bands.unionByName(newBands).distinct(), bandsPath)
    EtlCli.writeTable(corpus.unionByName(survivors), corpusPath)
  }

  /** Start the streaming ingest over `incoming` (a streaming DataFrame of
    * documents). Both warehouse tables must be initialized (EtlCli
    * writeTable of a possibly-empty seed) before the first batch.
    */
  def ingest(incoming: DataFrame, evalDocs: DataFrame,
             corpusPath: String, bandsPath: String, checkpointDir: String,
             idCol: String = "doc_id", textCol: String = "text",
             cfg: CorpusPipeline.Config = CorpusPipeline.Config()): StreamingQuery =
    incoming.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingestBatch(batch, evalDocs, corpusPath, bandsPath, idCol, textCol, cfg)
      }
      .trigger(Trigger.AvailableNow())
      .start()
}
