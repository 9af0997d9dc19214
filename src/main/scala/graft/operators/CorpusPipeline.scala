package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The end-to-end training-data preparation pipeline, composed from the
  * operator library the way a real corpus job would run it:
  *
  *   quality gates -> exact dedup -> near-dup dedup (MinHash-LSH +
  *   connected components) -> [hot-span scrub] -> benchmark
  *   decontamination -> chunking
  *
  * One declarative DataFrame per stage, so Catalyst sees the whole plan:
  * the quality gates and fingerprints fuse into the scan projection, each
  * dedup stage shuffles signatures/ids (never text — see Dedup scaladocs),
  * decontamination is a broadcast probe, and chunking is map-only. Stage
  * row counts are attached as named `observe` metrics, which piggyback on
  * the job's single action instead of forcing per-stage counts.
  */
object CorpusPipeline {

  /** Knobs with defaults sized for the synthetic corpus; production jobs
    * tune per-corpus. `chunkLen <= 0` skips chunking.
    */
  final case class Config(
      stop: Seq[String] = Seq("a", "the"),
      minWords: Int = 30, maxWords: Int = 120,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      minUniqRatio: Double = 0.3,
      shingleK: Int = 9, numHashes: Int = 8, bandSize: Int = 2,
      nearDupThreshold: Double = 0.8, dfCap: Int = 0,
      scrubSpanN: Int = 0, scrubMinDocs: Int = 2,
      decontaminateGramN: Int = 4,
      chunkLen: Int = 200, chunkOverlap: Int = 20)

  /** Clean `docs` against the held-out `evalDocs`; returns chunk rows
    * `(doc_id, chunk_idx, chunk)` (or the cleaned documents unchanged when
    * chunking is disabled). Survivorship is deterministic: first-wins by
    * doc id within exact-dup groups and near-dup components.
    */
  def clean(docs: DataFrame, evalDocs: DataFrame,
            idCol: String, textCol: String,
            cfg: Config = Config()): DataFrame = {
    // ONE tokenization pass at the head: the gate stats (word split —
    // size/filter/array_distinct HOFs, which Catalyst evaluates as
    // CodegenFallback, i.e. the most expensive per-row work in the whole
    // pipeline) and the exact-dup fingerprint fuse into a single scan
    // projection. The exact-dedup survivor set then pins ONCE: the LSH
    // tower below runs three internal pin actions (band table, candidate
    // set, shingle sets) plus the final job, each of which would otherwise
    // re-execute scan -> gate HOFs -> dedup window from scratch — with the
    // pin they read materialized survivor rows, so every downstream
    // tokenization (in-row minhash signing for LSH, char-shingle sets for
    // verification, word grams for decontamination) is one map-only pass
    // over pinned bytes.
    val gated = TextAnalysis.qualityGates(docs, textCol, cfg.stop,
        cfg.minWords, cfg.maxWords, cfg.minMeanLen, cfg.maxMeanLen, cfg.minUniqRatio)
      .filter(col("pass"))
      .select(docs.columns.map(col) :+
        TextAnalysis.fingerprint(col(textCol)).as("__fp"): _*)
      .observe("graft_quality", count(lit(1)).as("rows_after_quality"))

    val exactDeduped = graft.core.Materialize.pin(
      Relational.firstWins(gated, Seq("__fp"), Seq(col(idCol)))
        .drop("__fp")
        .observe("graft_exact_dedup", count(lit(1)).as("rows_after_exact")))

    val nearDeduped0 = Dedup.dropNearDups(exactDeduped, idCol, textCol,
        cfg.shingleK, cfg.numHashes, cfg.bandSize, cfg.nearDupThreshold, cfg.dfCap)
      .observe("graft_near_dedup", count(lit(1)).as("rows_after_near"))

    // the scrub branch consumes this frame ~4 times (hot-gram count,
    // positional probe, scrubHotSpans' join, and the join-back below) —
    // pin it so the MinHash-LSH + connected-components tower above runs
    // once (measured: pinning near-dedup output when scrub is OFF does
    // not pay — decontamination's two consumers share exchanges)
    val nearDeduped =
      if (cfg.scrubSpanN <= 0) nearDeduped0
      else graft.core.Materialize.pin(nearDeduped0)

    // optional exact-substring pass (RefinedWeb-style, AFTER fuzzy dedup:
    // whole near-copies are already gone, this removes the boilerplate
    // spans surviving documents still share). Documents keep their rows —
    // re-run the quality gates afterwards if empty/short survivors should
    // drop.
    val scrubbed =
      if (cfg.scrubSpanN <= 0) nearDeduped
      else {
        val s = Dedup.scrubHotSpans(nearDeduped, idCol, textCol,
            cfg.scrubSpanN, cfg.scrubMinDocs)
          .select(col("doc_id").as(idCol), col("clean_text"))
        nearDeduped.drop(textCol).join(s, Seq(idCol))
          .withColumnRenamed("clean_text", textCol)
          .select(nearDeduped.columns.map(col): _*)
          .observe("graft_span_scrub", count(lit(1)).as("rows_after_scrub"))
      }

    val decontaminated = Dedup.decontaminate(scrubbed, evalDocs,
        idCol, textCol, cfg.decontaminateGramN)
      .observe("graft_decontaminate", count(lit(1)).as("rows_after_decontaminate"))

    if (cfg.chunkLen <= 0) decontaminated
    else TextAnalysis.chunkByChars(decontaminated, idCol, textCol,
      cfg.chunkLen, cfg.chunkOverlap)
  }
}
