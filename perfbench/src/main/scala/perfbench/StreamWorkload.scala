package perfbench

import graft.streaming.CorpusStreams
import graft.tools.EtlCli
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One staged input file: it becomes exactly one micro-batch. */
final case class StagedFile(name: String, docIds: Seq[Long])

/** What the measured stream produced, beyond the ledger. */
final case class StreamOutcome(wallNs: Long, batches: Seq[StreamingQueryProgress],
                               survivorDigest: String, survivors: Long, staged: Long,
                               nearDupDrops: Seq[Int], layers: Map[String, Double])

/** curation_stream: staged document files stream one file per trigger
  * (`AvailableNow`) through `CorpusStreams.curatedIngestSink` into a
  * warehouse that starts empty. One op = one micro-batch. */
final class StreamWorkload(spark: SparkSession, dataDir: String, root: String,
                           tracer: Option[Tracer]) {
  val AllowedReasons = Set("quality", "contaminated", "bloom_contaminated",
    "dsir_rejected", "near_dup")
  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  // the held-out slice the Pipeline decontamination queries use
  private lazy val evalDocs: DataFrame = graft.core.Tables.t(spark, dataDir, "documents")
    .filter(col("source") === "src0").select("doc_id", "text")

  private def start(inDir: String, wh: String): StreamingQuery =
    CorpusStreams.curatedIngestSink(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(inDir),
      evalDocs, "doc_id", "text",
      s"$wh/index", s"$wh/corpus", s"$wh/dropped", s"$wh/chk")

  /** Warm-up stream into a throwaway warehouse (JIT, codegen, sink paths). */
  def warm(inDir: String, timeoutMs: Long): Unit = {
    val q = start(inDir, s"$root/warm_warehouse")
    if (!q.awaitTermination(timeoutMs)) { q.stop(); sys.error("warm-up stream timed out") }
    q.exception.foreach(e => throw e)
  }

  def measure(inDir: String, files: Seq[StagedFile], timeoutMs: Long,
              ledger: Ledger): StreamOutcome = {
    val wh = s"$root/warehouse"
    val t0 = System.nanoTime()
    val q = start(inDir, wh)
    val finished = q.awaitTermination(timeoutMs)
    val wallNs = System.nanoTime() - t0
    if (!finished) q.stop()
    val streamError = q.exception.map(e => Ledger.describe(e))
      .orElse(if (finished) None else Some("stream timed out"))
    val progress = q.recentProgress.filter(_.durationMs.containsKey("addBatch"))
      .map(p => p.batchId -> p).toMap
    val (checks, nearDupDrops) = checkEpochs(wh, files)
    val batches = files.indices.flatMap { b =>
      progress.get(b.toLong) match {
        case Some(p) =>
          ledger.record(s"batch_$b",
            p.durationMs.get("triggerExecution").longValue * 1000000L, checks(b))
          Some(p)
        case None =>
          ledger.record(s"batch_$b", 0L,
            Some(s"batch never completed: ${streamError.getOrElse("stream ended early")}"))
          None
      }
    }
    val survivorIds = scala.util.Try(EtlCli.readEpochTable(spark, s"$wh/corpus")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq).getOrElse(Nil)
    val staged = files.map(_.docIds.size.toLong).sum
    val layers = tracer.map(t => traceBatches(t, batches, wh, inDir, staged, survivorIds.size))
      .getOrElse(Map.empty)
    StreamOutcome(wallNs, batches, sha256(survivorIds.mkString(",")),
      survivorIds.size.toLong, staged, nearDupDrops, layers)
  }

  /** Conservation per batch: every doc staged in file b lands exactly once
    * in corpus epoch b or dropped epoch b, nothing else lands there, and
    * every drop reason is one the sink may write. Also returns each batch's
    * near_dup drop count, which shows the staged split's dedup balance. */
  private def checkEpochs(wh: String, files: Seq[StagedFile])
      : (IndexedSeq[Option[String]], IndexedSeq[Int]) = {
    val parts = files.indices.map { b =>
      scala.util.Try {
        val corpus = EtlCli.readTable(spark, s"$wh/corpus/epoch=$b")
          .select(col("doc_id"), lit(null).cast(StringType).as("reason"))
        val dropped = EtlCli.readTable(spark, s"$wh/dropped/epoch=$b")
          .select(col("doc_id"), col("reason"))
        corpus.unionByName(dropped).withColumn("batch", lit(b))
      }
    }
    val rows = parts.flatMap(_.toOption).reduceOption(_ unionByName _)
      .map(_.collect().toSeq.map(r => (r.getInt(2), r.getLong(0), Option(r.getString(1)))))
      .getOrElse(Nil).groupBy(_._1)
    val checks = files.indices.map { b =>
      parts(b).failed.toOption.map(e => s"epoch $b not committed: ${Ledger.describe(e)}")
        .orElse {
          val got = rows.getOrElse(b, Nil)
          val counts = got.groupBy(_._2).view.mapValues(_.size).toMap
          val want = files(b).docIds.toSet
          val missing = want.filterNot(counts.contains)
          val dup = counts.filter(_._2 > 1).keys
          val extra = counts.keySet -- want
          val badReason = got.flatMap(_._3).filterNot(AllowedReasons).distinct
          if (missing.nonEmpty) Some(s"${missing.size} staged docs in neither table (e.g. ${missing.head})")
          else if (dup.nonEmpty) Some(s"${dup.size} docs written more than once (e.g. ${dup.head})")
          else if (extra.nonEmpty) Some(s"${extra.size} docs not staged in this batch (e.g. ${extra.head})")
          else if (badReason.nonEmpty) Some(s"drop reasons outside the sink's set: ${badReason.mkString(",")}")
          else None
        }
    }
    (checks, files.indices.map(b => rows.getOrElse(b, Nil).count(_._3.contains("near_dup"))))
  }

  /** Batch spans from StreamingQueryProgress.durationMs (in the order the
    * micro-batch runs its phases), Spark jobs under addBatch, and the
    * streaming.* layer metrics. */
  private def traceBatches(t: Tracer, batches: Seq[StreamingQueryProgress], wh: String,
                           inDir: String, staged: Long, survivors: Int): Map[String, Double] = {
    t.drain()
    val order = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
      "addBatch", "commitOffsets")
    val total = new Counters
    var addSelfNs = 0L
    batches.foreach { p =>
      val rootId = t.newId()
      val start = java.time.Instant.parse(p.timestamp)
      val startNs = start.getEpochSecond * 1000000000L + start.getNano
      val dur = (k: String) => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val root = Span(rootId, 0L, rootId, "op", startNs, startNs + dur("triggerExecution") * 1000000L,
        Map("batch" -> p.batchId.toString, "rows" -> p.numInputRows.toString))
      t.add(root)
      var cursor = startNs
      order.foreach { k =>
        val s = Span(t.newId(), rootId, rootId, s"streaming.$k", cursor, cursor + dur(k) * 1000000L)
        cursor = s.endNs
        t.add(s)
        if (k == "addBatch") {
          val jobs = t.jobsOf(s"batch:${p.batchId}").map { case (id, js, je) =>
            Span(t.newId(), s.id, rootId, "spark.job", js * 1000000L, je * 1000000L,
              Map("job" -> id.toString))
          }
          jobs.foreach(t.add)
          addSelfNs += Span.selfNs(s, jobs)
        }
      }
      total += t.countersOf(s"batch:${p.batchId}")
    }
    def sumMs(keys: String*): Double =
      batches.map(p => keys.map(k => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum).sum / 1e3
    val lat = batches.map(_.durationMs.get("triggerExecution").doubleValue)
    val quarter = (lat.size / 4).max(1)
    val tables = Seq("index", "corpus", "dropped").map(n => new java.io.File(s"$wh/$n"))
    val tableFiles = tables.flatMap(FileTree.walk)
    val cores = spark.sparkContext.defaultParallelism
    Map(
      "streaming.add_batch_s" -> sumMs("addBatch"),
      "streaming.add_batch_self_s" -> addSelfNs / 1e9,
      "streaming.query_planning_s" -> sumMs("queryPlanning"),
      "streaming.offsets_s" -> sumMs("latestOffset", "getBatch"),
      "streaming.commit_s" -> sumMs("walCommit", "commitOffsets"),
      "streaming.jobs_per_batch" -> (if (batches.isEmpty) 0.0 else total.jobs.toDouble / batches.size),
      "streaming.late_over_early" ->
        (if (lat.isEmpty) 0.0 else Stats.median(lat.takeRight(quarter)) / Stats.median(lat.take(quarter))),
      "streaming.table_files" -> tableFiles.size.toDouble,
      "streaming.write_amp" -> tableFiles.map(_.length).sum.toDouble /
        FileTree.walk(new java.io.File(inDir)).map(_.length).sum.max(1L),
      "streaming.survivor_frac" -> survivors.toDouble / staged.max(1L),
      "exec.action_s" -> sumMs("triggerExecution"),
      "exec.idle_s" -> (sumMs("triggerExecution") - total.runMs / 1e3 / cores)
    ) ++ Layers.counterMetrics(total)
  }

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
}

object FileTree {
  /** Every regular file under `f` (none if it does not exist). */
  def walk(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
    else if (f.isFile) Seq(f) else Nil
}
