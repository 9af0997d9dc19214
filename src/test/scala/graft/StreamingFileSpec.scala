package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** End-to-end through the real file stream source: staged files stream
  * with Trigger.AvailableNow through the curation sink (and a plain
  * parquet sink), and each committed table is checked against the batch
  * computation over the same data, across restarts and replays.
  */
class StreamingFileSpec extends SparkSpec {

  test("curatedIngestSink: quality, contamination, and dedup enforced; corpus table is the clean corpus") {
    import graft.streaming.CorpusStreams
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again "
    val eval = Seq((100L, "benchmark question about predicate pushdown ordering semantics today"))
      .toDF("doc_id", "text")
    val b1 = Seq(
      (1L, base + "today extra tail"),                       // survives
      (2L, base + "today extra tails"),                      // in-batch near-dup of 1 -> drops
      (3L, "too short"),                                     // quality fail
      (4L, "a study of benchmark question about predicate pushdown ordering semantics here"), // shares a 4-gram with eval
      (5L, "a completely different text about spark query engines and shuffle behavior"))  // survives
    val b2 = Seq(
      (6L, base + "today extra tailed"),                     // cross-batch near-dup of 1 -> drops
      (7L, "a fresh unique document regarding adaptive execution and partition pruning")) // survives
    val root = tempDir("curated")
    val in = root.resolve("in"); java.nio.file.Files.createDirectory(in)
    def paths(n: String) = root.resolve(n).toString
    def stage(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = root.resolve(name + "_tmp")
      rows.toDF("doc_id", "text").coalesce(1).write.parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, in.resolve(name + ".parquet"))
    }
    stage("b1", b1)
    val schema = spark.read.parquet(in.resolve("b1.parquet").toString).schema
    val cfg = graft.operators.CorpusPipeline.Config(
      minWords = 5, shingleK = 5, nearDupThreshold = 0.5, decontaminateGramN = 4)
    def runStream(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in.toString)
      val q = CorpusStreams.curatedIngestSink(stream, eval, "doc_id", "text",
        paths("index"), paths("corpus"), paths("dropped"), paths("chk"), cfg)
      q.awaitTermination(120000)
    }
    runStream()
    stage("b2", b2)
    runStream()

    import graft.tools.EtlCli
    val corpus = EtlCli.readEpochTable(spark, paths("corpus"))
    assert(corpus.select("doc_id").as[Long].collect().toSet == Set(1L, 5L, 7L),
      "clean corpus should hold exactly the survivors")
    val dropped = EtlCli.readEpochTable(spark, paths("dropped"))
      .select("doc_id", "reason").as[(Long, String)].collect().toSet
    assert(dropped == Set((2L, "near_dup"), (3L, "quality"),
      (4L, "contaminated"), (6L, "near_dup")), s"wrong drop log: $dropped")
    // the band index covers survivors ONLY — future probes see the clean corpus
    assert(EtlCli.readEpochTable(spark, paths("index"))
      .select("doc_id").distinct().as[Long].collect().toSet == Set(1L, 5L, 7L))
    // cross-batch dup landed in epoch 1 of the drop log
    assert(EtlCli.readTable(spark, paths("dropped") + "/epoch=1")
      .select("doc_id").as[Long].collect().toSet == Set(6L))

    // replay with no new input: zero new commits anywhere
    def inventory(table: String): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(table))
        .map(f => f.getPath -> (f.lastModified() -> f.length())).toMap
    }
    val before = Seq("index", "corpus", "dropped").map(t => inventory(paths(t)))
    runStream()
    assert(Seq("index", "corpus", "dropped").map(t => inventory(paths(t))) == before)

    // THE at-least-once window: the checkpoint is lost AFTER the sink
    // fully committed (same failure as a crash between sink completion and
    // offset commit) — every batch redelivers with its original batchId.
    // Without the fencepost guard this deleted data: the redelivered batch
    // anti-joins to exactly its previously DROPPED docs (non-empty!), they
    // all re-drop against the committed corpus, and appendEpoch replaces
    // epoch=batchId with the empty remainder — wiping docs 1 and 5. The
    // guard must make the replay a byte-level no-op instead.
    def rmrf(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      if (java.nio.file.Files.exists(p))
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
    }
    rmrf(root.resolve("chk"))
    runStream()
    assert(Seq("index", "corpus", "dropped").map(t => inventory(paths(t))) == before,
      "fully-committed batch redelivered after checkpoint loss must be a no-op")
    assert(EtlCli.readEpochTable(spark, paths("corpus"))
      .select("doc_id").as[Long].collect().toSet == Set(1L, 5L, 7L))
  }

  test("curatedIngestSink near-dup drops equal connected components plus corpus-wins, batch by batch") {
    import graft.operators.Dedup
    import graft.streaming.CorpusStreams
    import graft.tools.EtlCli
    import spark.implicits._
    // char-5-shingle Jaccard at threshold 0.6, one hash per band (every
    // verified pair is an LSH candidate with near certainty):
    //  b0: chain 21 ~ 11 ~ 31 (21 !~ 31) whose least id sits in the
    //      middle; star 45 ~ {41, 42, 43} (leaves pairwise < 0.6);
    //      50 and 60 unique
    //  b1: 61 ~ corpus 60 AND ~ in-batch 62 (62 !~ 60); 63 unique
    //  b2: no pairs at all
    val (a, b, c, d) = ("the river bank ", "was quiet at dawn ", "and a heron stood ",
      "still in the reeds ")
    val hub = "the mountain trail climbs past a frozen lake toward the pass"
    val market = "sells grilled corn and a sweet tea with cardamom"
    val batches = Seq(
      Seq(
        (11L, a + b + c + d + "by the old mill"),
        (21L, a + b + c + d + "near a willow"),
        (31L, "at first light " + b + c + d + "by the old mill"),
        (45L, hub),
        (41L, hub + " under heavy grey skies all day long"),
        (42L, hub + " with two tired mules and one guide"),
        (43L, hub + " before the first winter snow falls"),
        (50L, "a completely different text about spark query engines and shuffle behavior"),
        (60L, "the night market " + market)),
      Seq(
        (61L, "the night market " + market + " near the station"),
        (62L, market + " near the station stays open late"),
        (63L, "a fresh unique document regarding adaptive execution and partition pruning")),
      Seq(
        (70L, "one more document about columnar storage and the code generation paths"),
        (71L, "the last note covers broadcast joins and a little skew salting advice")))
    val root = tempDir("curated_dups")
    val in = root.resolve("in"); java.nio.file.Files.createDirectory(in)
    def paths(n: String) = root.resolve(n).toString
    val cfg = graft.operators.CorpusPipeline.Config(minWords = 5, shingleK = 5,
      numHashes = 8, bandSize = 1, nearDupThreshold = 0.6, decontaminateGramN = 4)
    val eval = Seq.empty[(Long, String)].toDF("doc_id", "text")
    batches.zipWithIndex.foreach { case (rows, i) =>
      val tmp = root.resolve(s"b${i}_tmp")
      rows.toDF("doc_id", "text").coalesce(1).write.parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, in.resolve(s"b$i.parquet"))
      val schema = spark.read.parquet(in.toString).schema
      CorpusStreams.curatedIngestSink(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in.toString),
        eval, "doc_id", "text", paths("index"), paths("corpus"), paths("dropped"),
        paths("chk"), cfg).awaitTermination(120000)
    }

    val nearDups = batches.indices.map { e =>
      EtlCli.readTable(spark, s"${paths("dropped")}/epoch=$e")
        .filter($"reason" === "near_dup").select("doc_id").as[Long].collect().toSet
    }
    // the previous formulation, per batch: probe the committed corpus,
    // then corpus-wins joins plus connected components of the in-batch
    // pair slice (least id survives)
    val expected = batches.indices.map { e =>
      val corpus = (0 until e).map(p => EtlCli.readTable(spark, s"${paths("corpus")}/epoch=$p"))
        .foldLeft(Seq.empty[(Long, String)].toDF("doc_id", "text"))(_ unionByName _)
      val pairs = Dedup.incrementalNearDups(batches(e).toDF("doc_id", "text"), corpus,
        Dedup.signBands(corpus, "doc_id", "text", cfg.shingleK, cfg.numHashes, cfg.bandSize),
        "doc_id", "text", cfg.shingleK, cfg.numHashes, cfg.bandSize, cfg.nearDupThreshold)
      val cset = corpus.select($"doc_id".as("__cid"))
      val corpusDrops = pairs.join(cset, $"doc_a" === $"__cid").select($"doc_b".as("doc_id"))
        .unionAll(pairs.join(cset, $"doc_b" === $"__cid").select($"doc_a".as("doc_id")))
      val internal = pairs
        .join(cset, $"doc_a" === $"__cid", "left_anti")
        .join(cset, $"doc_b" === $"__cid", "left_anti")
      val internalDrops =
        if (internal.isEmpty) Set.empty[Long]
        else Dedup.connectedComponents(internal).filter($"doc_id" =!= $"component")
          .select("doc_id").as[Long].collect().toSet
      corpusDrops.as[Long].collect().toSet ++ internalDrops
    }
    assert(nearDups == expected, s"sink drops $nearDups != connected-components drops $expected")
    assert(nearDups == Seq(Set(21L, 31L, 42L, 43L, 45L), Set(61L, 62L), Set.empty[Long]),
      s"fixture no longer exercises chain/star/corpus+batch/no-pair: $nearDups")
    assert(EtlCli.readEpochTable(spark, paths("corpus")).select("doc_id").as[Long]
      .collect().toSet == Set(11L, 41L, 50L, 60L, 63L, 70L, 71L))
  }

  test("curatedIngestSink job budget: a bounded count of jobs per micro-batch; a fencepost replay runs none") {
    import graft.streaming.CorpusStreams
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    // the two-batch fixture of the quality/contamination/dedup test above
    val base = "the quick brown fox jumps over the lazy dog again and again "
    val eval = Seq((100L, "benchmark question about predicate pushdown ordering semantics today"))
      .toDF("doc_id", "text")
    val b1 = Seq(
      (1L, base + "today extra tail"),
      (2L, base + "today extra tails"),
      (3L, "too short"),
      (4L, "a study of benchmark question about predicate pushdown ordering semantics here"),
      (5L, "a completely different text about spark query engines and shuffle behavior"))
    val b2 = Seq(
      (6L, base + "today extra tailed"),
      (7L, "a fresh unique document regarding adaptive execution and partition pruning"))
    val root = tempDir("curated_jobs")
    val in = root.resolve("in"); java.nio.file.Files.createDirectory(in)
    def paths(n: String) = root.resolve(n).toString
    def stage(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = root.resolve(name + "_tmp")
      rows.toDF("doc_id", "text").coalesce(1).write.parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, in.resolve(name + ".parquet"))
    }
    val cfg = graft.operators.CorpusPipeline.Config(
      minWords = 5, shingleK = 5, nearDupThreshold = 0.5, decontaminateGramN = 4)
    // jobs started inside micro-batches, keyed by (query id, batch id)
    val jobs = new java.util.concurrent.ConcurrentHashMap[(String, Long), Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          for (q <- Option(p.getProperty("sql.streaming.queryId"));
               b <- Option(p.getProperty("streaming.sql.batchId")))
            jobs.merge((q, b.toLong), 1, Integer.sum)
        }
    }
    def runStream(): Map[Long, Int] = {
      jobs.clear()
      val schema = spark.read.parquet(in.toString).schema
      val q = CorpusStreams.curatedIngestSink(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in.toString),
        eval, "doc_id", "text", paths("index"), paths("corpus"), paths("dropped"),
        paths("chk"), cfg)
      q.awaitTermination(120000)
      org.apache.spark.sql.graftbridge.ListenerBridge.drain(spark.sparkContext)
      jobs.asScala.collect { case ((id, b), n) if id == q.id.toString => b -> n }.toMap
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // graft's `file:` binding makes every metadata call of the commit
      // protocol and the checkpoint log in-process; stock Hadoop without
      // libhadoop started a chmod/readlink/ls for each (~80 per batch)
      val ((first, second), starts) = graft.LocalFsSpec.processStarts {
        stage("b1", b1)
        val first = runStream()
        stage("b2", b2)
        (first, runStream())
      }
      assert(starts.isEmpty, s"process starts in the stream: ${starts.mkString("; ")}")
      // Measured on this fixture: 20 jobs for batch 0 and 21 for batch 1
      // (batch 1 also reads the committed corpus and index; with their
      // schemas given, those reads infer no footer schema — 23 before).
      // Before the one-pin stage 1 and the driver-side drop resolution the
      // same batches ran 43 and 42 jobs.
      assert(first.keySet == Set(0L) && first(0L) <= 20, s"batch 0 jobs: $first")
      assert(second.keySet == Set(1L) && second(1L) <= 21, s"batch 1 jobs: $second")
      // checkpoint lost after a full commit: both batches redeliver and the
      // fencepost must turn each into a no-op that starts no job at all
      java.nio.file.Files.walk(root.resolve("chk")).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
      val replay = runStream()
      assert(replay.values.sum == 0, s"fencepost replay started jobs: $replay")
      assert(graft.tools.EtlCli.readEpochTable(spark, paths("corpus"))
        .select("doc_id").as[Long].collect().toSet == Set(1L, 5L, 7L))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("checkpointed parquet sink resumes exactly-once across restarts") {
    val dir = "/root/testdata/sf0.001"
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val root = tempDir("stream_resume")
    val in = root.resolve("in"); val out = root.resolve("out"); val chk = root.resolve("chk")
    java.nio.file.Files.createDirectory(in)
    val n = spark.read.parquet(s"$dir/events.parquet").count()

    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(in.toString)
        .select(col("event_id"), col("event_type"))
        .writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", chk.toString)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }

    // run 1: one input file -> n rows in the sink
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
      in.resolve("f1.parquet"))
    runOnce()
    assert(spark.read.parquet(out.toString).count() == n)

    // restart with NO new files: the checkpoint knows f1 is done — nothing
    // is reprocessed, the sink is unchanged
    runOnce()
    assert(spark.read.parquet(out.toString).count() == n)

    // a new file after restart is processed exactly once
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
      in.resolve("f2.parquet"))
    runOnce()
    assert(spark.read.parquet(out.toString).count() == 2 * n)
  }
}
