package graft

import graft.operators.Similarity
import graft.streaming.EventStreams
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** End-to-end through the real file stream source: replay the events
  * parquet fixture with Trigger.AvailableNow and check the windowed result
  * equals the batch computation over the same data.
  */
class StreamingFileSpec extends SparkSpec {

  test("file-source replay of events.parquet matches the batch aggregation") {
    val dir = "/root/testdata/sf0.001"
    // watermarks demand TIMESTAMP (not NTZ): normalize ts on BOTH sides —
    // exact under the UTC session timezone regardless of whether the
    // fixture ships nanos-as-long or micros-NTZ
    val batchEvents = graft.core.Tables.t(spark, dir, "events")
      .withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
    val schema = batchEvents.schema

    // file stream source needs a DIRECTORY: stage the single fixture file
    val staged = java.nio.file.Files.createTempDirectory("events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      staged.resolve("part-0.parquet"))

    // streaming read of the same files, with the same ts normalization:
    // nanos-as-long fixtures convert via timestamp_micros, NTZ casts
    val rawSchema = spark.read.parquet(s"$dir/events.parquet").schema
    val stream0 = spark.readStream.schema(rawSchema).parquet(staged.toString)
    val stream = (
      if (rawSchema("ts").dataType == org.apache.spark.sql.types.LongType)
        stream0.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else stream0
    ).withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))

    val q = EventStreams.tumblingCounts(stream, "1 hour", "1 hour")
      .writeStream.format("memory").queryName("file_replay")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.table("file_replay")
      .select(col("window.start").as("ws"), col("event_type"), col("n"))
    val batch = batchEvents
      .groupBy(window(col("ts"), "1 hour").getField("start").as("ws"), col("event_type"))
      .agg(count(lit(1)).as("n"))

    // append mode only emits windows closed by the watermark: every
    // emitted window must match batch exactly, and some windows must close
    val joined = streamed.join(batch.withColumnRenamed("n", "n_batch"),
      Seq("ws", "event_type"), "left_outer")
    assert(streamed.count() > 0)
    assert(joined.filter(col("n") =!= col("n_batch")).count() == 0)
  }

  test("cmsSketchSink: streamed epoch partials sum to the batch-mode sketch; replay adds nothing") {
    import graft.streaming.CorpusStreams
    import spark.implicits._
    val b1 = Seq((1L, "alpha beta alpha"), (2L, "beta gamma"))
    val b2 = Seq((3L, "alpha delta delta"), (4L, "gamma"))
    val root = java.nio.file.Files.createTempDirectory("cms_stream")
    val in = root.resolve("in"); java.nio.file.Files.createDirectory(in)
    def stage(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = root.resolve(name + "_tmp")
      rows.toDF("doc_id", "text").coalesce(1).write.parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, in.resolve(name + ".parquet"))
    }
    stage("b1", b1); stage("b2", b2)
    val schema = spark.read.parquet(in.resolve("b1.parquet").toString).schema
    val sketchPath = root.resolve("sketch").toString

    def runStream(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in.toString)
      val q = CorpusStreams.cmsSketchSink(stream, "text", sketchPath,
        root.resolve("chk").toString, depth = 4, width = 64)
      q.awaitTermination(120000)
    }
    runStream()
    assert(graft.tools.EtlCli.committedEpochs(spark, sketchPath).size == 2)

    def cells(df: org.apache.spark.sql.DataFrame): Set[(Int, Long, Long)] =
      df.select(col("j").cast("int"), col("bucket").cast("long"), col("cnt").cast("long"))
        .as[(Int, Long, Long)].collect().toSet
    val live = cells(CorpusStreams.readCmsSketch(spark, sketchPath))
    val batchMode = cells(graft.operators.Sketches.cmsSketch(
      (b1 ++ b2).toDF("doc_id", "text")
        .select(explode(split(col("text"), " ")).as("t")), "t", depth = 4, width = 64))
    assert(live == batchMode, "streamed sketch diverges from batch-mode sketch")

    // replay with the same checkpoint and no new files: zero new commits
    def walk(f: java.io.File): Seq[String] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f.getPath)
    val before = walk(new java.io.File(sketchPath)).sorted
    runStream()
    assert(walk(new java.io.File(sketchPath)).sorted == before)
  }

  test("packedExportSink: each epoch's packs equal batch-mode packing of that batch; replay adds nothing") {
    import graft.streaming.CorpusStreams
    import spark.implicits._
    def doc(n: Int, p: String) = (1 to n).map(i => s"$p$i").mkString(" ")
    val b1 = Seq((1L, doc(20, "a")), (2L, doc(50, "b")), (3L, doc(40, "c")))
    val b2 = Seq((10L, doc(64, "d")), (11L, doc(5, "e")))
    val root = java.nio.file.Files.createTempDirectory("pack_stream")
    val in = root.resolve("in"); java.nio.file.Files.createDirectory(in)
    def stage(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = root.resolve(name + "_tmp")
      rows.toDF("doc_id", "text").coalesce(1).write.parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, in.resolve(name + ".parquet"))
    }
    stage("b1", b1); stage("b2", b2)
    val schema = spark.read.parquet(in.resolve("b1.parquet").toString).schema
    val packPath = root.resolve("packs").toString
    def runStream(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(in.toString)
      CorpusStreams.packedExportSink(stream, "doc_id", "text", packPath,
        root.resolve("chk").toString, nShards = 2, budget = 64)
        .awaitTermination(120000)
    }
    runStream()
    assert(graft.tools.EtlCli.committedEpochs(spark, packPath).size == 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id").cast("long"), col("shard").cast("long"),
        col("n_tokens").cast("long"), col("pack").cast("long"))
        .as[(Long, Long, Long, Long)].collect().toSet
    // per-epoch assignments ≡ batch-mode packing of exactly that batch
    Seq(0L -> b1, 1L -> b2).foreach { case (epoch, rs) =>
      val streamed = rows(graft.tools.EtlCli.readTable(spark, s"$packPath/epoch=$epoch"))
      val direct = rows(graft.operators.Export.packAssignments(
        rs.toDF("doc_id", "text"), "doc_id", "text", nShards = 2, budget = 64))
      assert(streamed == direct, s"epoch $epoch diverges from batch-mode packing")
    }
    // replay with the same checkpoint and no new files: zero new commits
    def walk(f: java.io.File): Seq[String] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f.getPath)
    val before = walk(new java.io.File(packPath)).sorted
    runStream()
    assert(walk(new java.io.File(packPath)).sorted == before)
  }

  test("hllSketchSink: streamed register partials max-merge to the batch-mode registers") {
    import graft.streaming.CorpusStreams
    import spark.implicits._
    val b1 = (1 to 300).map(i => (i.toLong, s"user${i % 120}"))
    val b2 = (1 to 300).map(i => (i.toLong + 1000, s"user${60 + i % 120}"))
    val root = java.nio.file.Files.createTempDirectory("hll_stream")
    val in = root.resolve("in"); java.nio.file.Files.createDirectory(in)
    def stage(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = root.resolve(name + "_tmp")
      rows.toDF("event_id", "who").coalesce(1).write.parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, in.resolve(name + ".parquet"))
    }
    stage("b1", b1); stage("b2", b2)
    val schema = spark.read.parquet(in.resolve("b1.parquet").toString).schema
    val hllPath = root.resolve("hll").toString
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(in.toString)
      .withColumn("g", lit("all"))
    CorpusStreams.hllSketchSink(stream, col("who"), Seq("g"), hllPath,
      root.resolve("chk").toString).awaitTermination(120000)
    assert(graft.tools.EtlCli.committedEpochs(spark, hllPath).size == 2)
    def regs(df: org.apache.spark.sql.DataFrame): Set[(Int, Int)] =
      df.select(col("j").cast("int"), col("r").cast("int")).as[(Int, Int)].collect().toSet
    val live = regs(CorpusStreams.readHllRegisters(spark, hllPath, Seq("g")))
    val batchMode = regs(graft.operators.Sketches.hllRegisters(
      (b1 ++ b2).toDF("event_id", "who").withColumn("g", lit("all")), col("who"), Seq("g")))
    assert(live == batchMode, "streamed registers diverge from batch-mode registers")
    // and the corrected estimate lands near the true distinct count (180)
    val (nHit, raw) = graft.operators.Sketches.hllEstimate(
      CorpusStreams.readHllRegisters(spark, hllPath, Seq("g")), Seq("g"))
      .select(col("n_hit").cast("long"), col("hll_est")).as[(Long, Double)].head()
    val est = graft.operators.Sketches.hllEstimateCorrected(nHit, raw)
    assert(math.abs(est - 180.0) <= 0.15 * 180.0, s"estimate $est far from 180")
  }

  test("bloomSketchSink: streamed epoch partials bit_or to the batch-mode filter; probe sees streamed members") {
    import graft.streaming.CorpusStreams
    import spark.implicits._
    val b1 = Seq((1L, "alpha beta gamma delta epsilon"), (2L, "one two three four five six"))
    val b2 = Seq((3L, "alpha beta gamma delta other"), (4L, "seven eight nine ten eleven"))
    val mBits = 62 * 16
    val root = java.nio.file.Files.createTempDirectory("bloom_stream")
    val in = root.resolve("in"); java.nio.file.Files.createDirectory(in)
    def stage(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = root.resolve(name + "_tmp")
      rows.toDF("doc_id", "text").coalesce(1).write.parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, in.resolve(name + ".parquet"))
    }
    stage("b1", b1); stage("b2", b2)
    val schema = spark.read.parquet(in.resolve("b1.parquet").toString).schema
    val bloomPath = root.resolve("bloom").toString

    def runStream(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in.toString)
      val q = CorpusStreams.bloomSketchSink(stream, "text", bloomPath,
        root.resolve("chk").toString, mBits = mBits, k = 3, gramN = 4)
      q.awaitTermination(120000)
    }
    runStream()
    assert(graft.tools.EtlCli.committedEpochs(spark, bloomPath).size == 2)

    // streamed live filter ≡ one batch-mode build over all grams at once
    def bits(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("word").cast("long"), col("bits").cast("long"))
        .as[(Long, Long)].collect().toSet
    val live = bits(CorpusStreams.readBloomFilter(spark, bloomPath))
    val batchMode = bits(graft.operators.Sketches.bloomBuild(
      (b1 ++ b2).toDF("doc_id", "text")
        .select(explode(graft.plans.GraftFunctions.word_gram_set(col("text"), 4)).as("gram"))
        .distinct(),
      col("gram"), mBits = mBits, k = 3))
    assert(live == batchMode, "streamed filter bits diverge from batch-mode build")

    // the collected filter probes positive for every streamed gram (no
    // false negatives across the epoch merge)
    val words = graft.operators.Sketches.bloomWords(
      CorpusStreams.readBloomFilter(spark, bloomPath), mBits)
    val misses = (b1 ++ b2).toDF("doc_id", "text")
      .select(graft.plans.GraftFunctions.word_gram_set(col("text"), 4).as("gs"))
      .select(size(col("gs")).as("n"),
        graft.operators.Sketches.bloomCountHits(col("gs"), words, mBits, 3).as("h"))
      .filter(col("h") =!= col("n"))
    assert(misses.isEmpty, "a streamed member gram probed negative")

    // replay with the same checkpoint and no new files: zero new commits
    def walk(f: java.io.File): Seq[String] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f.getPath)
    val before = walk(new java.io.File(bloomPath)).sorted
    runStream()
    assert(walk(new java.io.File(bloomPath)).sorted == before)
  }

  test("kmvSampleSink: streamed bottom-k partials merge to the batch-mode sample") {
    import graft.streaming.CorpusStreams
    import spark.implicits._
    val b1 = (1L to 60L).map(i => (i, s"g${i % 2}", i * 13 % 97))
    val b2 = (61L to 120L).map(i => (i, s"g${i % 2}", i * 13 % 97))
    val root = java.nio.file.Files.createTempDirectory("kmv_stream")
    val in = root.resolve("in"); java.nio.file.Files.createDirectory(in)
    def stage(name: String, rows: Seq[(Long, String, Long)]): Unit = {
      val tmp = root.resolve(name + "_tmp")
      rows.toDF("doc_id", "grp", "v").coalesce(1).write.parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, in.resolve(name + ".parquet"))
    }
    stage("b1", b1); stage("b2", b2)
    val schema = spark.read.parquet(in.resolve("b1.parquet").toString).schema
    val samplePath = root.resolve("kmv").toString
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(in.toString)
    CorpusStreams.kmvSampleSink(stream, "doc_id", "v", Seq("grp"), samplePath,
      root.resolve("chk").toString, k = 8).awaitTermination(120000)
    assert(graft.tools.EtlCli.committedEpochs(spark, samplePath).size == 2)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(String, Long, Long)] =
      df.select(col("grp"), col("doc_id").cast("long"), col("v").cast("long"))
        .as[(String, Long, Long)].collect().toSet
    val live = rows(CorpusStreams.readKmvSample(spark, samplePath, "doc_id", Seq("grp"), 8))
    val batchMode = rows(graft.operators.Sketches.bottomKSample(
      (b1 ++ b2).toDF("doc_id", "grp", "v"), "doc_id", "v", Seq("grp"), 8))
    assert(live == batchMode, "streamed KMV sample diverges from batch-mode sample")
    // smaller merges stay valid (the law holds downward)...
    assert(CorpusStreams.readKmvSample(spark, samplePath, "doc_id", Seq("grp"), 3)
      .count() == 6)
    // ...but asking for MORE than the build k must fail loudly — ranks
    // past 8 were discarded per epoch, a k=64 merge would be biased
    val e = intercept[IllegalArgumentException] {
      CorpusStreams.readKmvSample(spark, samplePath, "doc_id", Seq("grp"), 64)
    }
    assert(e.getMessage.contains("build k=8"))
    // all-empty partials (every batch had zero sampled rows): an empty
    // sample, not an NPE on the absent build-k
    val emptyPath = root.resolve("kmv_empty").toString
    graft.tools.EtlCli.appendEpoch(
      graft.tools.EtlCli.readEpochTable(spark, samplePath).drop("epoch").limit(0),
      emptyPath, 0L)
    assert(CorpusStreams.readKmvSample(spark, emptyPath, "doc_id", Seq("grp"), 8)
      .count() == 0)
  }

  test("KMV monitor end-to-end: ingested length drift vs the pinned day-0 sample raises the alarm") {
    import spark.implicits._
    import graft.streaming.CorpusStreams
    import graft.operators.Sketches
    val root = java.nio.file.Files.createTempDirectory("kmv_drift")
    def paths(n: String) = root.resolve(n).toString
    val in = root.resolve("in"); java.nio.file.Files.createDirectory(in)
    // day 0: short docs (~9 words); day 1: three times as many LONG docs
    val short0 = (1L to 40L).map(i => (i, Seq.fill(9)(s"w${i % 7}").mkString(" ")))
    val long1 = (100L to 220L).map(i => (i, Seq.fill(40)(s"w${i % 7}").mkString(" ")))
    def stage(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = root.resolve(name + "_tmp")
      rows.toDF("doc_id", "text").coalesce(1).write.parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, in.resolve(name + ".parquet"))
    }
    stage("b1", short0); stage("b2", long1)
    val cfg = graft.operators.CorpusPipeline.Config(
      minWords = 1, maxWords = 100000, minMeanLen = 0.0, maxMeanLen = 1e9,
      minUniqRatio = 0.0, stop = Seq("a", "the"), nearDupThreshold = 1.1)
    val schema = spark.read.parquet(in.resolve("b1.parquet").toString).schema
    CorpusStreams.curatedIngestSink(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(in.toString),
      Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "doc_id", "text", paths("index"), paths("corpus"),
      paths("dropped"), paths("chk"), cfg,
      kmvSamplePath = Some(paths("kmv")), kmvK = 32)
      .awaitTermination(120000)
    // the pinned day-0 baseline: a batch-mode sample of the day-0 lengths
    val baseline = Sketches.bottomKSample(
      short0.toDF("doc_id", "text")
        .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
          lit("all").as("g")),
      "doc_id", "n_chars", Seq("g"), 32)
    // live sample (both epochs) drifts long -> alarm; baseline vs itself is calm
    val live = CorpusStreams.readKmvSample(spark, paths("kmv"), "doc_id", Seq("g"), 32)
    val alarm = Sketches.sampleDrift(live, baseline, "doc_id", "n_chars", Seq("g"))
      .select("drifted").as[Boolean].collect()
    assert(alarm.toSeq == Seq(true), "tripled long-doc ingest must trip the length alarm")
    val calm = Sketches.sampleDrift(baseline, baseline, "doc_id", "n_chars", Seq("g"))
      .select("drifted").as[Boolean].collect()
    assert(calm.toSeq == Seq(false))
  }

  test("incrementalDedupSink: micro-batches probe + extend the band index; pairs equal the batch-mode run") {
    import graft.streaming.CorpusStreams
    import spark.implicits._
    // 8 docs, near-dup pairs WITHIN batch 1 (1~2), ACROSS batches (3~5)
    // and WITHIN batch 2 (6~7); 4 and 8 are unique
    val base = "the quick brown fox jumps over the lazy dog again and again "
    val b1 = Seq(
      (1L, base + "today extra tail"),
      (2L, base + "today extra tails"),
      (3L, base + "tonight for fun"),
      (4L, "completely different content about spark query engines and shuffles"))
    val b2 = Seq(
      (5L, base + "tonight for funs"),
      (6L, "another unrelated text regarding parquet pruning and predicate pushdowns"),
      (7L, "another unrelated text regarding parquet pruning and predicate pushdown"),
      (8L, "a third standalone document mentioning broadcast joins and skew salting"))
    val root = java.nio.file.Files.createTempDirectory("inc_dedup")
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

    def runStream(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1) // one file per micro-batch
        .parquet(in.toString)
      val q = CorpusStreams.incrementalDedupSink(stream, "doc_id", "text",
        paths("index"), paths("pairs"), paths("corpus"), paths("chk"),
        k = 5, numHashes = 8, bandSize = 2, threshold = 0.5)
      q.awaitTermination(120000)
    }
    // full recursive file inventory of a table: path -> (mtime, size)
    def inventory(table: String): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(table))
        .map(f => f.getPath -> (f.lastModified() -> f.length())).toMap
    }

    // batch 1 alone -> epoch 0 of all three tables
    runStream()
    val epoch0 = Seq("pairs", "index", "corpus").map(t => t -> inventory(paths(t))).toMap
    assert(epoch0("corpus").keys.exists(_.contains("epoch=0")),
      "corpus epoch-0 partition missing")

    // batch 2 arrives after a restart -> commits epoch 1 ONLY; every file
    // of epoch 0 is untouched (same paths, mtimes, sizes) — the commit is
    // O(batch), not a whole-table rewrite
    stage("b2", b2)
    runStream()
    for (t <- Seq("pairs", "index", "corpus")) {
      val now = inventory(paths(t))
      val prior = epoch0(t).filter(_._1.contains("epoch="))
      assert(prior.forall { case (p, sig) => now.get(p).contains(sig) },
        s"$t: epoch-0 files were rewritten by the epoch-1 commit")
      assert(now.keys.exists(_.contains("epoch=1")), s"$t: epoch-1 partition missing")
    }

    val allDocs = (b1 ++ b2).toDF("doc_id", "text")
    val want = graft.operators.Dedup.lshNearDups(allDocs, "doc_id", "text",
        k = 5, numHashes = 8, bandSize = 2, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(want.exists { case (a, b) => a <= 4 && b >= 5 },
      "fixture must have a cross-batch pair")
    val got = graft.tools.EtlCli.readEpochTable(spark, paths("pairs"))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got == want, s"streamed pairs $got != batch-mode $want")
    // band index covers every ingested doc (numBands rows per signed doc)
    val idx = graft.tools.EtlCli.readEpochTable(spark, paths("index"))
    assert(idx.select("doc_id").distinct().count() == 8)
    assert(graft.tools.EtlCli.readEpochTable(spark, paths("corpus")).count() == 8)

    // restart with the same checkpoint and no new files: nothing replays,
    // tables unchanged (full inventories stable = no new commits anywhere)
    val before = Seq("pairs", "index", "corpus").map(t => inventory(paths(t)))
    runStream()
    val after = Seq("pairs", "index", "corpus").map(t => inventory(paths(t)))
    assert(before == after)
    assert(graft.tools.EtlCli.readEpochTable(spark, paths("pairs"))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet == want)
  }

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
    val root = java.nio.file.Files.createTempDirectory("curated")
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
    val root = java.nio.file.Files.createTempDirectory("curated_dups")
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
    val root = java.nio.file.Files.createTempDirectory("curated_jobs")
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

  test("curatedIngestSink sweep wiring: the picker signs each epoch; a sweep update re-signs the corpus and still catches cross-config near-dups") {
    import graft.streaming.CorpusStreams
    import graft.tools.EtlCli
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again "
    val root = java.nio.file.Files.createTempDirectory("curated_sweep")
    val in = root.resolve("in"); java.nio.file.Files.createDirectory(in)
    def paths(n: String) = root.resolve(n).toString
    def stage(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = root.resolve(name + "_tmp")
      rows.toDF("doc_id", "text").coalesce(1).write.parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, in.resolve(name + ".parquet"))
    }
    // a sweep artifact is (band_size, n_bands, n_candidates, n_truth,
    // n_found, recall) rows — lshBandSweep output committed via writeTable
    def sweep(rows: (Int, Int, Long, Double)*): Unit =
      EtlCli.writeTable(
        rows.toSeq.map { case (c, nb, cand, rec) => (c, nb, cand, 3L, (3 * rec).round, rec) }
          .toDF("band_size", "n_bands", "n_candidates", "n_truth", "n_found", "recall"),
        paths("sweep"))
    val eval = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val cfg = graft.operators.CorpusPipeline.Config(
      minWords = 5, shingleK = 5, nearDupThreshold = 0.5, decontaminateGramN = 4)
    def runStream(): Unit = {
      val schema = spark.read.parquet(in.toString).schema
      CorpusStreams.curatedIngestSink(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in.toString),
        eval, "doc_id", "text", paths("index"), paths("corpus"),
        paths("dropped"), paths("chk"), cfg,
        sweepPath = Some(paths("sweep"))).awaitTermination(120000)
    }
    def marker: (Int, Int) = EtlCli.readTable(spark, paths("index") + "/_signcfg")
      .select("band_size", "num_hashes").as[(Int, Int)].collect().head

    // epoch 0 under pick A = (band_size 2, 8 hashes): 1- and 2-hash
    // configs clear the 0.9 floor, 2 is cheaper
    sweep((1, 8, 3000L, 1.0), (2, 4, 60L, 1.0), (4, 2, 5L, 0.6), (8, 1, 3L, 0.3))
    stage("b1", Seq(
      (1L, base + "today extra tail"),
      (5L, "a completely different text about spark query engines and shuffle behavior")))
    runStream()
    assert(marker == ((2, 8)), s"epoch-0 signing config should be the pick: $marker")
    // 2-hash band keys carry two sig slots: "b:sig:sig"
    val e0Bands = EtlCli.readTable(spark, paths("index") + "/epoch=0")
      .select("band").as[String].collect()
    assert(e0Bands.nonEmpty && e0Bands.forall(_.count(_ == ':') == 2),
      "epoch-0 bands must be 2-hash keys")

    // the sweep updates: only band_size 1 clears the floor now -> pick
    // B = (1, 8). The next epoch must sign under B, RE-SIGN the committed
    // corpus under B, and still catch a near-dup of the A-signed doc 1 —
    // probing the old A-keyed index with B keys would silently miss it.
    sweep((1, 8, 3000L, 1.0), (2, 4, 60L, 0.6), (4, 2, 5L, 0.3), (8, 1, 3L, 0.3))
    stage("b2", Seq(
      (6L, base + "today extra tails"), // cross-config near-dup of 1
      (7L, "a fresh unique document regarding adaptive execution and partition pruning")))
    runStream()
    assert(marker == ((1, 8)), s"sweep update must change the signing config: $marker")
    assert(EtlCli.readEpochTable(spark, paths("corpus"))
      .select("doc_id").as[Long].collect().toSet == Set(1L, 5L, 7L))
    assert(EtlCli.readEpochTable(spark, paths("dropped"))
      .select("doc_id", "reason").as[(Long, String)].collect().toSet ==
      Set((6L, "near_dup")),
      "the near-dup of the old-config corpus doc must still be caught")
    // epoch 1 carries the re-signed corpus (docs 1 and 5) in 1-hash keys
    // alongside the batch survivor's bands
    val e1 = EtlCli.readTable(spark, paths("index") + "/epoch=1")
      .select("doc_id", "band").as[(Long, String)].collect()
    assert(e1.map(_._1).toSet == Set(1L, 5L, 7L),
      s"epoch 1 must hold batch + re-signed corpus bands: ${e1.map(_._1).toSet}")
    assert(e1.forall(_._2.count(_ == ':') == 1), "epoch-1 bands must be 1-hash keys")

    // no qualifying config: the batch must fail loudly, never deploy the
    // best loser
    sweep((1, 8, 3000L, 0.5), (2, 4, 60L, 0.4))
    stage("b3", Seq((9L, "one more document about columnar storage and code generation paths")))
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] { runStream() }
    assert(ex.getMessage.contains("re-sweep") ||
      Option(ex.getCause).exists(_.getMessage.contains("re-sweep")))

    // shingle-k stamp mismatch: a frontier measured at k=9 (sweep-lsh's
    // default) says nothing about recall of this sink's k=5 bands — the
    // pick resolution must refuse the unmeasured deployment, even though
    // the config itself clears the floor
    EtlCli.writeTable(
      Seq((2, 4, 60L, 3L, 3L, 1.0, 9)).toDF("band_size", "n_bands",
        "n_candidates", "n_truth", "n_found", "recall", "shingle_k"),
      paths("sweep"))
    val exK = intercept[org.apache.spark.sql.streaming.StreamingQueryException] { runStream() }
    assert(exK.getMessage.contains("shingle k") ||
      Option(exK.getCause).exists(_.getMessage.contains("shingle k")),
      s"mismatched sweep shingle k must fail loudly: ${exK.getMessage}")
  }

  test("curatedIngestSink bloom stage: docs hitting the streamed seen-set filter drop as bloom_contaminated") {
    import graft.streaming.CorpusStreams
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("curated_bloom")
    def paths(n: String) = root.resolve(n).toString
    val mBits = 62 * 64
    def stage(dir: java.nio.file.Path, name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = root.resolve(name + "_tmp")
      rows.toDF("doc_id", "text").coalesce(1).write.parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, dir.resolve(name + ".parquet"))
    }
    // the growing seen-set: a benchmark stream maintains the bloom filter
    val evalIn = root.resolve("eval_in"); java.nio.file.Files.createDirectory(evalIn)
    stage(evalIn, "e1", Seq((100L, "benchmark question about predicate pushdown ordering semantics today")))
    val evalSchema = spark.read.parquet(evalIn.resolve("e1.parquet").toString).schema
    CorpusStreams.bloomSketchSink(
      spark.readStream.schema(evalSchema).parquet(evalIn.toString), "text",
      paths("bloom"), paths("bloom_chk"), mBits = mBits, k = 3, gramN = 4)
      .awaitTermination(120000)
    // ingest: doc 4 shares a 4-gram with the STREAMED seen-set (not with
    // evalDocs, which is empty here — the exact stage cannot catch it)
    val in = root.resolve("in"); java.nio.file.Files.createDirectory(in)
    stage(in, "b1", Seq(
      (1L, "a completely different text about spark query engines and shuffle behavior"),
      (4L, "a study of benchmark question about predicate pushdown ordering semantics here")))
    val schema = spark.read.parquet(in.resolve("b1.parquet").toString).schema
    val emptyEval = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val cfg = graft.operators.CorpusPipeline.Config(
      minWords = 5, shingleK = 5, nearDupThreshold = 0.5, decontaminateGramN = 4,
      bloomMBits = mBits, bloomK = 3)
    CorpusStreams.curatedIngestSink(
      spark.readStream.schema(schema).parquet(in.toString), emptyEval,
      "doc_id", "text", paths("index"), paths("corpus"), paths("dropped"),
      paths("chk"), cfg, bloomPath = Some(paths("bloom")))
      .awaitTermination(120000)
    import graft.tools.EtlCli
    assert(EtlCli.readEpochTable(spark, paths("corpus"))
      .select("doc_id").as[Long].collect().toSet == Set(1L),
      "bloom-hit doc must not reach the clean corpus")
    assert(EtlCli.readEpochTable(spark, paths("dropped"))
      .select("doc_id", "reason").as[(Long, String)].collect().toSet ==
      Set((4L, "bloom_contaminated")))
  }

  test("curatedIngestSink DSIR stage: streamed selection equals the batch operators; rejects logged") {
    import spark.implicits._
    import graft.streaming.CorpusStreams
    import graft.operators.TextAnalysis
    import graft.tools.EtlCli
    val root = java.nio.file.Files.createTempDirectory("dsir_ingest")
    def paths(n: String) = root.resolve(n).toString
    // day-0 model: target = fixture src0 docs, raw = the rest
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"), col("source"))
    val raw = docs.filter(col("source") =!= "src0").select(col("doc_id"), col("text"))
    val target = docs.filter(col("source") === "src0").select(col("doc_id"), col("text"))
    EtlCli.writeTable(TextAnalysis.dsirModel(raw, target, "doc_id", "text"),
      paths("model"))
    // stream the raw pool in two files; gates relaxed so DSIR is the
    // discriminating stage (no eval docs, no bloom)
    val in = root.resolve("in"); java.nio.file.Files.createDirectory(in)
    def stage(name: String, rows: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = root.resolve(name + "_tmp")
      rows.coalesce(1).write.parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, in.resolve(name + ".parquet"))
    }
    stage("b1", raw.filter(col("doc_id") % 2 === 0))
    stage("b2", raw.filter(col("doc_id") % 2 =!= 0))
    val schema = raw.schema
    val emptyEval = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val cfg = graft.operators.CorpusPipeline.Config(
      minWords = 1, maxWords = 100000, minMeanLen = 0.0, maxMeanLen = 1e9,
      minUniqRatio = 0.0, stop = Seq("a", "the", "of", "to"))
    CorpusStreams.curatedIngestSink(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(in.toString),
      emptyEval, "doc_id", "text", paths("index"), paths("corpus"),
      paths("dropped"), paths("chk"), cfg,
      dsirModelPath = Some(paths("model")))
      .awaitTermination(120000)
    // gate-passing docs split exactly along the batch operator's keep set
    val gatePass = TextAnalysis.qualityGates(raw, "text", cfg.stop,
        cfg.minWords, cfg.maxWords, cfg.minMeanLen, cfg.maxMeanLen, cfg.minUniqRatio)
      .filter(col("pass")).select(col("doc_id"), col("text"))
    val expectKeep = TextAnalysis.dsirResampleFromModel(
        gatePass, EtlCli.readTable(spark, paths("model")), "doc_id", "text")
      .select(col("doc_id")).as[Long].collect().toSet
    val streamedKeep = EtlCli.readEpochTable(spark, paths("corpus"))
      .select("doc_id").as[Long].collect().toSet
    // near-dup drops can only shrink the DSIR keep set — compute them
    val nearDropped = EtlCli.readEpochTable(spark, paths("dropped"))
      .filter(col("reason") === "near_dup").select("doc_id").as[Long].collect().toSet
    assert(streamedKeep == expectKeep -- nearDropped,
      s"streamed DSIR selection must equal the batch operator's keep set")
    assert(expectKeep.nonEmpty && streamedKeep.nonEmpty, "fixture must exercise the stage")
    val rejects = EtlCli.readEpochTable(spark, paths("dropped"))
      .filter(col("reason") === "dsir_rejected").select("doc_id").as[Long].collect().toSet
    val gateIds = gatePass.select("doc_id").as[Long].collect().toSet
    assert(rejects == gateIds -- expectKeep,
      "every gate-passing, DSIR-rejected doc must be logged with reason dsir_rejected")
  }

  test("curatedIngestSink KMV stage: streamed length sample equals batch bottom-k over the survivors") {
    import spark.implicits._
    import graft.streaming.CorpusStreams
    import graft.tools.EtlCli
    val root = java.nio.file.Files.createTempDirectory("kmv_ingest")
    def paths(n: String) = root.resolve(n).toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val in = root.resolve("in"); java.nio.file.Files.createDirectory(in)
    def stage(name: String, rows: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = root.resolve(name + "_tmp")
      rows.coalesce(1).write.parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, in.resolve(name + ".parquet"))
    }
    stage("b1", docs.filter(col("doc_id") % 2 === 0))
    stage("b2", docs.filter(col("doc_id") % 2 =!= 0))
    // gates wide open, no eval/bloom/dsir: every doc survives, so the
    // monitor's ground truth is the whole corpus
    val cfg = graft.operators.CorpusPipeline.Config(
      minWords = 1, maxWords = 100000, minMeanLen = 0.0, maxMeanLen = 1e9,
      minUniqRatio = 0.0, stop = Seq("a", "the"), nearDupThreshold = 1.1)
    CorpusStreams.curatedIngestSink(
      spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(in.toString),
      Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "doc_id", "text", paths("index"), paths("corpus"),
      paths("dropped"), paths("chk"), cfg,
      kmvSamplePath = Some(paths("kmv")), kmvK = 16)
      .awaitTermination(120000)
    val survivors = EtlCli.readEpochTable(spark, paths("corpus"))
      .select(col("doc_id"), col("text"))
    val live = CorpusStreams.readKmvSample(spark, paths("kmv"), "doc_id", Seq("g"), 16)
      .select(col("doc_id").cast("long"), col("n_chars").cast("long"))
      .as[(Long, Long)].collect().toSet
    val batchMode = graft.operators.Sketches.bottomKSample(
        survivors.select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars"), lit("all").as("g")),
        "doc_id", "n_chars", Seq("g"), 16)
      .select(col("doc_id").cast("long"), col("n_chars").cast("long"))
      .as[(Long, Long)].collect().toSet
    assert(live == batchMode,
      "streamed KMV monitor must merge to the batch bottom-k over all survivors")
    // and the monitor feeds quantile estimates directly
    val p50 = graft.operators.Sketches.sampleQuantiles(
        CorpusStreams.readKmvSample(spark, paths("kmv"), "doc_id", Seq("g"), 16),
        "doc_id", "n_chars", Seq("g"), Seq(("p50", 1, 2)))
      .select("p50").as[Long].head()
    assert(p50 > 0)
  }

  test("annIndexSink: micro-batched codes equal a from-scratch encode; commits are epoch appends") {
    import graft.streaming.CorpusStreams
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val corpus = emb.filter(col("vec_id") % 4 =!= 0)
    val root = java.nio.file.Files.createTempDirectory("ann_sink")
    val in = root.resolve("in"); java.nio.file.Files.createDirectory(in)
    def paths(n: String) = root.resolve(n).toString

    // day 0: train on the initial corpus, persist the pinned artifacts
    val (cb0, _) = graft.operators.Similarity.ivfPqResidualBuild(
      corpus, "vec_id", "embedding", nCells = 16, m = 8, ksub = 16, iters = 2)
    graft.tools.EtlCli.writeTable(
      graft.operators.Similarity.coarseCentroids(corpus, "vec_id", "embedding", 16),
      paths("centroids"))
    graft.tools.EtlCli.writeTable(cb0, paths("codebook"))

    // stream: the corpus itself, then the held-out quarter in two files
    def stage(name: String, rows: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = root.resolve(name + "_tmp")
      rows.coalesce(1).write.parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, in.resolve(name + ".parquet"))
    }
    stage("b0", corpus)
    stage("b1", emb.filter(col("vec_id") % 4 === 0 && col("vec_id") % 8 === 0))
    stage("b2", emb.filter(col("vec_id") % 4 === 0 && col("vec_id") % 8 =!= 0))

    def runStream(): Unit = {
      val stream = spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in.toString)
      val q = CorpusStreams.annIndexSink(stream, "vec_id", "embedding",
        paths("centroids"), paths("codebook"), paths("codes"), paths("chk"), m = 8)
      q.awaitTermination(120000)
    }
    runStream()

    // three epoch partitions, one per micro-batch
    assert(graft.tools.EtlCli.committedEpochs(spark, paths("codes")).size == 3)
    def codesOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Seq[Long])] =
      df.select(col("cid").cast("long"), col("cell").cast("long"),
          col("codes").cast("array<long>"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
        .toSeq.sortBy(_._1)
    val streamed = codesOf(graft.tools.EtlCli.readEpochTable(spark, paths("codes")))
    // incremental ≡ from-scratch: codes are a pure function of the pinned
    // artifacts, regardless of how the corpus was batched
    val scratch = codesOf(graft.operators.Similarity.ivfPqResidualEncode(
      emb, "vec_id", "embedding",
      graft.tools.EtlCli.readTable(spark, paths("centroids")),
      graft.tools.EtlCli.readTable(spark, paths("codebook")), m = 8))
    assert(streamed.size == emb.count())
    assert(streamed == scratch, "streamed codes diverge from from-scratch encode")

    // replay with the same checkpoint and no new files: zero new commits
    def walk(f: java.io.File): Seq[String] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f.getPath)
    val before = walk(new java.io.File(paths("codes"))).sorted
    runStream()
    assert(walk(new java.io.File(paths("codes"))).sorted == before)
  }

  test("annIndexSinkWithDrift: per-epoch codebook drift log; shifted epoch alarms all axes; check-drift names it") {
    import graft.streaming.CorpusStreams
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val root = java.nio.file.Files.createTempDirectory("ann_drift")
    val in = root.resolve("in"); java.nio.file.Files.createDirectory(in)
    def paths(n: String) = root.resolve(n).toString
    // day-0 artifacts: pinned centroids + codebook + the baseline they
    // were trained from
    val (cb0, _) = graft.operators.Similarity.ivfPqResidualBuild(
      emb, "vec_id", "embedding", nCells = 8, m = 8, ksub = 8, iters = 1)
    graft.tools.EtlCli.writeTable(
      graft.operators.Similarity.coarseCentroids(emb, "vec_id", "embedding", 8),
      paths("centroids"))
    graft.tools.EtlCli.writeTable(cb0, paths("codebook"))
    graft.tools.EtlCli.writeTable(emb, paths("baseline"))
    def stage(name: String, rows: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = root.resolve(name + "_tmp")
      rows.coalesce(1).write.parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, in.resolve(name + ".parquet"))
    }
    // epoch 0: iid re-draw (fresh ids); epoch 1: the diagonal shift
    stage("b0", emb.select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
    stage("b1", emb.select((col("vec_id") + 200000).as("vec_id"),
      transform(col("embedding"), x => x + lit(0.5f)).as("embedding")))
    CorpusStreams.annIndexSinkWithDrift(
      spark.readStream.schema(emb.schema).option("maxFilesPerTrigger", 1)
        .parquet(in.toString),
      "vec_id", "embedding", paths("centroids"), paths("codebook"),
      paths("codes"), paths("chk"), m = 8, paths("baseline"), paths("drift"),
      maxTvd = 0.1, maxQerrRatio = 1.25, maxResidRatio = 1.25)
      .awaitTermination(120000)
    // the codes side is untouched by the instrumentation
    assert(graft.tools.EtlCli.committedEpochs(spark, paths("codes")) == Seq(0L, 1L))
    assert(graft.tools.EtlCli.readEpochTable(spark, paths("codes")).count()
      == 2 * emb.count())
    // one drift row per epoch, resid axis included: quiet iid, alarmed shift
    val log = graft.tools.EtlCli.readEpochTable(spark, paths("drift"))
      .select(col("epoch"), col("drift_alarm"), col("resid_ratio"))
      .as[(Long, Boolean, Double)].collect().sortBy(_._1)
    assert(log.map(r => (r._1, r._2)).toSeq == Seq((0L, false), (1L, true)),
      s"drift log: ${log.toSeq}")
    assert(log(1)._3 > 1.25,
      s"shifted residuals must show in the ADC-error ratio: ${log(1)._3}")
    val ex = intercept[RuntimeException] {
      graft.tools.EtlCli.checkDrift(spark, paths("drift"))
    }
    assert(ex.getMessage.contains("epoch(s) 1"), ex.getMessage)

    // ---- the remedial action: the invalidation-CASCADE retrain ----
    // (codes don't carry vectors, so the retrain reads the corpus table
    // the embedding pipeline maintains — here the two ingested batches)
    val corpus = spark.read.parquet(in.toString)
      .select(col("vec_id"), col("embedding"))
    graft.tools.EtlCli.writeTable(corpus, paths("vecs"))
    graft.tools.EtlCli.retrainIvfPq(spark, paths("vecs"), paths("cent2"),
      paths("cb2"), paths("codes2"), paths("base2"),
      nCells = 8, m = 8, ksub = 8, iters = 1)
    // the committed re-encode equals a from-scratch encode under the new
    // (centroids, codebook) pair — centroids/codebook/codes moved TOGETHER
    def codesOf(df: org.apache.spark.sql.DataFrame) = df
      .select(col("cid").cast("long"), col("cell").cast("long"),
        col("codes").cast("array<long>"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
      .toSeq.sortBy(_._1)
    assert(codesOf(graft.tools.EtlCli.readTable(spark, paths("codes2"))) ==
      codesOf(graft.operators.Similarity.ivfPqResidualEncode(corpus,
        "vec_id", "embedding",
        graft.tools.EtlCli.readTable(spark, paths("cent2")),
        graft.tools.EtlCli.readTable(spark, paths("cb2")), m = 8)),
      "retrained codes diverge from a from-scratch encode")
    // the previously-alarmed batch reads quiet against the new artifacts
    val shifted = spark.read.parquet(in.resolve("b1.parquet").toString)
    val post = graft.operators.Similarity.codebookDriftStats(
        graft.tools.EtlCli.readTable(spark, paths("base2")), shifted,
        "embedding", graft.tools.EtlCli.readTable(spark, paths("cent2")),
        graft.tools.EtlCli.readTable(spark, paths("cb2")), m = 8,
        maxTvd = 0.1, maxQerrRatio = 1.25, maxResidRatio = 1.25)
      .select(col("qerr_ratio"), col("resid_ratio")).as[(Double, Double)].head()
    assert(post._1 < 1.25 && post._2 < 1.25,
      s"retrain must clear both error axes: $post")

    // pair-binding guard: the retrained codebook is STAMPED with the
    // quantizer it was trained under — encoding against the OLD
    // centroids (a half-switched deployment) must refuse, not store
    // garbage codes silently
    val in2 = root.resolve("in2"); java.nio.file.Files.createDirectory(in2)
    java.nio.file.Files.copy(in.resolve("b0.parquet"), in2.resolve("b0.parquet"))
    val exPair = intercept[Exception] {
      CorpusStreams.annIndexSink(
        spark.readStream.schema(emb.schema).option("maxFilesPerTrigger", 1)
          .parquet(in2.toString),
        "vec_id", "embedding", paths("centroids"), paths("cb2"),
        paths("codesX"), paths("chk2"), m = 8).awaitTermination(120000)
    }
    def messages(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + messages(t.getCause)
    assert(messages(exPair).contains("identity"), messages(exPair))
    // the mismatched batch must not have committed any codes
    assert(graft.tools.EtlCli.committedEpochs(spark, paths("codesX")).isEmpty)
  }

  test("binaryIndexSink: streamed epoch union == batch build; probe equals the batch path") {
    import graft.streaming.CorpusStreams
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val root = java.nio.file.Files.createTempDirectory("bin_sink")
    val in = root.resolve("in"); java.nio.file.Files.createDirectory(in)
    def paths(n: String) = root.resolve(n).toString
    def stage(name: String, rows: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = root.resolve(name + "_tmp")
      rows.coalesce(1).write.parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, in.resolve(name + ".parquet"))
    }
    stage("b0", emb.filter(col("vec_id") % 3 === 0))
    stage("b1", emb.filter(col("vec_id") % 3 === 1))
    stage("b2", emb.filter(col("vec_id") % 3 === 2))
    def runStream(): Unit = {
      val stream = spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in.toString)
      CorpusStreams.binaryIndexSink(stream, "vec_id", "embedding",
        paths("index"), paths("chk"), dims = 64).awaitTermination(120000)
    }
    runStream()
    assert(graft.tools.EtlCli.committedEpochs(spark, paths("index")).size == 3)
    // epoch union == from-scratch build, bit for bit (no trained artifact
    // to couple to, so a grown index can never drift from a fresh one)
    val streamed = graft.tools.EtlCli.readEpochTable(spark, paths("index"))
    val words = streamed.select(col("vec_id").cast("long"), col("words"))
      .as[(Long, Seq[Long])].collect().toSeq.sortBy(_._1)
    val scratch = graft.operators.Similarity
      .binaryIndexBuild(emb, "vec_id", "embedding", dims = 64)
      .select(col("vec_id").cast("long"), col("words"))
      .as[(Long, Seq[Long])].collect().toSeq.sortBy(_._1)
    assert(words.size == emb.count() && words == scratch,
      "streamed index diverges from the from-scratch build")
    // probing the streamed index == the batch rerank path on the corpus
    val queries = emb.filter(col("vec_id") < 3)
    def topk(codes: org.apache.spark.sql.DataFrame,
             vecs: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
      graft.operators.Similarity.binaryProbeTopK(codes, vecs, queries,
          "vec_id", "embedding", dims = 64, shortlist = 40, k = 5)
        .select(col("qid").cast("long"), col("cid").cast("long"), col("rank"))
        .as[(Long, Long, Int)].collect().toSet
    assert(topk(streamed, streamed) ==
      topk(graft.operators.Similarity.binaryQuantize(emb, "vec_id", "embedding", 64), emb))
    // replay with the same checkpoint and no new files: zero new commits
    def walk(f: java.io.File): Seq[String] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f.getPath)
    val before = walk(new java.io.File(paths("index"))).sorted
    runStream()
    assert(walk(new java.io.File(paths("index"))).sorted == before)

    // ---- sweep-wired probe depth (the pick -> deploy last mile) ----
    // a committed sweep where depth 25 is the cheapest clearing the
    // floor: the probe must serve at 25 and say so
    def sweep(rows: (Int, Long, Double)*): Unit =
      graft.tools.EtlCli.writeTable(
        rows.toSeq.map { case (sl, ns, rec) => (sl, ns, (50 * rec).round, 50L, rec) }
          .toDF("shortlist", "n_scored", "n_hit", "n_denom", "recall_micro"),
        paths("sweep"))
    def probe() = graft.streaming.CorpusStreams.binaryProbeWithSweep(spark,
      paths("index"), paths("sweep"), queries, "vec_id", "embedding",
      minRecall = 0.9, k = 5)
    sweep((25, 125L, 0.95), (50, 250L, 0.97), (100, 500L, 1.0))
    val p25 = probe()
    assert(p25.select(col("shortlist")).distinct().as[Int].collect().toSeq == Seq(25),
      "probe must deploy the swept depth")
    assert(p25.drop("shortlist").select(col("qid").cast("long"),
        col("cid").cast("long"), col("rank")).as[(Long, Long, Int)].collect().toSet ==
      graft.operators.Similarity.binaryProbeTopK(streamed, streamed, queries,
          "vec_id", "embedding", dims = 64, shortlist = 25, k = 5)
        .select(col("qid").cast("long"), col("cid").cast("long"), col("rank"))
        .as[(Long, Long, Int)].collect().toSet,
      "sweep-wired probe must equal the direct probe at the chosen depth")
    // a re-sweep where only depth 100 clears the floor changes the
    // deployed depth on the NEXT probe — no re-sign, no migration
    sweep((25, 125L, 0.6), (50, 250L, 0.8), (100, 500L, 0.95))
    assert(probe().select(col("shortlist")).distinct().as[Int].collect().toSeq ==
      Seq(100), "re-sweep must move the deployed depth")
    // no depth qualifies: fail loudly, never the best loser
    sweep((25, 125L, 0.5), (50, 250L, 0.6))
    val ex = intercept[IllegalArgumentException] { probe() }
    assert(ex.getMessage.contains("re-sweep"), ex.getMessage)
  }

  test("binaryIvfIndexSink: streamed epochs == batch build against pinned centroids; read-optimized probe identical") {
    import graft.streaming.CorpusStreams
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val root = java.nio.file.Files.createTempDirectory("bivf_sink")
    val in = root.resolve("in"); java.nio.file.Files.createDirectory(in)
    def paths(n: String) = root.resolve(n).toString
    // day-0 artifact: coarse centroids over the full corpus, PERSISTED —
    // the streamed batches must encode against these, never re-derive
    val cent = graft.operators.Similarity.coarseCentroids(
      emb, "vec_id", "embedding", nCells = 8)
    graft.tools.EtlCli.writeTable(cent, paths("centroids"))
    def stage(name: String, rows: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = root.resolve(name + "_tmp")
      rows.coalesce(1).write.parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, in.resolve(name + ".parquet"))
    }
    stage("b0", emb.filter(col("vec_id") % 3 === 0))
    stage("b1", emb.filter(col("vec_id") % 3 === 1))
    stage("b2", emb.filter(col("vec_id") % 3 === 2))
    CorpusStreams.binaryIvfIndexSink(
      spark.readStream.schema(emb.schema).option("maxFilesPerTrigger", 1)
        .parquet(in.toString),
      "vec_id", "embedding", paths("index"), paths("chk"), dims = 64,
      paths("centroids")).awaitTermination(120000)
    assert(graft.tools.EtlCli.committedEpochs(spark, paths("index")).size == 3)
    // epoch union == from-scratch build (cells AND codes), row for row
    val streamed = graft.tools.EtlCli.readEpochTable(spark, paths("index"))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id").cast("long"), col("cell").cast("long"), col("words"))
      .as[(Long, Long, Seq[Long])].collect().toSeq.sortBy(_._1)
    assert(rows(streamed) == rows(graft.operators.Similarity
        .binaryIvfIndexBuild(emb, "vec_id", "embedding", dims = 64,
          graft.tools.EtlCli.readTable(spark, paths("centroids")))),
      "streamed cell-pruned index diverges from the from-scratch build")
    // read-optimize to the cell-partitioned probe layout: probing it
    // equals probing the raw epoch union
    CorpusStreams.binaryIvfReadOptimize(spark, paths("index"), paths("opt"))
    val queries = emb.filter(col("vec_id") < 3)
    def topk(df: org.apache.spark.sql.DataFrame) = df
      .select(col("qid").cast("long"), col("cid").cast("long"), col("rank"))
      .as[(Long, Long, Int)].collect().toSet
    // read-optimize commits via the versioned protocol; path-based probes
    // resolve the committed data dir (binaryIvfProbeWithSweep does this
    // internally — the direct probe resolves explicitly here)
    val viaOpt = topk(graft.operators.Similarity.binaryIvfProbeIndex(spark,
      graft.tools.EtlCli.resolveDataDir(spark, paths("opt")),
      queries, "vec_id", "embedding", dims = 64,
      graft.tools.EtlCli.readTable(spark, paths("centroids")),
      nProbe = 2, shortlist = 20, k = 5))
    val viaUnion = topk(graft.operators.Similarity.binaryIvfProbeTopK(
      streamed, streamed, queries, "vec_id", "embedding", dims = 64,
      graft.tools.EtlCli.readTable(spark, paths("centroids")),
      nProbe = 2, shortlist = 20, k = 5))
    assert(viaOpt == viaUnion,
      "read-optimized layout changed the probe result")

    // ---- 2D-sweep-wired probe (the binary-IVF pick -> deploy mile) ----
    def sweep2(rows: (Int, Int, Long, Long, Double)*): Unit =
      graft.tools.EtlCli.writeTable(
        rows.toSeq.map { case (np, sl, nc, ns, rec) =>
          (np, sl, nc, ns, (30 * rec).round, 30L, rec) }
          .toDF("n_probe", "shortlist", "n_cand", "n_scored", "n_hit",
            "n_denom", "recall_micro"),
        paths("sweep2"))
    def probe2() = CorpusStreams.binaryIvfProbeWithSweep(spark, paths("opt"),
      paths("centroids"), paths("sweep2"), queries, "vec_id", "embedding",
      dims = 64, minRecall = 0.9, k = 5)
    sweep2((2, 20, 300L, 60L, 0.95), (4, 20, 600L, 60L, 0.97),
      (4, 40, 600L, 120L, 1.0))
    val d2 = probe2()
    assert(d2.select(col("n_probe"), col("shortlist")).distinct()
      .as[(Int, Int)].collect().toSeq == Seq((2, 20)),
      "probe must deploy the cheapest swept config")
    assert(topk(d2.drop("n_probe", "shortlist")) == viaOpt,
      "sweep-wired probe must equal the direct probe at the chosen knobs")
    // re-sweep: only (4, 40) clears now -> both knobs move on next probe
    sweep2((2, 20, 300L, 60L, 0.6), (4, 20, 600L, 60L, 0.8),
      (4, 40, 600L, 120L, 0.95))
    assert(probe2().select(col("n_probe"), col("shortlist")).distinct()
      .as[(Int, Int)].collect().toSeq == Seq((4, 40)),
      "re-sweep must move the deployed knobs")
    // floor unreachable: refuse, never the best loser
    sweep2((2, 20, 300L, 60L, 0.5))
    val ex2 = intercept[IllegalArgumentException] { probe2() }
    assert(ex2.getMessage.contains("re-sweep"), ex2.getMessage)
  }

  test("binaryIvfIndexSinkWithDrift: per-epoch drift log; shifted epoch alarms; check-drift fails naming it") {
    import graft.streaming.CorpusStreams
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val root = java.nio.file.Files.createTempDirectory("bivf_drift")
    val in = root.resolve("in"); java.nio.file.Files.createDirectory(in)
    def paths(n: String) = root.resolve(n).toString
    // day-0 artifacts: the baseline sample the centroids were trained on
    graft.tools.EtlCli.writeTable(
      Similarity.coarseCentroids(emb, "vec_id", "embedding", nCells = 8),
      paths("centroids"))
    graft.tools.EtlCli.writeTable(emb, paths("baseline"))
    def stage(name: String, rows: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = root.resolve(name + "_tmp")
      rows.coalesce(1).write.parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, in.resolve(name + ".parquet"))
    }
    // epoch 0: an iid re-draw of the day-0 distribution (fresh ids);
    // epoch 1: the diagonal shift — the "new modality" batch
    stage("b0", emb.select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
    stage("b1", emb.select((col("vec_id") + 200000).as("vec_id"),
      transform(col("embedding"), x => x + lit(0.5f)).as("embedding")))
    CorpusStreams.binaryIvfIndexSinkWithDrift(
      spark.readStream.schema(emb.schema).option("maxFilesPerTrigger", 1)
        .parquet(in.toString),
      "vec_id", "embedding", paths("index"), paths("chk"), dims = 64,
      paths("centroids"), paths("baseline"), paths("drift"),
      maxTvd = 0.1, maxQerrRatio = 1.25).awaitTermination(120000)
    // the index side is untouched by the instrumentation
    assert(graft.tools.EtlCli.committedEpochs(spark, paths("index")) == Seq(0L, 1L))
    assert(graft.tools.EtlCli.readEpochTable(spark, paths("index")).count()
      == 2 * emb.count())
    // one drift row per epoch: quiet for the iid batch, alarmed for the shift
    val log = graft.tools.EtlCli.readEpochTable(spark, paths("drift"))
      .select(col("epoch"), col("drift_alarm"), col("qerr_ratio"))
      .as[(Long, Boolean, Double)].collect().sortBy(_._1)
    assert(log.map(r => (r._1, r._2)).toSeq == Seq((0L, false), (1L, true)),
      s"drift log: ${log.toSeq}")
    assert(log(1)._3 > 1.25, s"shift must show in the error ratio: ${log(1)._3}")
    // the monitor: fails loudly naming the alarmed epoch
    val ex = intercept[RuntimeException] {
      graft.tools.EtlCli.checkDrift(spark, paths("drift"))
    }
    assert(ex.getMessage.contains("epoch(s) 1") && ex.getMessage.contains("retrain"),
      ex.getMessage)

    // ---- the remedial action the alarm names: retrain + re-encode ----
    graft.tools.EtlCli.retrainBinaryIvf(spark, paths("index"),
      paths("cent2"), paths("index2"), paths("base2"), nCells = 8, dims = 64)
    val corpus = graft.tools.EtlCli.readEpochTable(spark, paths("index"))
      .select(col("vec_id"), col("embedding"))
    val cent2 = graft.tools.EtlCli.readTable(spark, paths("cent2"))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id").cast("long"), col("cell").cast("long"), col("words"))
      .as[(Long, Long, Seq[Long])].collect().toSeq.sortBy(_._1)
    // the new index IS the from-scratch build under the new quantizer
    // (committed via the versioned protocol, cell-partitioned)
    assert(rows(graft.tools.EtlCli.readTable(spark, paths("index2"))) ==
      rows(Similarity.binaryIvfIndexBuild(corpus, "vec_id", "embedding",
        dims = 64, cent2)),
      "retrained index diverges from the from-scratch build")
    // the error alarm resolves: the retrained quantizer COVERS the
    // drifted mode, so the previously-alarmed batch's quantization error
    // reads normal against the new baseline (occupancy still differs —
    // one batch is one mode of a now-bimodal corpus — which is exactly
    // why the error axis exists)
    val shiftedBatch = spark.read.parquet(in.resolve("b1.parquet").toString)
    val ratio = Similarity.quantizerDriftStats(
        graft.tools.EtlCli.readTable(spark, paths("base2")), shiftedBatch,
        "embedding", cent2, maxTvd = 0.1, maxQerrRatio = 1.25)
      .select(col("qerr_ratio")).as[Double].head()
    assert(ratio < 1.25, s"retrain must clear the error alarm: ratio $ratio")
    // the baseline sampling knob bounds the monitor artifact
    graft.tools.EtlCli.retrainBinaryIvf(spark, paths("index"),
      paths("cent3"), paths("index3"), paths("base3"), nCells = 8, dims = 64,
      samplePeriod = 2)
    val nBase = graft.tools.EtlCli.readTable(spark, paths("base3")).count()
    assert(nBase > 0 && nBase < corpus.count(),
      s"sampled baseline should be a strict subset: $nBase of ${corpus.count()}")

    // ---- sweep invalidation + re-sweep: the rest of the runbook ----
    // a sweep measured against the DAY-0 quantizer (stamped with its
    // identity by sweep-binary-ivf) ...
    graft.tools.EtlCli.sweepBinaryIvf(spark, paths("index"),
      paths("centroids"), paths("sweep_old"), nQueries = 3, k = 5,
      nProbes = Seq(1, 2, 4), shortlists = Seq(10, 25, 50))
    assert(graft.tools.EtlCli.readTable(spark, paths("sweep_old"))
        .select(col("quantizer_id")).distinct().count() == 1,
      "sweep artifact must carry exactly one quantizer identity")
    // ... must REFUSE to deploy against the retrained centroids: every
    // stored cell moved, so its recall floor was never measured there
    val exStale = intercept[IllegalArgumentException] {
      graft.streaming.CorpusStreams.binaryIvfProbeWithSweep(spark,
        paths("index2"), paths("cent2"), paths("sweep_old"),
        emb.filter(col("vec_id") < 3), "vec_id", "embedding", dims = 64,
        minRecall = 0.0, k = 5)
    }
    assert(exStale.getMessage.contains("identity")
        && exStale.getMessage.contains("sweep-binary-ivf"),
      exStale.getMessage)
    // re-sweep against the new artifacts; the probe then serves with the
    // re-swept knobs riding the output — the loop is closed
    graft.tools.EtlCli.sweepBinaryIvf(spark, paths("index2"),
      paths("cent2"), paths("sweep_new"), nQueries = 3, k = 5,
      nProbes = Seq(1, 2, 4), shortlists = Seq(10, 25, 50))
    val served = graft.streaming.CorpusStreams.binaryIvfProbeWithSweep(spark,
      paths("index2"), paths("cent2"), paths("sweep_new"),
      emb.filter(col("vec_id") < 3), "vec_id", "embedding", dims = 64,
      minRecall = 0.0, k = 5)
    val knobs = served.select(col("n_probe"), col("shortlist")).distinct()
      .as[(Int, Int)].collect().toSeq
    val expect = graft.operators.SweepFamily.binaryIvf.pick(
        graft.tools.EtlCli.readTable(spark, paths("sweep_new")), floor = 0.0)
      .select(col("n_probe").cast("int"), col("shortlist").cast("int"))
      .as[(Int, Int)].collect().toSeq
    assert(knobs == expect, s"served knobs $knobs != swept choice $expect")
    assert(served.count() > 0, "re-swept probe must serve results")
  }

  test("checkpointed parquet sink resumes exactly-once across restarts") {
    val dir = "/root/testdata/sf0.001"
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val root = java.nio.file.Files.createTempDirectory("stream_resume")
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

  test("ivfpq sweep -> pick -> deploy loop: probe serves the swept depth; a retrain refuses the stale sweep on both identities") {
    import graft.streaming.CorpusStreams
    import graft.operators.Similarity
    import graft.tools.EtlCli
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val root = java.nio.file.Files.createTempDirectory("pq_loop")
    val in = root.resolve("in"); java.nio.file.Files.createDirectory(in)
    def paths(n: String) = root.resolve(n).toString
    // day-0 pair: persisted centroids + codebook STAMPED with its quantizer
    val cent0 = Similarity.coarseCentroids(emb, "vec_id", "embedding", 16)
      .transform(graft.core.Materialize.pin)
    val (cb0, _) = Similarity.ivfPqResidualBuild(emb, "vec_id", "embedding",
      nCells = 16, m = 8, ksub = 16, iters = 1)
    EtlCli.writeTable(cent0, paths("cent"))
    EtlCli.writeTable(cb0.withColumn("quantizer_id",
      lit(Similarity.quantizerIdentity(cent0))), paths("cb"))
    EtlCli.writeTable(emb, paths("vecs"))
    def stage(name: String, rows: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = root.resolve(name + "_tmp")
      rows.coalesce(1).write.parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, in.resolve(name + ".parquet"))
    }
    stage("b0", emb.filter(col("vec_id") % 2 === 0))
    stage("b1", emb.filter(col("vec_id") % 2 === 1))
    CorpusStreams.annIndexSink(
      spark.readStream.schema(emb.schema).option("maxFilesPerTrigger", 1)
        .parquet(in.toString),
      "vec_id", "embedding", paths("cent"), paths("cb"), paths("codes"),
      paths("chk"), m = 8).awaitTermination(120000)
    // read-optimize to the cell-partitioned probe layout + sweep + deploy
    CorpusStreams.annReadOptimize(spark, paths("codes"), paths("opt"))
    EtlCli.sweepIvfPq(spark, paths("codes"), paths("cent"), paths("cb"),
      paths("vecs"), paths("sweep"), nQueries = 3, k = 5,
      nProbes = Seq(1, 4, 16))
    val q = emb.filter(col("vec_id").isin(1L, 2L))
    val served = CorpusStreams.ivfPqProbeWithSweep(spark, paths("opt"),
      paths("cent"), paths("cb"), paths("sweep"), q, "vec_id", "embedding",
      minRecall = 0.0, k = 5)
    val depth = served.select(col("n_probe")).distinct().as[Int].collect()
    assert(depth.length == 1 && depth.head == 1,
      s"a zero floor must deploy the cheapest swept depth: ${depth.toSeq}")
    // the served result equals the given-artifacts scorer at that depth
    def topk(df: org.apache.spark.sql.DataFrame) = df
      .select(col("qid").cast("long"), col("cid").cast("long"), col("rank"))
      .as[(Long, Long, Int)].collect().toSet
    val scoreRef = Similarity.ivfPqResidualScore(emb, q, "vec_id", "embedding",
      nCells = 16, nProbe = depth.head, EtlCli.readEpochTable(spark, paths("codes")),
      EtlCli.readTable(spark, paths("cb")).drop("quantizer_id"), m = 8, k = 5)
    assert(topk(served.drop("n_probe")) == topk(scoreRef),
      "deployed probe must equal the scorer at the swept depth")
    // an unreachable floor refuses — never the best loser
    val exFloor = intercept[IllegalArgumentException] {
      CorpusStreams.ivfPqProbeWithSweep(spark, paths("opt"), paths("cent"),
        paths("cb"), paths("sweep"), q, "vec_id", "embedding",
        minRecall = 1.01, k = 5)
    }
    assert(exFloor.getMessage.contains("re-sweep"), exFloor.getMessage)

    // ---- retrain: BOTH identities move; the stale sweep refuses ----
    EtlCli.retrainIvfPq(spark, paths("vecs"), paths("cent2"), paths("cb2"),
      paths("codes2"), paths("base2"), nCells = 8, m = 8, ksub = 8, iters = 1)
    val exStale = intercept[IllegalArgumentException] {
      CorpusStreams.ivfPqProbeWithSweep(spark, paths("codes2"), paths("cent2"),
        paths("cb2"), paths("sweep"), q, "vec_id", "embedding",
        minRecall = 0.0, k = 5)
    }
    assert(exStale.getMessage.contains("identity"), exStale.getMessage)
    // re-sweep against the new pair: the loop closes (sweep-ivfpq also
    // accepts the retrain's versioned codes layout)
    EtlCli.sweepIvfPq(spark, paths("codes2"), paths("cent2"), paths("cb2"),
      paths("vecs"), paths("sweep2"), nQueries = 3, k = 5,
      nProbes = Seq(1, 8))
    val served2 = CorpusStreams.ivfPqProbeWithSweep(spark, paths("codes2"),
      paths("cent2"), paths("cb2"), paths("sweep2"), q, "vec_id", "embedding",
      minRecall = 0.0, k = 5)
    assert(served2.count() == 2 * 5, "re-swept deployment must serve top-5 per query")
    // ...and a half-switched pair (new codebook, old centroids) refuses
    // at the probe too, same guard as the encode sinks
    val exPair = intercept[IllegalArgumentException] {
      CorpusStreams.ivfPqProbeWithSweep(spark, paths("codes2"), paths("cent"),
        paths("cb2"), paths("sweep2"), q, "vec_id", "embedding",
        minRecall = 0.0, k = 5)
    }
    assert(exPair.getMessage.contains("pair") ||
      exPair.getMessage.contains("identity"), exPair.getMessage)
  }

  test("fused sweep -> pick -> deploy loop: hybrid serves the fused-floor config; a quantizer change refuses the stale fused sweep") {
    import graft.streaming.CorpusStreams
    import graft.tools.EtlCli
    import graft.operators.Similarity
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val root = java.nio.file.Files.createTempDirectory("fused_loop")
    val cent = Similarity.coarseCentroids(emb, "vec_id", "embedding", 16)
    EtlCli.writeTable(cent, s"$root/cent")
    EtlCli.writeTable(Similarity.binaryIvfIndexBuild(emb, "vec_id",
      "embedding", 64, cent), s"$root/idx", partitionBy = Seq("cell"))
    EtlCli.writeTable(docs, s"$root/docs")
    // the sweep commits with the quantizer stamp + the fusion knobs
    EtlCli.run(spark, Seq("sweep-fused-rrf", s"$root/idx", s"$root/cent",
      s"$root/docs", s"$root/sweep", "vector,spark,filter", "3"))
    val sweep = EtlCli.readTable(spark, s"$root/sweep")
    assert(sweep.select(col("quantizer_id")).distinct().count() == 1)
    assert(Set("arm_k", "k_rrf", "top_k").subsetOf(sweep.columns.toSet))
    // the consumer serves at the picker's choice and equals the direct
    // fusion at that config
    val lex = graft.operators.TextAnalysis.bm25(docs, "doc_id", "text",
        Seq("vector", "spark", "filter"), k1 = 1.2, b = 0.75, topK = 20)
      .withColumn("rank", row_number().over(
        Window.partitionBy(pmod(length(md5(col("doc_id").cast("string"))), lit(32)))
          .orderBy(desc("score"), col("doc_id"))))
      .select(col("doc_id"), col("rank"))
    val queries = emb.filter(col("vec_id") === 0)
    val served = CorpusStreams.hybridRrfWithFusedSweep(spark, s"$root/idx",
      s"$root/cent", s"$root/sweep", queries, lex, "vec_id", "embedding",
      dims = 64, minFusedRecall = 0.5)
    val pick = graft.operators.SweepFamily.fusedRrf.pick(sweep, 0.5)
      .select(col("n_probe").cast("int"), col("shortlist").cast("int"))
      .as[(Int, Int)].collect().head
    assert(served.select(col("n_probe").cast("int"),
        col("shortlist").cast("int")).distinct()
      .as[(Int, Int)].collect().toSeq == Seq(pick),
      "the consumer must serve the picker's choice")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id").cast("long"), col("rank")).as[(Long, Int)]
      .collect().toSet
    val direct = Similarity.rrfFuse(Seq(lex,
      Similarity.binaryIvfProbeIndex(spark,
          EtlCli.resolveDataDir(spark, s"$root/idx"), queries, "vec_id",
          "embedding", 64, cent, pick._1, pick._2, 20)
        .select(col("cid").as("doc_id"), col("rank"))), "doc_id", "rank", 60, 10)
    assert(rows(served) == rows(direct),
      "swept fusion diverges from direct fusion at the picked config")
    // a floor nothing clears refuses with the remedial, never best-loser
    // (a degraded committed frontier, so the refusal is forced whatever
    // recall the 3-query sample reached)
    EtlCli.writeTable(sweep.withColumn("fused_recall",
      col("fused_recall") * lit(0.1)), s"$root/sweep_low")
    val none = intercept[IllegalArgumentException] {
      CorpusStreams.hybridRrfWithFusedSweep(spark, s"$root/idx",
        s"$root/cent", s"$root/sweep_low", queries, lex, "vec_id",
        "embedding", dims = 64, minFusedRecall = 0.5)
    }
    assert(none.getMessage.contains("re-sweep"), none.getMessage)
    // the quantizer moves (retrain): the stale fused sweep REFUSES naming
    // the remedial; re-sweeping against the new pair serves again
    val cent2 = Similarity.coarseCentroids(emb, "vec_id", "embedding", 8)
    EtlCli.writeTable(cent2, s"$root/cent2")
    EtlCli.writeTable(Similarity.binaryIvfIndexBuild(emb, "vec_id",
      "embedding", 64, cent2), s"$root/idx2", partitionBy = Seq("cell"))
    val stale = intercept[IllegalArgumentException] {
      CorpusStreams.hybridRrfWithFusedSweep(spark, s"$root/idx2",
        s"$root/cent2", s"$root/sweep", queries, lex, "vec_id", "embedding",
        dims = 64, minFusedRecall = 0.5)
    }
    assert(stale.getMessage.contains("sweep-fused-rrf"), stale.getMessage)
    EtlCli.run(spark, Seq("sweep-fused-rrf", s"$root/idx2", s"$root/cent2",
      s"$root/docs", s"$root/sweep2", "vector,spark,filter", "3"))
    assert(CorpusStreams.hybridRrfWithFusedSweep(spark, s"$root/idx2",
      s"$root/cent2", s"$root/sweep2", queries, lex, "vec_id", "embedding",
      dims = 64, minFusedRecall = 0.5).count() == 10,
      "re-swept fusion must serve after the retrain")
  }

  test("epoch compaction folds around maintenance epochs: split relabels survive, nothing double-counts") {
    import graft.operators.Similarity
    import graft.tools.EtlCli
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val root = java.nio.file.Files.createTempDirectory("split_compact")
    def paths(n: String) = root.resolve(n).toString
    val mode = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>").as("mv"))
    val conc = emb.crossJoin(broadcast(mode))
      .select(col("vec_id"),
        when(col("vec_id") % 5 === 0, col("embedding").cast("array<double>"))
          .otherwise(zip_with(col("embedding").cast("array<double>"), col("mv"),
            (a, b) => b + (a - b) * lit(0.01)))
          .as("embedding"))
    val cent0 = Similarity.coarseCentroids(emb, "vec_id", "embedding", 16)
      .transform(graft.core.Materialize.pin)
    EtlCli.writeTable(cent0, paths("cent"))
    EtlCli.appendEpoch(Similarity.binaryIvfIndexBuild(
      conc.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", 64, cent0),
      paths("idx"), 0)
    EtlCli.appendEpoch(Similarity.binaryIvfIndexBuild(
      conc.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", 64, cent0),
      paths("idx"), 1)
    EtlCli.splitHotCells(spark, paths("idx"), paths("cent"), maxShare = 0.5,
      branch = 4)
    val before = EtlCli.readIndexWithMaintenance(spark, paths("idx"))
      .select(col("vec_id").cast("long"), col("cell").cast("long"))
      .as[(Long, Long)].collect().toSeq.sorted
    // fold the INGEST epochs; the maintenance namespace is untouched and
    // the union reader sees the identical rows afterwards
    EtlCli.compactEpochs(spark, paths("idx"))
    assert(EtlCli.committedEpochs(spark, s"${paths("idx")}/maintenance")
      == Seq(0L), "compaction must not fold or drop the maintenance epoch")
    val after = EtlCli.readIndexWithMaintenance(spark, paths("idx"))
      .select(col("vec_id").cast("long"), col("cell").cast("long"))
      .as[(Long, Long)].collect().toSeq.sorted
    assert(after == before,
      "compaction must be a pure re-layout of the maintained index")
    // ...and a post-compaction read-optimize still reclaims dead copies
    graft.streaming.CorpusStreams.binaryIvfReadOptimize(spark, paths("idx"),
      paths("opt"), paths("cent"))
    assert(EtlCli.readTable(spark, paths("opt")).count() == emb.count())
  }

  test("split-hot-cells runbook: skew alarm -> O(hot) split epoch -> stale sweep refused -> re-sweep -> probe serves; replay- and crash-safe") {
    import graft.streaming.CorpusStreams
    import graft.operators.Similarity
    import graft.tools.EtlCli
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val root = java.nio.file.Files.createTempDirectory("split_runbook")
    val in = root.resolve("in"); java.nio.file.Files.createDirectory(in)
    def paths(n: String) = root.resolve(n).toString
    // day-0 deployment: balanced quantizer + drift baseline
    val cent0 = Similarity.coarseCentroids(emb, "vec_id", "embedding",
      nCells = 16)
    EtlCli.writeTable(cent0, paths("cent"))
    EtlCli.writeTable(emb, paths("base"))
    // the corpus drifts into one tight mode (80%), arriving as two epochs
    val mode = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>").as("mv"))
    val conc = emb.crossJoin(broadcast(mode))
      .select(col("vec_id"),
        when(col("vec_id") % 5 === 0, col("embedding").cast("array<double>"))
          .otherwise(zip_with(col("embedding").cast("array<double>"), col("mv"),
            (a, b) => b + (a - b) * lit(0.01)))
          .as("embedding"))
    def stage(name: String, rows: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = root.resolve(name + "_tmp")
      rows.coalesce(1).write.parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, in.resolve(name + ".parquet"))
    }
    stage("b0", conc.filter(col("vec_id") % 2 === 0))
    stage("b1", conc.filter(col("vec_id") % 2 === 1))
    CorpusStreams.binaryIvfIndexSinkWithDrift(
      spark.readStream.schema(conc.schema).option("maxFilesPerTrigger", 1)
        .parquet(in.toString),
      "vec_id", "embedding", paths("idx"), paths("chk"), dims = 64,
      paths("cent"), paths("base"), paths("drift"),
      maxTvd = 0.1, maxQerrRatio = 1.25).awaitTermination(120000)
    // the monitor names the skew before any probe feels it
    val shares = EtlCli.readEpochTable(spark, paths("drift"))
      .select(col("max_cell_share")).as[Double].collect()
    assert(shares.nonEmpty && shares.forall(_ > 0.7),
      s"drift log must read the hot-cell concentration: ${shares.toSeq}")
    // the monitor cadence NAMES the remedial: an in-distribution but
    // skewed log (corpus vs itself — both drift axes quiet) crosses the
    // share bound and check-drift fails pointing at split-hot-cells; the
    // same log reads all-clear without the bound (skew is a cost policy,
    // not a correctness alarm)
    EtlCli.appendEpoch(
      Similarity.quantizerDriftStats(conc, conc, "embedding", cent0,
        maxTvd = 0.1, maxQerrRatio = 1.25).withColumn("epoch", lit(0L)),
      paths("skewlog"), 0)
    val exSkew = intercept[RuntimeException] {
      EtlCli.checkDrift(spark, paths("skewlog"), maxCellShare = 0.7)
    }
    assert(exSkew.getMessage.contains("split-hot-cells"), exSkew.getMessage)
    EtlCli.checkDrift(spark, paths("skewlog"))
    val hotMass = EtlCli.readEpochTable(spark, paths("idx"))
      .groupBy("cell").count().agg(max(col("count"))).as[Long].head()
    // sweep at the (about-to-go-stale) day-0 quantizer
    EtlCli.sweepBinaryIvf(spark, paths("idx"), paths("cent"), paths("sweep"),
      nQueries = 3, k = 5, nProbes = Seq(4, 19), shortlists = Seq(50, 200))

    // ---- THE REMEDIAL: local split, O(hot mass) ----
    EtlCli.splitHotCells(spark, paths("idx"), paths("cent"), maxShare = 0.5,
      branch = 4)
    // the relabel lands as ONE maintenance epoch in its own namespace —
    // NEVER as epoch=2, which the stream's next batchId would silently
    // replace (idempotent-replace is the sink's replay contract)
    assert(EtlCli.committedEpochs(spark, paths("idx")) == Seq(0L, 1L),
      "ingest epochs must be untouched by the split")
    val maint = s"${paths("idx")}/maintenance"
    assert(EtlCli.committedEpochs(spark, maint) == Seq(0L),
      "the split must land as ONE maintenance epoch")
    assert(EtlCli.readEpochTable(spark, maint).count() == hotMass,
      "the split epoch must hold exactly the hot rows — O(hot), not O(corpus)")
    val tree = EtlCli.readTable(spark, paths("cent"))
    assert(Similarity.leafCells(tree).count() == 19L,
      "16 cells - 1 split parent + 4 children = 19 leaves")

    // ingest CONTINUES after the split: the next micro-batch gets
    // batchId 2 from the checkpoint — it must coexist with the split
    // relabel, and its hot-mode rows must encode via the TREE (children,
    // never the dead parent)
    stage("b2", conc.select((col("vec_id") + 100000).as("vec_id"),
      col("embedding")))
    CorpusStreams.binaryIvfIndexSinkWithDrift(
      spark.readStream.schema(conc.schema).option("maxFilesPerTrigger", 1)
        .parquet(in.toString),
      "vec_id", "embedding", paths("idx"), paths("chk"), dims = 64,
      paths("cent"), paths("base"), paths("drift"),
      maxTvd = 0.1, maxQerrRatio = 1.25).awaitTermination(120000)
    assert(EtlCli.committedEpochs(spark, paths("idx")) == Seq(0L, 1L, 2L),
      "post-split ingest must append as a normal epoch")
    assert(EtlCli.readEpochTable(spark, maint).count() == hotMass,
      "the ingest batch must never clobber the maintenance epoch")
    val childSet = tree.filter(col("parent").isNotNull)
      .select(col("cc").cast("long")).as[Long].collect().toSet
    val b2Cells = EtlCli.readEpochTable(spark, paths("idx"))
      .filter(col("vec_id") >= 100000L && col("vec_id") % 5 =!= 0)
      .select(col("cell").cast("long")).distinct().as[Long].collect().toSet
    assert(b2Cells.subsetOf(childSet),
      s"post-split appends must route mode rows to child cells: $b2Cells")

    // the pre-split sweep is now a stale claim: refuse, naming identities
    val q = conc.filter(col("vec_id").isin(1L, 2L))
    val exStale = intercept[IllegalArgumentException] {
      CorpusStreams.binaryIvfProbeWithSweep(spark, paths("idx"), paths("cent"),
        paths("sweep"), q, "vec_id", "embedding", dims = 64,
        minRecall = 0.3, k = 5)
    }
    assert(exStale.getMessage.contains("identity"), exStale.getMessage)

    // re-sweep against the flipped quantizer; compaction with the
    // quantizer in hand reclaims the dead parent copies
    EtlCli.sweepBinaryIvf(spark, paths("idx"), paths("cent"), paths("sweep2"),
      nQueries = 3, k = 5, nProbes = Seq(4, 19), shortlists = Seq(50, 200))
    CorpusStreams.binaryIvfReadOptimize(spark, paths("idx"), paths("opt"),
      paths("cent"))
    // one copy per id (original 500 + the post-split batch's 500): the
    // dead pre-split parent copies are gone
    assert(EtlCli.readTable(spark, paths("opt")).count() == 2 * emb.count(),
      "compaction must drop the dead pre-split copies")
    val served = CorpusStreams.binaryIvfProbeWithSweep(spark, paths("opt"),
      paths("cent"), paths("sweep2"), q, "vec_id", "embedding", dims = 64,
      minRecall = 0.3, k = 5)
    val knobs = served.select(col("n_probe"), col("shortlist")).distinct()
      .as[(Int, Int)].collect()
    assert(knobs.length == 1, s"one deployed config expected: ${knobs.toSeq}")
    // ...and the served result equals a from-scratch build + probe under
    // the committed tree at the deployed knobs
    def topk(df: org.apache.spark.sql.DataFrame) = df
      .select(col("qid").cast("long"), col("cid").cast("long"), col("rank"))
      .as[(Long, Long, Int)].collect().toSet
    val scratch = Similarity.binaryIvfIndexBuild(
      conc.unionByName(conc.select((col("vec_id") + 100000).as("vec_id"),
        col("embedding"))),
      "vec_id", "embedding", dims = 64, tree)
    assert(topk(served.drop("n_probe", "shortlist")) ==
      topk(Similarity.binaryIvfProbeTopK(scratch, scratch, q, "vec_id",
        "embedding", dims = 64, tree, knobs.head._1, knobs.head._2, 5)),
      "post-split probe must equal the from-scratch tree deployment")

    // replay safety 1: a re-run sees the balanced post-split occupancy
    // and no-ops — no new epoch, no identity flip
    val idBefore = Similarity.quantizerIdentity(tree)
    EtlCli.splitHotCells(spark, paths("idx"), paths("cent"), maxShare = 0.5,
      branch = 4)
    assert(EtlCli.committedEpochs(spark, paths("idx")) == Seq(0L, 1L, 2L),
      "a completed split must replay as a no-op")
    assert(Similarity.quantizerIdentity(
      EtlCli.readTable(spark, paths("cent"))) == idBefore)

    // replay safety 2: a run that crashed BETWEEN its two commits (split
    // epoch landed, quantizer flip lost) leaves old readers correct —
    // child cells are not leaves of the old tree — and a re-run detects
    // the orphan epoch and completes ONLY the flip, never a second copy
    EtlCli.writeTable(cent0, paths("cent2"))
    EtlCli.appendEpoch(Similarity.binaryIvfIndexBuild(conc, "vec_id",
      "embedding", dims = 64, cent0), paths("idx2"), 0)
    val (tree2, rel2) = Similarity.splitHotCells(
      EtlCli.readEpochTable(spark, paths("idx2")), "vec_id", "embedding",
      EtlCli.readTable(spark, paths("cent2")), maxShare = 0.5, branch = 4)
    EtlCli.appendEpoch(rel2, s"${paths("idx2")}/maintenance", 0) // crash point
    // (capture before the flip: the CLI's commit vacuums the version this
    // lazy plan reads)
    val idExpected = Similarity.quantizerIdentity(tree2)
    EtlCli.splitHotCells(spark, paths("idx2"), paths("cent2"), maxShare = 0.5,
      branch = 4)
    assert(EtlCli.committedEpochs(spark, s"${paths("idx2")}/maintenance")
      == Seq(0L), "recovery must not append a duplicate split epoch")
    assert(Similarity.quantizerIdentity(EtlCli.readTable(spark, paths("cent2")))
      == idExpected, "recovery must complete the deterministic flip")
  }
}
