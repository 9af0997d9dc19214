package graft

import graft.tools.EtlCli
import java.nio.file.Files

/** Drives the full reference ETL lifecycle end-to-end: init -> ingest ->
  * re-ingest (idempotence) -> quality -> stats, over a parquet warehouse.
  */
class EtlCliSpec extends SparkSpec {

  // newline-delimited JSON: one comic document per line
  private val rawJson = Seq(
    """{"id": 1, "title": "Amazing Tales #1", "issueNumber": "1",
        "dates": [{"type": "onsaleDate", "date": "2010-01-06T00:00:00-0500"}],
        "prices": [{"type": "printPrice", "price": 3.99}],
        "creators": {"items": [{"name": "Stan Writer", "role": "writer"},
                               {"name": "Jack Artist", "role": "penciller"}]},
        "thumbnail": {"path": "p", "extension": "jpg"}, "variantDescription": ""}""",
    """{"id": 2, "title": "Amazing Tales #2", "issueNumber": "2",
        "dates": [], "prices": [{"type": "printPrice", "price": 3.99}],
        "creators": {"items": [{"name": "Stan Writer", "role": "writer"}]},
        "thumbnail": {"path": "p", "extension": "jpg"}, "variantDescription": ""}"""
  ).map(_.replaceAll("\n\\s+", " ")).mkString("\n") +
    "\n{this is not valid json at all"  // F7: malformed line -> quarantine

  test("init -> ingest -> re-ingest is idempotent; quality and stats read back") {
    val dir = tempDir("etlcli").toFile.getAbsolutePath
    val wh = s"$dir/wh"
    val raw = s"$dir/raw.json"
    Files.writeString(java.nio.file.Paths.get(raw), rawJson)

    EtlCli.init(spark, wh)
    val run1 = EtlCli.ingest(spark, wh, raw)
    assert(run1.status == "SUCCESS" && run1.records_read == 2)
    assert(spark.read.parquet(s"$wh/quarantine").count() == 1) // malformed line
    assert(EtlCli.readTable(spark, s"$wh/issue").count() == 2)
    assert(EtlCli.readTable(spark, s"$wh/creator").count() == 2)
    assert(EtlCli.readTable(spark, s"$wh/issue_creator").count() == 3)

    // idempotence: same batch again changes nothing
    EtlCli.ingest(spark, wh, raw)
    assert(EtlCli.readTable(spark, s"$wh/issue").count() == 2)
    assert(EtlCli.readTable(spark, s"$wh/creator").count() == 2)
    assert(EtlCli.readTable(spark, s"$wh/issue_creator").count() == 3)
    assert(spark.read.parquet(s"$wh/etl_run").count() == 2)

    val q = EtlCli.quality(spark, wh).collect().head
    assert(q.getAs[Long]("issues_null_onsale_date") == 1) // issue 2 has no date
    assert(q.getAs[Long]("orphan_credit_rows") == 0)

    val top = EtlCli.stats(spark, wh, 5).collect()
    assert(top.head.getString(0) == "Amazing Tales #1")
    assert(top.head.getLong(1) == 2)

    // superseded versions are pruned: one data dir + one marker per table
    val issueDir = new java.io.File(s"$wh/issue")
    assert(issueDir.list().count(_.startsWith("data_v")) == 1)
    assert(issueDir.list().count(_.startsWith("_committed_v")) == 1)
  }

  test("learn-bpe -> export bpe: packs measured in learned-tokenizer tokens") {
    import org.apache.spark.sql.functions.{col, size => asize}
    import graft.plans.GraftFunctions.bpe_encode
    val wh = tempDir("etlbpe").toFile.getAbsolutePath
    val docs = "/root/testdata/sf0.001/documents.parquet"
    val eval = s"$wh/eval.parquet"
    spark.read.parquet(docs).filter(col("doc_id") < 5).write.parquet(eval)

    // train the tokenizer on the corpus; merges commit as a versioned table
    EtlCli.run(spark, Seq("learn-bpe", wh, docs, "24"))
    val merges = EtlCli.readTable(spark, s"$wh/bpe_merges").orderBy("rank")
    val rules = merges.select("rule").collect().map(_.getString(0)).toSeq
    assert(rules.size == 24 && rules.distinct.size == 24)

    // export with bpe token measure: n_tokens must equal the BPE encode
    // length of each surviving doc's text under the learned table
    val run = EtlCli.export(spark, wh, docs, eval, nShards = 4, budget = 2048,
      bpeTokens = true)
    assert(run.status == "SUCCESS")
    val out = EtlCli.readTable(spark, s"$wh/export")
    assert(out.count() > 0)
    val mismatched = out.filter(
      col("n_tokens") =!= asize(bpe_encode(col("text"), rules)).cast("long")).count()
    assert(mismatched == 0, "export n_tokens is not the learned-BPE token count")
    // and the measure is genuinely different from whitespace words
    assert(out.filter(
      col("n_tokens") =!= asize(org.apache.spark.sql.functions.split(col("text"), " "))
        .cast("long")).count() > 0)
  }

  test("export: clean -> mixture -> pack -> shards end-to-end; re-run is byte-identical") {
    import org.apache.spark.sql.functions.col
    val wh = tempDir("etlexport").toFile.getAbsolutePath
    val docs = "/root/testdata/sf0.001/documents.parquet"
    // held-out eval slice: doc_id < 5 — any surviving doc sharing a 4-gram
    // with these must be decontaminated away (including themselves)
    val eval = s"$wh/eval.parquet"
    spark.read.parquet(docs).filter(col("doc_id") < 5).write.parquet(eval)

    val run1 = EtlCli.export(spark, wh, docs, eval, nShards = 4, budget = 2048)
    assert(run1.status == "SUCCESS" && run1.records_read == 500)
    val t1 = EtlCli.readTable(spark, s"$wh/export")
    val n1 = t1.count()
    assert(n1 > 0, "export produced no rows — pipeline config filtered everything")
    assert(run1.records_loaded == n1)
    assert(t1.columns.toSet ==
      Set("doc_id", "text", "lang", "source", "n_chars", "n_tokens", "pack", "shard"))
    assert(t1.filter(col("doc_id") < 5).count() == 0, "eval docs not decontaminated")
    // shard dirs match Store.shardId, packs respect the budget start rule
    assert(t1.filter(col("shard") =!= graft.core.Store.shardId(col("doc_id"), 4)).count() == 0)

    // per-shard content hashes (file NAMES carry job UUIDs; content must not)
    def shardHashes(path: String): Map[String, Seq[String]] = {
      val vdir = new java.io.File(path).listFiles()
        .filter(_.getName.startsWith("data_v")).head
      vdir.listFiles().filter(_.getName.startsWith("shard=")).map { sh =>
        val md5s = sh.listFiles().filter(_.getName.endsWith(".parquet")).map { f =>
          java.security.MessageDigest.getInstance("MD5")
            .digest(java.nio.file.Files.readAllBytes(f.toPath))
            .map("%02x".format(_)).mkString
        }.toSeq.sorted
        sh.getName -> md5s
      }.toMap
    }
    val h1 = shardHashes(s"$wh/export")
    assert(h1.nonEmpty)

    val run2 = EtlCli.export(spark, wh, docs, eval, nShards = 4, budget = 2048)
    assert(run2.status == "SUCCESS")
    val h2 = shardHashes(s"$wh/export")
    assert(h1 == h2, "re-run export is not byte-identical")
    // versioned: the re-run committed a NEW version and pruned the old
    val names = new java.io.File(s"$wh/export").list().toSeq
    assert(names.count(_.startsWith("data_v")) == 1)
    assert(names.contains("_committed_v2"))
    // delivery receipt: _manifest inside the version dir (hidden from
    // shard readers, covered by the same commit marker); recomputing from
    // the shards reproduces it exactly, and row counts reconcile
    locally {
      import spark.implicits._
      import org.apache.spark.sql.functions.{min, when}
      val v2dir = s"$wh/export/data_v2"
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select(col("shard").cast("string"), col("n_rows"), col("checksum"))
          .as[(String, Long, Long)].collect().toSet
      val manifest = rows(spark.read.parquet(s"$v2dir/_manifest"))
      val recomputed = rows(graft.core.Store.shardManifest(spark.read.parquet(v2dir)))
      assert(manifest.nonEmpty && manifest == recomputed,
        "manifest must match a recomputation over the landed shards")
      assert(manifest.toSeq.map(_._2).sum == n1)
      // the consumer-side check passes on the intact export...
      assert(EtlCli.verifyExport(spark, s"$wh/export").isEmpty)
      // ...and the checksum detects a single-value tamper (same row count,
      // one field changed in one shard) — the failure mode a row count
      // alone cannot see
      val shards = spark.read.parquet(v2dir)
      val tampered = shards.withColumn("n_tokens",
        when(col("doc_id") === shards.select(min(col("doc_id"))).head().getLong(0),
          col("n_tokens") + 1).otherwise(col("n_tokens")))
      val base = manifest.toSeq.map(r => r._1 -> r).toMap
      val after = rows(graft.core.Store.shardManifest(tampered))
        .toSeq.map(r => r._1 -> r).toMap
      val diverged = after.filter { case (s, r) => base(s) != r }
      assert(diverged.size == 1, s"tamper must flip exactly one shard: $diverged")
      val (s0, (_, nRowsT, ckT)) = diverged.head
      assert(nRowsT == base(s0)._2 && ckT != base(s0)._3,
        "the tamper keeps row counts intact — only the checksum may catch it")
    }
    // both runs audited
    assert(spark.read.parquet(s"$wh/etl_run")
      .filter(col("source_system") === "export").count() == 2)

    // jsonl format: same pipeline, text shards, next version, same row count
    val run3 = EtlCli.export(spark, wh, docs, eval, nShards = 4, format = "jsonl")
    assert(run3.status == "SUCCESS")
    val v3 = s"$wh/export/data_v3"
    val lines = spark.read.textFile(s"$v3/shard=*")
    assert(lines.count() == n1)
    assert(lines.head().startsWith("{\"doc_id\""), "not a JSON object line")
    // jsonl exports carry the receipt too (checksums over the line bytes)
    locally {
      import spark.implicits._
      val m3 = spark.read.parquet(s"$v3/_manifest")
        .select(col("n_rows")).as[Long].collect()
      assert(m3.sum == n1, "jsonl manifest row counts must reconcile")
    }
    // consumer-side verify exercises the TEXT read path (sniffFormat
    // rejects jsonl shards, routing verifyExport to spark.read.text)
    assert(EtlCli.verifyExport(spark, s"$wh/export").isEmpty,
      "intact jsonl export must verify clean")
    // ...and a same-line-count byte tamper in one text shard is caught
    locally {
      val shardFile = new java.io.File(v3).listFiles()
        .filter(_.getName.startsWith("shard=")).head.listFiles()
        .filter(f => f.getName.endsWith(".txt") && !f.getName.startsWith("_")).head
      val p = shardFile.toPath
      // drop the Hadoop local-FS .crc sidecar: a transferred export has no
      // sidecars, and a stale one would trip Hadoop's layer before OUR
      // receipt check gets to prove anything
      val crc = p.resolveSibling("." + shardFile.getName + ".crc")
      java.nio.file.Files.deleteIfExists(crc)
      val orig = java.nio.file.Files.readAllBytes(p)
      val bent = orig.clone()
      val i = bent.indexWhere(b => b >= '0' && b < '9')
      assert(i >= 0, "expected a digit to tamper in the jsonl shard")
      bent(i) = (bent(i) + 1).toByte
      java.nio.file.Files.write(p, bent)
      try {
        val bad = EtlCli.verifyExport(spark, s"$wh/export")
        assert(bad.size == 1, s"jsonl tamper must flag exactly one shard: $bad")
      } finally java.nio.file.Files.write(p, orig)
    }

    // the columnar table reader refuses jsonl shards with a CLEAR error
    // instead of mis-reading .txt files as parquet
    val e = intercept[RuntimeException] { EtlCli.readTable(spark, s"$wh/export") }
    assert(e.getMessage.contains("jsonl"), s"unclear error: ${e.getMessage}")
  }

  test("time travel: retained versions readable at their pin; vacuum prunes") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val wh = tempDir("etltt").toFile.getAbsolutePath
    val path = s"$wh/t"
    // three committed versions under retain=3 — all stay readable
    (1 to 3).foreach { v =>
      EtlCli.writeTable(Seq((v.toLong, s"v$v")).toDF("k", "v"), path, retain = 3)
    }
    assert(EtlCli.versions(spark, path) == Seq(1L, 2L, 3L))
    (1 to 3).foreach { v =>
      assert(EtlCli.readTableAt(spark, path, v).select("v").head().getString(0) == s"v$v")
    }
    // readTable still resolves the newest
    assert(EtlCli.readTable(spark, path).select("v").head().getString(0) == "v3")
    // a fourth commit under retain=2 prunes version 1 and 2
    EtlCli.writeTable(Seq((4L, "v4")).toDF("k", "v"), path, retain = 2)
    assert(EtlCli.versions(spark, path) == Seq(3L, 4L))
    val e = intercept[RuntimeException] { EtlCli.readTableAt(spark, path, 1) }
    assert(e.getMessage.contains("committed: 3,4"), s"unclear error: ${e.getMessage}")
    // time travel works across a format migration
    assert(EtlCli.readTableAt(spark, path, 3).select("v").head().getString(0) == "v3")
    // vacuum to 1 + an abandoned stage dir from a simulated crash
    EtlCli.stage(Seq((9L, "crash")).toDF("k", "v"), path)
    EtlCli.vacuum(spark, path, retain = 1)
    assert(EtlCli.versions(spark, path) == Seq(4L))
    // ignore Hadoop local-FS .crc side files
    val left = new java.io.File(path).list().toSet.filterNot(_.endsWith(".crc"))
    assert(left == Set("data_v4", "_committed_v4"), s"vacuum left: $left")
    assert(EtlCli.readTable(spark, path).filter(col("v") === "v4").count() == 1)
  }

  test("export with epochs: deterministic upsampled copies, byte-identical re-run") {
    import org.apache.spark.sql.functions.{col, size => asize, split, countDistinct, count => acount, min => amin, max => amax}
    val wh = tempDir("etlepochs").toFile.getAbsolutePath
    val docs = "/root/testdata/sf0.001/documents.parquet"
    val eval = s"$wh/eval.parquet"
    spark.read.parquet(docs).filter(col("doc_id") < 5).write.parquet(eval)

    val eps = Map("src1" -> 2.5)
    val run1 = EtlCli.export(spark, wh, docs, eval, nShards = 4, budget = 2048,
      epochs = eps)
    assert(run1.status == "SUCCESS")
    val t1 = EtlCli.readTable(spark, s"$wh/export")
    // every copy has a unique export id (total order for packing + layout)
    assert(t1.count() == t1.select(countDistinct(col("export_id"))).head().getLong(0))
    // src1 docs appear floor(2.5)=2 times plus a stable md5-band third copy
    val perDoc = t1.filter(col("source") === "src1")
      .groupBy("doc_id").agg(acount(col("copy")).as("n"))
      .agg(amin("n").as("lo"), amax("n").as("hi")).head()
    assert(perDoc.getLong(0) >= 2 && perDoc.getLong(1) <= 3,
      s"src1 copy counts outside [2,3]: $perDoc")
    // unlisted sources pass through exactly once
    assert(t1.filter(col("source") =!= "src1")
      .groupBy("doc_id").agg(acount(col("copy")).as("n"))
      .filter(col("n") =!= 1L).count() == 0)
    // the token measure still cross-checks per COPY (budget math is real)
    assert(t1.filter(
      col("n_tokens") =!= asize(split(col("text"), " ")).cast("long")).count() == 0)

    // byte-identical re-run: the extra copies are the SAME docs every run
    def shardHashes(path: String): Map[String, Seq[String]] = {
      val vdir = new java.io.File(path).listFiles()
        .filter(_.getName.startsWith("data_v")).head
      vdir.listFiles().filter(_.getName.startsWith("shard=")).map { sh =>
        val md5s = sh.listFiles().filter(_.getName.endsWith(".parquet")).map { f =>
          java.security.MessageDigest.getInstance("MD5")
            .digest(java.nio.file.Files.readAllBytes(f.toPath))
            .map("%02x".format(_)).mkString
        }.toSeq.sorted
        sh.getName -> md5s
      }.toMap
    }
    val h1 = shardHashes(s"$wh/export")
    val run2 = EtlCli.export(spark, wh, docs, eval, nShards = 4, budget = 2048,
      epochs = eps)
    assert(run2.status == "SUCCESS")
    assert(h1 == shardHashes(s"$wh/export"), "epochs re-run is not byte-identical")

    // CLI flag round-trip
    assert(EtlCli.parseEpochs("src1:2.5,src2:0.5") ==
      Map("src1" -> 2.5, "src2" -> 0.5))
    intercept[RuntimeException] { EtlCli.parseEpochs("src1=2.5") }
  }

  test("epoch-partitioned tables: append is scoped to one epoch, replay idempotent") {
    import spark.implicits._
    val wh = tempDir("etlepoch").toFile.getAbsolutePath
    val path = s"$wh/t"
    intercept[RuntimeException] { EtlCli.readEpochTable(spark, path) }
    EtlCli.appendEpoch(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path, epoch = 0)
    EtlCli.appendEpoch(Seq((3L, "c")).toDF("k", "v"), path, epoch = 1)
    assert(EtlCli.committedEpochs(spark, path) == Seq(0L, 1L))
    assert(EtlCli.readEpochTable(spark, path).orderBy("k")
      .as[(Long, String)].collect().toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // re-appending an epoch REPLACES that epoch only (replay idempotence)
    EtlCli.appendEpoch(Seq((3L, "c")).toDF("k", "v"), path, epoch = 1)
    assert(EtlCli.readEpochTable(spark, path).count() == 3)
    // each epoch dir carries its own marker protocol
    assert(new java.io.File(s"$path/epoch=1").list().toSeq.contains("_committed_v2"))
    assert(new java.io.File(s"$path/epoch=0").list().toSeq.contains("_committed_v1"))
  }

  test("compactEpochs folds epochs behind an atomic fencepost; appends keep flowing; vacuum reclaims") {
    import spark.implicits._
    val wh = tempDir("etlepochcompact").toFile.getAbsolutePath
    val path = s"$wh/t"
    (0L to 3L).foreach(e =>
      EtlCli.appendEpoch(Seq((e, s"v$e")).toDF("k", "v"), path, epoch = e))
    def contents() = EtlCli.readEpochTable(spark, path)
      .orderBy("k").as[(Long, String)].collect().toSeq
    val before = contents()

    // crash-sim: folded data staged+committed but the process dies BEFORE
    // the fencepost — readers must still see the epoch view, unchanged
    EtlCli.writeTable(EtlCli.readEpochTable(spark, path), s"$path/compact=3")
    assert(contents() == before, "un-fenceposted compaction leaked into reads")
    assert(EtlCli.committedEpochs(spark, path) == Seq(0L, 1L, 2L, 3L))

    EtlCli.compactEpochs(spark, path)
    assert(contents() == before, "compaction changed table contents")
    assert(EtlCli.committedEpochs(spark, path).isEmpty,
      "folded epochs should no longer be listed")
    assert(new java.io.File(path).list().toSeq.contains("_epochs_compacted_3"))

    // the stream keeps appending new epochs after the fold
    EtlCli.appendEpoch(Seq((9L, "v9")).toDF("k", "v"), path, epoch = 4)
    assert(contents() == before :+ (9L, "v9"))
    assert(EtlCli.committedEpochs(spark, path) == Seq(4L))

    // a checkpoint-replayed epoch <= E re-appends content compact=3 already
    // holds: invisible as an epoch dir, so nothing double-counts
    EtlCli.appendEpoch(Seq((2L, "v2")).toDF("k", "v"), path, epoch = 2)
    assert(contents() == before :+ (9L, "v9"))

    // second fold covers the new epoch; vacuum reclaims superseded dirs
    EtlCli.compactEpochs(spark, path)
    assert(contents() == before :+ (9L, "v9"))
    EtlCli.vacuumEpochs(spark, path)
    val names = new java.io.File(path).list().toSeq
    assert(!names.exists(_.startsWith("epoch=")), s"stale epoch dirs survive: $names")
    assert(names.filter(_.startsWith("compact=")) == Seq("compact=4"))
    assert(names.filter(_.startsWith("_epochs_compacted_")) == Seq("_epochs_compacted_4"))
    assert(contents() == before :+ (9L, "v9"))
  }

  test("compact rewrites many small files into few, contents unchanged") {
    import spark.implicits._
    val wh = tempDir("etlcompact").toFile.getAbsolutePath
    val path = s"$wh/t"
    // simulate small-batch accretion: 64 files for a few thousand rows
    EtlCli.writeTable((1 to 5000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .repartition(64), path)
    val before = EtlCli.readTable(spark, path)
    assert(before.inputFiles.length == 64)
    val want = before.orderBy("k").as[(Long, String)].collect().toSeq

    EtlCli.compact(spark, path)
    val after = EtlCli.readTable(spark, path)
    assert(after.inputFiles.length <= 2, s"still ${after.inputFiles.length} files")
    assert(after.orderBy("k").as[(Long, String)].collect().toSeq == want)
  }

  test("crash between stage and commit leaves the old table intact") {
    import spark.implicits._
    val wh = tempDir("etlcrash").toFile.getAbsolutePath
    val path = s"$wh/t"
    EtlCli.writeTable(Seq((1L, "old")).toDF("k", "v"), path)

    // simulated crash: the next version's data lands fully, but the process
    // dies before the commit marker — readers must still see the old table
    EtlCli.stage(Seq((2L, "new")).toDF("k", "v"), path)
    val survived = EtlCli.readTable(spark, path).as[(Long, String)].collect()
    assert(survived.toSeq == Seq((1L, "old")))

    // the next successful writeBack commits v3 and prunes the abandoned v2
    EtlCli.writeTable(Seq((3L, "next")).toDF("k", "v"), path)
    assert(EtlCli.readTable(spark, path).as[(Long, String)].collect().toSeq
      == Seq((3L, "next")))
    val names = new java.io.File(path).list().toSeq
    assert(names.count(_.startsWith("data_v")) == 1)
    assert(names.count(_.startsWith("_committed_v")) == 1)
  }

  test("sweep-lsh CLI: commits the frontier SweepFamily.lsh picks from") {
    import spark.implicits._
    val root = tempDir("sweep_cli").toString
    // a corpus with one planted near-dup pair inside the 1/1 sample
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = ((0L until 20L).map(i => (i, s"doc number $i " + ('a' + (i % 7)).toChar.toString * 3 + " " + base)) :+
      (100L, base + " tail one") :+ (101L, base + " tail two")).toDF("doc_id", "text")
    EtlCli.writeTable(docs, s"$root/corpus")
    EtlCli.run(spark, Seq("sweep-lsh", s"$root/corpus", s"$root/sweep", "1"))
    val sweep = EtlCli.readTable(spark, s"$root/sweep")
    val rows = sweep.select("band_size", "n_bands", "n_truth", "recall")
      .as[(Int, Int, Long, Double)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1, 2, 4, 8), s"one row per divisor band size: ${rows.toSeq}")
    assert(rows.forall(r => r._1 * r._2 == 8))
    assert(rows.forall(_._3 >= 1), s"planted pair must be in the truth: ${rows.toSeq}")
    assert(rows.head._4 == 1.0, s"band size 1 is recall-exact: ${rows.toSeq}")
    // the committed frontier feeds the picker as committed
    val pick = graft.operators.SweepFamily.lsh.pick(
      EtlCli.readTable(spark, s"$root/sweep"), floor = 0.9)
    assert(pick.count() <= 1)
  }

  test("sweep-binary CLI: commits the shortlist frontier off a streamed-layout index") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = tempDir("sweep_bin").toString
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // an index appended in two epochs
    EtlCli.appendEpoch(graft.operators.Similarity.binaryIndexBuild(
      emb.filter(col("vec_id") < 300), "vec_id", "embedding", 64), s"$root/index", 0L)
    EtlCli.appendEpoch(graft.operators.Similarity.binaryIndexBuild(
      emb.filter(col("vec_id") >= 300), "vec_id", "embedding", 64), s"$root/index", 1L)
    EtlCli.run(spark, Seq("sweep-binary", s"$root/index", s"$root/sweep", "3"))
    val rows = EtlCli.readTable(spark, s"$root/sweep")
      .select("shortlist", "n_scored", "recall_micro")
      .as[(Int, Long, Double)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(25, 50, 100, 200), rows.toSeq.toString)
    // cost is depth x queries; recall monotone in depth
    assert(rows.map(_._2).toSeq == Seq(75L, 150L, 300L, 600L), rows.toSeq.toString)
    assert(rows.map(_._3).toSeq == rows.map(_._3).sorted.toSeq, rows.toSeq.toString)
    // deterministic re-sweep: same committed frontier bit for bit
    EtlCli.run(spark, Seq("sweep-binary", s"$root/index", s"$root/sweep2", "3"))
    assert(EtlCli.readTable(spark, s"$root/sweep2").collect().toSet ==
      EtlCli.readTable(spark, s"$root/sweep").collect().toSet)
    // the committed frontier feeds the picker as committed
    assert(graft.operators.SweepFamily.binary.pick(
      EtlCli.readTable(spark, s"$root/sweep"), floor = 0.0).count() == 1)
  }

  test("retrain-binary-ivf precheck errors are explicit") {
    import org.apache.spark.sql.functions.col
    val root = tempDir("retrain_precheck").toString
    // a misnamed column set and an empty index both die with actionable
    // messages, never an opaque analysis error
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    EtlCli.appendEpoch(graft.operators.Similarity.binaryIvfIndexBuild(
        emb, "vec_id", "embedding", 64,
        graft.operators.Similarity.coarseCentroids(emb, "vec_id", "embedding", 8)),
      s"$root/index", 0L)
    val exCols = intercept[RuntimeException] {
      EtlCli.retrainBinaryIvf(spark, s"$root/index", s"$root/c", s"$root/i",
        nCells = 8, dims = 64, idCol = "id", vecCol = "vec")
    }
    assert(exCols.getMessage.contains("lacks column(s) id, vec"), exCols.getMessage)
    EtlCli.appendEpoch(emb.limit(0).select(col("vec_id"), col("embedding")),
      s"$root/empty", 0L)
    val exEmpty = intercept[RuntimeException] {
      EtlCli.retrainBinaryIvf(spark, s"$root/empty", s"$root/c", s"$root/i",
        nCells = 8, dims = 64)
    }
    assert(exEmpty.getMessage.contains("empty"), exEmpty.getMessage)
  }

  /** The sf0.001 embeddings plus a copy shifted along the diagonal (ids
    * offset by 200000): a corpus whose distribution moved away from a
    * quantizer trained on the original rows alone. */
  private def driftedCorpus() = {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val shifted = emb.select((col("vec_id") + 200000).as("vec_id"),
      transform(col("embedding"), x => x + lit(0.5f)).as("embedding"))
    (emb, shifted, emb.unionByName(shifted))
  }

  test("retrain-binary-ivf -> sweep-binary-ivf CLI: the re-encode equals a from-scratch build and clears the drift alarm; each sweep stamps its quantizer") {
    import graft.operators.{Similarity, SweepFamily}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val root = tempDir("bivf_retrain")
    def paths(n: String) = root.resolve(n).toString
    val (emb, shifted, corpus) = driftedCorpus()
    // day 0: a quantizer trained on the original rows; the batch-built
    // index over the drifted corpus encodes against it
    val cent0 = Similarity.coarseCentroids(emb, "vec_id", "embedding", nCells = 8)
    EtlCli.writeTable(cent0, paths("cent"))
    EtlCli.writeTable(Similarity.binaryIvfIndexBuild(corpus, "vec_id", "embedding",
      dims = 64, EtlCli.readTable(spark, paths("cent"))), paths("index"),
      partitionBy = Seq("cell"))
    def qerrRatio(base: org.apache.spark.sql.DataFrame,
                  cent: org.apache.spark.sql.DataFrame): Double =
      Similarity.quantizerDriftScenarios(Seq(("", base, shifted)), "embedding",
          cent, maxTvd = 0.1, maxQerrRatio = 1.25)
        .select(col("qerr_ratio")).as[Double].head()
    val before = qerrRatio(emb, EtlCli.readTable(spark, paths("cent")))
    assert(before > 1.25, s"the shifted rows must read as drift at day 0: $before")

    EtlCli.run(spark, Seq("retrain-binary-ivf", paths("index"), paths("cent2"),
      paths("index2"), "8", "64"))
    val cent2 = EtlCli.readTable(spark, paths("cent2"))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id").cast("long"), col("cell").cast("long"), col("words"))
      .as[(Long, Long, Seq[Long])].collect().toSeq.sortBy(_._1)
    // the new index IS the from-scratch build under the new quantizer
    assert(rows(EtlCli.readTable(spark, paths("index2"))) ==
      rows(Similarity.binaryIvfIndexBuild(corpus, "vec_id", "embedding",
        dims = 64, cent2)),
      "retrained index diverges from the from-scratch build")
    // the retrained quantizer COVERS the drifted mode: against the
    // corpus it was trained on, the shifted rows' error reads normal
    val after = qerrRatio(corpus, cent2)
    assert(after < 1.25, s"retrain must clear the error alarm: ratio $after")

    // each sweep is stamped with the quantizer its recall was measured under
    def stamp(sweep: String): Seq[Long] = EtlCli.readTable(spark, sweep)
      .select(col("quantizer_id").cast("long")).distinct().as[Long].collect().toSeq
    EtlCli.sweepBinaryIvf(spark, paths("index"), paths("cent"), paths("sweep_old"),
      nQueries = 3, k = 5, nProbes = Seq(1, 2, 4), shortlists = Seq(10, 25, 50))
    EtlCli.run(spark, Seq("sweep-binary-ivf", paths("index2"), paths("cent2"),
      paths("sweep_new"), "3"))
    val (oldId, newId) = (Similarity.quantizerIdentity(cent0),
      Similarity.quantizerIdentity(cent2))
    assert(oldId != newId, "a retrain must move the quantizer identity")
    assert(stamp(paths("sweep_old")) == Seq(oldId) &&
      stamp(paths("sweep_new")) == Seq(newId))
    val sweepNew = EtlCli.readTable(spark, paths("sweep_new"))
    assert(sweepNew.count() == 16, "one row per (nProbe, shortlist) grid point")
    assert(SweepFamily.binaryIvf.pick(sweepNew, floor = 0.0).count() == 1 &&
      SweepFamily.binaryIvf.pick(sweepNew, floor = 1.01).count() == 0)
  }

  // the day-0 centroids and the drifted corpus written under `root`, then
  // the invalidation-CASCADE retrain: centroids, codebook and codes move
  // together into cent2/cb2/codes2
  private def retrainIvfPq(root: java.nio.file.Path) = {
    import graft.operators.Similarity
    def paths(n: String) = root.resolve(n).toString
    val (emb, shifted, corpus) = driftedCorpus()
    val cent0 = Similarity.coarseCentroids(emb, "vec_id", "embedding", 8)
      .transform(graft.core.Materialize.pin)
    EtlCli.writeTable(cent0, paths("cent"))
    EtlCli.writeTable(corpus, paths("vecs"))
    EtlCli.run(spark, Seq("retrain-ivfpq", paths("vecs"), paths("cent2"),
      paths("cb2"), paths("codes2"), "8", "8", "8", "1"))
    (paths _, emb, shifted, corpus, cent0)
  }

  test("retrain-ivfpq CLI: the re-encode equals a from-scratch encode and clears the drift alarm") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val (paths, emb, shifted, corpus, cent0) = retrainIvfPq(tempDir("pq_retrain"))
    // day-0 codebook trained on the original rows alone
    val (cb0, _) = Similarity.ivfPqResidualBuild(emb, "vec_id", "embedding",
      nCells = 8, m = 8, ksub = 8, iters = 1)
    def report(base: org.apache.spark.sql.DataFrame, cent: org.apache.spark.sql.DataFrame,
               cb: org.apache.spark.sql.DataFrame) =
      Similarity.codebookDriftScenarios(Seq(("", base, shifted)), "embedding",
          cent, cb, m = 8, maxTvd = 0.1, maxQerrRatio = 1.25, maxResidRatio = 1.25)
        .select(col("drift_alarm"), col("qerr_ratio"), col("resid_ratio"))
        .as[(Boolean, Double, Double)].head()
    val before = report(emb, cent0, cb0)
    assert(before._1 && before._3 > 1.25,
      s"the shifted rows must alarm the day-0 pair on the residual axis: $before")

    val (cent2, cb2) = (EtlCli.readTable(spark, paths("cent2")),
      EtlCli.readTable(spark, paths("cb2")))
    def codesOf(df: org.apache.spark.sql.DataFrame) = df
      .select(col("cid").cast("long"), col("cell").cast("long"),
        col("codes").cast("array<long>"))
      .as[(Long, Long, Seq[Long])].collect().toSeq.sortBy(_._1)
    assert(codesOf(EtlCli.readTable(spark, paths("codes2"))) ==
      codesOf(Similarity.ivfPqResidualEncode(corpus, "vec_id", "embedding",
        cent2, cb2, m = 8)),
      "retrained codes diverge from a from-scratch encode")
    val after = report(corpus, cent2, cb2)
    assert(after._2 < 1.25 && after._3 < 1.25, s"retrain must clear both error axes: $after")
  }

  test("retrain-ivfpq -> sweep-ivfpq CLI: the sweep stamps both identities and picks the cheapest depth at a zero floor; a mismatched pair refuses") {
    import graft.operators.{Similarity, SweepFamily}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val (paths, _, _, _, _) = retrainIvfPq(tempDir("pq_resweep"))
    val (cent2, cb2) = (EtlCli.readTable(spark, paths("cent2")),
      EtlCli.readTable(spark, paths("cb2")))
    // the sweep over the retrain's output stamps BOTH identities it was
    // measured under; a zero floor picks the cheapest depth
    EtlCli.run(spark, Seq("sweep-ivfpq", paths("codes2"), paths("cent2"),
      paths("cb2"), paths("vecs"), paths("sweep"), "3"))
    val sweep = EtlCli.readTable(spark, paths("sweep"))
    assert(sweep.select(col("quantizer_id").cast("long"), col("codebook_id").cast("long"))
      .distinct().as[(Long, Long)].collect().toSeq ==
      Seq((Similarity.quantizerIdentity(cent2), Similarity.codebookIdentity(cb2))))
    assert(SweepFamily.ivf.pick(sweep, floor = 0.0).select(col("n_probe").cast("int"))
      .as[Int].collect().toSeq == Seq(1), "a zero floor must pick the cheapest depth")
    // a half-switched pair (new codebook, old centroids) refuses
    val exPair = intercept[IllegalArgumentException] {
      EtlCli.sweepIvfPq(spark, paths("codes2"), paths("cent"), paths("cb2"),
        paths("vecs"), paths("sweep_bad"), nQueries = 3)
    }
    assert(exPair.getMessage.contains("identity"), exPair.getMessage)
  }

  test("sweep-fused-rrf CLI: the frontier carries the quantizer stamp and the fusion knobs; its pick never settles for a loser") {
    import graft.operators.{Similarity, SweepFamily}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val root = tempDir("fused_cli").toString
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val cent = Similarity.coarseCentroids(emb, "vec_id", "embedding", 16)
    EtlCli.writeTable(cent, s"$root/cent")
    EtlCli.writeTable(Similarity.binaryIvfIndexBuild(emb, "vec_id",
      "embedding", 64, cent), s"$root/idx", partitionBy = Seq("cell"))
    EtlCli.writeTable(spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
      s"$root/docs")
    EtlCli.run(spark, Seq("sweep-fused-rrf", s"$root/idx", s"$root/cent",
      s"$root/docs", s"$root/sweep", "vector,spark,filter", "3"))
    val sweep = EtlCli.readTable(spark, s"$root/sweep")
    assert(sweep.select(col("quantizer_id").cast("long")).distinct().as[Long]
      .collect().toSeq == Seq(Similarity.quantizerIdentity(cent)))
    assert(sweep.select(col("arm_k"), col("k_rrf"), col("top_k"), col("lex_terms"))
      .distinct().as[(Int, Int, Int, String)].collect().toSeq ==
      Seq((20, 60, 10, "vector,spark,filter")))
    assert(sweep.count() == 16, "one row per (nProbe, shortlist) grid point")
    val recalls = sweep.select(col("fused_recall")).as[Double].collect()
    assert(recalls.forall(r => r >= 0.0 && r <= 1.0), recalls.toSeq.toString)
    assert(SweepFamily.fusedRrf.pick(sweep, 0.0).count() == 1)
    // a floor nothing clears picks nothing: re-sweep, never the best loser
    assert(SweepFamily.fusedRrf.pick(sweep, recalls.max + 0.01).count() == 0)
  }

  test("diffVersions reports exactly the churn: added, removed, changed; unchanged dropped") {
    import graft.tools.EtlCli
    import spark.implicits._
    val path = tempDir("diff_tbl").toString + "/t"
    EtlCli.writeTable(Seq(
        (1L, "keep", 10L), (2L, "mutate", 20L), (3L, "drop", 30L),
        (4L, Option.empty[String].orNull, 40L)            // null payload column
      ).toDF("k", "name", "score"), path, retain = 2)
    EtlCli.writeTable(Seq(
        (1L, "keep", 10L),                                // unchanged
        (2L, "mutated", 20L),                             // changed (name)
        (4L, "", 40L),                                    // null -> empty string IS a change
        (5L, "new", 50L)                                  // added
      ).toDF("k", "name", "score"), path, retain = 2)
    val vs = EtlCli.versions(spark, path)
    val got = EtlCli.diffVersions(spark, path, "k", vs.head, vs.last)
      .as[(Long, String)].collect().toMap
    assert(got == Map(2L -> "changed", 3L -> "removed",
      4L -> "changed", 5L -> "added"))
  }

  test("knn-graph CLI: commits the NN-descent graph; equals the operator; column precheck is explicit") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = tempDir("knn_cli")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    graft.tools.EtlCli.writeTable(emb, s"$root/vecs")
    graft.tools.EtlCli.run(spark,
      Seq("knn-graph", s"$root/vecs", s"$root/graph", "5", "1"))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id").cast("long"), col("nid").cast("long"), col("rank"))
      .as[(Long, Long, Int)].collect().toSet
    val committedDf = graft.tools.EtlCli.readTable(spark, s"$root/graph")
    // the CLI derives nBits from the corpus size (fixed buckets at a
    // growing corpus = near-global ring windows); the committed graph
    // equals the operator at the DERIVED knob
    val bits = graft.operators.Similarity.nnDescentNBits(emb.count())
    // NEW graphs build under ring-formula v2 (v1 is the committed-oracle
    // formula q_knn_graph replays bit-identically)
    assert(rows(committedDf) == rows(graft.operators.Similarity.nnDescentGraph(
      emb, "vec_id", "embedding", k = 5, rounds = 1, nBits = bits,
      ringVersion = 2)),
      "committed graph diverges from the operator at the derived nBits")
    // pinned nBits arm: equals the operator at the pinned knob
    graft.tools.EtlCli.run(spark,
      Seq("knn-graph", s"$root/vecs", s"$root/g8", "5", "1", "8"))
    assert(rows(graft.tools.EtlCli.readTable(spark, s"$root/g8")) ==
      rows(graft.operators.Similarity.nnDescentGraph(
        emb, "vec_id", "embedding", k = 5, rounds = 1, nBits = 8,
        ringVersion = 2)),
      "pinned-nBits arm diverges from the operator")
    // identity stamp: the graph names the corpus it was built over, and
    // a consumer holding a RE-EMBEDDED corpus refuses it (requireStamp)
    val cid = graft.operators.Similarity.corpusIdentity(emb, "vec_id", "embedding")
    graft.tools.EtlCli.requireStamp(committedDf, "corpus_id", cid,
      "graph was built over corpus", "the live corpus", "rebuild")
    val reEmbedded = emb.withColumn("embedding",
      transform(col("embedding"), x => x * lit(1.01f)))
    val stale = intercept[IllegalArgumentException] {
      graft.tools.EtlCli.requireStamp(committedDf, "corpus_id",
        graft.operators.Similarity.corpusIdentity(reEmbedded, "vec_id", "embedding"),
        "graph was built over corpus", "the live corpus", "rebuild (knn-graph)")
    }
    assert(stale.getMessage.contains("rebuild"), stale.getMessage)
    val ex = intercept[RuntimeException] {
      graft.tools.EtlCli.run(spark,
        Seq("knn-graph", s"$root/vecs", s"$root/g2", "5", "1", "doc", "emb"))
    }
    assert(ex.getMessage.contains("lack column"), ex.getMessage)
  }

  test("hard-negatives CLI: graph-mined negatives equal the operator; a re-embedded corpus refuses the stale graph") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = tempDir("hneg_cli")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label"))
    graft.tools.EtlCli.writeTable(emb, s"$root/vecs")
    graft.tools.EtlCli.run(spark,
      Seq("knn-graph", s"$root/vecs", s"$root/graph", "5", "2"))
    graft.tools.EtlCli.run(spark,
      Seq("hard-negatives", s"$root/graph", s"$root/vecs", s"$root/negs", "3"))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("qid").cast("long"), col("cid").cast("long"), col("rank"))
      .as[(Long, Long, Int)].collect().toSet
    assert(rows(graft.tools.EtlCli.readTable(spark, s"$root/negs")) ==
      rows(graft.operators.Similarity.hardNegativesFromGraph(
        graft.tools.EtlCli.readTable(spark, s"$root/graph"),
        emb, "vec_id", "label", k = 3)),
      "CLI-mined negatives diverge from the operator")
    // negatives are graph edges with the label inequality: never empty,
    // never same-label (the fixture has multiple labels)
    val negs = graft.tools.EtlCli.readTable(spark, s"$root/negs")
    assert(negs.count() > 0 &&
      negs.filter(col("q_label") === col("c_label")).count() == 0)
    // stale-graph refusal: the corpus re-embeds, the stamp mismatches
    graft.tools.EtlCli.writeTable(emb.withColumn("embedding",
      transform(col("embedding"), x => x * lit(1.01f))), s"$root/vecs2")
    val ex = intercept[IllegalArgumentException] {
      graft.tools.EtlCli.run(spark,
        Seq("hard-negatives", s"$root/graph", s"$root/vecs2", s"$root/n2", "3"))
    }
    assert(ex.getMessage.contains("rebuild"), ex.getMessage)
  }

  test("probe-graph-recall: sampled exact recall of a knn-graph table equals a brute-force recount; a stale graph reads lower; a re-embedded corpus refuses") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.operators.Similarity
    val root = tempDir("graph_recall")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    EtlCli.writeTable(emb, s"$root/vecs")
    EtlCli.run(spark, Seq("knn-graph", s"$root/vecs", s"$root/graph", "5", "2"))
    EtlCli.run(spark, Seq("probe-graph-recall", s"$root/graph", s"$root/vecs", "8"))
    def probe(graph: String) =
      EtlCli.probeGraphRecall(spark, graph, s"$root/vecs", nQueries = 8)
        .select(col("k"), col("n_queries"), col("n_hit"), col("n_denom"),
          col("recall_micro"))
        .as[(Int, Long, Long, Long, Double)].collect().head
    val (k, nq, nHit, nDenom, recall) = probe(s"$root/graph")
    // the recount: same hash-rank sample, exact top-k, graph edges
    val sample = emb.orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(8)
    val exact = Similarity.bruteForceTopK(emb, sample, "vec_id", "embedding", 5)
      .select(col("qid").cast("long"), col("cid").cast("long"))
      .as[(Long, Long)].collect().toSeq
    val edges = EtlCli.readTable(spark, s"$root/graph")
      .select(col("vec_id").cast("long"), col("nid").cast("long"))
      .as[(Long, Long)].collect().toSet
    val wantDenom = exact.groupBy(_._1).values.map(_.size.min(5)).sum.toLong
    assert((k, nq, nHit, nDenom) ==
      (5, 8L, exact.count(edges.contains).toLong, wantDenom),
      s"probe ($k, $nq, $nHit, $nDenom) diverges from the recount")
    assert(recall == nHit.toDouble / nDenom && recall > 0, s"recall $recall")
    // planted staleness: every neighbor id shifted to another node, the
    // stamp untouched — only recall against exact truth can see it
    val n = emb.count()
    EtlCli.writeTable(EtlCli.readTable(spark, s"$root/graph")
        .withColumn("nid", (col("nid") + lit(n / 2)) % lit(n)),
      s"$root/stale")
    val staleRecall = probe(s"$root/stale")._5
    info(f"sampled exact recall@5: fresh $recall%.3f, shifted $staleRecall%.3f")
    assert(staleRecall < recall, s"stale graph must read lower: $staleRecall")
    // a re-embedded corpus refuses the graph before any recall is read
    EtlCli.writeTable(emb.withColumn("embedding",
      transform(col("embedding"), x => x * lit(1.01f))), s"$root/vecs2")
    val ex = intercept[IllegalArgumentException] {
      EtlCli.run(spark, Seq("probe-graph-recall", s"$root/graph", s"$root/vecs2"))
    }
    assert(ex.getMessage.contains("rebuild"), ex.getMessage)
  }

  test("an unknown command's usage error names every dispatched command") {
    val src = Files.readString(java.nio.file.Paths.get("src/main/scala/graft/tools/EtlCli.scala"))
    val dispatched = "case Seq\\(\"([a-z-]+)\"".r.findAllMatchIn(src).map(_.group(1)).toSet
    val ex = intercept[RuntimeException] { EtlCli.run(spark, Seq("no-such-command")) }
    val named = ex.getMessage.stripPrefix("usage: ").takeWhile(_ != ' ').split('|').toSet
    assert(dispatched.size >= 20 && dispatched.diff(named).isEmpty,
      s"usage omits: ${dispatched.diff(named).toSeq.sorted.mkString(", ")}")
  }
}
