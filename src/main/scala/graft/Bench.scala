package graft
object Bench {
  /** The round a bench run belongs to (for the per-round archive name).
    * The driver's PROGRESS.jsonl stamps the LIVE round on every
    * heartbeat, so its last parsable line is authoritative; the
    * 1 + max(BENCH_r{N}.json) heuristic is only the fallback — alone it
    * misfiles a run on a tree where the driver already committed this
    * round's headline artifact (a judge's re-run at the end of round N
    * archived as N+1 — the round-12 naming hiccup). SPARK_GRAFT_ROUND
    * still overrides both. */
  def currentRound(progressLines: Seq[String], rootNames: Seq[String]): Int = {
    val roundRx = "\"round\"\\s*:\\s*(\\d+)".r
    progressLines.reverseIterator
      .flatMap(l => roundRx.findFirstMatchIn(l).map(_.group(1).toInt))
      .nextOption()
      .getOrElse {
        val rx = "BENCH_r(\\d+)\\.json".r
        val seen = rootNames.collect { case rx(n) => n.toInt }
        if (seen.isEmpty) 1 else seen.max + 1
      }
  }
  /** The round-headline scale factor. A run at any OTHER sf dir is a dev
    * iteration, never the round's record — see [[bestArtifactName]]. */
  final val DefaultSfDir = "/root/testdata/sf0.1"

  /** The BEST artifact name for a (round, sfDir) pair. Non-default sf dirs
    * get the dir's basename branded into the filename, so a dev run at
    * sf0.01 can NEVER silently occupy the round's headline slot
    * (`BENCH_BEST_r{NN}.json` is reserved for [[DefaultSfDir]] runs —
    * round 14's nine sf0.01 runs clobbered the sf0.1 headline and made the
    * round's cross-round ratio compare a 10x-smaller corpus). */
  def bestArtifactName(round: Int, sfDir: String): String = {
    val base = s"BENCH_BEST_r${"%02d".format(round)}"
    if (sfDir == DefaultSfDir) s"$base.json"
    else {
      val label = java.nio.file.Paths.get(sfDir).getFileName.toString
        .replaceAll("[^A-Za-z0-9._-]", "_")
      s"${base}_$label.json"
    }
  }

  /** Min-of-`n` wall seconds per query, query by query. A query that
    * throws on any run is FAILED: it gets no time, only its name in the
    * second result — a fast throw must never fold in as a fast query. */
  def measure(names: Seq[String], n: Int)(run: String => Unit): (Map[String, Double], Seq[String]) = {
    def once(name: String): Option[Double] = {
      val t0 = System.nanoTime()
      try { run(name); Some((System.nanoTime() - t0) / 1e9) }
      catch { case e: Throwable => System.err.println(s"[bench] $name failed: $e"); None }
    }
    val (ok, failed) = names
      .map(name => name -> Iterator.fill(n)(once(name)).takeWhile(_.isDefined).flatten.toSeq)
      .partition(_._2.size == n)
    (ok.map { case (name, ts) => name -> ts.min }.toMap, failed.map(_._1))
  }

  /** The measured per-query map of one BENCH_FULL archive, if it ran at
    * `sfDir`. Our own writer's shape: the measured map is the object after
    * the FIRST "queries": (the warmup map comes later); archives written
    * before the `failed` list existed read the same way. */
  def parseArchive(json: String, sfDir: String): Option[Map[String, Double]] = {
    val qRx = "\"([^\"]+)\":([0-9][0-9.Ee+-]*)".r
    val sfRx = "\"sf\":\"([^\"]*)\"".r
    val start = json.indexOf("\"queries\":{")
    val sfOk = sfRx.findFirstMatchIn(json).exists(_.group(1) == sfDir)
    if (start < 0 || !sfOk) None else {
      val body = json.substring(start + "\"queries\":{".length, json.indexOf('}', start))
      Some(qRx.findAllMatchIn(body).map(m => m.group(1) -> m.group(2).toDouble).toMap)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", DefaultSfDir)
    val nonDefaultSf = sfDir != DefaultSfDir
    if (nonDefaultSf)
      System.err.println(
        s"[bench] *** NON-DEFAULT SF DIR: $sfDir — this run is a dev " +
          s"iteration; its BEST artifact is sf-branded and it is NOT the " +
          s"round headline (default: $DefaultSfDir) ***")
    // Measurement protocol (see BASELINE.md): warmup pass, then N measured
    // passes per query, min-of-N. Single unwarmed runs on a shared VM are
    // contention noise, not signal — rounds 1-3 driver totals all were.
    val minOf = args.sliding(2).collectFirst { case Array("--min-of", n) => n.toInt }
      .orElse(sys.env.get("SPARK_GRAFT_MIN_OF").map(_.toInt))
      .getOrElse(2)
    require(minOf >= 1, s"--min-of must be >= 1, got $minOf")
    // Dev convenience: bench a subset (comma-separated names). The driver
    // never sets this; the emitted JSON notes the restriction when active.
    val only = args.sliding(2).collectFirst { case Array("--only", qs) => qs }
      .orElse(sys.env.get("SPARK_GRAFT_ONLY"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val queries = only match {
      case Some(names) =>
        val missing = names -- SparkEntry.queries.keySet
        require(missing.isEmpty, s"unknown --only queries: ${missing.mkString(",")}")
        SparkEntry.queries.view.filterKeys(names).toMap
      case None => SparkEntry.queries
    }
    val spark = graft.core.Graft.session("graft-bench")
    def run(name: String): Unit = {
      // noop sink: forces full evaluation of every output column (count()
      // would let Catalyst prune the projections being measured).
      try queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      finally {
        // Each timed run is self-contained (the next run rebuilds its plan),
        // so blocks pinned by this run's localCheckpoints/caches are dead
        // weight; drop them eagerly instead of letting them squeeze the
        // storage pool (and force shuffle spills) for the queries that follow.
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      }
    }
    // Warmup pass: JIT + whole-stage-codegen compilation dominates first
    // executions (measured 6.7s -> 0.8s on a 0.75s query). Then two
    // measured passes, min per query — C2 compilation keeps running in the
    // background after warmup and single measurements catch multi-second
    // spikes that vanish on the next run.
    //
    // The warmup pass is ALSO the artifact build pass: run-scoped memos
    // (ANN codebooks, pair tower, band index, LM/DSIR models, HLL
    // registers) build on first invocation, so each query's warmup time
    // carries its family's one-time build cost while the measured min-of-N
    // is the recurring read path. Timing the warmup per query makes that
    // split visible in the artifact instead of only in NOTES.
    val names = queries.keys.toSeq
    val (warmed, warmFailed) = measure(names, 1)(run)
    val (results, runFailed) = measure(names.filterNot(warmFailed.contains), minOf)(run)
    val failed = warmFailed ++ runFailed
    val warmups = warmed -- runFailed
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val warmupTotal = if (warmups.nonEmpty) warmups.values.sum else 0.0
    // Contention canary: the mins of trivial, code-stable queries whose
    // floors haven't moved in rounds. Cross-round comparisons can
    // normalize by the canary ratio instead of re-deriving "was the
    // machine busy" from scratch — a run whose canary reads 2x the
    // committed floor is contended, not regressed (see BASELINE.md).
    val CanaryQueries = Seq("q_f2_ilike_search", "q_cart_totals")
    def canaryOf(m: Map[String, Double]): Map[String, Double] =
      CanaryQueries.flatMap(n => m.get(n).map(n -> _)).toMap
    // Scale canary: a code-stable full-corpus scan whose min TRACKS corpus
    // size (~3.3x between sf0.01 and sf0.1, measured r14) — the contention
    // canaries above are constant-cost by design, so they read "at floor"
    // even on a 10x smaller corpus and cannot detect an sf mix. The
    // sf-mix discriminator is the RATIO (an sf0.01 fold reads ~3.3x below
    // whatever the sf0.1 floor currently is), NOT an absolute: the sf0.1
    // floor moves with optimization rounds (r14 ~0.7s, r15 fold 0.182s),
    // so compare a suspect fold's canary against the committed
    // BENCH_BEST_r{N}.json scale_canary of the same round, and only a
    // ~3x+ gap below it means "folded from the wrong corpus". Single
    // contended runs inflate this canary far above its floor (driver r15
    // read 25x) — the canary is only meaningful on best-of folds, whose
    // mins are quiet.
    val ScaleCanaryQueries = Seq("q_text_stats")
    def scaleCanaryOf(m: Map[String, Double]): Map[String, Double] =
      ScaleCanaryQueries.flatMap(n => m.get(n).map(n -> _)).toMap
    // Full-precision per-query timings go to a FILE: the driver's capture
    // keeps only the last 2000 chars of stdout, and 96 query names alone
    // overflow that — a single printed line can never carry the whole map.
    def jmap(m: Map[String, Double]): String =
      m.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    def jlist(names: Seq[String]): String = names.map("\"" + _ + "\"").mkString("[", ",", "]")
    val fullPath = java.nio.file.Paths.get("BENCH_FULL.json").toAbsolutePath
    val fullJson =
      (s"""{"metric":"total","value":$total,"unit":"sec","canary":${jmap(canaryOf(results))},""" +
        s""""scale_canary":${jmap(scaleCanaryOf(results))},"nondefault_sf":$nonDefaultSf,""" +
        s""""failed":${jlist(failed)},"queries":${jmap(results)},""" +
        s""""warmup_total":$warmupTotal,"warmup":${jmap(warmups)},"sf":"$sfDir"}""" + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    java.nio.file.Files.write(fullPath, fullJson)
    // Archive a per-round copy so no run ever destroys another's full
    // map (round-over-round per-query deltas are first-class history):
    // round = 1 + the highest committed BENCH_r{N}.json, overridable via
    // SPARK_GRAFT_ROUND; if that archive name is taken (same-round
    // re-runs, e.g. a review pass), bump a _k suffix instead of clobbering.
    // best-effort: an archive failure (bad SPARK_GRAFT_ROUND value,
    // unwritable dir) must never destroy the run's summary line below —
    // the numbers are already safe in BENCH_FULL.json
    // Best-of map across this round's archives: per-query MIN over every
    // full run the round recorded (machine contention inflates single
    // runs by ±15%; the min map is the reproducible steady-state). Lands
    // in BENCH_BEST_r{NN}.json and as best_total on the printed line, so
    // the committed headline artifact is never the round's contended
    // outlier.
    var bestTotal = Option.empty[Double]
    if (only.isEmpty) scala.util.Try {
      val round = sys.env.get("SPARK_GRAFT_ROUND").flatMap(_.toIntOption).getOrElse {
        val cwd = java.nio.file.Paths.get(".").toAbsolutePath
        val names = Option(cwd.toFile.list()).getOrElse(Array.empty[String]).toSeq
        val progress = scala.util.Try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.readAllLines(cwd.resolve("PROGRESS.jsonl")).asScala.toSeq
        }.getOrElse(Seq.empty)
        currentRound(progress, names)
      }
      // archives live under bench/ (30+ per round; the repo root is for
      // the per-round headline artifacts, not the whole run history)
      val dir = java.nio.file.Paths.get("bench").toAbsolutePath
      java.nio.file.Files.createDirectories(dir)
      val base = s"BENCH_FULL_r${"%02d".format(round)}"
      val archive = Iterator.single(s"$base.json")
        .++(Iterator.from(2).map(k => s"${base}_$k.json"))
        .map(dir.resolve)
        .find(p => !java.nio.file.Files.exists(p)).get
      java.nio.file.Files.write(archive, fullJson)
      // fold every archive of THIS round (the one just written included)
      // that ran at THIS run's scale factor — a round mixing sf dirs must
      // not produce a best-of map corresponding to no real configuration
      val archiveRx = s"${java.util.regex.Pattern.quote(base)}(_\\d+)?\\.json".r
      val runs = Option(dir.toFile.list()).getOrElse(Array.empty[String])
        .filter(n => archiveRx.pattern.matcher(n).matches).sorted
        .flatMap(n => parseArchive(new String(java.nio.file.Files.readAllBytes(dir.resolve(n)),
          java.nio.charset.StandardCharsets.UTF_8), sfDir))
      if (runs.nonEmpty) {
        val names = runs.flatMap(_.keys).distinct.sorted
        val best = names.map(n => n -> runs.flatMap(_.get(n)).min).toMap
        val t = best.values.sum
        bestTotal = Some(t)
        val bestJson =
          (s"""{"metric":"best_of_total","value":$t,"unit":"sec","n_runs":${runs.length},""" +
            s""""canary":${jmap(canaryOf(best))},""" +
            s""""scale_canary":${jmap(scaleCanaryOf(best))},"nondefault_sf":$nonDefaultSf,""" +
            s""""queries":${jmap(best)},"sf":"$sfDir"}""" + "\n")
        java.nio.file.Files.write(
          java.nio.file.Paths.get(bestArtifactName(round, sfDir)).toAbsolutePath,
          bestJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    }.failed.foreach(e => System.err.println(s"[bench] archive skipped: $e"))
    // Printed summary line: guaranteed to fit the 2000-char tail (with sbt's
    // trailing [success] line) so it parses every round — total, the full
    // artifact's path, and as many SLOWEST queries as fit the budget (the
    // sub-second tail omitted here is noise for regression checks; the full
    // map is in the artifact).
    def d3(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // build-vs-read split, compact: the 5 queries whose warmup (artifact
    // build) most exceeds their measured read time — the artifact-memo
    // families, by construction
    val buildHeavy = warmups.toSeq
      .map { case (n, w) => (n, w, w - results.getOrElse(n, 0.0)) }
      .sortBy { case (n, _, delta) => (-delta, n) }
      .take(5)
      .map { case (n, w, _) => s""""$n":${d3(w)}""" }
      .mkString("{", ",", "}")
    val bestPart = bestTotal.map(t => s""""best_total":${d3(t)},""").getOrElse("")
    val scalePart = scaleCanaryOf(results).values.headOption
      .map(v => s""""scale_canary":${d3(v)},""").getOrElse("")
    val sfFlag = if (nonDefaultSf) s""""nondefault_sf":true,""" else ""
    val head = s"""{"metric":"total","value":${d3(total)},"unit":"sec","n_queries":${results.size},"n_failed":${failed.size},"failed":${jlist(failed.take(10))},$bestPart$scalePart$sfFlag"warmup_total":${d3(warmupTotal)},"build_warmup_top":$buildHeavy,"full":"$fullPath","sf":"$sfDir","queries":{"""
    val tailStr = "}}"
    val budget = 1800 - head.length - tailStr.length
    val entries = scala.collection.mutable.ListBuffer.empty[String]
    var used = 0
    results.toSeq.sortBy { case (n, v) => (-v, n) }.foreach { case (n, v) =>
      val e = s""""$n":${d3(v)}"""
      val cost = e.length + (if (entries.isEmpty) 0 else 1)
      if (used + cost <= budget) { entries += e; used += cost }
    }
    println(head + entries.mkString(",") + tailStr)
    spark.stop()
  }
}
