package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** Benchmark JVM. `run.py` builds it, writes the seeded run plan (JSON) and
  * launches `perfbench.Main <plan.json>`; this process gets its session from
  * `graft.core.Graft.session`, runs one workload, and writes its result JSON
  * to the plan's `out` path. Kind `dump` instead writes every listed query's
  * result as parquet plus its digest, for regenerating the digest file. */
object Main {
  /** Every query by name, with the family (query module) it is declared in. */
  lazy val registry: Map[String, QuerySpec] = {
    import graft.queries._
    val families = Seq(
      "relational" -> RelationalQueries.defs, "scalar" -> ScalarQueries.defs,
      "extended" -> ExtendedQueries.defs, "event" -> EventQueries.defs,
      "text" -> TextQueries.defs, "pipeline" -> PipelineQueries.defs,
      "export" -> ExportQueries.defs, "vector" -> VectorQueries.defs)
    val familyOf = families.flatMap { case (f, ds) => ds.map(_.name -> f) }.toMap
    graft.SparkEntry.allDefs
      .map(d => d.name -> QuerySpec(d.name, familyOf.getOrElse(d.name, "other"), d.run)).toMap
  }

  private val mapper = new ObjectMapper()

  /** JSON text of a result: ListMaps are objects, Seqs arrays. */
  private def json(v: Any): String = mapper.writeValueAsString(javaOf(v))

  private def javaOf(v: Any): AnyRef = v match {
    case m: ListMap[_, _] =>
      val out = new java.util.LinkedHashMap[Any, AnyRef]
      m.foreach { case (k, x) => out.put(k, javaOf(x)) }
      out
    case s: Seq[_] => s.map(javaOf).asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case x => x.asInstanceOf[AnyRef]
  }

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(new java.io.File(args(0)))
    val sessionT0 = System.nanoTime()
    val spark = graft.core.Graft.session("perfbench")
    val sessionNs = System.nanoTime() - sessionT0
    spark.sparkContext.setLogLevel("WARN")
    try {
      val result = plan.get("kind").asText match {
        case "query"  => runQueries(spark, plan, sessionNs)
        case "stream" => runStream(spark, plan, sessionNs)
        case "dump"   => dump(spark, plan)
      }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(plan.get("out").asText), json(result))
    } finally spark.stop()
  }

  private def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq

  private def setupNs(plan: JsonNode, excludedNs: Long): Long =
    Clock.nowEpochNs() - plan.get("launch_epoch_ns").asLong - excludedNs

  private def common(spark: SparkSession, plan: JsonNode, sessionNs: Long, setup: Long,
                     wallNs: Long, ledger: Ledger): ListMap[String, Any] = {
    val samples = ledger.samplesMs
    ListMap(
      "setup_s" -> setup / 1e9,
      "wall_s" -> wallNs / 1e9,
      "session_s" -> sessionNs / 1e9,
      "latency_p50_ms" -> (if (samples.isEmpty) 0.0 else Stats.percentile(samples, 50)),
      "latency_p90_ms" -> (if (samples.isEmpty) 0.0 else Stats.percentile(samples, 90)),
      "latency_gmean_ms" -> (if (samples.isEmpty) 0.0 else Stats.geomean(samples)),
      "samples" -> samples.size,
      // per op name: median latency of its successful runs (a diagnostic)
      "op_median_ms" -> ListMap(ledger.records.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, rs) =>
        n -> Stats.median(rs.flatMap(_.latencyNs).map(_ / 1e6))
      }: _*),
      "attempted" -> ledger.attempted,
      "failed" -> ledger.failed,
      "failures" -> ledger.failures.map(r => ListMap("op" -> r.name, "error" -> r.error.getOrElse(""))),
      "peak_rss_mb" -> peakRssMb(),
      "versions" -> ListMap(
        "spark" -> spark.version,
        "scala" -> scala.util.Properties.versionNumberString,
        "java" -> System.getProperty("java.version")),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "spark_local_dir" -> spark.sparkContext.getConf.get("spark.local.dir", "(spark default)"))
  }

  private def runQueries(spark: SparkSession, plan: JsonNode, sessionNs: Long): ListMap[String, Any] = {
    val dataDir = plan.get("data_dir").asText
    val specs = strings(plan.get("queries")).map(registry)
    val byName = specs.map(s => s.name -> s).toMap
    val expected: Map[String, Expected] = plan.get("expected").fields().asScala.map { e =>
      e.getKey -> (if (e.getValue.has("digest")) Confirmed(e.getValue.get("digest").asText)
                   else OracleMismatch(e.getValue.get("mismatch").asText))
    }.toMap
    val tracer = if (plan.get("trace").asBoolean) Some(new Tracer(spark.sparkContext)) else None
    val wl = new QueryWorkload(spark, dataDir, tracer)
    val (checks, firstNs, hashNs) = wl.warmAndCheck(strings(plan.get("warmup")).map(byName), expected)
    val setup = setupNs(plan, hashNs)
    tracer.foreach(spark.sparkContext.addSparkListener)
    val passes = plan.get("passes").elements().asScala.map(p => strings(p).map(byName)).toSeq
    val ledger = new Ledger
    val t0 = System.nanoTime()
    val traces = wl.measure(passes, checks, ledger)
    val wallNs = System.nanoTime() - t0
    val layers = tracer.map { t =>
      // first call minus the query's steady (median measured) call
      val steady = ledger.records.groupBy(_.name).flatMap { case (n, rs) =>
        val l = rs.flatMap(_.latencyNs).map(_.toDouble)
        if (l.isEmpty) None else Some(n -> Stats.median(l))
      }
      val memoNs = firstNs.map { case (n, f) => steady.get(n).map(s => (f - s).max(0.0)).getOrElse(0.0) }.sum.toLong
      val memoBytes = FileTree.walk(new java.io.File(sys.env("GRAFT_ANN_ARTIFACT_DIR"))).map(_.length).sum
      writeSpans(plan, t)
      Layers.ofQueries(traces, spark.sparkContext.defaultParallelism, memoNs, memoBytes) ++
        Map("trace.wall_s" -> wallNs / 1e9)
    }
    common(spark, plan, sessionNs, setup, wallNs, ledger) ++ ListMap(
      "check_failures" -> ListMap(checks.toSeq.sortBy(_._1).collect { case (n, Some(e)) => n -> e }: _*),
      "first_call_ms" -> ListMap(firstNs.toSeq.sortBy(_._1).map { case (n, ns) => n -> ns / 1e6 }: _*),
      "layers" -> layers.map(withAllLayers(sessionNs, _)).orNull)
  }

  private def runStream(spark: SparkSession, plan: JsonNode, sessionNs: Long): ListMap[String, Any] = {
    val st = plan.get("stream")
    val files = st.get("files").elements().asScala.map { f =>
      StagedFile(f.get("name").asText, f.get("doc_ids").elements().asScala.map(_.asLong).toSeq)
    }.toSeq
    val timeoutMs = (plan.get("timeout_s").asDouble * 1000).toLong
    val tracer = if (plan.get("trace").asBoolean) Some(new Tracer(spark.sparkContext)) else None
    val wl = new StreamWorkload(spark, plan.get("data_dir").asText, plan.get("scratch").asText, tracer)
    wl.warm(st.get("warm_dir").asText, timeoutMs)
    val setup = setupNs(plan, 0L)
    tracer.foreach(spark.sparkContext.addSparkListener)
    val ledger = new Ledger
    val out = wl.measure(st.get("in_dir").asText, files, timeoutMs, ledger)
    tracer.foreach(t => writeSpans(plan, t))
    val layers = tracer.map(_ => out.layers ++ Map("trace.wall_s" -> out.wallNs / 1e9))
    common(spark, plan, sessionNs, setup, out.wallNs, ledger) ++ ListMap(
      "stream" -> ListMap(
        "batches" -> out.batches.size,
        "staged_docs" -> out.staged,
        "survivors" -> out.survivors,
        "survivor_digest" -> out.survivorDigest,
        "near_dup_drops_per_batch" -> out.nearDupDrops),
      "layers" -> layers.map(withAllLayers(sessionNs, _)).orNull)
  }

  private def withAllLayers(sessionNs: Long, m: Map[String, Double]): ListMap[String, Any] = {
    val full = m + ("core.session_s" -> sessionNs / 1e9)
    ListMap(Layers.Names.map(n => n -> full.getOrElse(n, 0.0)): _*)
  }

  private def writeSpans(plan: JsonNode, t: Tracer): Unit = {
    val lines = t.spans.map { s =>
      json(ListMap("id" -> s.id, "parent" -> s.parent, "root" -> s.root, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "attrs" -> ListMap(s.attrs.toSeq.sortBy(_._1): _*)))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(plan.get("spans").asText),
      lines.mkString("", "\n", "\n"))
  }

  /** Write each listed query's result (one parquet dir per query, the layout
    * tools/oracle_check.py reads) with its oracle SQL and result digest. */
  private def dump(spark: SparkSession, plan: JsonNode): ListMap[String, Any] = {
    val dataDir = plan.get("data_dir").asText
    val outDir = plan.get("dump_dir").asText
    val oracle = graft.SparkEntry.oracleSql
    val rows = strings(plan.get("queries")).map(registry).map { q =>
      val digest = try {
        val df = q.run(spark, dataDir)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/${q.name}")
        Digest.of(df)
      } catch { case scala.util.control.NonFatal(e) => "error: " + Ledger.describe(e) }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      q.name -> digest
    }
    val sql = rows.flatMap { case (n, _) => oracle.get(n).map(n -> _) }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"), json(ListMap(sql: _*)))
    ListMap("digests" -> ListMap(rows: _*))
  }

  private def peakRssMb(): Double = scala.util.Try {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024.0
  }.getOrElse(0.0)
}
