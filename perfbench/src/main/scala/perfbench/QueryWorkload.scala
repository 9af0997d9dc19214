package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query of a workload, called through its public `QueryDef.run`. */
final case class QuerySpec(name: String, family: String,
                           run: (SparkSession, String) => DataFrame)

/** What the committed digest file says about a query at the benchmark's
  * scale: the oracle-confirmed digest, or the reason DuckDB disagreed. */
sealed trait Expected
final case class Confirmed(digest: String) extends Expected
final case class OracleMismatch(reason: String) extends Expected

/** Per-op layer split of a traced query op. */
final case class QueryOpTrace(family: String, buildNs: Long, actionNs: Long,
                              build: Counters, action: Counters,
                              analysisNs: Long, optimizationNs: Long, planningNs: Long,
                              buildSelfNs: Long, actionSelfNs: Long)

/** The closed-loop query workloads (catalog_read, corpus_batch): one caller,
  * one query at a time, each op = `QueryDef.run` + the noop-sink write. */
final class QueryWorkload(spark: SparkSession, dataDir: String,
                          tracer: Option[Tracer]) {

  /** Untimed pass before measuring: the first call of every query (warm-up:
    * JIT, codegen, run-scoped Memo artifact builds), whose collected result
    * is digested and compared with the oracle-confirmed digest.
    * Returns per query its check error (None = correct) and first-call time,
    * plus the time spent hashing, which setup_s excludes. */
  def warmAndCheck(specs: Seq[QuerySpec], expected: Map[String, Expected])
      : (Map[String, Option[String]], Map[String, Long], Long) = {
    var hashNs = 0L
    val out = specs.map { q =>
      val t0 = System.nanoTime()
      val (err, firstNs) = try {
        val df = q.run(spark, dataDir)
        val rows = df.collect().toSeq
        val t1 = System.nanoTime()
        val digest = Digest.ofRows(df.schema.fieldNames.toSeq, rows)
        hashNs += System.nanoTime() - t1
        val err = expected.get(q.name) match {
          case Some(Confirmed(d)) if d == digest => None
          case Some(Confirmed(d)) => Some(s"result digest $digest != oracle-confirmed $d")
          case Some(OracleMismatch(r)) => Some(s"disagrees with the DuckDB oracle: $r")
          case None => Some("no oracle-confirmed digest committed for this query")
        }
        (err, t1 - t0)
      } catch {
        case scala.util.control.NonFatal(e) =>
          (Some(s"threw in the check pass: ${Ledger.describe(e)}"), System.nanoTime() - t0)
      }
      unpersistAll()
      (q.name, err, firstNs)
    }
    (out.map(o => o._1 -> o._2).toMap, out.map(o => o._1 -> o._3).toMap, hashNs)
  }

  /** The measured phase: every pass in its (seeded) order. */
  def measure(passes: Seq[Seq[QuerySpec]], checks: Map[String, Option[String]],
              ledger: Ledger): Seq[QueryOpTrace] = {
    val traces = Seq.newBuilder[QueryOpTrace]
    var op = 0L
    passes.foreach(_.foreach { q =>
      op += 1
      val check = checks.getOrElse(q.name, Some("not checked"))
      tracer match {
        case None =>
          ledger.measure(q.name, check) {
            q.run(spark, dataDir).write.format("noop").mode("overwrite").save()
          }
          unpersistAll()
        case Some(t) =>
          var tb = 0L
          var analysis = Option.empty[(Long, Long)]
          val t0 = System.nanoTime()
          ledger.measure(q.name, check) {
            try {
              t.enter(op, "build")
              val df = q.run(spark, dataDir)
              tb = System.nanoTime()
              // the final plan is analyzed while the DataFrame is built; the
              // write's own tracker sees it already analyzed
              analysis = df.queryExecution.tracker.phases.get("analysis")
                .map(p => (p.startTimeMs, p.endTimeMs))
              t.enter(op, "action")
              df.write.format("noop").mode("overwrite").save()
            } finally t.leave()
          }
          val t1 = System.nanoTime()
          if (tb == 0L) tb = t1
          unpersistAll()
          t.drain()
          traces += summarize(t, op, q, ledger.records.last.error.isEmpty, t0, tb, t1, analysis)
      }
    })
    traces.result()
  }

  /** Drop what the op pinned before the next op starts: blocking, so the
    * block cleanup never overlaps (and slows) the next op's timing. */
  private def unpersistAll(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))

  /** Spans of one op: the op root, its build and action phases, the three
    * planning phases of the final plan (analysis under build, where it
    * runs; optimization and planning under the action), and every Spark
    * job, each under the phase that started it. */
  private def summarize(t: Tracer, op: Long, q: QuerySpec, ok: Boolean, t0: Long, tb: Long,
                        t1: Long, analysis: Option[(Long, Long)]): QueryOpTrace = {
    val rootId = t.newId()
    val root = Span(rootId, 0L, rootId, "op", Clock.epochNs(t0), Clock.epochNs(t1),
      Map("query" -> q.name, "family" -> q.family, "ok" -> ok.toString))
    val build = Span(t.newId(), rootId, rootId, "queries.build", root.startNs, Clock.epochNs(tb))
    val action = Span(t.newId(), rootId, rootId, "exec.action", build.endNs, root.endNs)
    def jobs(phase: String, parent: Span) = t.jobsOf(Tracer.key(op, phase)).map {
      case (id, s, e) => Span(t.newId(), parent.id, rootId, "spark.job", s * 1000000L, e * 1000000L,
        Map("job" -> id.toString, "phase" -> phase))
    }
    val buildJobs = jobs("build", build)
    val actionJobs = jobs("action", action)
    val finalPlan = t.plansOf(Tracer.key(op, "action")).lastOption.getOrElse(Map.empty)
    def planSpan(ph: String, parent: Span, phase: Option[(Long, Long)]) = phase.map { case (s, e) =>
      Span(t.newId(), parent.id, rootId, s"plans.$ph", s * 1000000L, e * 1000000L)
    }
    val analysisSpan = planSpan("analysis", build, analysis).toSeq
    val actionPlans = Seq("optimization", "planning").flatMap(ph => planSpan(ph, action, finalPlan.get(ph)))
    val planSpans = analysisSpan ++ actionPlans
    (Seq(root, build, action) ++ planSpans ++ buildJobs ++ actionJobs).foreach(t.add)
    def phaseNs(ph: String) = planSpans.find(_.name == s"plans.$ph").map(_.durNs).getOrElse(0L)
    QueryOpTrace(q.family, build.durNs, action.durNs,
      t.countersOf(Tracer.key(op, "build")), t.countersOf(Tracer.key(op, "action")),
      phaseNs("analysis"), phaseNs("optimization"), phaseNs("planning"),
      Span.selfNs(build, buildJobs ++ analysisSpan),
      Span.selfNs(action, actionJobs ++ actionPlans))
  }
}
