package perfbench

/** Per-layer metric names and their roll-up. Every traced run reports every
  * name; a layer a workload does not exercise reads 0 there. Names are
  * prefixed by the repo module they attribute to. */
object Layers {
  val Families: Seq[String] = Seq("relational", "scalar", "extended", "event",
    "text", "pipeline", "export", "vector")
  private val FamilyMetrics = Seq("build_s", "build_jobs", "plan_s", "action_s", "jobs", "task_run_s")

  val Names: Seq[String] = Seq(
    "core.session_s",
    "queries.build_s", "queries.build_self_s", "queries.build_jobs",
    "queries.memo_build_s", "queries.memo_bytes",
    "plans.analysis_s", "plans.optimization_s", "plans.planning_s",
    "exec.action_s", "exec.action_self_s", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.failed_tasks", "exec.idle_s",
    "operators.task_run_s", "operators.task_cpu_s", "operators.gc_s", "operators.deser_s",
    "shuffle.read_bytes", "shuffle.write_bytes", "shuffle.fetch_wait_s", "shuffle.spill_bytes",
    "io.input_bytes",
    "streaming.add_batch_s", "streaming.add_batch_self_s", "streaming.query_planning_s",
    "streaming.offsets_s", "streaming.commit_s", "streaming.jobs_per_batch",
    "streaming.late_over_early", "streaming.table_files", "streaming.write_amp",
    "streaming.survivor_frac",
    "trace.wall_s"
  ) ++ Families.flatMap(f => FamilyMetrics.map(m => s"queries.$f.$m"))

  /** exec/operators/shuffle/io metrics of a Spark-work total. */
  def counterMetrics(c: Counters): Map[String, Double] = Map(
    "exec.jobs" -> c.jobs.toDouble,
    "exec.stages" -> c.stages.toDouble,
    "exec.tasks" -> c.tasks.toDouble,
    "exec.failed_tasks" -> c.failedTasks.toDouble,
    "operators.task_run_s" -> c.runMs / 1e3,
    "operators.task_cpu_s" -> c.cpuNs / 1e9,
    "operators.gc_s" -> c.gcMs / 1e3,
    "operators.deser_s" -> c.deserMs / 1e3,
    "shuffle.read_bytes" -> c.shuffleRead.toDouble,
    "shuffle.write_bytes" -> c.shuffleWrite.toDouble,
    "shuffle.fetch_wait_s" -> c.fetchWaitMs / 1e3,
    "shuffle.spill_bytes" -> c.spill.toDouble,
    "io.input_bytes" -> c.input.toDouble)

  /** Roll the measured query ops up into the layer metrics (sums over the
    * measured phase). `memoBuildNs` is first call minus steady call per
    * query, summed over the warm-up. */
  def ofQueries(ops: Seq[QueryOpTrace], cores: Int, memoBuildNs: Long,
                memoBytes: Long): Map[String, Double] = {
    val all = new Counters
    val actionOnly = new Counters
    ops.foreach { o => all += o.build; all += o.action; actionOnly += o.action }
    val s = (f: QueryOpTrace => Long) => ops.map(f).sum / 1e9
    val actionS = s(_.actionNs)
    val perFamily = Families.flatMap { f =>
      val fo = ops.filter(_.family == f)
      val c = new Counters
      fo.foreach { o => c += o.build; c += o.action }
      Seq(
        s"queries.$f.build_s" -> fo.map(_.buildNs).sum / 1e9,
        s"queries.$f.build_jobs" -> fo.map(_.build.jobs).sum.toDouble,
        s"queries.$f.plan_s" -> fo.map(o => o.analysisNs + o.optimizationNs + o.planningNs).sum / 1e9,
        s"queries.$f.action_s" -> fo.map(_.actionNs).sum / 1e9,
        s"queries.$f.jobs" -> c.jobs.toDouble,
        s"queries.$f.task_run_s" -> c.runMs / 1e3)
    }
    counterMetrics(all) ++ perFamily ++ Map(
      "queries.build_s" -> s(_.buildNs),
      "queries.build_self_s" -> s(_.buildSelfNs),
      "queries.build_jobs" -> ops.map(_.build.jobs).sum.toDouble,
      "queries.memo_build_s" -> memoBuildNs / 1e9,
      "queries.memo_bytes" -> memoBytes.toDouble,
      "plans.analysis_s" -> s(_.analysisNs),
      "plans.optimization_s" -> s(_.optimizationNs),
      "plans.planning_s" -> s(_.planningNs),
      "exec.action_s" -> actionS,
      "exec.action_self_s" -> s(_.actionSelfNs),
      "exec.idle_s" -> (actionS - actionOnly.runMs / 1e3 / cores))
  }
}
