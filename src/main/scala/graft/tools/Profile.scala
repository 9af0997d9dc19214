package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** Per-run task-metric rollup: jobs/stages/tasks, summed task wall, executor
  * compute (run - shuffle fetch - ser/deser), shuffle bytes both ways.
  * Everything here is dev-only instrumentation — never on the bench path.
  */
class ProfileListener extends org.apache.spark.scheduler.SparkListener {
  private val a = new java.util.concurrent.atomic.AtomicLongArray(9)
  // Barrier-job bookkeeping for the deterministic bus drain (see
  // [[drain]]): the barrier's own job/stages/tasks are excluded from the
  // rollup, and its job-end event — which enqueues AFTER every event of
  // the measured run — flips `barrierDone`.
  private val barrierStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  @volatile private var barrierJob = -1
  @volatile private var barrierDone = false
  def reset(): Unit = (0 until 9).foreach(a.set(_, 0L))
  override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
    val desc = Option(j.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    if (desc == ProfileListener.BarrierDesc) {
      barrierJob = j.jobId
      j.stageIds.foreach(barrierStages.add(_))
    } else a.incrementAndGet(0)
  }
  override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
    if (j.jobId == barrierJob) barrierDone = true
  override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
    if (!barrierStages.contains(s.stageInfo.stageId)) a.incrementAndGet(1)
  override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
    if (barrierStages.contains(t.stageId)) return
    a.incrementAndGet(2)
    val m = t.taskMetrics
    if (m != null) {
      a.addAndGet(3, m.executorRunTime)
      a.addAndGet(4, m.executorDeserializeTime + m.resultSerializationTime)
      a.addAndGet(5, m.shuffleReadMetrics.fetchWaitTime)
      a.addAndGet(6, m.shuffleReadMetrics.totalBytesRead)
      a.addAndGet(7, m.shuffleWriteMetrics.bytesWritten)
      a.addAndGet(8, m.jvmGCTime)
    }
  }
  /** Deterministic listener-bus drain: run a trivial one-task job (whose
    * events enqueue strictly AFTER the measured run's on the single
    * ordered bus) and wait for ITS job-end to reach this listener —
    * at that point every event of the run is already folded in. The
    * previous Thread.sleep(300) heuristic could bleed late task-end
    * events across run boundaries on a loaded bus (advisor item r16).
    * The barrier's own events are excluded from the rollup. */
  def drain(spark: SparkSession): Unit = {
    barrierDone = false
    spark.sparkContext.setJobDescription(ProfileListener.BarrierDesc)
    try spark.sparkContext.parallelize(Seq(0), 1).count()
    finally spark.sparkContext.setJobDescription(null)
    val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
    while (!barrierDone && System.nanoTime() < deadline) Thread.sleep(5)
  }
  def summary: String = {
    f"jobs=${a.get(0)} stages=${a.get(1)} tasks=${a.get(2)} " +
      f"taskRun=${a.get(3) / 1e3}%.2fs deser=${a.get(4) / 1e3}%.2fs " +
      f"fetchWait=${a.get(5) / 1e3}%.2fs gc=${a.get(8) / 1e3}%.2fs " +
      f"shufR=${a.get(6) / 1048576.0}%.1fMiB shufW=${a.get(7) / 1048576.0}%.1fMiB"
  }
}
object ProfileListener {
  final val BarrierDesc = "__profile_drain_barrier"
}

/** Census of the physical plan a query actually ran — the FINAL plan,
  * with AQE query stages and subqueries walked (the pre-execution plan of
  * an adaptive query has no codegen stages yet): shuffles, broadcasts,
  * sorts and whole-stage-codegen stages, so structural regressions show up
  * as numbers. Holds the plan of the session's last successful execution;
  * its events ride the same listener queue as [[ProfileListener]]'s, so
  * after a [[ProfileListener.drain]] it is the measured run's. */
class PlanCensus extends org.apache.spark.sql.util.QueryExecutionListener
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import org.apache.spark.sql.execution._
  import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
  @volatile private var last: Option[SparkPlan] = None
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    last = Some(qe.executedPlan)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def summary: String = last.fold("plan=?") { plan =>
    def n(pf: PartialFunction[SparkPlan, Unit]): Int = collectWithSubqueries(plan)(pf).size
    s"shuffles=${n { case _: ShuffleExchangeLike => }} " +
      s"bcasts=${n { case _: BroadcastExchangeLike => }} " +
      s"sorts=${n { case _: SortExec => }} " +
      s"codegen=${n { case _: WholeStageCodegenExec => }}"
  }
}

/** Dev profiler: time one or more named queries and print/dump the formatted
  * plan. The session is graft.core.Graft.session — the one Bench and every
  * other entry point build — so a plan or a timing read here transfers to
  * the bench. Each measured run prints one line: wall time, the task-metric
  * rollup and the [[PlanCensus]] of the plan it ran.
  *
  * Usage: runMain graft.tools.Profile <sfDir> <q1> [q2 ...]
  *   PROFILE_EXPLAIN=1      print each query's formatted plan to stdout
  *   PROFILE_PLAN_DIR=dir   additionally write <dir>/<query>_<tag>.txt
  *   PROFILE_PLAN_TAG=tag   filename suffix for the plan dump (default "plan")
  *   PROFILE_RUNS=n         measured runs per query (default 3)
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = args.tail.toSeq
    val spark = graft.core.Graft.session("graft-profile")
    // Where a query's wall-clock goes: scheduling+driver (wall - maxConcurrentTaskTime),
    // executor compute, shuffle. Aggregated per measured run via a listener.
    val metrics = new ProfileListener
    spark.sparkContext.addSparkListener(metrics)
    val census = new PlanCensus
    spark.listenerManager.register(census)
    val runs = sys.env.get("PROFILE_RUNS").map(_.toInt).getOrElse(3)
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      if (sys.env.contains("PROFILE_EXPLAIN")) fn(spark, sfDir).explain("formatted")
      sys.env.get("PROFILE_PLAN_DIR").foreach { dir =>
        val tag = sys.env.getOrElse("PROFILE_PLAN_TAG", "plan")
        val p = java.nio.file.Paths.get(dir)
        java.nio.file.Files.createDirectories(p)
        val txt = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(p.resolve(s"${name}_$tag.txt"),
          txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      (1 to runs).foreach { i =>
        metrics.reset()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        metrics.drain(spark) // deterministic bus drain (barrier job)
        println(f"[profile] $name run$i $wall%.2f s  ${metrics.summary}  ${census.summary}")
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      }
    }
    spark.stop()
  }
}
