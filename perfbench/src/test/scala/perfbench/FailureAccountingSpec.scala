package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** A failed op must be reported as a failure, never as a time: it counts as
  * attempted and failed, is listed by name with its error, and adds no
  * latency sample. */
class FailureAccountingSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder().master("local[1]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "1")
    .getOrCreate()

  test("ledger: a throwing op and a failed-check op keep no latency sample") {
    val l = new Ledger
    l.measure("ok", None)(())
    l.measure("boom", None)(throw new IllegalStateException("kaput"))
    l.measure("wrong", Some("result digest a != oracle-confirmed b"))(())
    l.record("batch_0", 5000000L, Some("1 staged docs in neither table"))
    assert(l.attempted == 4)
    assert(l.failed == 3)
    assert(l.samplesMs.size == 1)
    assert(l.failures.map(_.name) == Seq("boom", "wrong", "batch_0"))
    assert(l.failures.forall(_.latencyNs.isEmpty))
    assert(l.failures.head.error.get.contains("IllegalStateException: kaput"))
  }

  test("query workload: a throwing query and a wrong-result query are failures, not times") {
    val dir = "unused"
    def rows(n: Long)(s: SparkSession, d: String): DataFrame = s.range(n).toDF("id")
    val good = QuerySpec("q_good", "relational", rows(3))
    val throwing = QuerySpec("q_throws", "relational",
      (_: SparkSession, _: String) => throw new RuntimeException("planner exploded"))
    val wrong = QuerySpec("q_wrong", "relational", rows(4)) // oracle says 3 rows
    val want = Digest.of(rows(3)(spark, dir))
    val expected: Map[String, Expected] = Map(
      "q_good" -> Confirmed(want), "q_throws" -> Confirmed(want), "q_wrong" -> Confirmed(want))

    val wl = new QueryWorkload(spark, dir, tracer = None)
    val (checks, _, _) = wl.warmAndCheck(Seq(good, throwing, wrong), expected)
    assert(checks("q_good").isEmpty)
    assert(checks("q_throws").exists(_.contains("planner exploded")))
    assert(checks("q_wrong").exists(_.contains("digest")))

    val ledger = new Ledger
    wl.measure(Seq(Seq(good, throwing, wrong), Seq(wrong, throwing, good)), checks, ledger)
    assert(ledger.attempted == 6)
    assert(ledger.failed == 4)
    assert(ledger.samplesMs.size == 2, "only the correct query may add latency samples")
    assert(ledger.records.filter(_.latencyNs.isDefined).map(_.name).distinct == Seq("q_good"))
    val byName = ledger.failures.groupBy(_.name)
    assert(byName.keySet == Set("q_throws", "q_wrong"))
    assert(byName("q_throws").forall(_.error.exists(_.contains("planner exploded"))))
    assert(byName("q_wrong").forall(_.error.exists(_.contains("oracle-confirmed"))))
  }

  test("query workload: a query the DuckDB oracle disagrees with counts as failed") {
    val q = QuerySpec("q_disputed", "scalar", (s: SparkSession, _: String) => s.range(2).toDF("id"))
    val wl = new QueryWorkload(spark, "unused", tracer = None)
    val (checks, _, _) = wl.warmAndCheck(Seq(q), Map("q_disputed" -> OracleMismatch("rows 2 != 3")))
    val ledger = new Ledger
    wl.measure(Seq(Seq(q)), checks, ledger)
    assert(ledger.failed == 1 && ledger.samplesMs.isEmpty)
    assert(ledger.failures.head.error.exists(_.contains("rows 2 != 3")))
  }

  test("digest ignores row order and column order, but not values") {
    import org.apache.spark.sql.Row
    val a = Digest.ofRows(Seq("x", "y"), Seq(Row(1, 0.1), Row(2, 0.2)))
    assert(a == Digest.ofRows(Seq("x", "y"), Seq(Row(2, 0.2), Row(1, 0.1))))
    assert(a == Digest.ofRows(Seq("y", "x"), Seq(Row(0.1, 1), Row(0.2, 2))))
    assert(a != Digest.ofRows(Seq("x", "y"), Seq(Row(1, 0.1), Row(2, 0.20000000000000004))))
  }

  test("self time subtracts the union of child intervals, clipped to the span") {
    val p = Span(1, 0, 1, "p", 0, 100)
    val kids = Seq(Span(2, 1, 1, "c", 10, 30), Span(3, 1, 1, "c", 20, 40), Span(4, 1, 1, "c", 90, 120))
    assert(Span.selfNs(p, kids) == 100 - 30 - 10)
  }

  test("percentiles interpolate between the nearest ranks; geomean averages logs") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 5.5)
    assert(math.abs(Stats.percentile(xs, 90) - 9.1) < 1e-9)
    assert(Stats.percentile(Seq(4.0), 90) == 4.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 4.0)) == 2.5)
    assert(math.abs(Stats.geomean(Seq(10.0, 1000.0)) - 100.0) < 1e-9)
    assert(math.abs(Stats.geomean(Seq(7.0)) - 7.0) < 1e-9)
  }
}
