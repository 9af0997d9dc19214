package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench.currentRound: the per-round archive naming rule. The driver's
  * PROGRESS.jsonl heartbeat is authoritative (it stamps the LIVE round);
  * the 1 + max(BENCH_r{N}.json) heuristic is only the no-heartbeat
  * fallback — alone it misfiled a judge's end-of-round-12 run as round 13
  * because the driver's BENCH_r12.json already existed on the tree. */
class BenchSpec extends AnyFunSuite {

  test("PROGRESS.jsonl's last round wins over the committed-bench heuristic") {
    val progress = Seq(
      """{"ts": 1.0, "round": 11, "commits": 1}""",
      """{"ts": 2.0, "round": 12, "commits": 2}""")
    // driver already wrote BENCH_r12.json (end of round 12): the
    // heuristic alone would say 13; the heartbeat says 12
    assert(Bench.currentRound(progress,
      Seq("BENCH_r11.json", "BENCH_r12.json", "SURVEY.md")) == 12)
  }

  test("a new round's heartbeat moves the archive series forward") {
    val progress = Seq(
      """{"ts": 1.0, "round": 12, "commits": 2}""",
      """{"ts": 2.0, "round": 13, "commits": 3}""")
    assert(Bench.currentRound(progress, Seq("BENCH_r12.json")) == 13)
  }

  test("unparsable heartbeat lines are skipped, not fatal") {
    val progress = Seq("not json at all", """{"round": 7}""", "{}")
    assert(Bench.currentRound(progress, Seq.empty) == 7)
  }

  test("fallback without a heartbeat: 1 + highest committed BENCH_r{N}") {
    assert(Bench.currentRound(Seq.empty,
      Seq("BENCH_r09.json", "BENCH_r10.json", "BENCH_BEST_r10.json")) == 11)
    assert(Bench.currentRound(Seq.empty, Seq.empty) == 1)
  }

  // --- SF guard: a non-default-SF run can never occupy the round's
  // headline BEST slot (round 14: nine sf0.01 dev runs clobbered
  // BENCH_BEST_r14.json and the round's cross-round ratio silently
  // compared a 10x-smaller corpus).

  test("default-SF runs own the unbranded headline artifact name") {
    assert(Bench.bestArtifactName(15, Bench.DefaultSfDir) == "BENCH_BEST_r15.json")
    assert(Bench.bestArtifactName(7, Bench.DefaultSfDir) == "BENCH_BEST_r07.json")
  }

  test("non-default SF dirs are branded into the BEST artifact name") {
    assert(Bench.bestArtifactName(15, "/root/testdata/sf0.01")
      == "BENCH_BEST_r15_sf0.01.json")
    assert(Bench.bestArtifactName(15, "/root/testdata/sf0.001")
      == "BENCH_BEST_r15_sf0.001.json")
    // an sf dir that happens to share the default's basename but lives
    // elsewhere is still non-default (string identity, not basename)
    assert(Bench.bestArtifactName(15, "/tmp/copy/sf0.1")
      == "BENCH_BEST_r15_sf0.1.json")
  }

  test("branded labels are filename-safe") {
    val name = Bench.bestArtifactName(15, "/weird/dir/sf 0.01$x")
    assert(name == "BENCH_BEST_r15_sf_0.01_x.json")
    assert(!name.exists(c => c == ' ' || c == '$' || c == '/'))
  }

  // --- failures are honest: a query that throws is listed, never timed

  test("a query that throws is reported as failed, not as a time") {
    val (times, failed) = Bench.measure(Seq("q_ok", "q_boom"), 2) {
      case "q_boom" => throw new IllegalStateException("injected")
      case _ => ()
    }
    assert(failed == Seq("q_boom"))
    assert(times.keySet == Set("q_ok"))
  }

  test("a query that throws on a later run is failed too: no partial min") {
    var calls = 0
    val (times, failed) = Bench.measure(Seq("q_flaky"), 3) { _ =>
      calls += 1
      if (calls == 2) sys.error("injected")
    }
    assert(times.isEmpty && failed == Seq("q_flaky"))
    assert(calls == 2, "a failed query is not re-run")
  }

  test("the archive fold reads archives with and without the failed list") {
    val old = """{"metric":"total","value":1.5,"unit":"sec","canary":{},""" +
      """"scale_canary":{},"nondefault_sf":false,"queries":{"q_a":0.5,"q_b":1.0},""" +
      """"warmup_total":3.0,"warmup":{"q_a":2.0,"q_b":1.0},"sf":"/d/sf0.1"}"""
    val withFailed = old.replace(""""queries":""", """"failed":["q_c"],"queries":""")
    Seq(old, withFailed).foreach { json =>
      assert(Bench.parseArchive(json, "/d/sf0.1") == Some(Map("q_a" -> 0.5, "q_b" -> 1.0)))
      assert(Bench.parseArchive(json, "/d/sf0.01").isEmpty)
    }
  }
}
