package graft

import graft.operators.Sketches
import org.apache.spark.sql.functions._

class SketchesSpec extends SparkSpec {
  import spark.implicits._

  private def tokDf(words: Seq[String]) = words.toDF("t")

  test("CMS never under-estimates and is exact without collisions") {
    val words = Seq.fill(7)("alpha") ++ Seq.fill(3)("beta") ++ Seq("gamma")
    val toks = tokDf(words)
    val sketch = Sketches.cmsSketch(toks, "t", depth = 4, width = 64)
    val probes = tokDf(Seq("alpha", "beta", "gamma", "absent"))
    val est = Sketches.cmsEstimate(sketch, probes, "t", depth = 4, width = 64)
      .as[(String, Long)].collect().toMap
    val truth = Map("alpha" -> 7L, "beta" -> 3L, "gamma" -> 1L, "absent" -> 0L)
    truth.foreach { case (tok, n) =>
      assert(est(tok) >= n, s"CMS under-estimated $tok: ${est(tok)} < $n")
    }
    // 3 distinct tokens in 4x64 cells: some row almost surely separates
    // them, so the min over rows is exact here
    assert(est("alpha") == 7L && est("beta") == 3L)
  }

  test("CMS sketches merge by cell-wise summation") {
    val a = tokDf(Seq("x", "x", "y"))
    val b = tokDf(Seq("x", "z", "z", "z"))
    def cells(df: org.apache.spark.sql.DataFrame) =
      Sketches.cmsSketch(df, "t", depth = 4, width = 64)
    val merged = cells(a).unionByName(cells(b))
      .groupBy("j", "bucket").agg(sum("cnt").as("cnt"))
      .as[(Int, Long, Long)].collect().toSet
    val whole = cells(a.unionByName(b)).as[(Int, Long, Long)].collect().toSet
    assert(merged == whole)
  }

  test("CMS heavy hitters: no true hitter at the threshold is ever missed; est >= true") {
    import graft.operators.Sketches
    // skewed corpus: token h1 = 30%, h2 = 10%, 60% spread over 120 cold tokens
    val rows = (1 to 300).map(_ => "h1") ++ (1 to 100).map(_ => "h2") ++
      (1 to 600).map(i => s"cold${i % 120}")
    val toks = rows.toDF("t")
    val phi = 0.05
    val k = 10
    val hh = Sketches.cmsHeavyHitters(toks, "t", depth = 4, width = 64, phi, k)
      .as[(String, Long, Long)].collect()
    // est >= true on every returned row (CMS one-sided error)
    assert(hh.forall { case (_, est, tru) => est >= tru })
    // completeness: every token with true count >= phi * total is present
    // (est >= true makes missing one impossible unless k truncates it —
    // pick k above the true-hitter count)
    val total = rows.size.toDouble
    val truth = rows.groupBy(identity).view.mapValues(_.size)
      .filter(_._2 >= phi * total).keySet
    assert(truth.subsetOf(hh.map(_._1).toSet),
      s"missed true heavy hitters: ${truth -- hh.map(_._1).toSet}")
  }

  test("sample quantiles are EXACT order statistics when the group fits in k") {
    import graft.operators.Sketches
    // 11 values, k = 32 > group size: p50 = ceil(0.5*11) = 6th smallest,
    // p90 = ceil(0.9*11) = 10th smallest
    val vals = Seq(13L, 2L, 40L, 7L, 25L, 1L, 33L, 18L, 5L, 29L, 11L)
    val df = vals.zipWithIndex.map { case (v, i) => ("g", i.toLong, v) }
      .toDF("grp", "id", "v")
    val sample = Sketches.bottomKSample(df, "id", "v", Seq("grp"), k = 32)
    val q = Sketches.sampleQuantiles(sample, "id", "v", Seq("grp"),
        Seq(("p50", 1, 2), ("p90", 9, 10)))
      .select("sample_n", "p50", "p90").as[(Long, Long, Long)].head()
    val sorted = vals.sorted
    assert(q == ((11L, sorted(5), sorted(9))))
  }

  test("sampleDrift: shifted distributions alert, stable ones don't, vanished groups alert") {
    import graft.operators.Sketches
    def samp(rows: Seq[(String, Long, Long)]) =
      Sketches.bottomKSample(rows.toDF("grp", "id", "v"), "id", "v", Seq("grp"), 64)
    val base = samp((1L to 200L).map(i => ("a", i, i % 100)) ++
      (1L to 200L).map(i => ("gone", i + 1000, i % 100)))
    // group a doubled its values (clear drift); group gone vanished
    val cur = samp((1L to 200L).map(i => ("a", i + 5000, (i % 100) * 2)))
    val got = Sketches.sampleDrift(cur, base, "id", "v", Seq("grp"))
      .select("grp", "drifted").as[(String, Boolean)].collect().toMap
    assert(got == Map("a" -> true, "gone" -> true), got.toString)
    // unchanged distribution: no alert (same ids -> identical samples;
    // with disjoint ids the two k=64 samples see different rows and a
    // ~rank-noise shift is possible, which is tolerance tuning, not law)
    val calm = Sketches.sampleDrift(
        samp((1L to 200L).map(i => ("a", i, i % 100))),
        samp((1L to 200L).map(i => ("a", i, i % 100))),
        "id", "v", Seq("grp"))
      .select("drifted").as[Boolean].collect()
    assert(calm.toSeq == Seq(false))
  }

  test("sampled quantiles land within rank tolerance on a large group") {
    import graft.operators.Sketches
    // 2000 shuffled-by-hash values 1..2000: a bottom-256 hash-rank sample's
    // p50 estimate should sit near rank 1000 (binomial concentration —
    // assert a generous +-15% rank window, deterministic given md5)
    val df = (1L to 2000L).map(i => ("g", i, i)).toDF("grp", "id", "v")
    val sample = Sketches.bottomKSample(df, "id", "v", Seq("grp"), k = 256)
    val q = Sketches.sampleQuantiles(sample, "id", "v", Seq("grp"),
        Seq(("p50", 1, 2))).select("p50").as[Long].head()
    assert(q > 700 && q < 1300, s"sampled p50 = $q, expected near 1000")
  }
}
