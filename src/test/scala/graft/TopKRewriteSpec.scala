package graft

import graft.plans.TopKPerKey
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The window-top-k optimizer rewrite: `row_number() <= k` with the rank
  * dropped becomes the bounded-heap TopKPerKey operator. */
class TopKRewriteSpec extends SparkSpec {
  import spark.implicits._

  private def fixture: DataFrame =
    (1 to 400).map(i => (i % 7, i, s"v$i")).toDF("grp", "ord", "payload")

  private def hasTopK(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect { case t: TopKPerKey => t }.nonEmpty

  test("window top-k with dropped rank rewrites to TopKPerKey, same result") {
    val w = Window.partitionBy("grp").orderBy(desc("ord"))
    val q = fixture.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("grp", "ord", "payload")
    assert(hasTopK(q), s"no rewrite:\n${q.queryExecution.optimizedPlan}")
    // no Window/sort left in the physical plan
    val phys = q.queryExecution.executedPlan.toString
    assert(!phys.contains("RunningWindowFunction") && !phys.contains("Window"),
      s"window survived the rewrite:\n$phys")
    // identical rows to the un-rewritten window formulation
    val expected = (1 to 400).map(i => (i % 7, i, s"v$i"))
      .groupBy(_._1).values.flatMap(_.sortBy(-_._2).take(3)).toSet
    assert(q.as[(Int, Int, String)].collect().toSet == expected)
  }

  test("rank kept in the output -> no rewrite (rank must be produced)") {
    val w = Window.partitionBy("grp").orderBy(desc("ord"))
    val q = fixture.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("grp", "ord", "rn")   // rank escapes
    assert(!hasTopK(q))
    assert(q.count() == 21)
  }

  test("compound filter -> no rewrite; GLOBAL window -> bounded-heap rewrite") {
    val w = Window.partitionBy("grp").orderBy(desc("ord"))
    val compound = fixture.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3 && col("ord") > 10)
      .select("grp", "ord")
    assert(!hasTopK(compound))

    // an empty PARTITION BY is the global top-k — the case where the
    // window formulation is a single-partition FULL SORT of the input
    // and the bounded heap matters most (Spark 4's
    // EliminateWindowPartitions also folds constant partition columns
    // to this shape, e.g. a whole-corpus bottom-k sample)
    val globalW = Window.orderBy(desc("ord"))
    val global = fixture.withColumn("rn", row_number().over(globalW))
      .filter(col("rn") <= 3)
      .select("grp", "ord")
    assert(hasTopK(global), "global top-k must lower to the bounded heap")
    assert(global.count() == 3)
    // same rows as the window formulation: ord is unique in the fixture,
    // so the global top-3 is deterministic
    import spark.implicits._
    assert(global.select(col("ord").cast("long")).as[Long].collect().toSet ==
      fixture.orderBy(desc("ord")).limit(3)
        .select(col("ord").cast("long")).as[Long].collect().toSet)
  }

  test("strict-less-than bound rewrites with k-1") {
    val w = Window.partitionBy("grp").orderBy(asc("ord"))
    val q = fixture.withColumn("rn", row_number().over(w))
      .filter(col("rn") < 3)
      .select("grp", "ord")
    assert(hasTopK(q))
    assert(q.count() == 14)  // 7 groups x 2
  }
}
