package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only corpus scale-up for scale-proof measurements (r16 verdict
  * item: "add a scale-proof point where parallelism is actually
  * exercised" — the sf0.1 bench is stage-machinery-bound and its 8-core
  * run beats 32 cores on nearly every query, so compute/shuffle claims
  * need a bigger corpus to be visible).
  *
  * Writes `factor` x each table of `srcDir` into `dstDir`, with replica
  * r >= 1 offset so the result behaves like a genuinely larger corpus,
  * not a pile of duplicates:
  *  - every id/key column shifts by r * KeyStride (joins stay aligned:
  *    orders<->lineitem<->customer, part/supplier keys, events.user_id);
  *  - document TEXT per replica prefixes every token with "r<r>x" —
  *    token counts and lengths keep their shape while every shingle,
  *    gram and fingerprint differs across replicas, so the dedup family
  *    scales as 10x distinct docs instead of going quadratic on planted
  *    cross-replica duplicates;
  *  - embeddings perturb deterministically per replica (x + r * 1e-3 on
  *    every dim) — distinct vectors, same geometry scale;
  *  - events timestamps keep their range (the watermark/window queries
  *    stay meaningful); only event/user ids shift.
  *
  * NEVER a bench headline: runs against SPARK_GRAFT_SF_DIR=<dstDir> are
  * sf-branded dev iterations by the Bench SF guard. The driver's
  * /root/testdata is read-only and untouched.
  *
  * Usage: runMain graft.tools.ScaleUp <srcDir> <dstDir> <factor>
  */
object ScaleUp {
  final val KeyStride = 10000000L

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleUp <srcDir> <dstDir> <factor>")
    val Array(src, dst, factorS) = args
    val factor = factorS.toInt
    require(factor >= 1 && factor <= 100, s"factor must be in [1,100], got $factor")
    require(!dst.startsWith("/root/testdata"), "testdata is read-only")
    val spark = graft.core.Graft.session("graft-scaleup")

    def rd(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def wr(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")

    def shift(c: String, r: Int) = col(c) + lit(r * KeyStride)

    def replicate(name: String, keyCols: Seq[String],
                  extra: (DataFrame, Int) => DataFrame = (d, _) => d): Unit = {
      val base = rd(name)
      val parts = (0 until factor).map { r =>
        val shifted = keyCols.foldLeft(base)((d, k) => d.withColumn(k, shift(k, r)))
        extra(shifted, r)
      }
      wr(parts.reduce(_ unionByName _), name)
    }

    // dimensions that queries treat as closed enums stay as-is
    Seq("region", "nation").foreach(n => wr(rd(n), n))
    replicate("customer", Seq("c_custkey"))
    replicate("supplier", Seq("s_suppkey"))
    replicate("part", Seq("p_partkey"))
    replicate("orders", Seq("o_orderkey", "o_custkey"))
    replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    replicate("events", Seq("event_id", "user_id"))
    replicate("documents", Seq("doc_id"), (d, r) =>
      if (r == 0) d
      else d.withColumn("text",
          // prefix every token: shape-preserving, shingle-distinct
          concat(lit(s"r${r}x"), regexp_replace(col("text"), " ", s" r${r}x")))
        .withColumn("n_chars", length(col("text")).cast("long")))
    replicate("embeddings", Seq("vec_id"), (d, r) =>
      if (r == 0) d
      else d.withColumn("embedding",
        transform(col("embedding"), x => (x + lit(r * 1e-3f)).cast("float"))))
    println(s"""{"scaleup": "$dst", "factor": $factor}""")
    spark.stop()
  }
}
