package graft.queries

import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** In package graft.queries to reach the private[queries] artifact memo. */
class MemoSpec extends graft.SparkSpec {

  test("artifact memo: path is cached per (name, dir); a reused name with a different layout refuses") {
    val df = spark.range(10).selectExpr("id", "id % 2 AS cell")
    val p1 = Memo.parquetArtifactPath(spark, "/tmp/memo_spec_dir",
      "memo_spec_art", Seq("cell"))(df)
    // same name + same layout: the cached path, no rebuild (the build
    // expression here would fail loudly if re-evaluated)
    val p2 = Memo.parquetArtifactPath(spark, "/tmp/memo_spec_dir",
      "memo_spec_art", Seq("cell"))(sys.error("memo must not rebuild"))
    assert(p1 == p2)
    assert(spark.read.parquet(p1).count() == 10)
    // a second call site reusing the NAME with a different partitionBy
    // would silently read the first layout — defeating the partition
    // pruning it asked for — so the mismatch must fail loudly
    val ex = intercept[IllegalArgumentException] {
      Memo.parquetArtifactPath(spark, "/tmp/memo_spec_dir",
        "memo_spec_art")(df)
    }
    assert(ex.getMessage.contains("layout"), ex.getMessage)
    // distinct artifact names per layout: both coexist
    val p3 = Memo.parquetArtifactPath(spark, "/tmp/memo_spec_dir",
      "memo_spec_art_flat")(df.select(col("id")))
    assert(p3 != p1 && spark.read.parquet(p3).count() == 10)
  }

  test("artifact dirs are never hidden: the sf-dir leaf starts with neither _ nor .") {
    // Spark's file index skips `_`/`.`-prefixed names: an absolute sf dir
    // used to mangle to `_root_..._sf0.01` and every read of it warned
    // "All paths were ignored" before falling back to the glob
    Seq("/data/testdata/sf0.01", ".hidden/sf0.1", "_x", "sf0.1").foreach { dir =>
      val leaf = Memo.leaf(dir)
      assert(!leaf.startsWith("_") && !leaf.startsWith("."), leaf)
      assert(leaf.forall(c => c.isLetterOrDigit || c == '.' || c == '_'), leaf)
    }
    assert(Memo.leaf("/data/testdata/sf0.01") == "sf_data_testdata_sf0.01")
    // distinct sf dirs stay distinct artifacts
    assert(Memo.leaf("/a/sf0.1") != Memo.leaf("a/sf0.1"))
    val p = Memo.parquetArtifactPath(spark, "/tmp/memo_spec_leaf/sf0.01",
      "memo_spec_leaf")(spark.range(3).toDF("id"))
    assert(p.endsWith("/memo_spec_leaf/sf_tmp_memo_spec_leaf_sf0.01"), p)
    assert(spark.read.parquet(p).count() == 3)
  }

  test("each artifact key in src/main has exactly one declaring call site") {
    // the memo keys on the name alone and keeps whichever build runs
    // first, so a second build body under one name could drift and
    // silently change other queries' inputs
    val call = """Memo\.parquetArtifact(?:Path)?\([^"()]*"([^"]+)"""".r
    val files = {
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      try st.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally st.close()
    }
    val keys = files.flatMap(p =>
      call.findAllMatchIn(java.nio.file.Files.readString(p)).map(_.group(1)))
    val repeated = keys.groupBy(identity).collect { case (k, v) if v.size > 1 => k -> v.size }
    assert(keys.nonEmpty && repeated.isEmpty, s"keys declared more than once: $repeated")
  }
}
