package graft

import graft.core.Tables

/** The reference ran its analytics as SQL text (starter:etl/etl.py:56-66);
  * the same surface works here via registered temp views + spark.sql,
  * including the native functions.
  */
class SqlSurfaceSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("flagship stats query runs as verbatim SQL over registered views") {
    Tables.registerAll(spark, sf)
    val got = spark.sql(
      """SELECT p_name, COUNT(*) AS issue_count
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_name ORDER BY issue_count DESC, p_name LIMIT 3""")
      .as[(String, Long)].collect()
    assert(got.length == 3)
    assert(got.sortBy(-_._2).toSeq == got.toSeq)
  }

  test("quality checks run as SQL (null count + orphan anti-join)") {
    Tables.registerAll(spark, sf)
    val nulls = spark.sql(
      "SELECT COUNT(*) FROM orders WHERE NULLIF(o_orderstatus, 'O') IS NULL")
      .as[Long].head()
    assert(nulls > 0)
    val orphans = spark.sql(
      """SELECT COUNT(*) FROM lineitem l
         WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)""")
      .as[Long].head()
    assert(orphans == 0)
  }

  test("native functions compose with SQL over views") {
    Tables.registerAll(spark, sf)
    val got = spark.sql(
      """SELECT format_money(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS disp
         FROM orders ORDER BY o_orderkey LIMIT 1""").as[String].head()
    assert(got.startsWith("$") && got.contains("."))
  }

  test("span-scrub pipeline is expressible in pure SQL via the native functions") {
    Seq((1L, "a b c d x y"), (2L, "a b c d p q"), (3L, "u v w z k m"))
      .toDF("doc_id", "text").createOrReplaceTempView("sd")
    // hot 4-grams (here: "a b c d", in docs 1+2) scrub out of every doc
    val got = spark.sql(
      """WITH hot AS (
           SELECT h FROM (SELECT explode(word_gram_hashes(text, 4)) AS h FROM sd)
           GROUP BY h HAVING COUNT(*) >= 2),
         st AS (
           SELECT doc_id, sort_array(collect_list(g.pos)) AS starts
           FROM (SELECT doc_id, explode(word_gram_pos_hashes(text, 4)) AS g FROM sd)
           JOIN hot ON g.h = hot.h GROUP BY doc_id)
         SELECT sd.doc_id,
                scrub_spans(text, coalesce(starts, array()), 4) AS clean
         FROM sd LEFT JOIN st USING (doc_id) ORDER BY doc_id""")
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "x y"), (2L, "p q"), (3L, "u v w z k m")))
  }

  test("bloom decontamination is expressible in pure SQL via word_gram_set + bloom_gram_hits") {
    import graft.operators.Sketches
    // build a tiny filter over the "eval" doc's grams, then count each
    // train doc's member grams in SQL via the packed-words literal
    val mBits = 62 * 16
    Seq((100L, "benchmark question about ordering semantics")).toDF("doc_id", "text")
      .createOrReplaceTempView("ev")
    val words = Sketches.bloomWords(Sketches.bloomBuild(
      spark.sql("SELECT explode(word_gram_set(text, 4)) AS gram FROM ev").distinct(),
      org.apache.spark.sql.functions.col("gram"), mBits, 3), mBits)
    Seq((1L, "a study of benchmark question about ordering semantics here"),
        (2L, "completely unrelated text with no shared grams at all ok"))
      .toDF("doc_id", "text").createOrReplaceTempView("tr")
    val wordsSql = words.mkString("array(", "L,", "L)")
    val got = spark.sql(
      s"""SELECT doc_id,
                 bloom_gram_hits(word_gram_set(text, 4), $wordsSql, $mBits, 3) AS n_hits
          FROM tr ORDER BY doc_id""").as[(Long, Long)].collect().toSeq
    assert(got.head._1 == 1L && got.head._2 >= 2L,
      s"doc 1 shares grams with the eval doc: $got")
    assert(got(1)._2 == 0L || got(1)._2 <= 1L, // tiny filter may false-positive
      s"doc 2 shares nothing (at most an FP on a 992-bit filter): $got")
  }

  test("ANN kernels are SQL-callable: argmin_cell and pq_codes over one-row tables") {
    // three 4-dim vectors; centroids at the axes — nearest-cell and PQ
    // codes both resolve in SQL against collect_list-reshaped tables
    Seq((1L, Seq(1.0, 0.1, 0.0, 0.0)), (2L, Seq(0.0, 0.0, 1.0, 0.9)),
        (3L, Seq(0.4, 0.5, 0.0, 0.1)))
      .toDF("vid", "v").createOrReplaceTempView("vecs")
    Seq((10L, Seq(1.0, 0.0, 0.0, 0.0)), (20L, Seq(0.0, 0.0, 1.0, 1.0)))
      .toDF("cc", "cv").createOrReplaceTempView("cents")
    val cells = spark.sql(
      """WITH one AS (SELECT collect_list(struct(cc, cv)) AS cents FROM cents)
         SELECT vid, argmin_cell(v, cents) AS cell FROM vecs CROSS JOIN one
         ORDER BY vid""").as[(Long, Long)].collect().toSeq
    assert(cells == Seq((1L, 10L), (2L, 20L), (3L, 10L)), s"wrong cells: $cells")
    // PQ: m=2 subspaces of 2 dims, per-subspace centroids from the same
    // axis vectors — codes pick the nearest sub-centroid per slice
    val codes = spark.sql(
      """WITH cb AS (
           SELECT collect_list(struct(sub, cc, cv)) AS cb FROM (
             SELECT 0 AS sub, CAST(1 AS BIGINT) AS cc, array(1.0e0, 0.0e0) AS cv
             UNION ALL SELECT 0, CAST(2 AS BIGINT), array(0.0e0, 0.5e0)
             UNION ALL SELECT 1, CAST(1 AS BIGINT), array(0.0e0, 0.0e0)
             UNION ALL SELECT 1, CAST(2 AS BIGINT), array(1.0e0, 1.0e0)))
         SELECT vid, pq_codes(v, cb, 2) AS codes FROM vecs CROSS JOIN cb
         ORDER BY vid""").as[(Long, Seq[Long])].collect().toSeq
    assert(codes == Seq((1L, Seq(1L, 1L)), (2L, Seq(2L, 2L)), (3L, Seq(2L, 1L))),
      s"wrong codes: $codes")
  }

  test("word_gram_hashes is SQL-callable and rejects a non-constant width") {
    val n = spark.sql(
      "SELECT size(word_gram_hashes('a b c d e', 4)) AS n").as[Int].head()
    assert(n == 2)
    // any foldable INT works ("length('xx')" folds to 2); a genuinely
    // non-constant width must fail at resolution
    val folded = spark.sql(
      "SELECT size(word_gram_hashes('a b c', length('xx'))) AS n").as[Int].head()
    assert(folded == 2)
    val err = intercept[Exception] {
      spark.sql("SELECT word_gram_hashes('a b', CAST(rand() * 4 AS INT))").collect()
    }
    assert(err.getMessage.contains("constant INT"))
  }

  test("minhash_sig is SQL-callable and matches the declarative MIN(substr(md5)) chain") {
    Seq((1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "short text"), (3L, "tiny"))
      .toDF("doc_id", "text").createOrReplaceTempView("mh_docs")
    // the exploded reference formulation, in SQL, against the kernel
    val got = spark.sql(
      """WITH ex AS (
           SELECT doc_id, substr(text, pos, 9) AS g
           FROM mh_docs
           LATERAL VIEW posexplode(sequence(1, length(text) - 8)) t AS i, pos
           WHERE length(text) >= 9),
         sig AS (
           SELECT doc_id,
                  MIN(substr(md5(g), 1, 8)) AS s0, MIN(substr(md5(g), 9, 8)) AS s1,
                  MIN(substr(md5(g), 17, 8)) AS s2, MIN(substr(md5(g), 25, 8)) AS s3,
                  MIN(substr(md5(concat('x:', g)), 1, 8)) AS s4,
                  MIN(substr(md5(concat('x:', g)), 9, 8)) AS s5,
                  MIN(substr(md5(concat('x:', g)), 17, 8)) AS s6,
                  MIN(substr(md5(concat('x:', g)), 25, 8)) AS s7
           FROM ex GROUP BY doc_id)
         SELECT d.doc_id,
                minhash_sig(d.text, 9) = array(s0, s1, s2, s3, s4, s5, s6, s7) AS same
         FROM mh_docs d JOIN sig s ON d.doc_id = s.doc_id""")
      .as[(Long, Boolean)].collect().toMap
    assert(got == Map(1L -> true, 2L -> true), got.toString)
    // sub-k-char text: empty array (the no-shingle case)
    val empty = spark.sql(
      "SELECT size(minhash_sig('tiny', 9)) AS n").as[Int].head()
    assert(empty == 0)
  }

  test("positional phrase search is expressible in pure SQL (same counts as the operator)") {
    Seq((1L, "a b a b a"), (2L, "a x b x a"), (3L, "z a b a z"))
      .toDF("doc_id", "text").createOrReplaceTempView("ph_docs")
    val got = spark.sql(
      """WITH post AS (
           SELECT doc_id, pos, term FROM ph_docs
           LATERAL VIEW posexplode(split(text, ' ')) t AS pos, term),
         t0 AS (SELECT doc_id, pos FROM post WHERE term = 'a'),
         t1 AS (SELECT doc_id, pos - 1 AS pos FROM post WHERE term = 'b'),
         t2 AS (SELECT doc_id, pos - 2 AS pos FROM post WHERE term = 'a')
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches
         FROM t0 JOIN t1 USING (doc_id, pos) JOIN t2 USING (doc_id, pos)
         GROUP BY doc_id""")
      .as[(Long, Long)].collect().toMap
    val op = graft.operators.TextAnalysis.phraseSearch(
        spark.table("ph_docs"), "doc_id", "text", "a b a")
      .as[(Long, Long)].collect().toMap
    assert(got == op && got == Map(1L -> 2L, 3L -> 1L), s"sql=$got op=$op")
  }
}
