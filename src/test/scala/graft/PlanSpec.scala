package graft

/** Physical-plan shape assertions for the flagship queries: the plans the
  * 100 TB design depends on (broadcast dim joins, parquet filter pushdown,
  * partial aggregation, top-k as TakeOrderedAndProject) must actually be
  * the plans Catalyst produces.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("flagship top-k: broadcast dim join + TakeOrderedAndProject") {
    val p = plan("q_a1_top_parts")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("compound filter is pushed into the parquet scan") {
    val p = plan("q_f5_compound_filter")
    assert(p.contains("PushedFilters:") &&
      p.contains("EqualTo(c_mktsegment,BUILDING)"), s"filters not pushed:\n$p")
  }

  test("pricing summary aggregates partially before the exchange") {
    val p = plan("q_pricing_summary")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"expected partial+final agg:\n$p")
    // column pruning: the scan must not read unused columns like l_orderkey
    assert(p.contains("ReadSchema") && !p.contains("l_orderkey"),
      s"scan reads pruned columns:\n$p")
  }

  test("quality checks use anti joins, not outer-join-plus-filter") {
    val p = plan("q_quality_checks")
    assert(p.contains("LeftAnti"), s"expected anti join:\n$p")
  }

  test("bridge distinct-count: no Expand, user-pinned aggregation widths survive") {
    // the r10 shape: COUNT(DISTINCT)'s Expand replaced by two plain hash
    // aggregations, and the two user hash-repartitions (REPARTITION_BY_NUM)
    // pin the spine's width against size-based AQE coalescing — a
    // regression to either silently reopens the measured 1.8s -> 1.39s win
    val p = plan("q_j5_bridge")
    assert(!p.contains("Expand"), s"COUNT DISTINCT Expand crept back:\n$p")
    assert("REPARTITION_BY_NUM".r.findAllIn(p).size == 2,
      s"expected both user width pins:\n$p")
  }

  test("snowflake revenue query broadcasts every dimension") {
    val p = plan("q_region_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, s"dims not broadcast:\n$p")
  }

  test("range join plans as a broadcast nested-loop, not a shuffle") {
    val p = plan("q_range_join")
    assert(p.contains("BroadcastNestedLoopJoin"), s"range join not broadcast:\n$p")
  }

  test("as-of join runs as one union + one window (no theta join)") {
    val p = plan("q_asof_join")
    assert(!p.contains("Join"), s"as-of should be join-free (union+window):\n$p")
    assert(p.contains("Window") && p.contains("Union"), s"plan:\n$p")
  }

  test("scalar suite stays in a single codegen'd scan stage (no shuffle)") {
    val p = plan("q_x_scalars")
    assert(!p.contains("Exchange hashpartitioning"), s"unexpected shuffle:\n$p")
  }

  test("chunking is map-only: no hash shuffle, explode fused in codegen") {
    val p = plan("q_chunking")
    // the only exchange allowed is the presentation sort's range partitioning
    assert(!p.contains("Exchange hashpartitioning"), s"chunking shuffled:\n$p")
    assert(p.contains("Generate posexplode"), s"expected codegen explode:\n$p")
  }

  test("PII scrub is one projection over a pruned, filtered scan") {
    val p = plan("q_pii_scrub")
    assert(!p.contains("Exchange hashpartitioning"), s"scrub shuffled:\n$p")
    // the key filter reaches the scan; the scan reads only the 3 used cols
    assert(p.contains("LessThan(c_custkey,300)"), s"filter not pushed:\n$p")
    assert(p.contains("ReadSchema: struct<c_custkey:bigint,c_name:string,c_nationkey:int>"),
      s"scan not pruned:\n$p")
  }

  test("repetition signals aggregate partially at both levels") {
    val p = plan("q_repetition")
    // (doc,token) counts then per-doc triple: partial+final at each level
    assert("HashAggregate".r.findAllIn(p).size >= 4, s"missing partial aggs:\n$p")
  }

  test("jaccard verification runs on hashed shingle sets with merge intersects") {
    // the shingle-set build is inside the eagerly-pinned (checkpointed)
    // subtree, so assert on the ANALYZED plan, where the whole pipeline is
    // still visible
    val df = SparkEntry.queries("q_dedup_jaccard")(spark, sf)
    val a = df.queryExecution.analyzed.toString
    assert(a.contains("sorted_intersect_count"),
      s"merge-count intersect not in the plan:\n${a.take(4000)}")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin"), s"verification joins should broadcast:\n$p")
  }

  test("pivot aggregates partially at both levels; exchanges carry groups only") {
    val p = plan("q_pivot")
    // (source,lang) partial+final, then pivotfirst partial+final
    assert(p.contains("partial_pivotfirst"), s"pivot level not partial-agg'd:\n$p")
    assert(p.contains("partial_count"), s"group level not partial-agg'd:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"pivot should shuffle at most twice (groups, then sources):\n$p")
  }

  test("tfidf lowers the window top-k idiom to the bounded-heap operator") {
    val p = plan("q_tfidf")
    assert(p.contains("TopKPerKey"), s"TopKRewrite did not fire:\n$p")
    assert(!p.contains("Window"), s"window formulation survived:\n$p")
    // df side is vocabulary-sized and must broadcast
    assert(p.contains("BroadcastHashJoin"), s"df join should broadcast:\n$p")
  }

  test("decontamination probes a broadcast gram set; corpus side is map-only") {
    val p = plan("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"), s"eval grams should broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must not shuffle for the probe:\n$p")
  }

  test("quality gates are map-only over a pruned scan") {
    val p = plan("q_quality_gopher")
    assert(!p.contains("Exchange hashpartitioning"), s"quality gates shuffled:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"scan not pruned to doc_id,text:\n$p")
  }

  test("per-source cap group-limits BEFORE the shuffle (bounded per-key heap)") {
    val p = plan("q_source_cap")
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
      s"expected partial (map-side) WindowGroupLimit:\n$p")
  }

  test("hot-span scrub: hot grams broadcast; rebuild side never shuffles text") {
    val p = plan("q_span_scrub")
    assert(p.contains("BroadcastHashJoin"), s"hot gram set should broadcast:\n$p")
    // the only hash shuffles may carry (h) counts and (doc_id, pos) hits —
    // never the document text
    val textShuffles = "Exchange hashpartitioning\\([^)]*text".r.findAllIn(p).size
    assert(textShuffles == 0, s"document text crossed a shuffle:\n$p")
  }

  test("PQ encode is map-only: the corpus side never exchanges") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val cb = graft.operators.Similarity.pqCodebook(emb, "vec_id", "embedding",
      m = 8, ksub = 16, iters = 1)
    val enc = graft.operators.Similarity.pqEncode(emb, "vec_id", "embedding", cb, m = 8)
    val p = enc.queryExecution.executedPlan.toString
    // the one-row codebook reshape aggregates (single-row exchange); the
    // corpus scan side must reach the output through projections only —
    // no hash exchange keyed on vector rows
    val corpusShuffles = "Exchange hashpartitioning\\([^)]*vid".r.findAllIn(p).size
    assert(corpusShuffles == 0, s"corpus rows crossed a hash shuffle:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("CartesianProduct") ||
      p.contains("BroadcastExchange"), s"codebook should broadcast:\n$p")
  }

  test("BPE token counting is one codegen'd projection over a pruned scan") {
    val p = plan("q_bpe_tokens")
    assert(!p.contains("Exchange hashpartitioning"), s"unexpected shuffle:\n$p")
    assert(p.contains("ReadSchema") && !p.contains("n_chars"),
      s"scan reads pruned columns:\n$p")
  }

  test("quality classifier: fused map-only scoring — no join, no aggregation exchange") {
    // r16: the bounded weights table collects into the native kernel
    // (UnigramBucketScore), so scoring is ONE projection over the scan —
    // no token explode, no broadcast join, no per-doc aggregation
    val p = plan("q_quality_lr")
    assert(p.contains("unigram_bucket_score"), s"expected the fused kernel:\n$p")
    assert(!p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin") &&
      !p.contains("ShuffledHashJoin"), s"fused scoring must not join:\n$p")
    assert(!p.contains("Generate explode"), s"fused scoring must not explode tokens:\n$p")
    val hashShuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashShuffles == 0, s"fused scoring needs no aggregation exchange:\n$p")
    val textShuffles = "Exchange hashpartitioning\\([^)]*text".r.findAllIn(p).size
    assert(textShuffles == 0, s"document text crossed a shuffle:\n$p")
  }

  test("fuzzy decontamination: eval side broadcasts, text never shuffles") {
    val p = plan("q_decontaminate_fuzzy")
    assert(p.contains("BroadcastHashJoin"), s"eval band/set tables should broadcast:\n$p")
    val textShuffles = "Exchange hashpartitioning\\([^)]*text".r.findAllIn(p).size
    assert(textShuffles == 0, s"document text crossed a shuffle:\n$p")
  }

  test("in-doc self-dedup: aggregations carry doc-scoped hashes, never text") {
    val p = plan("q_doc_selfdedup")
    val textShuffles = "Exchange hashpartitioning\\([^)]*text".r.findAllIn(p).size
    assert(textShuffles == 0, s"document text crossed a shuffle:\n$p")
    // gram aggregation keys on (doc_id, h)
    assert(p.contains("hashpartitioning(doc_id"), s"expected doc-scoped agg keys:\n$p")
  }

  test("stratified split is map-only up to the audit aggregation") {
    val p = plan("q_split_stratified")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"expected partial+final agg:\n$p")
    assert(p.contains("ReadSchema") && !p.contains("text"),
      s"scan should not read text for a metadata split:\n$p")
  }

  test("LM fluency: shuffles carry 8-byte hashes, text never crosses an exchange") {
    val p = plan("q_lm_fluency")
    val textShuffles = "Exchange hashpartitioning\\([^)]*text".r.findAllIn(p).size
    assert(textShuffles == 0, s"document text crossed a shuffle:\n$p")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      s"vocab scalar should ride a broadcast:\n$p")
  }

  test("inverted index: postings cap lowers to the bounded-heap operator") {
    val p = plan("q_inverted_index")
    assert(p.contains("TopKPerKey"), s"row_number cap should lower to TopKPerKey:\n$p")
    val textShuffles = "Exchange hashpartitioning\\([^)]*text".r.findAllIn(p).size
    assert(textShuffles == 0, s"document text crossed a shuffle:\n$p")
  }

  test("DSIR preference: fused scoring kernel — no joins, one kernel eval, no text shuffle") {
    val p = plan("q_dsir_weights")
    // the quantized model rides INSIDE the scoring expression as a plan
    // reference — no model join of any kind remains
    assert(!p.contains("Join"), s"fused scoring must not join the model:\n$p")
    // exactly ONE kernel evaluation: the no-bigram filter is the cheap
    // token-count test, so pushdown can't substitute the kernel into a
    // second (pre-repartition) Filter evaluation
    assert("bigram_bucket_score".r.findAllIn(p).size == 1,
      s"scoring kernel must evaluate once, in the projection:\n$p")
    val textShuffles = "Exchange hashpartitioning\\([^)]*text".r.findAllIn(p).size
    assert(textShuffles == 0, s"document text crossed a shuffle:\n$p")
  }

  test("BM25: term filter precedes the tf shuffle; df/stats broadcast; global top-k bounded") {
    val p = plan("q_bm25")
    // O(hits) aggregation: the IN(query terms) filter must sit under the
    // first exchange, so only matching tokens shuffle
    val firstExchange = p.indexOf("Exchange hashpartitioning")
    val termFilter = p.indexOf("vector")
    assert(firstExchange > 0 && termFilter > firstExchange,
      s"query-term filter should apply before the tf shuffle:\n$p")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      s"df/corpus stats should broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"global top-k must not materialize a full sort:\n$p")
  }

  test("CMS sketch: corpus tokens aggregate into constant-width cells, strings never shuffle") {
    // q_cms_freq now reads the run-scoped persisted sketch (the
    // q_hll_distinct pattern), so the build plan is asserted on the
    // OPERATOR (the artifact writer's plan): the corpus-side shuffle
    // carries (j, bucket) cells with a partial count below it — the
    // sketch is built map-side, token strings never cross the wire
    val p = graft.operators.Sketches.cmsSketch(
        graft.core.Tables.t(spark, sf, "documents")
          .select(org.apache.spark.sql.functions.explode(
            org.apache.spark.sql.functions.split(
              org.apache.spark.sql.functions.col("text"), " ")).as("t")),
        "t", depth = 4, width = 64)
      .queryExecution.executedPlan.toString
    assert("partial_count".r.findAllIn(p).nonEmpty &&
      "Exchange hashpartitioning\\(j#\\d+, bucket#".r.findAllIn(p).nonEmpty,
      s"expected partial-agg'd (j, bucket) cell shuffle:\n$p")
    // the query-side plan probes the persisted artifact (broadcast scan),
    // it does not rebuild the cell aggregation over the corpus
    val q = plan("q_cms_freq")
    assert(q.contains("cms_sketch"),
      s"q_cms_freq should read the persisted sketch artifact:\n$q")
    assert(q.contains("BroadcastHashJoin") || q.contains("BroadcastExchange"),
      s"probe filter should ride a broadcast:\n$q")
  }

  test("HLL: registers build with a map-side partial max; values never shuffle") {
    // q_hll_distinct now reads the run-scoped persisted register table, so
    // the build plan is asserted on the OPERATOR (the artifact writer's
    // plan): the corpus-sized aggregation carries (group, j) register keys
    // with a partial max below the exchange — at most 256 rows per group
    // per partition cross the wire, never the hashed values
    val p = graft.operators.Sketches.hllRegisters(
        graft.core.Tables.t(spark, sf, "lineitem"),
        org.apache.spark.sql.functions.col("l_orderkey").cast("string"),
        Seq("l_returnflag"))
      .queryExecution.executedPlan.toString
    assert("partial_max".r.findAllIn(p).nonEmpty &&
      "Exchange hashpartitioning\\(l_returnflag#\\d+, j#".r.findAllIn(p).nonEmpty,
      s"expected partial-max'd (group, j) register shuffle:\n$p")
    // and the query-side plan reads the persisted artifact, not a rebuild
    val q = plan("q_hll_distinct")
    assert(!q.contains("partial_max"),
      s"q_hll_distinct should probe stored registers, not rebuild them:\n$q")
  }

  test("Bloom probe: the filter broadcasts; the corpus side stays map-side up to the per-doc agg") {
    val p = plan("q_bloom_decontaminate")
    assert(p.contains("BroadcastExchange"),
      s"the exact-side gram set should broadcast:\n$p")
    // the filter build keys on word indices — constant-size — and the
    // probe aggregations key on (doc_id, ...); no exchange may partition
    // on the raw gram position column
    assert(!"Exchange hashpartitioning\\(p#\\d".r.findAllIn(p).hasNext,
      s"raw bit positions crossed a shuffle:\n$p")
    // the bloom count is IN-ROW (native BloomGramHits over the packed
    // filter words): the TRAIN side must never re-group per gram — no
    // exchange may carry doc_id and gram together (the eval side's tiny
    // distinct-gram shuffle inside the broadcast build is by design)
    assert(!("Exchange hashpartitioning\\([^)]*doc_id[^)]*gram".r.findAllIn(p).hasNext ||
      "Exchange hashpartitioning\\([^)]*gram[^)]*doc_id".r.findAllIn(p).hasNext),
      s"per-gram doc re-group crossed a shuffle:\n$p")
    assert(p.contains("bloom_gram_hits"), s"expected the native in-row probe:\n$p")
  }

  test("hard negatives: queries broadcast; raw embeddings never cross an exchange") {
    val p = plan("q_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query side should broadcast:\n$p")
    val vecShuffles = "Exchange hashpartitioning\\([^)]*embedding".r.findAllIn(p).size
    assert(vecShuffles == 0, s"raw vectors crossed a shuffle:\n$p")
  }

  test("near-dup pair consumers read the shared run-scoped pair artifact") {
    // q_pagerank (and q_keep_best) must consume the pair table written
    // once per run — the tower (shingle -> minhash -> band -> verify)
    // must be absent from the consumer's own plan (the pinned pair slice
    // appears as a materialized scan, not as the rebuilding subtree)
    val p = plan("q_pagerank")
    assert(!p.contains("shingle_set") && !p.contains("xxhash64"),
      s"pagerank rebuilt the shingle tower instead of reading the artifact:\n$p")
  }

  test("SQ8: bounds ride one broadcast row; raw vectors never shuffle") {
    val p = plan("q_ann_sq8")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      s"bounds row should broadcast:\n$p")
    // encode is map-only; the only wide op keys on the query id, carrying
    // codes — no exchange may carry the raw embedding column
    val vecShuffles = "Exchange hashpartitioning\\([^)]*embedding".r.findAllIn(p).size
    assert(vecShuffles == 0, s"raw vectors crossed a shuffle:\n$p")
  }

  test("bottom-k sample lowers to the bounded-heap operator, never a full sort") {
    val p = plan("q_kmv_quantiles")
    assert(p.contains("TopKPerKey"),
      s"expected the row_number<=k window to lower to TopKPerKey:\n$p")
  }

  test("phrase search: ONE corpus scan, term-set filter below the shuffle, slots broadcast") {
    val p = plan("q_phrase_search")
    // offset normalization reads the corpus once — exactly one postings
    // explode in the whole plan (the n-way join tower it replaces had one
    // per phrase term)
    assert("Generate posexplode".r.findAllIn(p).size == 1,
      s"expected exactly one postings scan:\n$p")
    // the term-IN-set predicate must sit below the slot join so only
    // phrase-term postings ever leave the scan stage
    assert(p.contains("term#") && (p.contains("INSET") || p.contains(" IN (")),
      s"term-set filter missing:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"slot table should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"degenerated to a product:\n$p")
  }

  test("overlap fractions: eval grams broadcast; per-doc counts partial-aggregate") {
    val p = plan("q_overlap_frac")
    assert(p.contains("BroadcastHashJoin"), s"eval gram set should broadcast:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final count agg:\n$p")
  }

  test("cluster-balanced sample: assignment is map-only; corpus vectors never shuffle") {
    val p = plan("q_cluster_balance")
    val vecShuffles = "Exchange hashpartitioning\\([^)]*embedding".r.findAllIn(p).size
    assert(vecShuffles == 0, s"raw vectors crossed a shuffle:\n$p")
    assert(p.contains("TopKPerKey") || p.contains("WindowGroupLimit"),
      s"per-cell cap should group-limit, not full-sort:\n$p")
  }

  test("binary ANN: shortlist exchange carries codes-only rows; vectors never shuffle") {
    val p = plan("q_ann_binary")
    // stage 1's per-query window shuffles (qid, cid, hamming) — the
    // xor/popcount fold happens BELOW the exchange, so neither the packed
    // words nor the float vectors may cross a hash shuffle; stage 2's
    // shortlist join must broadcast the tiny candidate side, leaving the
    // corpus scan exchange-free
    val vecShuffles = "Exchange hashpartitioning\\([^)]*embedding".r.findAllIn(p).size
    assert(vecShuffles == 0, s"raw vectors crossed a shuffle:\n$p")
    val wordShuffles = "Exchange hashpartitioning\\([^)]*words".r.findAllIn(p).size
    assert(wordShuffles == 0, s"packed codes crossed a shuffle:\n$p")
    assert(p.contains("TopKPerKey") || p.contains("WindowGroupLimit"),
      s"hamming shortlist should group-limit, not full-sort:\n$p")
    // the 1/32-bytes claim as a plan property: stage 1 reads the persisted
    // index with a schema pruned to (vec_id, words) — the float vectors
    // must be absent from that scan's ReadSchema
    val prunedScan = "ReadSchema: struct<vec_id:bigint,words:array<bigint>>".r
    assert(prunedScan.findFirstIn(p).isDefined,
      s"stage-1 index scan not pruned to codes:\n$p")
  }

  test("binary-IVF ANN: stage 1 scans only probed cells' codes (partition + column pruning)") {
    val p = plan("q_ann_binary_ivf")
    // cell pruning as a PLAN property, not an argument: both reads of the
    // cell-partitioned index (stage-1 codes, stage-2 rerank vectors)
    // carry a static INSET partition filter over the probed cells — at
    // 100 TB this is the difference between listing nProbe directories
    // and scanning the corpus
    val insets = "PartitionFilters: \\[cell#\\d+ INSET".r.findAllIn(p).size
    assert(insets >= 2, s"expected INSET partition filters on both index scans:\n$p")
    // the 1/32-bytes claim: stage 1's codes scan reads (vec_id, words)
    // only — the float vectors must be absent from its ReadSchema
    assert(p.contains("ReadSchema: struct<vec_id:bigint,words:array<bigint>>"),
      s"stage-1 index scan not pruned to codes:\n$p")
    // shortlist + probe rankings bounded-heap, never a full per-query sort
    assert(p.contains("TopKPerKey") || p.contains("WindowGroupLimit"),
      s"hamming shortlist should group-limit, not full-sort:\n$p")
    // neither packed codes nor raw vectors may cross a hash shuffle: the
    // probe side broadcasts and the shortlist exchange carries
    // (qid, cid, hamming) rows only
    val vecShuffles = "Exchange hashpartitioning\\([^)]*embedding".r.findAllIn(p).size
    assert(vecShuffles == 0, s"raw vectors crossed a shuffle:\n$p")
    val wordShuffles = "Exchange hashpartitioning\\([^)]*words".r.findAllIn(p).size
    assert(wordShuffles == 0, s"packed codes crossed a shuffle:\n$p")
  }

  test("binary-IVF ANN after a hot-cell split: pruning holds, probed INSET carries child cells, parent never scanned") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    // a split deployment: concentrated corpus, day-0 quantizer, split,
    // compacted to the cell-partitioned probe layout with the dead parent
    // rows reclaimed — the production read path post-remediation
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val mv = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>").as("mv"))
    val conc = emb.crossJoin(broadcast(mv))
      .select(col("vec_id"),
        when(col("vec_id") % 5 === 0, col("embedding").cast("array<double>"))
          .otherwise(zip_with(col("embedding").cast("array<double>"), col("mv"),
            (a, b) => b + (a - b) * lit(0.01)))
          .as("embedding"))
    val cent = Similarity.coarseCentroids(emb, "vec_id", "embedding", 16)
      .transform(graft.core.Materialize.pin)
    val index = Similarity.binaryIvfIndexBuild(conc, "vec_id", "embedding",
      64, cent).transform(graft.core.Materialize.pin)
    val (tree, rel) = Similarity.splitHotCells(index, "vec_id", "embedding",
      cent, maxShare = 0.5, branch = 4)
    val hotCell = index.groupBy("cell").count()
      .orderBy(desc("count")).limit(1).collect().head.getLong(0)
    val root = java.nio.file.Files.createTempDirectory("split_plan")
    val live = index.filter(col("cell") =!= hotCell).unionByName(rel)
    live.write.partitionBy("cell").parquet(s"$root/idx")
    val queries = conc.filter(col("vec_id").isin(1L, 2L))
    val probe = Similarity.binaryIvfProbeIndex(spark, s"$root/idx", queries,
      "vec_id", "embedding", dims = 64, tree, nProbe = 2, shortlist = 20, k = 5)
    val p = probe.queryExecution.executedPlan.toString
    // both index scans still prune to the probed cells (a short probed
    // set renders as IN (...), a long one as INSET — either is the static
    // partition filter the 100 TB claim needs)
    val cellFilter = "PartitionFilters: \\[cell#\\d+ IN(SET)? ?\\(?([-0-9, ]+)".r
    val prunedScans = cellFilter.findAllMatchIn(p).toSeq
    assert(prunedScans.size >= 2,
      s"expected static cell filters on both index scans:\n$p")
    // the probed set is LEAF cells: mode queries rank the hot cell's
    // children — fresh ids above the day-0 range — and the dead parent id
    // never appears in any partition filter
    val probedSets = prunedScans.map(_.group(2).split("[^-0-9]+")
      .filter(_.nonEmpty).map(_.toLong).toSet)
    assert(probedSets.forall(!_.contains(hotCell)),
      s"a probe must never list the split parent $hotCell:\n$probedSets")
    val maxOld = cent.agg(max(col("cc").cast("long"))).collect().head.getLong(0)
    assert(probedSets.forall(_.forall(_ > maxOld)),
      s"mode queries must probe the child cells (> $maxOld):\n$probedSets")
    // stage 1 still reads codes only
    assert(p.contains("ReadSchema: struct<vec_id:bigint,words:array<bigint>>"),
      s"stage-1 scan not pruned to codes:\n$p")
  }

  test("residual IVF-PQ production probe: static cell filter prunes the codes scan; files carry only m-byte codes") {
    val p = plan("q_ann_ivfpq_probe")
    // the probed-cell set resolves driver-side and lands as a STATIC
    // partition filter — at 100 TB this is listing nProbe directories
    // instead of scanning every code
    assert("PartitionFilters: \\[cell#\\d+ IN".r.findFirstIn(p).isDefined,
      s"expected a static cell filter on the codes scan:\n$p")
    // the codes table stores no raw vectors at all (that is the PQ
    // promise): the scan reads (cid, codes), cell rides the directory
    assert(p.contains("ReadSchema: struct<cid:bigint,codes:array<bigint>>"),
      s"codes scan must read only (cid, codes):\n$p")
    // ADC table broadcasts; the codes side never hash-shuffles its rows
    val codeShuffles = "Exchange hashpartitioning\\([^)]*codes".r.findAllIn(p).size
    assert(codeShuffles == 0, s"codes crossed a shuffle:\n$p")
  }

  test("hybrid RRF: retrievers keep their bounded shapes inside the fused plan") {
    val p = plan("q_hybrid_rrf")
    // lexical side: global top-20 stays TakeOrderedAndProject (never a
    // full sort); dense side: the query row broadcasts against the corpus
    assert(p.contains("TakeOrderedAndProject"),
      s"bm25 top-k lost its bounded operator:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"dense query side should broadcast:\n$p")
    val vecShuffles = "Exchange hashpartitioning\\([^)]*embedding".r.findAllIn(p).size
    assert(vecShuffles == 0, s"raw vectors crossed a shuffle:\n$p")
  }

  test("hybrid RRF over the production arm: the probe's partition pruning survives inside the fused plan") {
    // the point of q_hybrid_rrf_ann: the deployed dense arm keeps its
    // at-scale properties when composed under rank fusion — the index
    // scans still carry the probed-cell INSET filters (fusion must not
    // force a full-index read) and neither codes nor vectors shuffle
    val p = plan("q_hybrid_rrf_ann")
    // one query x nProbe=4 keeps the probed-cell list under the InSet
    // conversion threshold, so the static filter prints IN (not INSET)
    val insets = "PartitionFilters: \\[cell#\\d+ IN".r.findAllIn(p).size
    assert(insets >= 2,
      s"fused plan lost the probe's static cell partition filters:\n$p")
    assert(p.contains("ReadSchema: struct<vec_id:bigint,words:array<bigint>>"),
      s"fused plan lost the stage-1 codes-only column pruning:\n$p")
    val vecShuffles = "Exchange hashpartitioning\\([^)]*embedding".r.findAllIn(p).size
    assert(vecShuffles == 0, s"raw vectors crossed a shuffle:\n$p")
    val wordShuffles = "Exchange hashpartitioning\\([^)]*words".r.findAllIn(p).size
    assert(wordShuffles == 0, s"packed codes crossed a shuffle:\n$p")
    // lexical side keeps its bounded global top-k
    assert(p.contains("TakeOrderedAndProject"),
      s"bm25 top-k lost its bounded operator:\n$p")
  }

  test("vector curation composition: no exchange ever carries the embedding array") {
    // the dedup stage shuffles exploded (vec_id, d, x) dim rows and the
    // balance stage shuffles (vec_id, cell) pairs — the raw array column
    // itself must never cross a wire in the composed plan either
    val p = plan("q_vector_curation")
    val vecShuffles = "Exchange hashpartitioning\\([^)]*embedding".r.findAllIn(p).size
    assert(vecShuffles == 0, s"raw vectors crossed a shuffle:\n$p")
  }

  test("GLOBAL top-k lowers to the bounded heap, not a single-partition sort") {
    // Spark 4's EliminateWindowPartitions folds a CONSTANT partition
    // column (e.g. bottomKSample's whole-corpus group) to an EMPTY
    // window spec — which used to slip past the TopKRewrite guard and
    // execute as a single-partition full sort of the input: the exact
    // 100 TB failure mode the operator exists to prevent, silently
    // reintroduced by an optimizer rule. The rewrite now accepts the
    // empty spec (partial per-partition heaps -> AllTuples final heap).
    import org.apache.spark.sql.functions._
    val samp = graft.operators.Sketches.bottomKSample(
      spark.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
          lit("all").as("g")),
      "doc_id", "n_chars", Seq("g"), k = 16)
    val p = samp.queryExecution.executedPlan.toString
    assert(p.contains("TopKPerKey"),
      s"constant-group bottom-k must lower to the bounded heap:\n$p")
    assert(!p.contains("Window "), s"window formulation survived:\n$p")
    // correctness vs the window formulation on the same frame
    import spark.implicits._
    val viaHeap = samp.select(col("doc_id").cast("long")).as[Long].collect().toSet
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    val viaWindow = spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 16).select(col("doc_id").cast("long"))
      .as[Long].collect().toSet
    assert(viaHeap == viaWindow, s"global top-k diverged: $viaHeap vs $viaWindow")
  }
}
