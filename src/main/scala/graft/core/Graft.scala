package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory + table registry for the graft engine.
  *
  * Scale posture: sessions default to AQE on (runtime shuffle coalescing +
  * skew-join splitting) and one shuffle partition per local core — on a
  * real cluster this knob comes from the submitter, everything else in the
  * engine is partition-count agnostic.
  */
object Graft {

  /** Scratch dir for shuffle files and spills in LOCAL mode.
    *
    * Measured (r15, jstack sampling of the sf0.1 bench): with the default
    * /tmp (ext4-on-virtio here), 52% of runnable executor-thread samples sat
    * in DiskBlockObjectWriter.initialize and another ~25% in the bypass
    * writer's NIO concat — shuffle FILE MACHINERY, not bytes, dominates
    * small-partition shuffles. Spark's own tuning guide says local dirs
    * belong on the fastest local storage available; on this box that is
    * tmpfs. Cluster deployments are untouched: SPARK_LOCAL_DIRS (which
    * Spark gives precedence over spark.local.dir) or an explicit
    * SPARK_GRAFT_LOCAL_DIR always win, and the tmpfs default only engages
    * when /dev/shm exists and is writable. At 100 TB the equivalent knob is
    * provisioning local NVMe for SPARK_LOCAL_DIRS — shuffle data must not
    * live in RAM there; this default is sized for local-mode runs whose
    * shuffle footprint is MiBs.
    *
    * Safety guards (r16, advisor item): tmpfs also receives SPILL files,
    * and spills exist to relieve memory pressure — so the default only
    * engages when /dev/shm has comfortable headroom (>= 4 GiB usable;
    * the bench's whole shuffle footprint is MiBs, so a box that close to
    * full should fall back to disk rather than risk ENOSPC / host memory
    * exhaustion on a larger-than-bench workload). Known sharp edge: a
    * KILLED JVM (not a normal stop) leaks its subdirectory under
    * /dev/shm/graft-spark-local — RAM-backed — until
    * something removes it; Spark's own shutdown hook cleans up on every
    * normal exit. Set SPARK_GRAFT_LOCAL_DIR=/tmp (or any disk path) to
    * opt out entirely.
    */
  def localScratchDir: Option[String] =
    sys.env.get("SPARK_GRAFT_LOCAL_DIR").orElse {
      if (sys.env.contains("SPARK_LOCAL_DIRS")) None
      else {
        val shm = java.nio.file.Paths.get("/dev/shm")
        val headroom = 4L * 1024 * 1024 * 1024
        if (java.nio.file.Files.isDirectory(shm) &&
          java.nio.file.Files.isWritable(shm) &&
          shm.toFile.getUsableSpace >= headroom) Some("/dev/shm/graft-spark-local")
        else None
      }
    }

  /** Shuffle-concat copy mode, PAIRED with the tmpfs scratch default:
    * `spark.file.transferTo=false` exactly when the local-mode scratch
    * landed on /dev/shm. The bypass-merge writer concatenates its
    * per-reducer segment files with NIO transferTo, which mmap/unmaps
    * every segment; on tmpfs there is no device DMA for zero-copy to
    * win, and at local[32] the per-segment unmap TLB shootdowns convoy
    * across all cores — measured r16 (30 jstack samples of a q_bm25
    * loop: 33% of executor samples in FileChannelImpl.map0/unmap0;
    * min-of-8 summed task time q_bm25 5.8 -> 0.8 s, q_corpus_clean
    * 6.7 -> 3.0 s, q_hybrid_rrf 5.4 -> 1.2 s with the stream copy).
    * r15 measured this knob "within noise" — correctly, THEN: the
    * DiskBlockObjectWriter-initialize floor it has since removed was
    * masking it. A cluster with disk-backed local dirs keeps Spark's
    * default (transferTo zero-copy is the right call for real devices),
    * because this pairing only engages when the tmpfs default does. */
  def localShuffleConf: Seq[(String, String)] =
    if (localScratchDir.exists(_.startsWith("/dev/shm")))
      Seq("spark.file.transferTo" -> "false")
    else Seq.empty

  /** Whole-stage-codegen class cache size (static conf, JVM-wide).
    *
    * The default is 100 entries. This engine's query surface alone compiles
    * thousands of distinct codegen units (153 declared queries x ~20 stages,
    * plus the streaming/CLI operators), so any application that runs more
    * than a handful of them evicts the cache completely and pays janino
    * compilation AGAIN on every re-execution — measured r15: janino frames
    * in 38/150 jstack samples of a two-query loop, on the EXECUTOR threads
    * (local mode shares the cache; on a cluster every executor recompiles
    * too, so the fix transfers). Entries are compiled classes + source
    * strings (~tens of KB each); 4096 bounds the cache well inside the
    * default heap while covering the whole query surface. */
  final val CodegenCacheMaxEntries = "4096"

  /** Build a local session wired the way the engine expects — the ONE
    * session builder: the CLI, Verify, Bench, the dev tools and the test
    * suite all come through here, so they all run the same config.
    * (Reference keeps engine config in `etl/db.py:13-22`; ours is Spark conf.)
    * Cores default to the machine's; SPARK_GRAFT_CPUS overrides.
    */
  def session(appName: String = "graft"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val builder0 = SparkSession.builder()
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheMaxEntries)
    localScratchDir.foreach(d => builder0.config("spark.local.dir", d))
    localShuffleConf.foreach { case (k, v) => builder0.config(k, v) }
    NioLocalFs.sessionConf.foreach { case (k, v) => builder0.config(k, v) }
    val spark = builder0
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // ObjectHashAggregate falls back to SORT-based aggregation at 128
      // distinct keys per partition — for the dedup UDAF passes (millions
      // of shingle keys, buffers bounded at cap+1 longs by construction)
      // that means a full sort of the exploded rows. Raise the threshold
      // so the bounded-buffer aggregation stays hash-based; worst-case
      // memory = groups/partition x ~100B, well inside executor budgets.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4000000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // The engine's own optimizer surface is part of the session contract:
    // the window-top-k idiom lowers to the bounded-heap TopKPerKey operator
    // wherever its safety conditions hold (see TopKRewriteRule scaladoc),
    // and the native expressions are SQL-callable (format_money,
    // cosine_sim, word_gram_hashes, scrub_spans, nfc_normalize, ...).
    graft.plans.TopKRewrite.install(spark)
    graft.plans.GraftFunctions.register(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Materialization of eagerly-reused intermediates (LSH candidate sets,
  * verification shingle slices, connected-components rounds): an eager
  * `localCheckpoint`. It truncates lineage (no optimizer blow-up on
  * iteration), hands AQE the exact materialized size (tiny candidate sets
  * then broadcast in every downstream join), and its blocks are GC'd with
  * the plan instead of pinned in the CacheManager. The cost is cluster
  * mode: a localCheckpoint is not recomputable, so losing an executor (or
  * a dynamic-allocation decommission) fails the job instead of recomputing
  * the lost blocks. That trade holds here because every pin is a small
  * intermediate of one query: a lost executor costs a re-run of that
  * query, while recomputable pins would cost lineage or CacheManager
  * memory on every run.
  */
object Materialize {
  def pin(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)
}

/** Loaders for the driver-generated star schema (TESTDATA.md).
  *
  * Dimension tables (region/nation/supplier/part/customer) are small at any
  * scale factor relative to the facts — join code broadcasts them explicitly.
  */
object Tables {
  val dims  = Seq("region", "nation", "customer", "supplier", "part")
  val facts = Seq("orders", "lineitem", "events", "documents", "embeddings")
  val all: Seq[String] = dims ++ facts

  /** Parquet schema memo, keyed by file path. `spark.read.parquet(path)`
    * re-infers the schema from the footer on EVERY call — driver-side work
    * (file listing + footer decode + Hadoop conf churn) repeated per query
    * per run for files that never change within a process. The memo holds
    * the inferred StructType once per path; the scan itself is unchanged
    * (same file, same pushdown, same pruning — only the analysis-time
    * footer read is skipped). The test corpus is immutable per JVM run, so
    * the memo can never serve a stale schema here; long-lived services
    * reading evolving tables should scope the read by snapshot the way the
    * warehouse family does. */
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]

  /** Read a parquet path whose SCHEMA is stable for the life of this JVM
    * (the immutable test corpus; run-scoped artifacts that rewrite bytes
    * but never shape). Epoch logs, whose file set grows with every
    * commit, must not come through here — they read through
    * `EtlCli.readEpochTable`. */
  def parquetStableSchema(spark: SparkSession, path: String): DataFrame = {
    val schema = schemaMemo.computeIfAbsent(path,
      p => spark.read.parquet(p).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** Drop memoized schemas under `pathPrefix` — for artifact helpers that
    * REWRITE a fixed path (the ensure* pq/residual builders on a
    * scale-factor-dir switch). Today those artifacts are shape-stable
    * across sfs, but an explicit-schema parquet read silently null-fills
    * columns missing from the file, so a rewrite must invalidate instead
    * of leaning on that invariant (r16 advisor item). */
  def invalidateSchema(pathPrefix: String): Unit =
    schemaMemo.keySet.removeIf(_.startsWith(pathPrefix))

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = parquetStableSchema(spark, s"$dir/$name.parquet")
    // events.ts is TIMESTAMP(NANOS) parquet, which Spark only reads as a
    // long (nanosAsLong) — normalize to a micros TimestampType column.
    // The fixture has no sub-microsecond precision, so `div 1000` is exact.
    df.schema.fields.find(f => f.name == "ts" && f.dataType == org.apache.spark.sql.types.LongType) match {
      case Some(_) => df.withColumn("ts",
        org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case None => df
    }
  }

  /** Register every table as a temp view for the spark.sql surface. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => t(spark, dir, n).createOrReplaceTempView(n))

  /** Spread a small input across the cluster before a compute-heavy narrow
    * stage. A few-MB parquet file arrives as ONE partition, serializing
    * e.g. 30M md5 calls onto one core; at cluster scale inputs already have
    * >= defaultParallelism partitions and this is a no-op.
    *
    * The partition estimate is METADATA-ONLY: optimizer statistics
    * (file-size sum for file sources) over maxPartitionBytes — the previous
    * `df.rdd.getNumPartitions` probe built the physical plan + RDD DAG, an
    * extra plan execution on every call. Unknown-size relations estimate
    * huge -> no repartition, the safe default.
    */
  def ensureParallelism(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val p = spark.sparkContext.defaultParallelism
    val maxPartBytes = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB"))
    val estPartitions = df.queryExecution.optimizedPlan.stats.sizeInBytes /
      BigInt(maxPartBytes max 1L) + 1
    if (estPartitions < p) df.repartition(p) else df
  }
}
