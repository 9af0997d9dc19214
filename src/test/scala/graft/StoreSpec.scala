package graft

import graft.core.Store
import org.apache.spark.sql.functions._
import java.nio.file.Files

class StoreSpec extends SparkSpec {
  import spark.implicits._

  test("partitioned write enables partition pruning (PartitionFilters, not post-scan)") {
    val dir = Files.createTempDirectory("store_part").toFile.getAbsolutePath + "/t"
    val df = (1 to 1000).map(i => (i.toLong, s"r${i % 4}", i * 1.5)).toDF("id", "region", "v")
    Store.writePartitioned(df, dir, Seq("region"))

    val q = spark.read.parquet(dir).filter(col("region") === "r2")
    assert(q.count() == 250)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("region"),
      s"no partition pruning:\n$plan")
    // pruned read: only the r2 directory's files are touched
    assert(q.queryExecution.executedPlan.collectLeaves().toString.contains("r2") ||
      plan.contains("isnotnull(region"), s"plan:\n$plan")
  }

  test("same-bucketed tables join without an exchange") {
    val wh = Files.createTempDirectory("store_bucket").toFile.getAbsolutePath
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val a = (1 to 500).map(i => (i.toLong, s"a$i")).toDF("k", "va")
      val b = (1 to 500).map(i => (i.toLong, s"b$i")).toDF("k", "vb")
      Store.writeBucketed(a, "bucket_a", "k", 4)
      Store.writeBucketed(b, "bucket_b", "k", 4)
      val joined = spark.table("bucket_a").join(spark.table("bucket_b"), "k")
      assert(joined.count() == 500)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS bucket_a")
      spark.sql("DROP TABLE IF EXISTS bucket_b")
    }
  }

  test("overwritePartitions restates only the touched partitions") {
    val dir = Files.createTempDirectory("store_dyn").toFile.getAbsolutePath + "/t"
    val v1 = Seq((1L, "r0", 1.0), (2L, "r1", 2.0), (3L, "r2", 3.0)).toDF("id", "region", "v")
    Store.writePartitioned(v1, dir, Seq("region"))
    // restate r1 only; r0/r2 must survive untouched
    val patch = Seq((20L, "r1", 99.0)).toDF("id", "region", "v")
    Store.overwritePartitions(patch, dir, Seq("region"))
    val got = spark.read.parquet(dir).orderBy("id")
      .select("id", "region").as[(Long, String)].collect()
    assert(got.toSeq == Seq((1L, "r0"), (3L, "r2"), (20L, "r1")))
  }

  test("clustered layout skips row groups on selective scans (data skipping)") {
    val base = Files.createTempDirectory("store_cluster").toFile.getAbsolutePath
    val n = 64000
    // high-cardinality key in RANDOM row order — the worst case for min/max
    // stats without clustering
    val df = spark.range(n)
      .select(col("id"), pmod(col("id") * 2654435761L, lit(n.toLong)).as("k"))
    Store.writeClustered(df, s"$base/clustered", Seq("k"), numFiles = 8)
    df.coalesce(8).write.parquet(s"$base/control")   // same data, random order

    def recordsRead(path: String): Long = {
      // rows EMITTED by the parquet scan node = rows of the row groups that
      // survived min/max pruning (the residual filter runs above the scan)
      val q = spark.read.parquet(path)
        .filter(col("k") >= 100 && col("k") < 200)
      assert(q.collect().length == 100)
      val scans = q.queryExecution.executedPlan.collect {
        case p if p.getClass.getSimpleName == "FileSourceScanExec" =>
          p.metrics("numOutputRows").value
      }
      assert(scans.nonEmpty, s"no parquet scan node:\n${q.queryExecution.executedPlan}")
      scans.sum
    }

    val clustered = recordsRead(s"$base/clustered")
    val control = recordsRead(s"$base/control")
    // every control file straddles the predicate range -> full scan; the
    // clustered layout confines [100, 200) to one file's row groups
    assert(control >= n * 0.9, s"control unexpectedly pruned: $control of $n")
    assert(clustered <= n / 4, s"no data skipping: read $clustered of $n rows")
  }

  test("writeShards: stable hash shards, bounded file fan-out, lossless round-trip") {
    val dir = Files.createTempDirectory("store_shards").toFile.getAbsolutePath + "/t"
    val df = (1 to 2000).map(i => (i.toLong, s"doc body $i")).toDF("doc_id", "text")
      .repartition(16) // many input tasks: partitionBy alone would fan out 16 files/shard
    Store.writeShards(df, dir, "doc_id", nShards = 8, filesPerShard = 2)

    val back = spark.read.parquet(dir)
    assert(back.count() == 2000)
    // every row sits in the directory its key hashes to
    val misplaced = back
      .filter(col("shard") =!= Store.shardId(col("doc_id"), 8)).count()
    assert(misplaced == 0)
    // shard dirs: exactly 8; per-shard files within [1, filesPerShard]
    val shardDirs = new java.io.File(dir).listFiles().filter(_.getName.startsWith("shard="))
    assert(shardDirs.length == 8, s"expected 8 shard dirs, got ${shardDirs.toSeq.map(_.getName)}")
    shardDirs.foreach { d =>
      val files = d.listFiles().count(_.getName.endsWith(".parquet"))
      assert(files >= 1 && files <= 2, s"${d.getName} has $files files")
    }
    // stability: a key's shard never changes when the corpus grows
    val before = back.groupBy("shard").count().as[(Long, Long)].collect().toMap
    Store.writeShards(df.union(Seq((9999L, "new doc")).toDF("doc_id", "text")),
      dir, "doc_id", nShards = 8, filesPerShard = 2)
    val after = spark.read.parquet(dir).groupBy("shard").count()
      .as[(Long, Long)].collect().toMap
    assert(after.values.sum == 2001 &&
      before.forall { case (s, n) => after(s) == n || after(s) == n + 1 })
  }

  test("ORC is a first-class warehouse format: layout helpers + versioned tables") {
    val base = Files.createTempDirectory("store_orc").toFile.getAbsolutePath
    val df = (1 to 1000).map(i => (i.toLong, s"r${i % 4}", i * 1.5)).toDF("id", "region", "v")

    // partitioned ORC prunes directories exactly like parquet
    Store.writePartitioned(df, s"$base/part", Seq("region"), format = "orc")
    val pq = spark.read.orc(s"$base/part").filter(col("region") === "r2")
    assert(pq.count() == 250)
    assert(pq.queryExecution.executedPlan.toString.contains("PartitionFilters"))

    // clustered ORC: the selective predicate reaches the ORC scan
    Store.writeClustered(df, s"$base/clu", Seq("id"), numFiles = 4, format = "orc")
    val sel = spark.read.orc(s"$base/clu").filter(col("id") === 7L)
    assert(sel.count() == 1)
    val plan = sel.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(id,7)"),
      s"ORC pushdown missing:\n$plan")

    // hash shards round-trip in ORC with the same layout contract
    Store.writeShards(df.withColumnRenamed("id", "doc_id"), s"$base/sh", "doc_id",
      nShards = 4, format = "orc")
    assert(spark.read.orc(s"$base/sh").count() == 1000)

    // versioned table: an ORC version commits atomically, the reader
    // sniffs the format, and the next version can migrate back to parquet
    val t = s"$base/vt"
    graft.tools.EtlCli.writeTable(df, t, format = "orc")
    assert(graft.tools.EtlCli.readTable(spark, t).count() == 1000)
    graft.tools.EtlCli.writeTable(df.filter(col("id") <= 10), t)
    assert(graft.tools.EtlCli.readTable(spark, t).count() == 10)
  }

  test("zorderKey interleaves bits so both dimensions keep locality") {
    val got = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 3L), (2L, 1L)).toDF("a", "b")
      .select(Store.zorderKey(col("a"), col("b")).as("z")).as[Long].collect()
    // a at odd bit positions, b at even: z(1,0)=2, z(0,1)=1, z(3,3)=15, z(2,1)=9
    assert(got.toSeq == Seq(0L, 2L, 1L, 15L, 9L))
    // locality: small (a,b) boxes map to small z ranges — max z of the 4x4
    // box is 15, strictly below z of anything outside the box
    val outside = Seq((4L, 0L), (0L, 4L), (4L, 4L)).toDF("a", "b")
      .select(Store.zorderKey(col("a"), col("b")).as("z")).as[Long].collect()
    assert(outside.forall(_ > 15L))
  }

  test("kmeansAssign separates obvious clusters deterministically") {
    val vecs = (0 until 60).map { i =>
      val base = if (i % 2 == 0) Array(5.0f, 0.0f) else Array(0.0f, 5.0f)
      (i.toLong, Array(base(0) + (i % 7) * 0.01f, base(1) + (i % 5) * 0.01f))
    }.toDF("vec_id", "embedding")
    val a = graft.operators.Similarity.kmeansAssign(vecs, "vec_id", "embedding", k = 2, iters = 3)
      .as[(Long, Long)].collect().toMap
    val cells0 = (0 until 60 by 2).map(i => a(i.toLong)).toSet
    val cells1 = (1 until 60 by 2).map(i => a(i.toLong)).toSet
    assert(cells0.size == 1 && cells1.size == 1 && cells0 != cells1)
    // deterministic: rerun gives identical assignment
    val b = graft.operators.Similarity.kmeansAssign(vecs, "vec_id", "embedding", k = 2, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(a == b)
  }
}
