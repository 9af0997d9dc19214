package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Run-scoped parquet artifact memo — THE pattern behind every
  * train-once/score-many artifact in the query layer (ANN ground truth,
  * sketch register tables, LM/DSIR models, the HLL exact audit): build
  * once per (artifact name, sf dir) per JVM, persist under
  * annArtifactRoot, read back thereafter so recurring evaluations
  * measure the production read path. Oracles recompute every artifact
  * from scratch, so hash-match still proves the derivations. */
private[queries] object Memo {
  private val written =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Seq[String])]

  /** Directory leaf of the artifacts built from sf dir `dir`: the path
    * with every char outside [A-Za-z0-9.] mangled to `_`, behind an `sf`
    * prefix — an absolute path would otherwise mangle to a leading `_`,
    * and Spark's file index treats `_`/`.`-prefixed names as hidden. */
  def leaf(dir: String): String = "sf" + dir.replaceAll("[^A-Za-z0-9.]", "_")

  /** Build-once path accessor — for consumers that read the artifact by
    * PATH (the partition-pruned index probes), with optional partition
    * columns so the persisted layout is the production one (e.g. the
    * binary-IVF index partitioned by cell). The cached entry remembers
    * the layout it was BUILT with: a second call site reusing the name
    * with a different partitionBy would silently read the first layout
    * (defeating the partition pruning it asked for), so a layout
    * mismatch fails loudly — one artifact name, one layout.
    *
    * Builds run under ONE reentrant monitor, NOT inside the map's
    * computeIfAbsent: builders legitimately nest (cell_split_tree builds
    * binary_ivf_cent; binary_ivf_sweep builds binary_ivf_index), and a
    * nested computeIfAbsent on the same ConcurrentHashMap is a contract
    * violation that throws "Recursive update" whenever the two keys land
    * in one bin. `synchronized` is reentrant on the builder's own
    * thread, so nesting is safe; builds are rare, heavyweight parquet
    * writes, so serializing them across threads costs nothing real. */
  def parquetArtifactPath(s: SparkSession, dir: String, name: String,
                          partitionBy: Seq[String] = Nil)
                         (build: => DataFrame): String = {
    val key = s"$name|$dir"
    val (p, layout) = {
      val hit = written.get(key)
      if (hit != null) hit
      else synchronized {
        val again = written.get(key) // double-checked under the monitor
        if (again != null) again
        else {
          val p = s"${VectorQueries.annArtifactRoot}/$name/${leaf(dir)}"
          // Artifact files are sized for READERS (guide §6): an
          // unbalanced build writes one tiny file per writer partition
          // (x per partition dir when partitioned) and every recurring
          // evaluation re-opens all of them — measured r16: the
          // binary-IVF index wrote 503 files for 2000 rows and each
          // probe scan paid ~500 file opens through the per-open
          // Hadoop-Configuration lock convoy, the dominant summed task
          // time of the whole binary family. REBALANCE is the
          // scale-adaptive fix: AQE packs output partitions toward
          // advisoryPartitionSizeInBytes — one file per cell at bench
          // scale, advisory-sized splits at 100 TB (a huge cell SPLITS
          // instead of becoming one giant file). Build-time only; the
          // measured read path is unchanged rows, far fewer opens.
          val clustered =
            if (partitionBy.nonEmpty) build.hint("rebalance", partitionBy: _*)
            else build.hint("rebalance")
          clustered.write.mode("overwrite").partitionBy(partitionBy: _*).parquet(p)
          val entry = (p, partitionBy)
          written.put(key, entry)
          entry
        }
      }
    }
    require(layout == partitionBy,
      s"artifact '$name' was built partitioned by [${layout.mkString(",")}] " +
        s"but this call requests [${partitionBy.mkString(",")}] — use a " +
        "distinct artifact name per layout")
    p
  }

  def parquetArtifact(s: SparkSession, dir: String, name: String)
                     (build: => DataFrame): DataFrame =
    // artifacts are schema-stable per JVM run: skip the per-read footer
    // inference (driver-side) via the shared schema memo
    graft.core.Tables.parquetStableSchema(s,
      parquetArtifactPath(s, dir, name)(build))
}
