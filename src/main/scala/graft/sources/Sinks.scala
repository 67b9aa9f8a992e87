package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Sink-side layout control (SURVEY.md §2.10 + the scale story the
  * reference's flat `saveAsTable` misses): partitioned directories for
  * partition pruning, in-file ordering for row-group min/max locality,
  * bounded file sizes for balanced downstream tasks.
  */
object Sinks {

  /** Overwrite-parquet with Hive-style partition directories. Reads with a
    * predicate on `partitionCols` then scan only matching directories
    * (PartitionFilters in the plan — verified in SinksSpec).
    */
  def partitionedParquet(df: DataFrame, path: String,
      partitionCols: Seq[String], sortCols: Seq[String] = Nil,
      maxRecordsPerFile: Long = 0L): Unit = {
    val sorted =
      if (sortCols.nonEmpty)
        df.repartition(partitionCols.map(col): _*)
          .sortWithinPartitions((partitionCols ++ sortCols).map(col): _*)
      else df
    val w = sorted.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
    (if (maxRecordsPerFile > 0)
      w.option("maxRecordsPerFile", maxRecordsPerFile.toString)
    else w).parquet(path)
  }

  /** Bucketed managed table — the co-located-join layout: both sides of a
    * recurring equi-join written with `bucketBy(n, key)` (+ in-bucket
    * sort) join WITHOUT any Exchange: each task zips bucket i with bucket
    * i. At 100 TB this converts the recurring fact⋈fact shuffle (the
    * dominant cost of repeated pipeline runs) into a one-time write-side
    * layout decision — the same trade the reference's flat `saveAsTable`
    * never makes. Bucket counts must match (or divide) across join sides.
    * Uses the session catalog (bucketing metadata lives in the table
    * definition, not the parquet files).
    *
    * `oneFilePerBucket`: pre-shuffle so each write task holds exactly
    * one bucket (`repartition(buckets, col)` uses the same
    * murmur3-pmod hash as the write-side bucket id). Multi-file
    * buckets void the `sortBy` guarantee at read time — the scan then
    * reports no ordering and every downstream SortMergeJoin re-sorts
    * what the write already sorted, each round. One file per bucket
    * makes the scan provably sorted (Sort elided under the SMJ, plan-
    * pinned for the PageRank superstep). Costs one bucket-keyed
    * exchange at write; worth it for any recurring-join layout.
    */
  def bucketedTable(df: DataFrame, table: String, buckets: Int,
      bucketCol: String, oneFilePerBucket: Boolean = false): Unit =
    (if (oneFilePerBucket) df.repartition(buckets, col(bucketCol))
     else df)
      .write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  /** Dataset-scoped managed-table prefix: a FIXED table name is shared
    * mutable state across any two concurrent sessions on one warehouse —
    * hashing the dataset path into the name keeps runs over DIFFERENT
    * inputs disjoint by construction (same-input concurrency stays
    * single-writer, as for any artifact directory).
    */
  def namespaced(base: String, datasetDir: String): String = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(datasetDir.getBytes("UTF-8")).take(4)
      .map("%02x".format(_)).mkString
    s"${base}_$hex"
  }

  /** Drop a managed table AND its warehouse directory. The in-memory
    * catalog dies with the JVM but the warehouse directory does not — a
    * later session's `saveAsTable` then fails with locationAlreadyExists
    * on a table the catalog has never heard of. Callers that re-create
    * managed tables across sessions (the bucketed-join query, run by
    * Verify/Bench/Explain in separate JVMs) reset through this first.
    */
  def resetManagedTable(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(wh)) fs.delete(wh, true)
  }

  /** Compact a parquet directory into ~`targetRecordsPerFile`-row files —
    * the maintenance pass every streaming-append sink needs (each
    * micro-batch appends small files; scan cost grows with file count,
    * not bytes). Reads, repartitions to ⌈rows/target⌉, rewrites via a
    * temp dir + atomic-enough swap (at 100 TB this runs per partition
    * directory, and a table format with a transaction log makes the swap
    * truly atomic — out of scope offline). Returns (files before, files
    * after).
    */
  def compactParquet(spark: org.apache.spark.sql.SparkSession, path: String,
      targetRecordsPerFile: Long): (Int, Int) = {
    val dest = new Path(path)
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = parquetFileCount(spark, path)
    val rows = spark.read.parquet(path).count()
    val nFiles = math.max(1L, (rows + targetRecordsPerFile - 1)
      / targetRecordsPerFile).toInt
    val tmp = new Path(path + "__compact_tmp")
    spark.read.parquet(path).repartition(nFiles)
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    // Swap, new-files-first: compacted part files carry fresh UUID names,
    // so moving them in BEFORE deleting originals means a crash mid-swap
    // leaves a readable (at worst temporarily duplicated) table instead of
    // a truncated one. Only then are the pre-swap originals removed —
    // excluding any name that the move just (re)placed, e.g. _SUCCESS.
    def files(dir: Path) = fs.listStatus(dir).filter(_.isFile).map(_.getPath)
    val originals = files(dest)
    val compacted = files(tmp)
    compacted.foreach { f =>
      val to = new Path(dest, f.getName)
      if (fs.exists(to)) fs.delete(to, false)
      if (!fs.rename(f, to))
        throw new java.io.IOException(
          s"[compactParquet] rename $f -> $to failed")
    }
    val newNames = compacted.map(_.getName).toSet
    originals.filterNot(f => newNames.contains(f.getName)).foreach { f =>
      if (!fs.delete(f, false))
        System.err.println(s"[compactParquet] failed to delete stale $f")
    }
    if (fs.listStatus(tmp).nonEmpty || !fs.delete(tmp, false))
      System.err.println(
        s"[compactParquet] temp dir not empty after swap, left behind: $tmp")
    (before, parquetFileCount(spark, path))
  }

  /** Parquet part files directly under `path` (0 when it is absent),
    * listed through the Hadoop FileSystem: `java.io.File` lists nothing
    * for a `file:`, `hdfs://` or `s3a://` path.
    */
  def parquetFileCount(spark: org.apache.spark.sql.SparkSession,
      path: String): Int = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0
    else fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet"))
  }

  /** The reference's `saveAsTable` + re-query pattern without a metastore:
    * write parquet, read it back, register a temp view — the manual
    * materialization it performs between q3 and q4
    * (`(Clone) Pinterest Data Cleaning and Queries.py:174-183`).
    */
  /** Training-export sink: JSONL shards — the format data loaders
    * actually stream — written as AT MOST `shards` files, each one a
    * contiguous range of the deterministic shuffle order (range
    * repartition on the provided key, in-partition sort). The count can
    * come in under `shards`: empty range partitions write no file, and a
    * low-cardinality or skewed `orderCol` collapses ranges — by design
    * (range sharding trades exact fan-out for contiguous, rank-fetchable
    * order). Compression is per-file, so shards are independently
    * fetchable/decodable by rank; at 100 TB pick `shards` ≈
    * total/target-file-size, never 1-file-per-executor-task defaults.
    * Returns the shard file count actually written, via the Hadoop
    * FileSystem API (portable to object stores, unlike java.io.File).
    */
  def exportJsonlShards(df: DataFrame, path: String, orderCol: String,
      shards: Int, compression: String = "gzip"): Int = {
    df.repartitionByRange(shards, col(orderCol))
      .sortWithinPartitions(orderCol)
      .write.mode("overwrite")
      .option("compression", compression)
      .json(path)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(
      df.sparkSession.sessionState.newHadoopConf())
    fs.listStatus(p).count(_.getPath.getName.startsWith("part-"))
  }

  def materialize(df: DataFrame, path: String, viewName: String): DataFrame = {
    df.write.mode(SaveMode.Overwrite).parquet(path)
    val back = df.sparkSession.read.parquet(path)
    back.createOrReplaceTempView(viewName)
    back
  }

  /** Morton (Z-order) key over two numeric columns: each dimension is
    * min/max-scaled to `bits` bits, then the bits are interleaved. Rows
    * close in BOTH dimensions get close keys, so clustering by the key
    * gives every file a tight min/max envelope in every dimension — the
    * data-skipping layout (Delta's OPTIMIZE ZORDER analog) that makes
    * multi-dimension box predicates prune files/row-groups, where a
    * single-column sort only ever prunes its leading column.
    *
    * The min/max frame arrives as a broadcast 1-row crossJoin (no driver
    * action); the key itself is a pure bit-op expression chain —
    * codegen'd, zero shuffle. At 100 TB the quantile-based variant (scale
    * by `ntile` rank, robust to outliers) swaps in at the same seam.
    */
  def mortonKey(df: DataFrame, colA: String, colB: String,
      bits: Int = 16): DataFrame = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    val bounds = df.agg(
      min(col(colA)).cast("double").as("a_min"),
      max(col(colA)).cast("double").as("a_max"),
      min(col(colB)).cast("double").as("b_min"),
      max(col(colB)).cast("double").as("b_max"))
    val top = (1L << bits) - 1
    def quant(c: String, lo: Column, hi: Column): Column =
      least(lit(top), floor(
        (col(c).cast("double") - lo) / nullif(hi - lo, lit(0.0))
          * (1L << bits)).cast("long")).cast("long")
    def interleave(a: Column, b: Column): Column =
      (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
        acc
          .bitwiseOR(shiftleft(shiftrightunsigned(a, i).bitwiseAND(1L), 2 * i))
          .bitwiseOR(shiftleft(shiftrightunsigned(b, i).bitwiseAND(1L),
            2 * i + 1))
      }
    df.crossJoin(broadcast(bounds))
      .withColumn("zkey", interleave(
        coalesce(quant(colA, col("a_min"), col("a_max")), lit(0L)),
        coalesce(quant(colB, col("b_min"), col("b_max")), lit(0L))))
      .drop("a_min", "a_max", "b_min", "b_max")
  }

  /** Write `df` re-clustered on the Morton key of (colA, colB) into
    * `files` range-partitioned, internally sorted parquet files. Box
    * predicates on either (or both) dimensions then skip most files —
    * verified in SinksAndIvfSpec by counting surviving
    * `input_file_name`s vs a linear single-column layout.
    */
  def zorderWrite(df: DataFrame, path: String, colA: String, colB: String,
      files: Int, bits: Int = 16): Unit =
    mortonKey(df, colA, colB, bits)
      .repartitionByRange(files, col("zkey"))
      .sortWithinPartitions("zkey")
      .drop("zkey")
      .write.mode(SaveMode.Overwrite).parquet(path)
}
