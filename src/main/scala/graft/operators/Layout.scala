package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout operators for the 100 TB posture (SURVEY.md §4.2):
  * partitioned writes (→ partition pruning at read), bucketed tables
  * (→ shuffle-free co-located joins), and key salting (→ skew-safe
  * aggregation). These are the knobs a 1000-executor deployment turns;
  * LayoutSpec asserts the resulting plan shapes (pruned InMemoryFileIndex,
  * no Exchange over bucketed joins, salted agg == plain agg).
  */
object Layout {

  /** Hive-style partitioned parquet write: one directory per value of
    * `partitionCols`. Readers filtering on those columns scan only the
    * matching directories — partition pruning, the coarsest and
    * cheapest filter at scale. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: String*): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Bucketed + sorted table write (requires the session catalog).
    * Joining two tables bucketed by the same key into the same bucket
    * count lets Catalyst drop BOTH shuffle exchanges — at 100 TB the
    * dominant cost of a fact-fact join. */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
                    bucketCol: String): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  /** Append ONE epoch of rows to a standing table that is
    * epoch-partitioned AND bucketed on `bucketCols` — the layout a
    * streaming survivor index wants at scale: every epoch's candidate
    * join and per-bucket guard aggregate read the standing side
    * Exchange-free (bucketing carries across epoch partitions), so only
    * the epoch-sized new batch ever shuffles. Idempotent under
    * micro-batch replay: the epoch's partition is REWRITTEN (dynamic
    * partition overwrite touching only `epoch=N`), not skipped-if-seen —
    * a check-then-act skip would permanently lose rows after a crash
    * that left the partition partially visible (non-atomic committer),
    * and is racy for concurrent writers; overwrite converges to the
    * same complete partition no matter how many times the epoch
    * replays.
    *
    * `sortCols` (defaults to `bucketCols`) orders rows WITHIN each
    * bucket file — pass the real lookup keys when bucketing on a
    * derived single key: Spark prunes bucket FILES only for
    * single-column bucket specs, so the file-prunable layout for a
    * (band, bsig) index is `bucketCols = Seq("bkey")` with
    * `bkey = functions.hash(band, bsig)` in `df` and
    * `sortCols = Seq("band", "bsig")` for row-group stats — the layout
    * the streaming survivor index writes (`streaming.SurvivorIndex`). */
  def appendEpochBucketed(df: DataFrame, table: String, buckets: Int,
                          epochId: Long, bucketCols: Seq[String],
                          sortCols: Seq[String] = Seq.empty): Unit = {
    require(bucketCols.nonEmpty)
    val sorts = if (sortCols.nonEmpty) sortCols else bucketCols
    val spark = df.sparkSession
    val withEpoch = df.withColumn("epoch", lit(epochId))
    if (!spark.catalog.tableExists(table)) {
      withEpoch.write.mode("overwrite")
        .partitionBy("epoch")
        .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
        .sortBy(sorts.head, sorts.tail: _*)
        .format("parquet")
        .saveAsTable(table)
    } else {
      // insertInto inherits the catalog table's bucket spec; dynamic
      // overwrite rewrites exactly the partitions present in df — the
      // one epoch=N directory — leaving every other epoch untouched
      val key = "spark.sql.sources.partitionOverwriteMode"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "dynamic")
      try {
        // insertInto is position-based: match the table's column order
        val cols = spark.table(table).columns.map(col)
        withEpoch.select(cols.toIndexedSeq: _*)
          .write.mode("overwrite").insertInto(table)
      } finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  /** Morton (Z-order) interleaved key over the low `bits` bits of each
    * column: bit i of column j lands at output bit `i·n + j`. Points
    * close in EVERY dimension get close z-values, so sorting by the
    * z-value clusters the data in all `cols` at once — after a
    * range-partitioned write, per-file (and per-row-group) min/max
    * stats are tight on EVERY z-ordered column, and a filter on ANY of
    * them prunes files. A linear sort only ever does this for its
    * leading column; at 100 TB the difference is reading 1/√F of the
    * files instead of all of them for the second dimension (Databricks
    * OPTIMIZE ZORDER / Iceberg sort-order compaction expose the same
    * primitive). Built entirely from codegen'd integral built-ins
    * (shift/and/or — `bits·n ≤ 63` terms folded into one expression, no
    * UDF); columns are masked to `bits` bits, so the caller picks
    * `bits` to cover each column's range (values beyond the mask wrap —
    * derive a bounded key first for open-domain columns, same contract
    * as any hash key). Non-negative inputs only. */
  def zValue(cols: Seq[Column], bits: Int = 16): Column = {
    require(cols.nonEmpty && bits * cols.length <= 63,
      s"${cols.length} cols x $bits bits exceeds a 63-bit z-value")
    val n = cols.length
    val terms = for {
      i <- 0 until bits
      (c, j) <- cols.zipWithIndex
    } yield shiftleft(
      shiftright(c.cast("long"), i).bitwiseAND(lit(1L)), i * n + j)
    terms.reduce(_ bitwiseOR _)
  }

  /** The matching ANSI SQL text for [[zValue]] (DuckDB + Spark SQL both
    * parse it: explicit shift functions and `&`/`|` operators) — one
    * generated expression string per (cols, bits), used by the q89
    * oracle so the cross-engine hash proves bit-for-bit agreement. */
  def zValueSql(cols: Seq[String], bits: Int = 16): String = {
    val n = cols.length
    (for {
      i <- 0 until bits
      (c, j) <- cols.zipWithIndex
    } yield {
      val bit = s"(CAST($c AS BIGINT) >> $i) & 1"
      val p = i * n + j
      if (p == 0) s"(($bit))" else s"((($bit) << $p))"
    }).mkString(" | ")
  }

  /** Z-order clustered parquet write: range-partition by the z-value
    * into `numFiles` balanced output files, sort within each file by
    * the z-value, drop the helper column. One shuffle (the range
    * exchange samples then partitions — same cost class as any global
    * sort), after which every file covers a compact hyper-rectangle of
    * the `zCols` space: LayoutSpec measures per-file spans of ~1/4 of
    * each dimension's range at 16 files in 2-D, where a linear sort
    * leaves the trailing column's span at 100% in every file. */
  def zorderWrite(df: DataFrame, path: String, zCols: Seq[String],
                  numFiles: Int, bits: Int = 16): Unit =
    df.withColumn("_z", zValue(zCols.map(col), bits))
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite").parquet(path)

  /** Two-phase salted aggregation: spread a skewed group key over
    * `salt` sub-keys for the partial aggregate, then merge partials.
    * COUNT/SUM-decomposable aggregates only — exactly the combiner
    * algebra of MRPAPER §4.3. */
  def saltedCount(df: DataFrame, key: String, salt: Int = 16): DataFrame =
    df.withColumn("_salt", pmod(spark_partition_id(), lit(salt)))
      .groupBy(col(key), col("_salt"))
      .agg(count(lit(1)).as("_partial"))
      .groupBy(col(key))
      .agg(sum("_partial").as("c"))

  /** Salted sum, same algebra. */
  def saltedSum(df: DataFrame, key: String, valueCol: Column,
                salt: Int = 16): DataFrame =
    df.withColumn("_salt", pmod(spark_partition_id(), lit(salt)))
      .withColumn("_v", valueCol)
      .groupBy(col(key), col("_salt"))
      .agg(sum("_v").as("_partial"))
      .groupBy(col(key))
      .agg(sum("_partial").as("s"))

  /** Broadcast-salted join for a skewed key: replicate each small-side
    * row `salt` times with an explicit salt column, salt the large side
    * randomly-but-deterministically (hash of a unique column), join on
    * (key, salt). Each skewed key's rows spread over `salt` tasks
    * instead of one hot partition. (AQE skew-join handles this
    * automatically for sort-merge joins; this is the manual pattern for
    * when the optimizer can't see the skew.) */
  def saltedJoin(large: DataFrame, small: DataFrame, key: String,
                 saltSrc: Column, salt: Int = 16): DataFrame = {
    val l = large.withColumn("_salt", pmod(abs(hash(saltSrc)), lit(salt)))
    val s = small.withColumn("_salt",
      explode(sequence(lit(0), lit(salt - 1))))
    l.join(s, Seq(key, "_salt")).drop("_salt")
  }

  /** Outcome of a [[compactFiles]] rewrite. */
  final case class CompactStats(filesBefore: Int, filesAfter: Int,
                                bytesBefore: Long)

  /** Small-file compaction — the maintenance pass every long-lived
    * ingest table needs: streaming/epoch appends leave thousands of
    * KB-sized parquet files whose per-file open/footer/task overhead
    * eventually dominates scans. Rewrites `path` into
    * ceil(bytes/targetBytes) files.
    *
    * Shape: with no `sortBy` the rewrite is `coalesce` — NO shuffle,
    * each output task concatenates input splits, the cheapest possible
    * rewrite (row order within merged files is whatever concatenation
    * yields; output file sizes can skew with input layout). With
    * `sortBy` it is `repartitionByRange + sortWithinPartitions` — one
    * range shuffle that also CLUSTERS the data, so per-file min/max
    * stats on the sort columns become tight and post-compaction scans
    * row-group-prune (the zorderWrite story for the 1-D case).
    *
    * Durability contract: the rewrite goes to `path + "__compact_tmp"`
    * first, then the LIVE dir is renamed aside to `path + "__compact_old"`
    * and the tmp renamed into place, then the old copy is deleted. The
    * swap is still not one atomic operation on a plain filesystem, but
    * every crash point now leaves a COMPLETE copy of the table under a
    * predictable name (`path`, `__compact_tmp`, or `__compact_old`) —
    * there is no window where the data exists only in an
    * operator-unknown location. A production deployment still runs this
    * under a table-format transaction (the same caveat documented on
    * [[appendEpochBucketed]]'s replay contract).
    *
    * Flat tables only: a Hive-partitioned layout (subdirectories) would
    * be silently flattened by this whole-table rewrite — partition
    * pruning destroyed, stats nonsense — so the precondition is checked
    * and the call fails fast instead. Compact a partitioned table
    * per-partition (call this on each leaf dir). */
  def compactFiles(spark: SparkSession, path: String,
                   targetBytes: Long = 128L << 20,
                   sortBy: Seq[String] = Nil): CompactStats = {
    require(targetBytes > 0, "targetBytes must be positive")
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = fs.listStatus(hPath).toSeq
      .filterNot(_.getPath.getName.startsWith("_")) // commit markers etc.
    val subdirs = entries.filter(_.isDirectory)
    require(subdirs.isEmpty,
      s"compactFiles: $path has subdirectories (${subdirs.take(3).map(_.getPath.getName).mkString(", ")}…) — " +
        "a partitioned table would be flattened; compact each leaf dir instead")
    val files = entries
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    require(files.nonEmpty, s"compactFiles: no leaf .parquet files under $path")
    val bytes = files.map(_.getLen).sum
    val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val df = spark.read.parquet(path)
    val out =
      if (sortBy.nonEmpty)
        df.repartitionByRange(nOut, sortBy.map(col): _*)
          .sortWithinPartitions(sortBy.map(col): _*)
      else df.coalesce(nOut)
    val tmp = new org.apache.hadoop.fs.Path(path + "__compact_tmp")
    val old = new org.apache.hadoop.fs.Path(path + "__compact_old")
    out.write.mode("overwrite").parquet(tmp.toString)
    // Rename-aside swap: live -> __compact_old, tmp -> live, delete old.
    // Every crash point leaves a complete recoverable copy.
    fs.delete(old, true) // clear any leftover from a prior crashed run
    require(fs.rename(hPath, old), s"rename $hPath -> $old failed")
    require(fs.rename(tmp, hPath), s"rename $tmp -> $hPath failed")
    fs.delete(old, true)
    val after = fs.listStatus(hPath).toSeq
      .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    CompactStats(files.size, after, bytes)
  }
}
