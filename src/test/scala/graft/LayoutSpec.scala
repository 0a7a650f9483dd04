package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Layout

class LayoutSpec extends SparkSpec {

  test("partitioned write + filtered read prunes partitions") {
    val out = Files.createTempDirectory("part").toFile.getAbsolutePath + "/orders"
    val orders = Tables.orders(spark, sf0001)
      .withColumn("o_year", year(col("o_orderdate")))
    Layout.writePartitioned(orders, out, "o_year")

    val years = orders.select("o_year").distinct().count()
    assert(years > 1, "fixture spans one year; pruning test is vacuous")

    val read = spark.read.parquet(out).where(col("o_year") === 1995)
    read.collect()
    val scan = read.queryExecution.executedPlan.toString
    // pruned scan lists only the matching partition directory
    assert(scan.contains("o_year=1995") || scan.contains("PartitionFilters"),
      s"no partition pruning evidence in plan:\n$scan")
    // row-level check: only 1995 rows came back
    assert(read.where(year(col("o_orderdate")) =!= 1995).count() == 0)
  }

  test("bucketed tables join without a shuffle exchange") {
    Layout.writeBucketed(
      Tables.orders(spark, sf0001).select("o_orderkey", "o_totalprice"),
      "b_orders", 4, "o_orderkey")
    Layout.writeBucketed(
      Tables.lineitem(spark, sf0001).select("l_orderkey", "l_quantity"),
      "b_lineitem", 4, "l_orderkey")
    // disable auto-broadcast: at sf0.001 everything fits the broadcast
    // threshold, but the behavior under test is the big-big join shape
    val thresholdBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_orders")
        .join(spark.table("b_lineitem"),
          col("o_orderkey") === col("l_orderkey"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("ShuffleExchange"),
        s"bucketed join still shuffles:\n$plan")
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      // correctness: same count as the plain join
      val plain = Tables.orders(spark, sf0001)
        .join(Tables.lineitem(spark, sf0001),
          col("o_orderkey") === col("l_orderkey")).count()
      assert(joined.count() == plain)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresholdBefore)
  }

  test("incremental dedup vs a BUCKETED standing corpus shuffles ONLY the new batch") {
    // q65's production layout (TextPipeline.q65 scaladoc): the standing
    // corpus is written once, bucketed by the dedup key, so each
    // incremental ingest shuffles just the new batch — at 100 TB the
    // standing side never moves again.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = Tables.documents(spark, sf0001)
    Layout.writeBucketed(
      docs.where(col("doc_id") % 5 =!= 4).select("text"), "b_standing", 4, "text")
    val confs = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") // plain tree for the walk below
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val fresh = docs.where(col("doc_id") % 5 === 4)
      val out = fresh.join(spark.table("b_standing"), Seq("text"), "left_anti")
        .select("doc_id", "n_chars")
      out.collect()
      val exec = out.queryExecution.executedPlan
      val shuffles = exec.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.size == 1,
        s"expected exactly one Exchange (the new batch), got ${shuffles.size}:\n$exec")
      val subtree = shuffles.head.toString
      assert(subtree.contains("documents.parquet"),
        s"the single Exchange must sit over the NEW BATCH scan:\n$subtree")
      assert(!subtree.contains("b_standing"),
        s"the bucketed standing corpus must not be re-shuffled:\n$subtree")
      // correctness: identical survivors to the unbucketed q65 plan
      val want = SparkEntry.queries("q65_incremental_dedup")(spark, sf0001)
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      val got = out.select("doc_id").orderBy("doc_id")
        .collect().map(_.getLong(0)).toSeq
      assert(got == want)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("streaming survivor index vs a BUCKETED standing banded store: " +
    "the standing side is never re-shuffled on (band, bsig)") {
    // The stream form of the q65 posture: a cumulative banded index
    // kept in an epoch-partitioned table bucketed on (band, bsig) feeds
    // the survivor index's candidate stage, so the guard
    // aggregate AND the candidate join consume it Exchange-free; only
    // the epoch-sized fresh side hashes into place. The candidates'
    // final distinct still shuffles — but that moves candidate PAIRS,
    // not the standing index.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.streaming.DocDedup
    import graft.operators.TextPipeline
    val tbl = "b_banded_layoutspec"
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val banded0 = DocDedup.bandedRows(docs.where(col("doc_id") % 3 =!= 2))
      .select("doc_id", "band", "bsig")
    val banded1 = DocDedup.bandedRows(docs.where(col("doc_id") % 3 === 2))
      .select("doc_id", "band", "bsig")
    val freshDir = Files.createTempDirectory("freshb").toString + "/banded"
    val confs = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      Layout.appendEpochBucketed(banded0, tbl, 4, 0L, Seq("band", "bsig"))
      Layout.appendEpochBucketed(banded1, tbl, 4, 1L, Seq("band", "bsig"))
      banded1.write.mode("overwrite").parquet(freshDir)
      val standing = spark.table(tbl).select("doc_id", "band", "bsig")
      val fresh = spark.read.parquet(freshDir)
      val cand = TextPipeline.incrementalGuardedCandidates(standing, fresh, 128)
      cand.collect()
      val exec = cand.queryExecution.executedPlan
      val bandExchanges = exec.collect {
        case e: ShuffleExchangeExec
          if e.outputPartitioning.toString.contains("band") => e
      }
      assert(bandExchanges.nonEmpty, // sanity: the join is not broadcast
        s"expected the fresh side to hash into the bucketed layout:\n$exec")
      val offending = bandExchanges.filter(_.child.toString.contains(tbl))
      assert(offending.isEmpty,
        s"standing banded table re-shuffled on (band, bsig):\n${offending.mkString}")
      assert(exec.toString.contains(tbl),
        s"bucketed standing table not in plan:\n$exec")
      // parity: identical candidates from a plain-parquet standing side
      val parquetStanding = banded0.union(banded1)
      val want = TextPipeline
        .incrementalGuardedCandidates(parquetStanding, fresh, 128)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = cand.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want)
    } finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
  }

  test("appendEpochBucketed replay REWRITES the epoch partition " +
    "(crash-safe idempotence, not skip-if-seen)") {
    // A crash can leave an epoch partition PARTIALLY visible; a
    // skip-if-nonempty replay check would then lose rows forever. The
    // dynamic-partition-overwrite replay must repair the partition to the
    // complete batch, leave other epochs untouched, and stay a no-op
    // under exact replays.
    import spark.implicits._
    val tbl = "b_banded_replay_layoutspec"
    val e0 = Seq((1L, 0, "a"), (2L, 0, "b")).toDF("doc_id", "band", "bsig")
    val e1full = Seq((3L, 1, "c"), (4L, 1, "d")).toDF("doc_id", "band", "bsig")
    val e1partial = e1full.where(col("doc_id") === 3L) // simulated partial commit
    try {
      Layout.appendEpochBucketed(e0, tbl, 2, 0L, Seq("band", "bsig"))
      Layout.appendEpochBucketed(e1partial, tbl, 2, 1L, Seq("band", "bsig"))
      Layout.appendEpochBucketed(e1full, tbl, 2, 1L, Seq("band", "bsig"))
      val got = spark.table(tbl).select(col("doc_id"), col("epoch").cast("long"))
        .as[(Long, Long)].collect().toSet
      assert(got == Set((1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L)),
        s"replay did not repair the partial epoch: $got")
      Layout.appendEpochBucketed(e1full, tbl, 2, 1L, Seq("band", "bsig"))
      assert(spark.table(tbl).count() == 4, "exact replay duplicated rows")
      // the bucket spec survived the insertInto path
      val spec = spark.sql(s"DESCRIBE TABLE EXTENDED $tbl").collect().mkString
      assert(spec.contains("band"), s"bucket spec lost on replay: $spec")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("dynamic partition pruning: dim filter prunes fact partitions at runtime") {
    val out = Files.createTempDirectory("dpp").toFile.getAbsolutePath + "/orders"
    val orders = Tables.orders(spark, sf0001)
      .withColumn("o_year", year(col("o_orderdate")))
    Layout.writePartitioned(orders, out, "o_year")
    import spark.implicits._
    // dim carries the year but the fact filter only arrives via the join;
    // a parquet-backed dim with a residual Filter is what the
    // PartitionPruning rule's selective-predicate check looks for
    val dimPath = Files.createTempDirectory("dpp-dim").toFile.getAbsolutePath
    Seq((1995, "target"), (1996, "other")).toDF("d_year", "d_tag")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).where(col("d_tag") === "target")
    val fact = spark.read.parquet(out)
    val joined = fact.join(dim, fact("o_year") === dim("d_year"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning in plan:\n$plan")
    assert(joined.select("o_orderkey").count() ==
      orders.where(col("o_year") === 1995).count())
  }

  test("q22-shaped DPP: date-partitioned events scan reads ONLY the " +
    "dim-selected partitions at runtime") {
    // The q22/q11 shape at production layout: the fact (events) is
    // date-partitioned, the filter arrives through a calendar-dim join,
    // and DPP must turn the dim's rows into fact partition pruning AT
    // RUNTIME — asserted on the scan's partitions-read METRIC, not just
    // the plan string.
    import org.apache.spark.sql.execution.FileSourceScanExec
    val out = Files.createTempDirectory("dppev").toFile.getAbsolutePath + "/events"
    val ev = Tables.events(spark, sf0001)
      .withColumn("e_date", to_date(col("ts")))
    Layout.writePartitioned(ev, out, "e_date")
    val allDates = ev.select("e_date").distinct().count()
    assert(allDates > 3, "fixture spans too few dates; pruning test is vacuous")
    // parquet-backed calendar dim with a residual filter — the shape the
    // PartitionPruning rule's selective-predicate check looks for
    val dimPath = Files.createTempDirectory("dppev-dim").toFile.getAbsolutePath
    ev.select(col("e_date").as("d_date")).distinct()
      .withColumn("d_tag",
        when(dayofweek(col("d_date")) === 2, "monday").otherwise("other"))
      .write.mode("overwrite").parquet(dimPath)
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false") // plain tree for the metric walk
    try {
      val dim = spark.read.parquet(dimPath).where(col("d_tag") === "monday")
      val fact = spark.read.parquet(out)
      val joined = fact.join(dim, fact("e_date") === dim("d_date"))
        .groupBy("d_date").agg(count(lit(1)).as("cnt")) // q22's per-date agg shape
      joined.collect()
      val exec = joined.queryExecution.executedPlan
      assert(exec.toString.toLowerCase.contains("dynamicpruning"),
        s"no dynamic partition pruning in plan:\n$exec")
      val factScan = exec.collect {
        case f: FileSourceScanExec if f.toString.contains("events") => f
      }.head
      val partsRead = factScan.metrics.get("numPartitions")
        .orElse(factScan.metrics.get("numFiles")).map(_.value)
        .getOrElse(sys.error(s"no partition metric on scan: ${factScan.metrics.keys}"))
      val mondays = spark.read.parquet(dimPath)
        .where(col("d_tag") === "monday").count()
      assert(partsRead == mondays && partsRead < allDates,
        s"fact scan read $partsRead partitions; want the $mondays dim-selected " +
          s"of $allDates total")
      // row parity with the statically-filtered computation
      val want = ev.where(dayofweek(col("e_date")) === 2)
        .groupBy("e_date").count().collect()
        .map(r => (r.getDate(0).toString, r.getLong(1))).toMap
      val got = joined.collect()
        .map(r => (r.getDate(0).toString, r.getLong(1))).toMap
      assert(got == want)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
  }

  test("AQE splits a skewed join partition at runtime") {
    // The other half of the skew story beside manual salting: AQE's
    // OptimizeSkewedJoin splits an oversized shuffle partition at
    // runtime. Thresholds are sized for real scans — shrink them to
    // demonstrate the mechanism on a 99%-one-key join at test scale.
    val confs = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val pad = "x" * 100
      val left = spark.range(0, 50000).select(
        when(col("id") % 100 =!= 0, lit(0L))
          .otherwise(col("id") % 7).as("k"), // ~99% of rows share key 0
        concat(lit(pad), col("id")).as("payload"))
      val right = spark.range(0, 7).select(col("id").as("k"), lit("dim").as("d"))
      // keep the payload through the join so the skewed partition's
      // shuffle bytes survive column pruning
      val j = left.join(right, "k").select(col("k"), col("payload"))
      j.collect() // finalize the adaptive plan
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("skew"),
        s"no skew split in final adaptive plan:\n${plan.take(3000)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("zValue: hand-computed interleave, masking, and ordering") {
    import spark.implicits._
    // x=3 (bits 0,1), y=5 (bits 0,2); bit i of col j -> output bit 2i+j:
    // x:b0->0, x:b1->2, y:b0->1, y:b2->5 => 1+4+2+32 = 39
    val got = Seq((3L, 5L)).toDF("x", "y")
      .select(Layout.zValue(Seq(col("x"), col("y")), 4)).head.getLong(0)
    assert(got == 39L)
    // masking: only the low `bits` bits participate (19 = 16+3 ≡ 3 mod 16)
    val masked = Seq((19L, 5L)).toDF("x", "y")
      .select(Layout.zValue(Seq(col("x"), col("y")), 4)).head.getLong(0)
    assert(masked == 39L)
    // locality: equal points interleave to equal z; the origin to zero
    assert(Seq((0L, 0L)).toDF("x", "y")
      .select(Layout.zValue(Seq(col("x"), col("y")), 4)).head.getLong(0) == 0L)
    // three dims: bit i of col j -> bit 3i+j; (1,1,1) -> 0b111 = 7
    assert(Seq((1L, 1L, 1L)).toDF("x", "y", "z")
      .select(Layout.zValue(Seq(col("x"), col("y"), col("z")), 4))
      .head.getLong(0) == 7L)
  }

  test("zorderWrite clusters EVERY dimension; a linear sort only its " +
    "leading column") {
    import spark.implicits._
    // full 256x256 grid: ground truth spans are exact, no sampling noise
    val grid = spark.range(256L * 256L)
      .select((col("id") % 256).as("x"), (col("id") / 256).cast("long").as("y"))
    val dir = java.nio.file.Files.createTempDirectory("zorder").toString
    Layout.zorderWrite(grid, s"$dir/z", Seq("x", "y"), numFiles = 16, bits = 8)
    grid.repartitionByRange(16, col("x"), col("y"))
      .sortWithinPartitions("x", "y")
      .write.mode("overwrite").parquet(s"$dir/linear")

    def fileStats(path: String): Seq[(Long, Long, Long, Long)] =
      spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg(min("x"), max("x"), min("y"), max("y"))
        .collect().toIndexedSeq
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))

    val z = fileStats(s"$dir/z")
    val lin = fileStats(s"$dir/linear")
    assert(z.size == 16 && lin.size == 16)
    // an ALIGNED 16-way cut of the 8-bit z-curve is 16 64x64 quadrants
    // (span 64 in both dims); repartitionByRange boundaries come from
    // sampling, so a boundary file can straddle a curve jump and span
    // wide in one dim — the clustering claim is about the BULK: most
    // files stay within ~2 quadrants in BOTH dimensions at once
    val compact = z.count { case (x0, x1, y0, y1) =>
      x1 - x0 <= 128 && y1 - y0 <= 128 }
    assert(compact >= 10,
      s"only $compact/16 z-ordered files are compact in both dims: $z")
    // a linear sort can NEVER do this: its trailing column's span is
    // full-range in every non-degenerate file
    assert(lin.count { case (x0, x1, y0, y1) =>
      x1 - x0 <= 128 && y1 - y0 <= 128 } == 0)
    // the linear layout's trailing column is unclustered: full-range in
    // (nearly) every file
    assert(lin.count { case (_, _, y0, y1) => y1 - y0 >= 250 } >= 14,
      s"expected full y-span in linear files: $lin")
    // the pruning consequence, counted the way a reader's footer check
    // would: a selective y-slice intersects few z-files but ALL linear
    // files
    def touched(st: Seq[(Long, Long, Long, Long)], lo: Long, hi: Long) =
      st.count { case (_, _, y0, y1) => y1 >= lo && y0 <= hi }
    assert(touched(z, 10, 20) <= 8, s"y in [10,20] touches ${touched(z, 10, 20)}/16 z files")
    assert(touched(lin, 10, 20) == 16)
    // correctness: the clustered rewrite is a permutation of the input
    assert(spark.read.parquet(s"$dir/z").count() == 256L * 256L)
    assert(spark.read.parquet(s"$dir/z")
      .select(sum(col("x") + col("y") * 1000)).head.getLong(0) ==
      grid.select(sum(col("x") + col("y") * 1000)).head.getLong(0))
  }

  test("salted count/sum match plain groupBy") {
    val li = Tables.lineitem(spark, sf0001)
    val plainC = li.groupBy("l_returnflag").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val saltedC = Layout.saltedCount(li, "l_returnflag")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(saltedC == plainC)

    val plainS = li.groupBy("l_returnflag").agg(sum("l_quantity"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val saltedS = Layout.saltedSum(li, "l_returnflag", col("l_quantity"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // sums are FP: salting changes add order → compare to 1e-6 relative
    plainS.foreach { case (k, v) =>
      assert(math.abs(saltedS(k) - v) <= 1e-6 * math.abs(v)) }
  }

  test("compactFiles merges a sprayed table losslessly; sortBy clusters " +
      "for row-group pruning; crash-window tmp never pollutes reads") {
    val dir = Files.createTempDirectory("compact").toString + "/t"
    val li = Tables.lineitem(spark, sf0001)
      .select("l_orderkey", "l_partkey", "l_quantity")
    // spray into many tiny files — the streaming-append pathology
    li.repartition(64).write.parquet(dir)
    val before = li.collect().map(_.toString).sorted.toSeq
    val stats = Layout.compactFiles(spark, dir, targetBytes = 1L << 20)
    assert(stats.filesBefore == 64, s"$stats")
    assert(stats.filesAfter < stats.filesBefore, s"$stats")
    assert(stats.filesAfter ==
      math.max(1, (stats.bytesBefore + (1 << 20) - 1) / (1 << 20)), s"$stats")
    val after = spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq
    assert(after == before, "compaction changed the data")
    // no tmp dir left behind
    assert(!Files.exists(java.nio.file.Paths.get(dir + "__compact_tmp")))

    // clustered rewrite: per-file l_orderkey ranges must be (near-)
    // disjoint — each file's span is a fraction of the key domain,
    // which is what lets min/max row-group stats prune
    val stats2 = Layout.compactFiles(spark, dir, targetBytes = 8L << 10,
      sortBy = Seq("l_orderkey"))
    assert(stats2.filesAfter > 1, s"$stats2")
    val again = spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq
    assert(again == before, "clustered compaction changed the data")
    val spans = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).toSeq.map { f =>
        val one = spark.read.parquet(f.getAbsolutePath)
          .agg(min("l_orderkey"), max("l_orderkey")).head()
        (one.getLong(0), one.getLong(1))
      }.sortBy(_._1)
    assert(spans.size > 1)
    spans.sliding(2).foreach { case Seq((_, hi), (lo2, _)) =>
      assert(hi <= lo2, s"file key ranges overlap: $spans")
    case _ => ()
    }
  }

  test("compactFiles fails fast on a Hive-partitioned table instead of " +
      "flattening it (ADVICE r7)") {
    val dir = Files.createTempDirectory("compactpart").toString + "/t"
    Tables.documents(spark, sf0001)
      .write.partitionBy("lang").parquet(dir)
    val before = spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq
    val e = intercept[IllegalArgumentException] {
      Layout.compactFiles(spark, dir)
    }
    assert(e.getMessage.contains("subdirectories"), e.getMessage)
    // the guarded call must not have touched the table
    val after = spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq
    assert(after == before, "failed compactFiles mutated the table")
    assert(new java.io.File(dir).listFiles().exists(_.getName.startsWith("lang=")),
      "partition layout destroyed")
    // and an empty flat dir (no leaf parquet) also fails fast
    val empty = Files.createTempDirectory("compactempty").toString
    val e2 = intercept[IllegalArgumentException] {
      Layout.compactFiles(spark, empty)
    }
    assert(e2.getMessage.contains("no leaf"), e2.getMessage)
  }

  test("salted join matches plain join row-for-row") {
    val orders = Tables.orders(spark, sf0001).select("o_custkey", "o_orderkey")
    val cust = Tables.customer(spark, sf0001).select("c_custkey", "c_mktsegment")
      .withColumnRenamed("c_custkey", "o_custkey")
    val plain = orders.join(cust, "o_custkey")
      .select("o_orderkey", "c_mktsegment").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val salted = Layout.saltedJoin(orders, cust, "o_custkey", col("o_orderkey"))
      .select("o_orderkey", "c_mktsegment").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(salted == plain)
  }
}
