package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.expressions.VectorExpressions
import graft.functions.Text

/** ns/row of each graftvec kernel column, and of the built-in expression
  * it replaced where the optimization record names one, over the same
  * cached input columns: the best of `Reps` scan-select-hash queries into
  * the noop sink.
  * Every form pays the same scan and hash, so kernel and built-in figures
  * compare directly; neither is the kernel's cost alone. */
object Kernels {
  private val names: Seq[String] = Seq(
    "sorted_intersect_count", "sorted_intersect_count_long", "winnow_fps",
    "entropy_sum", "deletion_hashes", "word_ngrams", "hyperplane_sig",
    "cosine_sim", "jaro_winkler", "minhash_sig")

  private val Reps = 3

  /** q113's replaced form: 26 replace() scans + a HOF fold */
  private def entropyBuiltin(s: Column): Column = {
    val n = length(s).cast("double")
    val counts = array(('a' to 'z').map(ch =>
      (length(s) - length(call_function("replace", s, lit(ch.toString)))).cast("double")): _*)
    aggregate(filter(counts, c => c > 0), lit(0.0), (acc, c) => acc + (c / n) * ln(c / n))
  }

  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def measure(spark: SparkSession, tables: String): Map[String, Double] = {
    val words = Text.wordsOf(col("text"))
    // second operands are cheap derivations of the first: the timing, not
    // the similarity, is what is measured
    val d = Tables.documents(spark, tables).select(
      col("text"),
      sort_array(array_distinct(words)).as("wa"),
      element_at(words, 1).as("s1"), element_at(words, 2).as("s2"))
      .withColumn("wb", slice(col("wa"), 2, 1000))
      .withColumn("la", sort_array(transform(col("wa"), w => xxhash64(w))))
      .withColumn("lb", slice(col("la"), 2, 1000))
      .persist()
    val e = Tables.embeddings(spark, tables)
      .select(col("embedding").cast("array<double>").as("va"))
      .withColumn("vb", reverse(col("va")))
      .persist()
    // the replaced entropy form costs ~100x the kernel per row: a 1/50
    // sample keeps its timing short
    val ds = d.where(pmod(hash(col("text")), lit(50)) === 0).persist()
    val dRows = d.count().toDouble
    val eRows = e.count().toDouble
    val dsRows = ds.count().toDouble

    def time(df: DataFrame, rows: Double, c: Column): Double = {
      def run(): Unit = df.select(hash(c)).write.format("noop").mode("overwrite").save()
      run() // warm: compile once
      (0 until Reps).map { _ =>
        val t0 = System.nanoTime(); run(); (System.nanoTime() - t0) / rows
      }.min
    }

    // kernel -> (frame, rows, kernel column, replaced built-in on (frame, rows))
    val cases: Map[String, (DataFrame, Double, Column, Option[(DataFrame, Double, Column)])] = Map(
      "sorted_intersect_count" -> (d, dRows,
        VectorExpressions.sortedIntersectCount(col("wa"), col("wb")),
        Some((d, dRows, size(array_intersect(col("wa"), col("wb")))))),
      "sorted_intersect_count_long" -> (d, dRows,
        VectorExpressions.sortedIntersectCountLong(col("la"), col("lb")),
        Some((d, dRows, size(array_intersect(col("la"), col("lb")))))),
      "winnow_fps" -> (d, dRows, VectorExpressions.winnowFps(col("text"), 5, 4), None),
      "entropy_sum" -> (d, dRows, VectorExpressions.entropySum(col("text")),
        Some((ds, dsRows, entropyBuiltin(col("text"))))),
      "deletion_hashes" -> (d, dRows, VectorExpressions.deletionHashes(col("s1"), 2), None),
      "word_ngrams" -> (d, dRows, VectorExpressions.wordNgrams(col("text"), 3), None),
      "hyperplane_sig" -> (e, eRows, VectorExpressions.hyperplaneSig(col("va"), 64, 42L), None),
      "cosine_sim" -> (e, eRows, VectorExpressions.cosineSim(col("va"), col("vb")),
        Some((e, eRows, dot(col("va"), col("vb")) /
          (sqrt(dot(col("va"), col("va"))) * sqrt(dot(col("vb"), col("vb"))))))),
      "jaro_winkler" -> (d, dRows, VectorExpressions.jaroWinkler(col("s1"), col("s2")), None),
      "minhash_sig" -> (d, dRows, Text.minhashSig(col("text"), 32), None))

    val out = names.flatMap { k =>
      val (df, rows, kernel, replaced) = cases(k)
      Seq(s"$k.ns_per_row" -> time(df, rows, kernel)) ++
        replaced.map { case (bdf, brows, b) => s"$k.builtin_ns_per_row" -> time(bdf, brows, b) }
    }.toMap
    Seq(d, e, ds).foreach(_.unpersist())
    out
  }
}
