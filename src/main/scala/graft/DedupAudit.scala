package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Similarity, TextPipeline}

/** Full-corpus dedup audit — the dup-heavy scaling measurement
  * (VERDICT r6 #2): run the UNBOUNDED one-call dedup pipelines
  * (`dedupCorpus` minhash-lsh / `dedupEmbeddings` lsh) over an entire
  * derived fixture (e.g. `make_sf.py ... 10 0.6` — 60% exact
  * duplicates, the realistic crawl regime) and print one JSON line with
  * corpus sizes, survivor counts, and wall times.
  *
  * Besides the timing, the audit checks the exact-collapse INVARIANT the
  * stage-0 prepass guarantees generator-independently: no survivor may
  * share a byte-identical text (bit-identical vector) with a smaller-id
  * input row — i.e. an exact-duplicate family never keeps more than its
  * min-id member, no matter what the approximate LSH path or the
  * hot-bucket guard did downstream. Zero-norm vectors are exempt per the
  * documented contract (cosine undefined ⇒ never anyone's duplicate).
  * Exit code 1 on any violation, so the spot harness fails loudly.
  */
object DedupAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val tau = if (args.length > 1) args(1).toDouble else 0.8
    val threshold = if (args.length > 2) args(2).toDouble else 0.9
    val spark = Harness.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }

    // ---- documents -------------------------------------------------
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val nDocs = docs.count()
    val (docSurv, docSecs) = timed {
      TextPipeline.dedupCorpus(docs, tau, "minhash-lsh", "first")
        .select("doc_id").localCheckpoint()
    }
    val nDocSurv = docSurv.count()
    // family violation: a surviving doc that is not its exact-text
    // family's min id (family = identical text among ALL input docs)
    val famMinDoc = docs
      .select(col("doc_id"),
        sha2(coalesce(col("text"), lit("")).cast("binary"), 256).as("th"))
      .withColumn("fam_min", min("doc_id").over(Window.partitionBy("th")))
    val docViolations = docSurv
      .join(famMinDoc, "doc_id")
      .where(col("doc_id") =!= col("fam_min"))
      .count()

    // ---- embeddings ------------------------------------------------
    val emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val nVecs = emb.count()
    val (vecSurv, vecSecs) = timed {
      Similarity.dedupEmbeddings(emb, threshold, "lsh")
        .select("vec_id").localCheckpoint()
    }
    val nVecSurv = vecSurv.count()
    val nonZero = aggregate(col("embedding"),
      lit(0.0d), (a, x) => a + x.cast("double") * x.cast("double")) > 0.0d
    val famMinVec = emb.where(nonZero)
      .withColumn("fam_min", min("vec_id").over(Window.partitionBy("embedding")))
      .select("vec_id", "fam_min")
    val vecViolations = vecSurv
      .join(famMinVec, "vec_id")
      .where(col("vec_id") =!= col("fam_min"))
      .count()

    println(f"""{"metric":"dedup_audit","sf":"$sfDir","tau":$tau%.2f,"threshold":$threshold%.2f,"docs":$nDocs,"doc_survivors":$nDocSurv,"doc_fam_violations":$docViolations,"doc_secs":$docSecs%.3f,"vecs":$nVecs,"vec_survivors":$nVecSurv,"vec_fam_violations":$vecViolations,"vec_secs":$vecSecs%.3f}""")
    spark.stop()
    if (docViolations > 0 || vecViolations > 0) sys.exit(1)
  }
}
