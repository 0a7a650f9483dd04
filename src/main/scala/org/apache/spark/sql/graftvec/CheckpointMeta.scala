package org.apache.spark.sql.graftvec

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap, Expression, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical._
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Restores the output partitioning/ordering that
  * `Dataset.localCheckpoint()` / `checkpoint()` LOSE under AQE
  * (r13 optimization round, guide §2.4).
  *
  * Why they are lost: `LogicalRDD.fromDataset` records
  * `executedPlan.outputPartitioning` / `.outputOrdering` on the
  * checkpoint scan node so that downstream aggregates/windows/sorts
  * keyed the same way skip their exchange/sort. With AQE enabled the
  * executed plan is an [[AdaptiveSparkPlanExec]], which does NOT
  * override either method (it is a leaf wrapper), so the checkpoint is
  * recorded as `UnknownPartitioning(0)` and EVERY consumer re-shuffles
  * — a corpus-sized hidden exchange per keyed consumer at 100 TB.
  * With AQE off (how plans/rNN dumps are produced) the metadata
  * survives, which is exactly why the static plan dumps never showed
  * the extra exchange.
  *
  * The restore is HONEST, not a hint: after an eager checkpoint the
  * adaptive plan is finalized, and `a.executedPlan.outputPartitioning`
  * (e.g. `CoalescedHashPartitioning(hash(doc_id, N), boundaries)`) is
  * the physical truth of the exact RDD partitions the checkpoint
  * captured 1:1 — AQE-coalesced reads keep their own partitioning
  * class, so a coalesced checkpoint never masquerades as plain
  * hash-bucketed (joins cannot falsely align buckets). Expressions are
  * remapped onto the checkpoint scan's fresh attribute ids positionally
  * (`fromDataset` builds the new output from the origin's output, so
  * the zip is exact); if any referenced attribute fails to map, that
  * part of the metadata is not restored and the checkpoint behaves as
  * before (the worst case is the pre-existing extra exchange, never a
  * wrong partitioning claim).
  *
  * The restored checkpoint is a NEW scan node: `makeCopy` of the
  * `LogicalRDD` with the remapped metadata, which carries the node's
  * `otherCopyArgs` (session, origin statistics and constraints), so its
  * size estimate is the unpatched one, and it is marked analyzed like
  * the checkpoint it copies. Nothing is written by reflection
  * and nothing is caught: a Spark change to the node fails loudly. */
object CheckpointMeta {

  /** `cp` (the just-created checkpoint of `origin`) with its lost
    * partitioning/ordering restored; `cp` itself when the plan is not
    * AQE, `cp` is not an `UnknownPartitioning` `LogicalRDD`, the output
    * sizes differ, or no metadata maps onto its attributes. */
  def restore(origin: DataFrame, cp: DataFrame): DataFrame = {
    val finalPlan = origin.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case _ => return cp // non-AQE checkpoints already carry the meta
    }
    val lr = cp.queryExecution.logical match {
      case l: LogicalRDD
          if l.outputPartitioning.isInstanceOf[UnknownPartitioning] => l
      case _ => return cp
    }
    if (finalPlan.output.size != lr.output.size) return cp
    val amap = AttributeMap(finalPlan.output.zip(lr.output))
    val part = remapPartitioning(finalPlan.outputPartitioning, amap)
      .filterNot(_.isInstanceOf[UnknownPartitioning])
    val ord = seqOpt(finalPlan.outputOrdering.map(o => remapExpr(o, amap)))
      .filter(_.nonEmpty)
    if (part.isEmpty && ord.isEmpty) return cp
    val restored = lr.makeCopy(Array[AnyRef](lr.output, lr.rdd,
      part.getOrElse(lr.outputPartitioning), ord.getOrElse(lr.outputOrdering),
      Boolean.box(lr.isStreaming), lr.stream))
    // a leaf over `cp`'s analyzed output, so as analyzed as `cp` itself;
    // a second analyzer run cost ~2 ms per cut on a 4-core box
    restored.setAnalyzed()
    PlanBridge.ofRows(cp.sparkSession, restored)
  }

  /** Remap a physical partitioning's attribute references onto the
    * checkpoint scan's attributes; None if any reference is unmapped
    * or the partitioning class is not one we can prove transfers. */
  private def remapPartitioning(
      p: Partitioning, amap: AttributeMap[Attribute]): Option[Partitioning] =
    p match {
      case h: HashPartitioning =>
        seqOpt(h.expressions.map(e => remapExpr(e, amap)))
          .map(es => h.copy(expressions = es))
      case c: CoalescedHashPartitioning =>
        remapPartitioning(c.from, amap)
          .map(f => c.copy(from = f.asInstanceOf[HashPartitioning]))
      case r: RangePartitioning =>
        seqOpt(r.ordering.map(o => remapExpr(o, amap)))
          .map(os => r.copy(ordering = os.map(_.asInstanceOf[SortOrder])))
      case SinglePartition => Some(SinglePartition)
      case _ => None
    }

  private def seqOpt[T](xs: Seq[Option[T]]): Option[Seq[T]] =
    if (xs.forall(_.isDefined)) Some(xs.map(_.get)) else None

  private def remapExpr[E <: Expression](
      e: E, amap: AttributeMap[Attribute]): Option[E] = {
    var ok = true
    val out = e.transformUp {
      case a: Attribute =>
        amap.get(a) match {
          case Some(na) => na
          case None     => ok = false; a
        }
    }
    if (ok) Some(out.asInstanceOf[E]) else None
  }
}
