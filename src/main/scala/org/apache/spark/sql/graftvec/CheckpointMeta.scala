package org.apache.spark.sql.graftvec

import scala.util.control.NonFatal

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
  * the zip is exact); if any referenced attribute fails to map, the
  * patch is skipped and the checkpoint behaves as before (fail open —
  * the worst case is the pre-existing extra exchange, never a wrong
  * partitioning claim).
  *
  * The patch writes the `LogicalRDD`'s two metadata fields in place,
  * immediately after the node is created and before any downstream
  * plan references it — the node is a leaf, so analysis/optimization
  * pass the same instance through and every consumer sees the restored
  * metadata. */
object CheckpointMeta {

  /** Patch `cp` (the just-created checkpoint of `origin`) in place. */
  def restore(origin: DataFrame, cp: DataFrame): DataFrame = {
    try {
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
      remapPartitioning(finalPlan.outputPartitioning, amap)
        .filterNot(_.isInstanceOf[UnknownPartitioning])
        .foreach(setField(lr, "outputPartitioning", _))
      val ord = finalPlan.outputOrdering
      if (ord.nonEmpty) {
        val mapped = ord.map(o => remapExpr(o, amap))
        if (mapped.forall(_.isDefined))
          setField(lr, "outputOrdering", mapped.map(_.get.asInstanceOf[SortOrder]))
      }
      cp
    } catch {
      case NonFatal(e) =>
        // fail open: an unpatched checkpoint is merely the old plan
        System.err.println(s"[graft] CheckpointMeta.restore skipped: $e")
        cp
    }
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

  private def setField(lr: LogicalRDD, name: String, value: AnyRef): Unit = {
    val f = classOf[LogicalRDD].getDeclaredField(name)
    f.setAccessible(true)
    f.set(lr, value)
  }
}
