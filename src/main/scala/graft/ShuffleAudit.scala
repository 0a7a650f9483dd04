package graft

import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}

/** Dev tool: print (shuffles, broadcasts) per registered query with AQE
  * off — the shuffle count is the scarce resource at 100 TB; this is the
  * audit trail behind ShuffleAuditSpec's pinned expectations. */
object ShuffleAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = Harness.builder(aqe = false).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan
        val shuffles = plan.collect { case e: ShuffleExchangeExec => e }.size
        val bcasts = plan.collect { case e: BroadcastExchangeExec => e }.size
        println(s"[audit] $name shuffles=$shuffles broadcasts=$bcasts")
      } catch { case e: Throwable =>
        println(s"[audit] $name ERROR ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
