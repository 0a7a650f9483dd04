package graft

import org.apache.spark.sql.SparkSession

/** The one session recipe behind every graft main. Each main appends
  * only the confs that are its own (StreamBench's RocksDB keys,
  * StageBreakdown's skew-join switches) before `getOrCreate()`.
  *
  * Environment:
  *  - SPARK_GRAFT_CPUS: cores for `local[n]` and the default shuffle
  *    width; defaults to this machine's core count.
  *  - SPARK_GRAFT_MASTER: overrides the master, e.g.
  *    `local-cluster[2,8,2048]` to exercise real serialization and
  *    network shuffle (multi-JVM) without a cluster; executors then need
  *    the graft classes via
  *    `-Dspark.executor.extraClassPath=target/scala-2.13/classes`.
  *  - SPARK_GRAFT_SHUFFLE_PARTITIONS: decouples shuffle width from core
  *    count. Partitions should track DATA size, not cores: at derived
  *    sf10 a 24-wide shuffle makes 2.5M-row partitions that spill, while
  *    128-wide keeps per-task state in memory (AQE coalesces the small
  *    ones back). For a streaming stateful operator it is also the
  *    state-store shard count, fixed at the first checkpoint.
  */
object Harness {
  private def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  def master: String = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")

  def shufflePartitions: String =
    sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)

  /** UTC and [[Tables.nanosAsLongConf]] are what `Tables.events` needs;
    * AQE is on unless a main wants the full static plan. */
  def builder(aqe: Boolean = true): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config(Tables.nanosAsLongConf, "true")
      .config("spark.sql.adaptive.enabled", aqe.toString)
      .config("spark.ui.enabled", "false")
}
