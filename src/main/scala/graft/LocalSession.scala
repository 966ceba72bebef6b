package graft

import org.apache.spark.sql.SparkSession

/** The local SparkSession of every main (Bench, Verify, Explain,
  * StreamBench, DeriveScale): master `local[n]` with `n` shuffle
  * partitions, UTC session time zone, UI off. `n` is `SPARK_GRAFT_CPUS`
  * if set, else the cores the JVM sees. Settings that only one main
  * needs are set at its call site; a `-Dspark.…` system property
  * reaches the session too (e.g. `-Dspark.graft.localFastPath.enabled=false`).
  */
object LocalSession {

  /** Core count, which is also the shuffle-partition count. */
  def cpus(env: Map[String, String]): Int =
    env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.trim.toInt)

  def apply(appName: String): SparkSession = {
    val n = cpus(sys.env)
    SparkSession.builder()
      .master(s"local[$n]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}
