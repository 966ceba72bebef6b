package graft

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{Filter, LoggerContext}
import org.apache.logging.log4j.core.filter.RegexFilter
import org.apache.spark.sql.SparkSession

/** The local SparkSession of every main (Bench, Verify, Explain,
  * StreamBench, DeriveScale): master `local[n]` with `n` shuffle
  * partitions, UTC session time zone, UI off. `n` is `SPARK_GRAFT_CPUS`
  * if set, else the cores the JVM sees. Settings that only one main
  * needs are set at its call site; a `-Dspark.…` system property
  * reaches the session too (e.g. `-Dspark.graft.localFastPath.enabled=false`).
  * Building it also drops one log message, as test runs do
  * (`log4j2-test.properties`): the warning that a locally checkpointed
  * RDD "cannot be recomputed after unpersisting", which every
  * `CacheScope` free logs; CacheScope's callers own that proof.
  */
object LocalSession {

  /** Core count, which is also the shuffle-partition count. */
  def cpus(env: Map[String, String]): Int =
    env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.trim.toInt)

  private lazy val dropUnpersistWarning: Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.addFilter(RegexFilter.createFilter("RDD [0-9]+ was locally checkpointed, " +
      "its lineage has been truncated and cannot be recomputed after unpersisting",
      null, false, Filter.Result.DENY, Filter.Result.NEUTRAL))
    ctx.updateLoggers()
  }

  def apply(appName: String): SparkSession = {
    val n = cpus(sys.env)
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    dropUnpersistWarning // after getOrCreate: Spark's logging set-up replaces the configuration
    spark
  }
}
