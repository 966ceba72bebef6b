package perfbench

import org.apache.spark.sql.SparkSession

/** Everything a workload needs for one run. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double, trace: Boolean,
    work: java.io.File, traceOut: java.io.File, params: Map[String, String]) {
  def cores: Int = spark.sparkContext.defaultParallelism
  def int(k: String): Int = param(k).toInt
  def double(k: String): Double = param(k).toDouble
  private def param(k: String): String =
    params.getOrElse(k, throw new IllegalArgumentException(s"missing workload parameter '$k'"))
}

/** A run's outcome: correctness, operation counts and metric values. */
final case class Result(correct: Boolean, attempted: Long, failed: Long,
    metrics: Map[String, Double], problems: Seq[String])

/** Benchmark entry point. Usage:
  *
  * {{{
  * perfbench.Main --kind <backfill|files|corpus> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir> --trace-out <file> [--param k=v]...
  * }}}
  *
  * Prints one line `PERFBENCH_RESULT {json}` with the run's metric values
  * by name; the launcher adds units from BENCHMARK.json and prints the
  * final result.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val (opts, params) = parse(args.toList, Map.empty, Map.empty)
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val work = new java.io.File(opt("work"))
    Util.deleteRecursively(work)
    work.mkdirs()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new java.io.File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Util.log(s"session up on $cores cores")
    val trace = opt("trace") == "1"
    val ctx = Ctx(spark, opt("seed").toLong, opt("seconds").toDouble, trace, work,
      new java.io.File(opt("trace-out")), params)
    val result =
      try opt("kind") match {
        case "backfill" => Backfill.run(ctx)
        case "files" => SilverFiles.run(ctx)
        case "corpus" => CorpusBuild.run(ctx)
        case k => throw new IllegalArgumentException(s"unknown workload kind '$k'")
      } finally {
        Util.log("workload done, stopping the session")
        spark.stop()
        Util.log("session stopped")
      }
    println("PERFBENCH_RESULT " + Util.json(Map("correct" -> result.correct,
      "attempted" -> result.attempted, "failed" -> result.failed, "metrics" -> result.metrics,
      "problems" -> result.problems)))
    System.out.flush()
    // leftover non-daemon engine threads must not hold the process open
    sys.exit(0)
  }

  @annotation.tailrec
  private def parse(as: List[String], opts: Map[String, String],
      params: Map[String, String]): (Map[String, String], Map[String, String]) = as match {
    case Nil => (opts, params)
    case "--param" :: kv :: rest =>
      val i = kv.indexOf('=')
      require(i > 0, s"--param expects key=value, got '$kv'")
      parse(rest, opts, params + (kv.take(i) -> kv.drop(i + 1)))
    case flag :: v :: rest if flag.startsWith("--") => parse(rest, opts + (flag.drop(2) -> v), params)
    case other => throw new IllegalArgumentException(s"unexpected arguments: $other")
  }
}
