package graft

import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The one choice between an operator's in-process fast path and its
  * distributed loop.
  *
  * The iterative operators (connected components, pagerank, triangle
  * count, k-core, NN-descent, the byte-BPE/WordPiece merge loops,
  * logistic-regression GD) pay a fixed number of Spark jobs per round
  * whatever the data size — the per-query scheduling cost that "From
  * Batch Processing to Real Time Analytics: Running Presto at Scale"
  * (ICDE 2022) describes. When an operator's working set is
  * answer-sized, it is collected once and the loop replays on the driver
  * with the same arithmetic, so results are identical. Above its bound
  * every operator runs its distributed loop unchanged: at 100 TB nothing
  * collects. The bounds are constants that cap the driver-side collect
  * on ANY cluster.
  *
  * The only setting is [[EnabledConf]] (default true). `false` sends
  * every operator down its distributed loop; the equivalence specs and
  * PlanFingerprintSpec run that way (`SparkSpec.withLocalFastPathOff`).
  */
object LocalFastPath {
  val EnabledConf = "spark.graft.localFastPath.enabled"

  /** Components edge rows: ≤ ~8 MB on the driver at 2·8 bytes per edge. */
  val CcEdges = 500000L
  /** pagerank/triangle/k-core edge rows: ≤ ~48 MB at ≤ 24 bytes per edge. */
  val GraphEdges = 2000000L
  /** NN-descent vectors: ≤ ~2 MB of quantized 64-dim vectors. */
  val NnVecs = 4096L
  /** Tokenizer word-table rows: ≤ ~70 MB of (f, syms) rows at typical word lengths. */
  val BpeWords = 131072L
  /** logreg feature rows, n·(dim+1): ≤ ~96 MB of (doc, bucket, value) rows. */
  val LogregFeats = 4000000L

  /** The switch is on and `size` is at most `bound`. `size` is evaluated
    * only when the switch is on, so a size probe costs no job when off. */
  def admits(spark: SparkSession, size: => Long, bound: Long): Boolean =
    spark.conf.getOption(EnabledConf).forall(_.toBoolean) && size <= bound

  /** `df`'s rows decoded for the in-process path, or None when the
    * switch is off, `df` holds more than `bound` rows (one count job
    * decides before anything is collected), or `decode` rejects a row
    * (a NULL endpoint). On None the caller runs its distributed loop. */
  def collect[T: ClassTag](df: DataFrame, bound: Long)(
      decode: Row => Option[T]): Option[Array[T]] =
    if (admits(df.sparkSession, df.count(), bound)) decodeAll(df)(decode)
    else None

  /** Collect and decode every row of `df` (None if `decode` rejects
    * one) — for callers that already decided with [[admits]]. */
  def decodeAll[T: ClassTag](df: DataFrame)(
      decode: Row => Option[T]): Option[Array[T]] = {
    val rows = df.collect()
    val out = new Array[T](rows.length)
    var i = 0
    while (i < rows.length) {
      decode(rows(i)) match {
        case Some(t) => out(i) = t
        case None => return None
      }
      i += 1
    }
    Some(out)
  }
}
