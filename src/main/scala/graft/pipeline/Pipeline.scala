package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.CacheScope

/** Pipeline framework (SURVEY.md §2.6, P1–P5).
  *
  * The reference composes pipelines from YAML stage names resolved via
  * importlib reflection (`/root/reference/theetl/etl.py:24-105`). Here the
  * same shape is a type-safe registry: stages are named `DataFrame =>
  * DataFrame` functions, composition is a left fold
  * (`theetl/etl.py:133-159`), loads run for their side effects
  * (`theetl/etl.py:161-169`).
  */
object Pipeline {

  type Extraction = (SparkSession, Map[String, String]) => DataFrame
  type Stage = DataFrame => DataFrame
  type Load = DataFrame => Unit

  /** P1 config: one pipeline = extraction → transformations* → filters* →
    * loads* (`config/transactions.yaml:1-9`).
    */
  case class Conf(name: String, extraction: String,
      transformations: Seq[String], filters: Seq[String], loads: Seq[String])

  /** P2 registry — the type-safe replacement for importlib resolution. */
  final class Registry {
    private var extractions = Map.empty[String, Extraction]
    private var stages = Map.empty[String, Stage]
    private var loads = Map.empty[String, Load]
    def extraction(name: String)(f: Extraction): this.type = { extractions += name -> f; this }
    def stage(name: String)(f: Stage): this.type = { stages += name -> f; this }
    def load(name: String)(f: Load): this.type = { loads += name -> f; this }
    def resolveExtraction(n: String): Extraction =
      extractions.getOrElse(n, throw new NoSuchElementException(s"extraction '$n' not registered"))
    def resolveStage(n: String): Stage =
      stages.getOrElse(n, throw new NoSuchElementException(s"stage '$n' not registered"))
    def resolveLoad(n: String): Load =
      loads.getOrElse(n, throw new NoSuchElementException(s"load '$n' not registered"))
  }

  /** Identity stage — the reference's manual-stub pattern (F5:
    * `unique_ids_fake` / `push_fake`).
    */
  val identityStage: Stage = df => df

  /** P3+P4 `run_etl` (`theetl/etl.py:171-184`): extraction, left-fold
    * through transformations then filters, run every load.
    *
    * Loads share one evaluation, as the reference's loads share one
    * `list[dict]`: with more than one load on a batch frame, the loads get
    * a lazy local checkpoint of the filtered frame. Under AQE its shuffle
    * stages run when it is planned, as they would in the first load; the
    * first load's own job computes and stores its rows, later loads read
    * them, and the blocks are freed after the last load
    * ([[CacheScope.free]]), also when a load throws. So the chain
    * (scan, stages, shuffles, and any non-deterministic column) runs once
    * per call, not once per load. The pin is lazy because an eager one
    * (`CacheScope.cache`, `localCheckpoint()`) runs its own job before the
    * first load can commit: an eager prototype raised the silver-commit
    * latency by up to 30%. It is not a `persist()`: under AQE a cached plan
    * that is not yet built is materialized as its own query stage, which
    * is again a job before the first load's write. A frame the caller
    * already cached is handed on as it is. The returned frame is the
    * filtered frame itself, not the freed pin.
    */
  def run(spark: SparkSession, conf: Conf, reg: Registry,
      params: Map[String, String] = Map.empty): DataFrame = {
    val extracted = reg.resolveExtraction(conf.extraction)(spark, params)
    val transformed = conf.transformations.foldLeft(extracted)((df, n) => reg.resolveStage(n)(df))
    val filtered = conf.filters.foldLeft(transformed)((df, n) => reg.resolveStage(n)(df))
    val pin = conf.loads.size > 1 && !filtered.isStreaming &&
      filtered.storageLevel == StorageLevel.NONE
    val shared = if (pin) filtered.localCheckpoint(eager = false) else filtered
    try conf.loads.foreach(n => reg.resolveLoad(n)(shared))
    finally if (pin) CacheScope.free(shared)
    filtered
  }

  /** P1 `read_yaml` (`theetl/etl.py:46-62`) — minimal parser for the
    * reference's config shape (no external YAML dependency):
    *
    * {{{
    * pipelines:
    *   - name: transactions
    *     extraction: bronze_scan
    *     transformations:
    *       - to_silver
    *     filters:
    *       - ledger_dedup
    *     loads:
    *       - silver_sink
    * }}}
    */
  def parseYaml(text: String): Seq[Conf] = {
    var confs = Vector.empty[Conf]
    var name = ""; var extraction = ""
    var transformations = Vector.empty[String]; var filters = Vector.empty[String]
    var loads = Vector.empty[String]; var section = ""
    var open = false
    def flush(): Unit = if (open && name.nonEmpty) {
      confs :+= Conf(name, extraction, transformations, filters, loads)
    }
    text.linesIterator.map(_.replaceAll("#.*$", "")).filter(_.trim.nonEmpty).foreach { raw =>
      val line = raw.trim
      if (line.startsWith("- name:")) {
        flush()
        open = true; name = line.stripPrefix("- name:").trim
        extraction = ""; transformations = Vector.empty
        filters = Vector.empty; loads = Vector.empty; section = ""
      } else if (line.startsWith("extraction:")) extraction = line.stripPrefix("extraction:").trim
      else if (line.startsWith("transformations:")) section = "t"
      else if (line.startsWith("filters:")) section = "f"
      else if (line.startsWith("loads:")) section = "l"
      else if (line.startsWith("-")) {
        val item = line.stripPrefix("-").trim
        section match {
          case "t" => transformations :+= item
          case "f" => filters :+= item
          case "l" => loads :+= item
          case _ =>
        }
      }
    }
    flush()
    confs
  }
}
