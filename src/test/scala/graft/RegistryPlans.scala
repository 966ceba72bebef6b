package graft

import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec

/** The one planning pass over every registered query that the
  * registry-wide plan checks read: PlanFingerprintSpec's exchange counts
  * and PlanAuditSpec's structural audits. Whichever suite touches [[all]]
  * first plans the registry; the other reads the result.
  *
  * Mode: sf0.001, CacheScope audit mode on (scoped operators expose
  * their interior join/window tree instead of a checkpoint scan), AQE
  * off (the static plan Catalyst produces; AQE's runtime rewrites are
  * measured by Bench, not asserted), and every LocalFastPath site off.
  * The plans are therefore the distributed ones, the plans that run at
  * 100 TB, where every fast-path site is over its bound. `sparkPlan`
  * does not depend on AQE, so the audits read the same plan under
  * either setting.
  *
  * Per query the pass keeps only what the assertions read, never a
  * `SparkPlan`, so no pin or checkpoint RDD stays reachable once the
  * pass has cleared the cache and restored the confs.
  */
object RegistryPlans {

  private val sfDir = "/root/testdata/sf0.001"

  /** What the registry checks read of one query's plans.
    *
    * @param shuffles   ShuffleExchangeExec nodes in `executedPlan`
    * @param broadcasts BroadcastExchangeExec nodes in `executedPlan`
    *                   (`ReusedExchange` counts in neither: reuse is the
    *                   optimization, not a new exchange)
    * @param broadcastJoins "BroadcastHashJoin" occurrences in the
    *                   `sparkPlan` text
    * @param windowKeys the partition keys of each WindowExec in
    *                   `sparkPlan`, comma-joined; "" for a partitionless one
    * @param cartesian  the `sparkPlan` text names a CartesianProduct (the
    *                   text, unlike a tree walk, shows persisted pins' plans)
    * @param tinyAggShuffleJoin a sort-merge or shuffled-hash join in
    *                   `sparkPlan` has a ≤1-row global-aggregate side
    * @param plan       the `sparkPlan` text when `cartesian`,
    *                   `tinyAggShuffleJoin` or a partitionless window flags
    *                   the query, "" otherwise
    */
  final case class QueryPlan(name: String, shuffles: Int, broadcasts: Int,
      broadcastJoins: Int, windowKeys: Seq[String], cartesian: Boolean,
      tinyAggShuffleJoin: Boolean, plan: String)

  lazy val all: Seq[QueryPlan] = {
    val spark = SparkSpec.session
    CacheScope.auditMode.set(true)
    try SparkSpec.withConfs("spark.sql.adaptive.enabled" -> "false",
        LocalFastPath.EnabledConf -> "false") {
      Queries.all.map(q => facts(q.name, q.run(spark, sfDir).queryExecution))
    } finally {
      CacheScope.auditMode.set(false)
      spark.catalog.clearCache()
    }
  }

  def apply(name: String): QueryPlan = all.find(_.name == name).get

  private def facts(name: String, qe: QueryExecution): QueryPlan = {
    val executed = qe.executedPlan
    val plan = qe.sparkPlan
    val text = plan.toString
    val windowKeys = plan.collect { case w: WindowExec =>
      w.partitionSpec.map(_.toString).mkString(",") }
    val cartesian = text.contains("CartesianProduct")
    val tinyAggJoin = plan.collect {
      case j: SortMergeJoinExec if tinyAggSide(j.left) || tinyAggSide(j.right) => j
      case j: ShuffledHashJoinExec if tinyAggSide(j.left) || tinyAggSide(j.right) => j
    }.nonEmpty
    QueryPlan(name,
      shuffles = executed.collect { case e: ShuffleExchangeExec => e }.size,
      broadcasts = executed.collect { case e: BroadcastExchangeExec => e }.size,
      broadcastJoins = "BroadcastHashJoin".r.findAllIn(text).size,
      windowKeys = windowKeys, cartesian = cartesian,
      tinyAggShuffleJoin = tinyAggJoin,
      plan = if (cartesian || tinyAggJoin || windowKeys.contains("")) text else "")
  }

  // A no-grouping aggregate is ≤ 1 row by construction; a join side
  // reaches it through narrow operators only (an explode could fan it
  // out again).
  private val narrow = Set("ProjectExec", "FilterExec", "SortExec",
    "ShuffleExchangeExec", "CoalesceExec", "InputAdapter")

  private def tinyAggSide(p: SparkPlan): Boolean = p match {
    case a: BaseAggregateExec => a.groupingExpressions.isEmpty
    case _ if p.children.size == 1 && narrow(p.getClass.getSimpleName) =>
      tinyAggSide(p.children.head)
    case _ => false
  }
}
