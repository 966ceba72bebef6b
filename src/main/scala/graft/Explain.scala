package graft

/** Plan inspection: `runMain graft.Explain [sfDir] [queryName ...]`.
  * Prints the formatted physical plan per query — the review loop for
  * scan pruning (PushedFilters/ReadSchema), join strategy (broadcast vs
  * SMJ), and WholeStageCodegen coverage.
  *
  * `SPARK_GRAFT_PLAN_AUDIT=1`: flip [[CacheScope.auditMode]] so scoped
  * queries expose their full interior plan instead of the checkpoint
  * scan the scope's eager materialization leaves behind (same switch
  * PlanAuditSpec uses; prepare() still runs first so artifact-loading
  * queries can plan).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else Queries.all.map(_.name)
    val audit = sys.env.get("SPARK_GRAFT_PLAN_AUDIT").contains("1")
    val spark = LocalSession("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    if (audit) CacheScope.auditMode.set(true)
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try {
        val q = Queries.all.find(_.name == n)
          .getOrElse(sys.error(s"unknown query $n"))
        q.prepare.foreach(_(spark, sfDir))
        q.fn(spark, sfDir).explain("formatted")
        if (audit) spark.catalog.clearCache() // audit mode leaks scope pins
      } catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
