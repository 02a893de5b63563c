package graft.tools

/** Dev-only: dump formatted physical plans for headline queries — the
  * scale audit loop (pushdown reached the scan? dims broadcast? top-k via
  * TakeOrderedAndProject? shuffles only where keyed?). */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val which: Set[String] = if (args.length > 1) args.drop(1).toSet else Set(
      "q_filter", "q_join_broadcast", "q_join_hash", "q_sort_limit",
      "q_agg_groupby", "q_similarity_topk", "q_topk", "q_join_lookup")
    val spark = graft.LocalSession(4)
    spark.sparkContext.setLogLevel("ERROR")
    if (args.length > 1 && args(1) == "scan-census") {
      // repeated-scan audit: how many times does each query's plan scan
      // the same parquet file? A relation feeding N plan branches without
      // materialization re-scans its source N times — usually fine for
      // column-pruned double scans (counts + totals), a red flag at ≥3
      // (see q_basket_affinity's 5-scan fix). Prints only queries with a
      // path scanned ≥ 3 times.
      import org.apache.spark.sql.execution.FileSourceScanExec
      graft.Queries.all.foreach { case (name, fn) =>
        try {
          // sparkPlan, NOT executedPlan: under AQE the executed plan is a
          // leaf AdaptiveSparkPlanExec wrapper and collect() traverses
          // nothing — the census would pass vacuously. The pre-AQE plan is
          // the static upper bound (AQE can only reuse identical
          // exchanges at runtime, never add scans), same convention as
          // PlanAuditSpec.
          val plan = fn(spark, sfDir).queryExecution.sparkPlan
          val paths = plan.collect { case s: FileSourceScanExec =>
            s.relation.location.rootPaths.mkString(",")
          }
          val hot = paths.groupBy(identity).filter(_._2.length >= 3)
          if (hot.nonEmpty)
            println(s"$name: " + hot.map { case (p, n) =>
              s"${p.split('/').last} x${n.length}" }.mkString(", "))
        } catch { case e: Throwable => println(s"$name: PLAN ERROR $e") }
      }
    } else {
      graft.Queries.all.filter(q => which.contains(q._1)).foreach { case (name, fn) =>
        println(s"\n========== $name ==========")
        fn(spark, sfDir).explain("formatted")
      }
    }
    spark.stop()
  }
}
