package graft

/** Plan auditor: prints `explain("formatted")` for selected queries so
  * pushdown/broadcast/codegen can be inspected (and greps for the
  * markers). Usage: runMain graft.Explain [sfDir] [nameFilter...]
  * (each filter selects the catalog names containing it; none = all).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = SparkEntry.selectOrExit(args.drop(1).toSeq)
    val spark = Sessions.local()
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val simple = df.queryExecution.explainString(
        org.apache.spark.sql.execution.CodegenMode)
      println(s"\n===== $name =====")
      println(plan)
      val markers = Seq(
        "PushedFilters" -> plan.contains("PushedFilters: ["),
        "BroadcastHashJoin" -> plan.contains("BroadcastHashJoin"),
        "WholeStageCodegen" -> simple.contains("WholeStageCodegen"))
      println(markers.map { case (m, b) => s"$m=$b" }.mkString("[audit] ", " ", ""))
    }
    spark.stop()
  }
}
