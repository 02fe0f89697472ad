package graft

/** Measurement tooling (optimization rounds): dump `.explain("formatted")`
  * for the named queries to stdout between BEGIN/END markers, for the
  * committed plans/rNN artifacts. Lifecycle queries build tables under
  * /tmp before returning their final frame, exactly like a bench run.
  *
  * Usage: PlanDump <sfDir> <ignored> <namePatterns>  (run_verify.sh shape)
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val selected = Measure.select(Some(if (args.length > 2) args(2) else args(1)))
    val spark = Sessions.local()
    selected.foreach { case (name, fn) =>
      Measure.attempt(spark) {
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        println(s"=== BEGIN $name ===")
        println(plan)
        println(s"=== END $name ===")
        None
      }.foreach(err => println(s"=== FAILED $name: $err ==="))
    }
    spark.stop()
  }
}
