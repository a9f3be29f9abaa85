package graft
import org.apache.spark.sql.execution.FormattedMode

/** Plan-inspection main: prints the formatted physical plan of each
  * named query (default: all) — the per-round scale review loop
  * (PushedFilters / ReadSchema / WholeStageCodegen / join strategies).
  * Usage: graft.Explain <sfDir> [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val only = args.drop(1).toSet
    val spark = Harness.session()
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      if (only.isEmpty || only(name)) {
        println(s"\n========== $name ==========")
        try println(Harness.run(spark, name, sfDir)(_.queryExecution.explainString(FormattedMode)))
        catch { case e: Throwable => println(s"[explain failed] $e") }
      }
    }
    spark.stop()
  }
}
