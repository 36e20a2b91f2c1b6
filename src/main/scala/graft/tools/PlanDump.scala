package graft.tools

/** Dump the executed physical plan of named queries — plan-audit
  * tooling (not part of the engine). Usage:
  * runMain graft.tools.PlanDump <sfDir> <name>[,<name>...] [<outDir> <suffix>]
  *
  * With <outDir> <suffix> given, writes `<outDir>/<name>_<suffix>.txt`
  * with the `explain("formatted")` text (the plans/rNN deliverable
  * format); otherwise prints `executedPlan.toString` to stdout.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args(1).split(",").toSeq
    val out = if (args.length >= 4) Some((args(2), args(3))) else None
    val spark = graft.Session.local("graft-plandump")
    try names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, dir)
      out match {
        case Some((odir, suffix)) =>
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          val p = java.nio.file.Paths.get(odir, s"${n}_$suffix.txt")
          java.nio.file.Files.createDirectories(p.getParent)
          java.nio.file.Files.write(p, txt.getBytes("UTF-8"))
          println(s"WROTE $p (${txt.linesIterator.size} lines)")
        case None =>
          println(s"==== $n ====")
          println(df.queryExecution.executedPlan.toString)
      }
    } finally spark.stop()
  }
}
