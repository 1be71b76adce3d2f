package graft

/** Writes each declared query's `.explain("formatted")` output to
  * `<outDir>/<query><suffix>.txt` — the optimization round's plan
  * evidence (plans/r21, the _before/_after pairs).
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> [sfDir] [query...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val names = if (args.length > 3) args.drop(3).toSet else Set.empty[String]
    val spark = EngineConf.local(32)
    new java.io.File(outDir).mkdirs()
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
         if names.isEmpty || names(name)) {
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val w = new java.io.PrintWriter(s"$outDir/$name$suffix.txt")
        try w.println(plan) finally w.close()
        println(s"[plandump] $name ok")
      } catch { case e: Throwable =>
        println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
