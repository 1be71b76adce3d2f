package graft

/** Smoke-runner for the driver contract's `entry` (rows>0 check). */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = EngineConf.local(4)
    val df = SparkEntry.entry(spark)
    println(s"ENTRY rows=${df.count()}")
    df.show(5, false)
    spark.stop()
  }
}
