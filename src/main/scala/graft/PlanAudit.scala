package graft

import org.apache.spark.sql.SparkSession

/** Plan hygiene audit: prints, per query, the physical-plan features that
  * matter at scale — parquet filter pushdown, column-pruned read schemas,
  * join strategies, whole-stage-codegen coverage. Run after changing any
  * query; the point is to catch a plan regression (a lost pushdown, an
  * accidental nested-loop join) before it costs 100x at cluster scale.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = EngineConf.local(8)

    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      // Per-query isolation: one broken query must not abort the audit of
      // everything sorting after it.
      try { audit(spark, dir, name, fn) }
      catch { case e: Throwable =>
        println(s"== $name\n   !!! AUDIT FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }

  private def audit(spark: SparkSession, dir: String, name: String,
                    fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
      val df = fn(spark, dir)
      // drive THIS query's own execution (count() would plan a different
      // query) so AQE finalizes and codegen stages appear in the string
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      val pushed = "PushedFilters: \\[[^\\]]+\\]".r
        .findAllIn(plan).toSeq.distinct
      val reads = "ReadSchema: [^\\n]+".r.findAllIn(plan).toSeq.distinct
      val joins = Seq("BroadcastHashJoin", "SortMergeJoin",
        "BroadcastNestedLoopJoin", "ShuffledHashJoin", "CartesianProduct")
        .filter(plan.contains)
      // codegen stages print as `*(n)` operator prefixes in plan strings
      val codegen = "\\*\\(\\d+\\)".r.findAllIn(plan).toSeq.distinct.size
      // shuffle count (AQE executed plans print one ShuffleQueryStage per
      // materialized exchange; reused stages print as ReusedExchange /
      // a repeated stage id and are not new shuffles)
      val shuffles = plan.linesIterator.count(l =>
        l.contains("Exchange") && !l.contains("ReusedExchange"))
      println(s"== $name")
      println(s"   shuffles: $shuffles")
      pushed.foreach(p => println(s"   $p"))
      reads.foreach(r => println(s"   ${r.take(120)}"))
      if (joins.nonEmpty) println(s"   joins: ${joins.mkString(", ")}")
      println(s"   codegen spans: $codegen")
      if (plan.contains("CartesianProduct"))
        println("   !!! CARTESIAN PRODUCT")
      // Broadcast discipline (the q08/t45 class): forced broadcast of a
      // fact/corpus-derived side. Allowlisted queries print their
      // justification; anything else is a scale regression.
      BroadcastGuard.forcedUnboundedBroadcasts(df).foreach { off =>
        BroadcastGuard.allowlist.get(name) match {
          case Some(why) => println(s"   broadcast allowlisted: $why")
          case None      => println(s"   !!! FORCED BROADCAST: $off")
        }
      }
  }
}
