package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{QueryDef, QueryRegistry}

/** `olap` and `llm_prep`: registry queries over the fixed test tables. An
  * op builds one query with `QueryDef.run` and writes it to the `noop`
  * sink, which materializes every row at no sink cost. */
final class QueryWorkload(spark: SparkSession, tracer: Tracer, name: String,
                          data: String, work: String) extends Workload {

  private val defs: IndexedSeq[QueryDef] =
    QueryRegistry.defs.filter(d => QueryWorkload.member(name, d.name)).toIndexedSeq

  def size: Int = defs.size

  def prepare(): Unit = ()

  private def build(d: QueryDef): DataFrame =
    tracer.span("queries.construct") { d.run(spark, data) }

  private def runOp(i: Int): OpResult = {
    val d = defs(i)
    Main.timeOp(d.name) {
      tracer.span("op", d.name) {
        val df = build(d)
        tracer.span("execute") { df.write.format("noop").mode("overwrite").save() }
      }
    }
  }

  def pass(order: Seq[Int]): PassResult = Main.timePass((order.map(runOp), Map.empty))

  def rerun(i: Int, tag: String): OpResult = runOp(i)

  /** Writes each query's result as parquet, the output Verify produces,
    * for the check against the stored oracle results. */
  def verify(): Map[String, Any] = Map("outputs" -> defs.map { d =>
    Main.timeOp(d.name) {
      d.run(spark, data).coalesce(1).write.mode("overwrite")
        .parquet(s"$work/check/${d.name}.parquet")
    }.toMap
  })
}

object QueryWorkload {
  /** `olap`: the relational, event and advanced SQL queries (`q*`);
    * `llm_prep`: the dedup, text, similarity, multimodal and sampling
    * families of the LLM data pipeline. */
  def member(workload: String, query: String): Boolean = workload match {
    case "olap" => query.startsWith("q")
    case "llm_prep" => Seq("d5", "t4", "s6", "m7", "s7").exists(query.startsWith)
    case _ => false
  }
}

/** Writes the DuckDB oracle SQL of every `olap` and `llm_prep` query as a
  * JSON object to the file named by its one argument (make_expected.py). */
object DumpOracle {
  def main(args: Array[String]): Unit = {
    val sql = QueryRegistry.defs
      .filter(d => QueryWorkload.member("olap", d.name) || QueryWorkload.member("llm_prep", d.name))
      .flatMap(d => d.oracle.map(d.name -> _)).toMap
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      .writeValueAsString(sql)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(0)), json)
  }
}
