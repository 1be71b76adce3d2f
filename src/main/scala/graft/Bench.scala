package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-query wall clock over the registry, printed as ONE JSON line on
  * stdout (the untruncated copy also lands in BENCH_FULL.json):
  *
  *   runMain graft.Bench [sfDir]   (SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS)
  *
  * Fields, in order: `metric`, `unit`, `cpus`, `sf`, `sf_num`, `samples`
  * (each query's raw per-round timings, chronological), `queries` (each
  * query's min), `failed`, `value` (the sum of mins; -1 if any query
  * failed) and `steal_delta` (hypervisor steal ticks across the timed
  * rounds, null off Linux). Where the time goes layer by layer is
  * perfbench's job (`perfbench/README.md`), not this line's.
  */
object Bench {
  /** Interleaved whole-suite rounds; each query keeps its min. Running
    * the full suite N times decorrelates host noise: a disturbance in
    * round k lands on a different query's slot in round k+1, where
    * back-to-back repeats of one query tend to share it. */
  private[graft] val Rounds = 3

  private[graft] type Query = (SparkSession, String) => DataFrame

  /** Cumulative steal ticks (field 8 of the aggregate `cpu` line in
    * /proc/stat): time the hypervisor ran other tenants while this VM
    * was runnable. None when unreadable. */
  private[graft] def readStealTicks(path: String = "/proc/stat"): Option[Long] =
    try {
      val src = scala.io.Source.fromFile(path)
      try src.getLines().find(_.startsWith("cpu "))
        .map(_.trim.split("\\s+")).filter(_.length > 8).map(_(8).toLong)
      finally src.close()
    } catch { case _: Exception => None }

  /** Start→end stolen ticks; None unless both endpoints were readable. */
  private[graft] def stealDeltaOf(s0: Option[Long], s1: Option[Long]): Option[Long] =
    for (a <- s0; b <- s1) yield b - a

  /** Numeric scale factor parsed from the testdata dir name (`…/sf0.1` →
    * 0.1); None (serialized null) when the path has no `sf<number>`. */
  private[graft] def sfNumber(dir: String): Option[Double] =
    """sf([0-9]*\.?[0-9]+)""".r.findFirstMatchIn(dir)
      .flatMap(m => m.group(1).toDoubleOption)

  /** JSON string literal: escapes quotes, backslashes and control chars,
    * so an sfDir containing `"` or `\` still yields a valid line. */
  private[graft] def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"'          => "\\\""
      case '\\'         => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c            => c.toString
    } + "\""

  /** The line's leading fields: `cpus` a JSON number, `sf` escaped by
    * [[jsonStr]], `sf_num` parsed from it (null when absent). */
  private[graft] def lineHead(cpus: Int, sfDir: String): String =
    s""""metric":"total","unit":"sec","cpus":$cpus,"sf":${jsonStr(sfDir)},""" +
      s""""sf_num":${sfNumber(sfDir).map(_.toString).getOrElse("null")}"""

  /** Time one query: DataFrame construction through the last row
    * reaching the noop sink. noop, not count(): count() lets Catalyst
    * prune every computed column and drop unlimited sorts; the noop
    * writer materializes each row fully at zero sink cost. */
  private def once(spark: SparkSession, sfDir: String, fn: Query): Double = {
    val t0 = System.nanoTime()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** One suite run: each query's raw per-round timings (chronological),
    * the queries that threw, and the steal ticks across the timed rounds. */
  private[graft] final case class Timings(samples: Map[String, Vector[Double]],
      failed: Set[String], stealDelta: Option[Long])

  /** Warm up, then time [[Rounds]] interleaved passes over `queries`. A
    * query that throws is dropped from later rounds and from `samples`,
    * and listed in `failed`. */
  private[graft] def suite(spark: SparkSession, sfDir: String,
                           queries: Seq[(String, Query)]): Timings = {
    // Touch every table (parquet footers into page cache) and exercise
    // the common plan shapes once, so the first timed query doesn't
    // absorb JVM/JIT/codegen startup.
    Tables.all(spark, sfDir).values.foreach(_.limit(1000).agg(count(lit(1))).collect())
    val steal0 = readStealTicks()
    var samples = Map.empty[String, Vector[Double]]
    var failed = Set.empty[String]
    for (r <- 1 to Rounds; (name, fn) <- queries if !failed(name)) {
      try samples += name -> (samples.getOrElse(name, Vector.empty) :+ once(spark, sfDir, fn))
      catch { case e: Throwable =>
        failed += name
        samples -= name
        System.err.println(s"[bench] $name FAILED (round $r): ${e.getMessage}")
      }
    }
    Timings(samples, failed, stealDeltaOf(steal0, readStealTicks()))
  }

  /** The bench line. `value` is the sum of per-query mins, or -1 when
    * any query failed: summing only successes would let a slow query
    * "improve" the headline by breaking outright. */
  private[graft] def line(cpus: Int, sfDir: String, t: Timings): String = {
    val byName = t.samples.toSeq.sortBy(_._1)
    val mins = byName.map { case (q, ts) => q -> ts.min }
    val value = if (t.failed.nonEmpty) -1.0 else mins.map(_._2).sum
    def obj(kvs: Seq[(String, String)]): String =
      kvs.map { case (k, v) => s"${jsonStr(k)}:$v" }.mkString("{", ",", "}")
    val samplesJson = obj(byName.map { case (q, ts) => q -> ts.mkString("[", ",", "]") })
    val queriesJson = obj(mins.map { case (q, m) => q -> m.toString })
    val failedJson = t.failed.toSeq.sorted.map(jsonStr).mkString("[", ",", "]")
    s"""{${lineHead(cpus, sfDir)},"samples":$samplesJson,"queries":$queriesJson,""" +
      s""""failed":$failedJson,"value":$value,""" +
      s""""steal_delta":${t.stealDelta.map(_.toString).getOrElse("null")}}"""
  }

  def main(args: Array[String]): Unit = {
    require(args.length <= 1, s"usage: graft.Bench [sfDir], got ${args.mkString(" ")}")
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val cpusRaw = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val cpus = cpusRaw.toIntOption.filter(_ >= 1).getOrElse(
      sys.error(s"SPARK_GRAFT_CPUS must be an integer >= 1, got '$cpusRaw'"))
    val spark = EngineConf.local(cpus)
    val out = line(cpus, sfDir, suite(spark, sfDir, SparkEntry.queries.toSeq.sortBy(_._1)))
    try {
      val w = new java.io.PrintWriter("BENCH_FULL.json")
      try w.println(out) finally w.close()
    } catch { case _: Exception => () } // stdout is the contract; the file is best-effort
    println(out)
    spark.stop()
  }
}
