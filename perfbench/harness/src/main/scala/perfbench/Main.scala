package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.EngineConf

/** One timed operation's outcome. */
final case class OpResult(name: String, latencyS: Double, error: Option[String]) {
  def toMap: Map[String, Any] =
    Map("name" -> name, "latency_s" -> latencyS, "error" -> error.orNull)
}

/** One pass over a workload's operations. `extra` carries the figures a
  * workload measures around its operations (ingest: build and sink sizes). */
final case class PassResult(wallS: Double, cpuS: Double, ops: Seq[OpResult],
                            extra: Map[String, Double]) {
  def toMap: Map[String, Any] = Map("wall_s" -> wallS, "cpu_s" -> cpuS,
    "ops" -> ops.map(_.toMap), "extra" -> extra)
}

/** One op run twice back to back, once with the tracer on: the samples
  * `trace.overhead` is computed from. */
final case class OverheadPair(name: String, tracedS: Double, untracedS: Double,
                              tracedFirst: Boolean) {
  def toMap: Map[String, Any] = Map("name" -> name, "traced_s" -> tracedS,
    "untraced_s" -> untracedS, "traced_first" -> tracedFirst)
}

/** A benchmark workload: a fixed list of operations over prepared inputs. */
trait Workload {
  def size: Int
  /** Makes the inputs (outside any timed region). */
  def prepare(): Unit
  /** The timed pass, operations in the given order of indices. */
  def pass(order: Seq[Int]): PassResult
  /** Runs operation `i` once more after the timed pass; `tag` tells the
    * reruns apart. */
  def rerun(i: Int, tag: String): OpResult
  /** Runs after the timed pass and returns what the output check needs. */
  def verify(): Map[String, Any]
}

/** The benchmark process: one batch job on a fresh JVM. It builds a local
  * SparkSession, prepares the workload's inputs, runs one small fixed query
  * to load the SQL engine, then times exactly one pass over the workload's
  * operations, in an order drawn from the seed: the fresh-process pass a
  * scheduled batch run pays for. After the timed region it produces what
  * the output check needs, and writes everything it measured as one JSON
  * document to `--out`. The statistics and the checks against stored
  * results live in `run.py`.
  *
  * With `--trace 1` the timed pass runs with every listener on; then every
  * op runs three times more, once to warm up, once traced and once not, to
  * measure what tracing costs.
  *
  * {{{
  * Main --workload olap|llm_prep|ingest --seed N --trace 0|1
  *      --data DIR --work DIR --out FILE
  * }}}
  */
object Main {
  val Cores = 4

  def session(work: String): SparkSession = {
    val spark = EngineConf.tuned(SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** The process's peak resident set (VmHWM), in MB. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)

  /** Runs `body`, timing it; an exception becomes the op's error. */
  def timeOp(name: String)(body: => Unit): OpResult = {
    val t0 = System.nanoTime()
    val err = try { body; None } catch {
      case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
    }
    OpResult(name, (System.nanoTime() - t0) / 1e9, err)
  }

  /** Times one pass: wall clock and process CPU around `body`. */
  def timePass(body: => (Seq[OpResult], Map[String, Double])): PassResult = {
    val c0 = processCpuS()
    val t0 = System.nanoTime()
    val (ops, extra) = body
    PassResult((System.nanoTime() - t0) / 1e9, processCpuS() - c0, ops, extra)
  }

  /** Every op of the timed pass once traced and once untraced, back to
    * back, after one untimed run that warms the op's code; which of the
    * two timed runs goes first alternates from op to op. */
  private def overheadPairs(wl: Workload, tracer: Tracer, order: Seq[Int]): Seq[OverheadPair] =
    order.zipWithIndex.map { case (i, k) =>
      def run(traced: Boolean): OpResult = {
        if (traced) tracer.start()
        val r = wl.rerun(i, s"o$k${if (traced) "t" else "u"}")
        if (traced) tracer.stop()
        r
      }
      wl.rerun(i, s"o${k}w")
      val tracedFirst = k % 2 == 0
      val first = run(tracedFirst)
      val second = run(!tracedFirst)
      val (t, u) = if (tracedFirst) (first, second) else (second, first)
      OverheadPair(t.name, t.latencyS, u.latencyS, tracedFirst)
    }

  /** Loads the SQL engine's common paths (parquet scan, join, aggregate,
    * noop write) on two tiny tables, so the first timed op does not carry
    * the engine's one-time start-up alone. */
  private def prime(spark: SparkSession, data: String): Unit = {
    val nation = spark.read.parquet(s"$data/nation.parquet")
    val region = spark.read.parquet(s"$data/region.parquet")
    nation.join(region, nation("n_regionkey") === region("r_regionkey"))
      .groupBy(region("r_name")).count()
      .write.format("noop").mode("overwrite").save()
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val trace = opt("trace") == "1"
    val (data, work, out) = (opt("data"), opt("work"), opt("out"))

    val spark = session(work)
    val tracer = new Tracer(spark)
    val wl: Workload = workload match {
      case "olap" | "llm_prep" => new QueryWorkload(spark, tracer, workload, data, work)
      case "ingest" => new IngestWorkload(spark, tracer, seed, work)
      case w => sys.error(s"unknown workload $w")
    }
    wl.prepare()
    prime(spark, data)
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val order = new Random(seed).shuffle((0 until wl.size).toList)
    if (trace) tracer.start()
    val pass = wl.pass(order)
    if (trace) tracer.stop()
    val spans = tracer.spans
    val overhead = if (trace) overheadPairs(wl, tracer, order) else Nil
    val result = Map(
      "workload" -> workload, "seed" -> seed, "cores" -> Cores,
      "setup_s" -> setupS,
      "traced" -> trace,
      "pass" -> pass.toMap,
      "overhead_pairs" -> overhead.map(_.toMap),
      "spans" -> spans.map(_.toMap),
      "check" -> wl.verify(),
      "peak_rss_mb" -> peakRssMb())
    val json = new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(result)
    Files.writeString(Paths.get(out), json)
    spark.stop()
  }
}
