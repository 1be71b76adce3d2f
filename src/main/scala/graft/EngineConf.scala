package graft

import org.apache.spark.sql.SparkSession

/** Session construction shared by every runner main (Bench, Verify,
  * Probe, PlanAudit, PlanDump): [[local]] builds the session, and
  * [[tuned]] holds its performance settings, which never change what a
  * query computes — only how wide its stages execute.
  *
  * [[tuned]] applies NOTHING by default: stock AQE coalescing is kept.
  * An earlier r21 iteration lowered the session-wide AQE coalescing floor
  * (`coalescePartitions.minPartitionSize`) to 16k so the CPU-dense
  * tiny-byte dedup stages stayed wide — it worked for those, but a BYTE
  * floor cannot tell CPU-dense shuffles from cheap ones (the events/
  * orders shuffles are BIGGER in bytes yet trivial per byte), and the
  * interleaved A/B campaign showed every untouched single-shuffle
  * aggregate/window query paying 1.3–1.6x for its newly-widened final
  * stages. The surgical replacement is [[Tables.spread]]'s EXPLICIT
  * partition count (exempt from coalescing) at exactly the call sites
  * that are CPU-dense; everything else keeps stock behavior.
  *
  * SPARK_GRAFT_MIN_PARTITION_SIZE remains honored when set, so a
  * deployment can still move the floor without a rebuild.
  */
object EngineConf {
  def tuned(b: SparkSession.Builder): SparkSession.Builder =
    sys.env.get("SPARK_GRAFT_MIN_PARTITION_SIZE") match {
      case Some(v) =>
        b.config("spark.sql.adaptive.coalescePartitions.minPartitionSize", v)
      case None => b
    }

  /** A local session `cpus` wide: `local[cpus]`, one shuffle partition
    * per core, UTC session time (event-time math must not depend on the
    * host zone), no UI, WARN logging, and [[tuned]] applied. */
  def local(cpus: Int): SparkSession = {
    val spark = tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
