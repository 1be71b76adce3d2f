package graft

import org.apache.spark.sql.{DataFrame, Encoders, Row, classic}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Contract guard for the bench's `BenchLegacy.withoutTopSort`: the "unordered"
  * diagnostic numbers are honest only if it strips EXACTLY the trailing
  * determinism sort — a global Sort at the plan root or under trailing
  * Projects — and leaves everything else (top-k sorts under Limit,
  * window/partition-local sorts, sortless plans) untouched. */
class BenchStripSortSpec extends SparkSpec {

  private def df: DataFrame = {
    import spark.implicits._
    Seq((1, "a", 10.0), (2, "b", 20.0), (3, "a", 30.0)).toDF("k", "g", "v")
  }

  private def strip(d: DataFrame): Option[LogicalPlan] =
    BenchLegacy.withoutTopSort(d.queryExecution.logical)

  /** A DataFrame over a logical plan, through the public Dataset
    * constructor (Spark's own plan-to-DataFrame factory is `private[sql]`). */
  private def frame(plan: LogicalPlan): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val schema = session.sessionState.executePlan(plan).analyzed.schema
    new classic.Dataset[Row](session, plan, Encoders.row(schema))
  }

  private def hasGlobalSort(p: LogicalPlan): Boolean =
    p.collect { case s: Sort if s.global => s }.nonEmpty

  test("root global Sort is stripped, same rows survive") {
    val sorted = df.groupBy("g").agg(sum("v").as("sv")).orderBy("g")
    val stripped = strip(sorted)
    assert(stripped.isDefined, "trailing orderBy must be strippable")
    assert(!hasGlobalSort(stripped.get), "no global sort may remain")
    val bridge = frame(stripped.get)
    assert(bridge.collect().toSet === sorted.collect().toSet,
      "stripping may change order only, never the row set")
  }

  test("global Sort under trailing Projects is found and stripped") {
    // re-projecting after the determinism sort (select / withColumn) used
    // to hide the sort from the bench — the cohort comparison then read
    // that query's determinism tax as zero (ADVICE round 10)
    val sorted = df.orderBy("k").select(col("g"), col("v"))
      .withColumn("v2", col("v") * 2)
    val stripped = strip(sorted)
    assert(stripped.isDefined, "sort under trailing Projects must be found")
    assert(!hasGlobalSort(stripped.get))
    val bridge = frame(stripped.get)
    assert(bridge.collect().toSet === sorted.collect().toSet)
    assert(bridge.columns.toSeq === sorted.columns.toSeq,
      "the trailing projections must survive the strip intact")
  }

  test("top-k sort under a Limit is NOT stripped (it selects the rows)") {
    val topk = df.orderBy(desc("v")).limit(2)
    assert(strip(topk).isEmpty,
      "a sort under a limit is top-k semantics — stripping it would " +
        "change which rows are computed, not just their order")
  }

  test("window partition-local sorts are NOT stripped") {
    val w = Window.partitionBy("g").orderBy("k")
    val windowed = df.withColumn("rn", row_number().over(w))
    assert(strip(windowed).isEmpty)
  }

  test("sortWithinPartitions (non-global Sort) is NOT stripped") {
    assert(strip(df.sortWithinPartitions("k")).isEmpty)
  }

  test("a sortless plan is untouched") {
    assert(strip(df.groupBy("g").count()).isEmpty)
  }

  // gitHeadSha fed the history lines' provenance field; it must resolve
  // HEAD without forking a process, and fail to None (never garbage)
  // when there's no repo.
  test("gitHeadSha resolves this repo's HEAD to a 40-hex sha") {
    // sbt test runs from the repo root, same cwd the bench runs from
    val sha = BenchLegacy.gitHeadSha()
    assert(sha.isDefined, ".git/HEAD must resolve")
    assert(sha.get.matches("[0-9a-f]{40}"))
    // and it matches what git itself says HEAD is (read the ref chain
    // independently rather than trusting the implementation's own path)
    val head = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(".git/HEAD")), "UTF-8").trim
    if (head.startsWith("ref: ")) {
      val refFile = java.nio.file.Paths.get(".git", head.stripPrefix("ref: ").trim)
      if (java.nio.file.Files.exists(refFile))
        assert(sha.get === new String(
          java.nio.file.Files.readAllBytes(refFile), "UTF-8").trim)
    } else assert(sha.get === head)
  }

  test("gitHeadSha is None outside a git repo") {
    val tmp = java.nio.file.Files.createTempDirectory("norepo").toString
    assert(BenchLegacy.gitHeadSha(tmp).isEmpty)
  }
}
