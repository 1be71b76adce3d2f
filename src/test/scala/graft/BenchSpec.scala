package graft

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Pins the bench line the driver parses: its exact field set, the
  * headline as the sum of per-query mins, the -1 sentinel when a query
  * throws, and valid JSON for a hostile SF path. Runs the real suite on
  * two registry queries at the smallest testdata scale. */
class BenchSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"
  private val Fields = Seq("metric", "unit", "cpus", "sf", "sf_num", "samples",
    "queries", "failed", "value", "steal_delta")
  private val two = Seq("q01_pricing_summary", "q04_topk")
    .map(n => n -> SparkEntry.queries(n))

  private def parse(line: String): JValue = JsonMethods.parse(line)
  private def num(v: JValue): Double = v match {
    case JDouble(d) => d
    case JInt(n)    => n.toDouble
    case other      => fail(s"not a number: $other")
  }

  test("the line carries exactly the driver fields, and value is the sum of mins") {
    val j = parse(Bench.line(4, sf, Bench.suite(spark, sf, two)))
    val JObject(fields) = j: @unchecked
    assert(fields.map(_._1) === Fields)
    assert(j \ "metric" === JString("total"))
    assert(j \ "cpus" === JInt(4))
    assert(j \ "sf_num" === JDouble(0.001))
    assert(j \ "failed" === JArray(Nil))
    val JObject(qs) = j \ "queries": @unchecked
    assert(qs.map(_._1) === two.map(_._1))
    qs.foreach { case (q, min) =>
      val JArray(ts) = j \ "samples" \ q: @unchecked
      assert(ts.size === Bench.Rounds)
      assert(num(min) === ts.map(num).min)
    }
    assert(num(j \ "value") === qs.map(q => num(q._2)).sum)
  }

  test("a query that throws lands in failed and makes value -1") {
    val boom: Bench.Query = (_, _) => sys.error("boom")
    val j = parse(Bench.line(4, sf, Bench.suite(spark, sf, two :+ ("zz_boom" -> boom))))
    assert(j \ "failed" === JArray(List(JString("zz_boom"))))
    assert(num(j \ "value") === -1.0)
    assert(j \ "queries" \ "zz_boom" === JNothing)
    assert(j \ "samples" \ "zz_boom" === JNothing)
    assert((j \ "queries").asInstanceOf[JObject].obj.size === 2)
  }

  test("an SF path with a quote, a backslash and a control char still yields valid JSON") {
    val hostile = "/tmp/we\"ird\\dir\n"
    val t = Bench.Timings(Map("q" -> Vector(2.0, 1.0, 3.0)), Set.empty, None)
    val j = parse(Bench.line(8, hostile, t))
    assert(j \ "sf" === JString(hostile))
    assert(j \ "sf_num" === JNull)
    assert(j \ "cpus" === JInt(8))
    assert(j \ "steal_delta" === JNull)
    assert(num(j \ "value") === 1.0)
  }
}
