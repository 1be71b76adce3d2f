package graft

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench line's provenance helpers — the steal-tick reader
  * behind `steal_delta`, the numeric `sf_num`, JSON escaping and the
  * line head — and the retired history-line helpers still kept in
  * [[BenchLegacy]] (loadavg covariates, the comparability verdict and
  * the history-line splice). A shape drift in the live helpers would
  * silently corrupt the line the driver parses. */
class BenchHistorySpec extends AnyFunSuite {

  private def tmpFile(content: String): String = {
    val p = java.nio.file.Files.createTempFile("benchhist", ".txt")
    java.nio.file.Files.write(p, content.getBytes("UTF-8"))
    p.toString
  }

  test("readLoadAvg parses the three averages from a loadavg line") {
    val p = tmpFile("0.52 1.10 2.00 1/123 4567\n")
    assert(BenchLegacy.readLoadAvg(p) === Some((0.52, 1.10, 2.00)))
  }

  test("readLoadAvg is None on a missing or malformed file") {
    assert(BenchLegacy.readLoadAvg("/no/such/file").isEmpty)
    assert(BenchLegacy.readLoadAvg(tmpFile("not numbers here\n")).isEmpty)
  }

  test("readStealTicks takes field 8 of the aggregate cpu line") {
    // cpu user nice system idle iowait irq softirq STEAL guest guest_nice
    val p = tmpFile(
      "cpu  100 0 50 1000 20 0 5 42 0 0\ncpu0 50 0 25 500 10 0 2 21 0 0\n")
    assert(Bench.readStealTicks(p) === Some(42L))
  }

  test("readStealTicks is None when the cpu line is short or absent") {
    assert(Bench.readStealTicks(tmpFile("cpu 1 2 3\n")).isEmpty)
    assert(Bench.readStealTicks(tmpFile("intr 12345\n")).isEmpty)
    assert(Bench.readStealTicks("/no/such/file").isEmpty)
  }

  test("the live /proc files are readable on the bench host") {
    // the covariates only earn their keep on the machine the bench runs
    // on — this suite runs there, so pin that both reads actually work
    // (skipping silently on a non-Linux dev box)
    if (java.nio.file.Files.exists(java.nio.file.Paths.get("/proc/loadavg"))) {
      val load = BenchLegacy.readLoadAvg()
      assert(load.isDefined, "/proc/loadavg must parse")
      val (a, b, c) = load.get
      assert(a >= 0 && b >= 0 && c >= 0)
      assert(Bench.readStealTicks().exists(_ >= 0L), "/proc/stat must parse")
    }
  }

  test("covariateJson shape: loadavg triple + steal ticks, null when absent") {
    assert(JsonMethods.parse(BenchLegacy.covariateJson(Some((0.5, 0.25, 0.125)), Some(42L)))
      === JsonMethods.parse("""{"loadavg":[0.5,0.25,0.125],"steal_ticks":42}"""))
    assert(JsonMethods.parse(BenchLegacy.covariateJson(None, None))
      === JsonMethods.parse("""{"loadavg":null,"steal_ticks":null}"""))
  }

  test("sfNumber parses the testdata dir's scale factor, None otherwise") {
    assert(Bench.sfNumber("/root/testdata/sf0.1") === Some(0.1))
    assert(Bench.sfNumber("/root/testdata/sf0.001") === Some(0.001))
    assert(Bench.sfNumber("sf1") === Some(1.0))
    assert(Bench.sfNumber("/tmp/data") === None)
  }

  test("jsonStr escapes quotes, backslashes, and control chars") {
    assert(Bench.jsonStr("/root/testdata/sf0.1") === "\"/root/testdata/sf0.1\"")
    assert(JsonMethods.parse(s"""{"sf":${Bench.jsonStr("a\"b\\c\nd")}}""")
      \ "sf" === JString("a\"b\\c\nd"))
  }

  test("lineHead: cpus is a JSON number; a hostile sfDir stays valid JSON") {
    // round-13 lines carried "cpus":"32" (string); readers compare it
    // arithmetically, so the line carries a number — this test is the pin
    val parsed = JsonMethods.parse("{" + Bench.lineHead(32, "/root/testdata/sf0.1") + "}")
    assert(parsed \ "cpus" === JInt(32))
    assert(parsed \ "metric" === JString("total"))
    assert(parsed \ "unit" === JString("sec"))
    assert(parsed \ "sf" === JString("/root/testdata/sf0.1"))
    assert(parsed \ "sf_num" === JDouble(0.1))
    // a dir with JSON structural chars must round-trip, not corrupt the line
    val hostile = JsonMethods.parse(
      "{" + Bench.lineHead(8, "/tmp/we\"ird\\dir") + "}")
    assert(hostile \ "cpus" === JInt(8))
    assert(hostile \ "sf" === JString("/tmp/we\"ird\\dir"))
    assert(hostile \ "sf_num" === JNull)
  }

  test("stealDeltaOf differences the endpoints, None unless both readable") {
    assert(Bench.stealDeltaOf(Some(100L), Some(142L)) === Some(42L))
    assert(Bench.stealDeltaOf(None, Some(142L)) === None)
    assert(Bench.stealDeltaOf(Some(100L), None) === None)
  }

  test("nonComparable mirrors the history tool's thresholds") {
    val quiet = Some((1.0, 1.0, 1.0))
    // clean on every covariate -> comparable
    assert(BenchLegacy.nonComparable(32, quiet, quiet, Some(0L)) === Some(false))
    // steal bar is strict >, matching SUSPECT_STEAL_DELTA's selftest pin
    assert(BenchLegacy.nonComparable(32, quiet, quiet,
      Some(BenchLegacy.SuspectStealDelta)) === Some(false))
    assert(BenchLegacy.nonComparable(32, quiet, quiet,
      Some(BenchLegacy.SuspectStealDelta + 1)) === Some(true))
    // 1-minute loadavg above the worker count at EITHER endpoint flags
    assert(BenchLegacy.nonComparable(32, Some((33.0, 0.0, 0.0)), quiet,
      Some(0L)) === Some(true))
    assert(BenchLegacy.nonComparable(32, quiet, Some((32.5, 0.0, 0.0)),
      Some(0L)) === Some(true))
    assert(BenchLegacy.nonComparable(32, Some((32.0, 0.0, 0.0)), quiet,
      Some(0L)) === Some(false)) // > not >=
    // partial covariates: the readable ones adjudicate
    assert(BenchLegacy.nonComparable(32, None, None, Some(9999L)) === Some(true))
    assert(BenchLegacy.nonComparable(32, Some((40.0, 0.0, 0.0)), None, None)
      === Some(true))
    // nothing readable -> None (unknown is not clean)
    assert(BenchLegacy.nonComparable(32, None, None, None) === None)
  }

  test("verdictFields serialize tail-most as number/boolean, null when unknown") {
    assert(JsonMethods.parse("{" + BenchLegacy.verdictFields(Some(42L), Some(false)) + "}")
      === JsonMethods.parse("""{"steal_delta":42,"noncomparable":false}"""))
    assert(JsonMethods.parse("{" + BenchLegacy.verdictFields(None, None) + "}")
      === JsonMethods.parse("""{"steal_delta":null,"noncomparable":null}"""))
    // the composed line shape: verdict fields AFTER value, so any tail
    // truncation that keeps the headline keeps its comparability flag
    val line = s"""{${Bench.lineHead(32, "/d/sf1")},"value":1.5,${
      BenchLegacy.verdictFields(Some(500L), Some(true))}}"""
    val tail = line.substring(line.indexOf("\"value\""))
    assert(tail === """"value":1.5,"steal_delta":500,"noncomparable":true}""")
    val parsed = JsonMethods.parse(line)
    assert(parsed \ "steal_delta" === JInt(500))
    assert(parsed \ "noncomparable" === JBool(true))
  }

  test("historyLine splices provenance ahead of the bench line's fields") {
    // the covariates are part of the bench line itself since round 15;
    // the splice adds only ts/sha/jvm_run (old lines with spliced
    // load_start/load_end keep the same top-level keys, so readers
    // handle both vintages identically)
    val benchLine =
      """{"metric":"total","unit":"sec","sf_num":0.1,""" +
        """"load_start":{"loadavg":[1.0,2.0,3.0],"steal_ticks":7},""" +
        """"load_end":{"loadavg":[4.0,5.0,6.0],"steal_ticks":9},""" +
        """"value":1.5,"steal_delta":2,"noncomparable":false}"""
    val parsed = JsonMethods.parse(BenchLegacy.historyLine(
      benchLine, "2026-08-13T00:00:00Z", "a" * 40, 2))
    assert(parsed \ "ts" === JString("2026-08-13T00:00:00Z"))
    assert(parsed \ "sha" === JString("a" * 40))
    assert(parsed \ "jvm_run" === JInt(2))
    assert(parsed \ "load_start" \ "loadavg" === JArray(List(
      JDouble(1.0), JDouble(2.0), JDouble(3.0))))
    assert(parsed \ "load_start" \ "steal_ticks" === JInt(7))
    assert(parsed \ "load_end" \ "steal_ticks" === JInt(9))
    // the original line's verdict-bearing fields survive untouched
    assert(parsed \ "metric" === JString("total"))
    assert(parsed \ "sf_num" === JDouble(0.1))
    assert(parsed \ "value" === JDouble(1.5))
    assert(parsed \ "steal_delta" === JInt(2))
    assert(parsed \ "noncomparable" === JBool(false))
  }
}
