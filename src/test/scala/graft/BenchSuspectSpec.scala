package graft

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** Pins the retired per-query suspect bands and anchor-band classifier
  * still kept in [[BenchLegacy]]: the suspect bars (ratio, floor, thick
  * history), the reference-grade gate, the band verdict's classes and
  * gates, and that each serializer stays parseable JSON. */
class BenchSuspectSpec extends AnyFunSuite {

  private def tmpFile(content: String): String = {
    val p = java.nio.file.Files.createTempFile("benchsus", ".json")
    java.nio.file.Files.write(p, content.getBytes("UTF-8"))
    p.toFile.deleteOnExit()
    p.toString
  }

  private def band(lo: Double = 51, hi: Double = 56): Option[BenchLegacy.AnchorBand] =
    Some(BenchLegacy.AnchorBand(lo, hi, Some(32), Some(0.1), Some("b" * 40)))

  /** A 10-query base cohort (band-sha minima, 2.0 s each) — this run's
    * mins scaled per query are the knobs the class bars read. */
  private def bandsOf(n: Int = 10): Map[String, Double] =
    (1 to n).map(i => f"q$i%02d" -> 2.0).toMap

  test("medianOf: odd takes the middle, even averages the two middles") {
    assert(BenchLegacy.medianOf(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(BenchLegacy.medianOf(Seq(4.0, 1.0, 2.0, 3.0)) === 2.5)
    assert(BenchLegacy.medianOf(Seq(7.0)) === 7.0)
  }

  test("suspectsOf flags ratio+floor breaches only, against thick history only") {
    val hist = Map(
      "big"   -> Seq(4.0, 4.1, 3.9, 4.2, 4.0),   // median 4.0
      "tiny"  -> Seq(0.1, 0.1, 0.1, 0.1, 0.1),   // median 0.1
      "thin"  -> Seq(1.0, 1.0))                   // < SuspectMinHistory
    // the r17 case: 12.46 vs band ~4 -> flagged with the band evidence
    assert(BenchLegacy.suspectsOf(Map("big" -> 12.46), hist)
      === Map("big" -> ((4.0, 5))))
    // the r15 case: 6.4 vs band ~4 (1.6x) — the incident the 1.5 ratio
    // exists to catch (a 2.0 bar missed it on the real history replay)
    assert(BenchLegacy.suspectsOf(Map("big" -> 6.4), hist).keySet === Set("big"))
    // in band -> clean
    assert(BenchLegacy.suspectsOf(Map("big" -> 4.5), hist).isEmpty)
    // ratio breached but under the absolute floor: scheduler jitter on
    // a sub-second query must not flag (0.35 is 3.5x but only +0.25s)
    assert(BenchLegacy.suspectsOf(Map("tiny" -> 0.35), hist).isEmpty)
    // floor cleared but ratio not: a +1.1s drift to 1.28x on a 4s query
    // is the diffuse-weather band, not a spike
    assert(BenchLegacy.suspectsOf(Map("big" -> 5.1), hist).isEmpty)
    // thin history never flags; unknown query never flags
    assert(BenchLegacy.suspectsOf(Map("thin" -> 99.0, "new" -> 99.0), hist).isEmpty)
  }

  test("suspectJson: names + per-query evidence + rerun, parseable, null-safe") {
    val j = JsonMethods.parse("{" + BenchLegacy.suspectJson(
      Map("d57_containment" -> ((4.025, 6))),
      Map("d57_containment" -> 12.46, "q01" -> 1.0),
      Map("d57_containment" -> 4.51), Some(65L)) + "}")
    assert(j \ "suspect" === JArray(List(JString("d57_containment"))))
    val d = j \ "suspect_detail" \ "d57_containment"
    assert(d \ "min" === JDouble(12.46))
    assert(d \ "band_median" === JDouble(4.025))
    assert(d \ "n" === JInt(6))
    assert(d \ "rerun" === JDouble(4.51))
    assert(j \ "rerun_steal_delta" === JInt(65))
    // the no-suspect / no-rerun shape: empty list+object, nulls
    val empty = JsonMethods.parse("{" + BenchLegacy.suspectJson(
      Map.empty, Map.empty, Map.empty, None) + "}")
    assert(empty \ "suspect" === JArray(Nil))
    assert(empty \ "suspect_detail" === JObject(Nil))
    assert(empty \ "rerun_steal_delta" === JNull)
    // a flagged query whose re-run did not happen (dirty covariates)
    // serializes rerun:null — "unadjudicated", distinct from "settled"
    val noRerun = JsonMethods.parse("{" + BenchLegacy.suspectJson(
      Map("q" -> ((1.0, 9))), Map("q" -> 3.0), Map.empty, None) + "}")
    assert(noRerun \ "suspect_detail" \ "q" \ "rerun" === JNull)
  }

  test("referenceGrade: the emit gate mirrors the CleanRef read rule (r19 ADVICE)") {
    // Round 19 gated on comparability alone; a comparable run with
    // failed queries (value -1.0 sentinel) or open suspects then wrote
    // the same null a genuinely clean run writes. The gate is:
    // comparable AND failed-free AND suspect-free.
    assert(BenchLegacy.referenceGrade(Some(false), Set.empty, Set.empty))
    // dirty or unknown covariates: never reference-grade
    assert(!BenchLegacy.referenceGrade(Some(true), Set.empty, Set.empty))
    assert(!BenchLegacy.referenceGrade(None, Set.empty, Set.empty))
    // comparable but a query failed: the -1.0 headline must not read as
    // "this run is the reference" — the line carries last_clean instead
    assert(!BenchLegacy.referenceGrade(Some(false), Set("q99"), Set.empty))
    // comparable but a suspect: the spiked min is in the headline sum
    assert(!BenchLegacy.referenceGrade(Some(false), Set.empty, Set("d57_containment")))
  }

  test("bandVerdict: the r19 59.36s shape — above the band, diffuse") {
    // 90% of queries elevated ~1.13x vs the band-sha floor, headline
    // 59.36 over hi 56: the --compare --band DIFFUSE verdict (the real
    // line read median 1.20x, 84% elevated), computed on the line
    val best = (1 to 9).map(i => f"q$i%02d" -> 2.26).toMap + ("q10" -> 2.0)
    val Some(v) = BenchLegacy.bandVerdict(59.36, Some(false), band(), 32,
      Some(0.1), best, bandsOf())
    assert(v.side === "above" && v.cls === "diffuse")
    assert(v.n === 10 && v.fracUp === 0.9 && v.medianRatio === 1.13)
  }

  test("bandVerdict: one hot plan over a calm median — concentrated") {
    val best = (1 to 9).map(i => f"q$i%02d" -> 2.0).toMap + ("q10" -> 5.0)
    val Some(v) = BenchLegacy.bandVerdict(59.0, Some(false), band(), 32,
      Some(0.1), best, bandsOf())
    assert(v.side === "above" && v.cls === "concentrated")
    assert(v.maxRatio === 2.5 && v.medianRatio === 1.0)
  }

  test("bandVerdict: below the band, diffuse — the re-anchor signal") {
    // every query uniformly ~0.9x the band-sha FLOOR (faster than the
    // anchor cohort ever ran): the host re-based — classified on the
    // line. (Round 19's "49.14s fast-side line" turned out to be an
    // sf0.001 smoke — a foreign cohort this verdict's gates exclude.)
    val best = (1 to 10).map(i => f"q$i%02d" -> 1.8).toMap
    val Some(v) = BenchLegacy.bandVerdict(49.14, Some(false), band(), 32,
      Some(0.1), best, bandsOf())
    assert(v.side === "below" && v.cls === "diffuse")
    assert(v.fracDown === 1.0 && v.medianRatio === 0.9)
  }

  test("bandVerdict: one much-faster plan over a calm median — concentrated below") {
    val best = (1 to 9).map(i => f"q$i%02d" -> 2.0).toMap + ("q10" -> 0.5)
    val Some(v) = BenchLegacy.bandVerdict(50.0, Some(false), band(), 32,
      Some(0.1), best, bandsOf())
    assert(v.side === "below" && v.cls === "concentrated")
    assert(v.minRatio === 0.25)
  }

  test("bandVerdict: per-query evidence not backing the excursion — comparable") {
    // headline outside but ratios all ~1: sum noise, neither verdict
    val best = (1 to 10).map(i => f"q$i%02d" -> 2.02).toMap
    val Some(v) = BenchLegacy.bandVerdict(56.5, Some(false), band(), 32,
      Some(0.1), best, bandsOf())
    assert(v.cls === "comparable")
  }

  test("bandVerdict: every gate — in-band, dirty, foreign cohort, failed, thin") {
    val best = (1 to 10).map(i => f"q$i%02d" -> 2.26).toMap
    val all = bandsOf()
    // in-band headline: nothing to classify
    assert(BenchLegacy.bandVerdict(52.0, Some(false), band(), 32, Some(0.1), best, all).isEmpty)
    // exactly at the edges: inside, inclusive
    assert(BenchLegacy.bandVerdict(51.0, Some(false), band(), 32, Some(0.1), best, all).isEmpty)
    assert(BenchLegacy.bandVerdict(56.0, Some(false), band(), 32, Some(0.1), best, all).isEmpty)
    // dirty/unknown run: the covariates already explain the excursion
    assert(BenchLegacy.bandVerdict(59.0, Some(true), band(), 32, Some(0.1), best, all).isEmpty)
    assert(BenchLegacy.bandVerdict(59.0, None, band(), 32, Some(0.1), best, all).isEmpty)
    // no band file / foreign (cpus, sf) cohort: the band judges ONE cohort
    assert(BenchLegacy.bandVerdict(59.0, Some(false), None, 32, Some(0.1), best, all).isEmpty)
    assert(BenchLegacy.bandVerdict(59.0, Some(false), band(), 8, Some(0.1), best, all).isEmpty)
    assert(BenchLegacy.bandVerdict(59.0, Some(false), band(), 32, Some(0.001), best, all).isEmpty)
    assert(BenchLegacy.bandVerdict(59.0, Some(false), band(), 32, None, best, all).isEmpty)
    // the -1.0 failed sentinel is "below the band" arithmetically but
    // must never classify
    assert(BenchLegacy.bandVerdict(-1.0, Some(false), band(), 32, Some(0.1), best, all).isEmpty)
    // sub-floor base mins are timer noise and an empty base cohort
    // (sha-less band / no comparable lines at the sha) never
    // classifies: no qualifying ratios -> null
    val tiny = (1 to 10).map(i => f"q$i%02d" -> 0.01).toMap
    assert(BenchLegacy.bandVerdict(59.0, Some(false), band(), 32, Some(0.1), best, tiny).isEmpty)
    assert(BenchLegacy.bandVerdict(59.0, Some(false), band(), 32, Some(0.1), best, Map.empty).isEmpty)
    // the base pass is lazy: an in-band run must never pay for it
    var scanned = false
    def lazyBase: Map[String, Double] = { scanned = true; all }
    assert(BenchLegacy.bandVerdict(52.0, Some(false), band(), 32, Some(0.1), best, lazyBase).isEmpty)
    assert(!scanned, "in-band run must not evaluate the base cohort")
  }

  test("readAnchorBand: the real file shape parses; garbage is None, never fatal") {
    val good = tmpFile(
      """{"lo":51,"hi":56,"anchored":"2026-08-15","sha":"abc","n":5,""" +
        """"cpus":32,"sf_num":0.1,"values":[54.3],"source":"x"}""")
    assert(BenchLegacy.readAnchorBand(good)
      === Some(BenchLegacy.AnchorBand(51.0, 56.0, Some(32), Some(0.1), Some("abc"))))
    // lo/hi must be finite numbers; cpus/sf_num/sha may be absent
    // (older band vintages) — the cohort gate / base pass then refuse
    assert(BenchLegacy.readAnchorBand(tmpFile("""{"lo":51}""")).isEmpty)
    assert(BenchLegacy.readAnchorBand(tmpFile("""{"lo":"51","hi":56}""")).isEmpty)
    assert(BenchLegacy.readAnchorBand(tmpFile("""{"lo":1e999,"hi":56}""")).isEmpty)
    assert(BenchLegacy.readAnchorBand(tmpFile("""{"lo":51,"hi":56}"""))
      === Some(BenchLegacy.AnchorBand(51.0, 56.0, None, None, None)))
    assert(BenchLegacy.readAnchorBand(tmpFile("not json")).isEmpty)
    assert(BenchLegacy.readAnchorBand("/no/such/band.json").isEmpty)
  }

  test("bandVerdictJson: parseable both populated and null; non-finite guarded") {
    val j = JsonMethods.parse("{" + BenchLegacy.bandVerdictJson(Some(
      BenchLegacy.BandVerdict("below", 51, 56, 52, 0.9013, 0.02, 0.85,
        1.02, 0.25, "diffuse"))) + "}")
    val b = j \ "band_verdict"
    assert(b \ "side" === JString("below"))
    assert(b \ "band_lo" === JDouble(51.0) && b \ "band_hi" === JDouble(56.0))
    assert(b \ "n" === JInt(52))
    assert(b \ "median_ratio" === JDouble(0.9013))
    assert(b \ "frac_up" === JDouble(0.02) && b \ "frac_down" === JDouble(0.85))
    assert(b \ "max_ratio" === JDouble(1.02) && b \ "min_ratio" === JDouble(0.25))
    assert(b \ "class" === JString("diffuse"))
    assert(BenchLegacy.bandVerdictJson(None) === """"band_verdict":null""")
    // a non-finite ratio (can only arise from a mangled band) emits
    // null, never the JSON-invalid Infinity token
    val nan = JsonMethods.parse("{" + BenchLegacy.bandVerdictJson(Some(
      BenchLegacy.BandVerdict("above", 51, 56, 1, Double.NaN, 0, 0,
        Double.PositiveInfinity, 1.0, "comparable"))) + "}")
    assert(nan \ "band_verdict" \ "median_ratio" === JNull)
    assert(nan \ "band_verdict" \ "max_ratio" === JNull)
  }
}
