package graft

import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort}

/** Helpers of the retired bench-noise adjudication: the unordered pass's
  * sort strip, git provenance, loadavg covariates, the comparability
  * verdict, per-query suspect bands and the anchor-band classifier. No
  * run calls them any more — `graft.Bench` prints only its driver line.
  * They stay, with the specs that pin them, until those specs are
  * retired in the staged deletion listed in ROADMAP.md; delete this file
  * together with the last of them.
  */
object BenchLegacy {
  /** The plan with its trailing determinism Sort removed, if it has one:
    * a global Sort at the root or under trailing Projects. Never descends
    * through Limit (a Sort under a Limit selects the rows) and never
    * touches partition-local sorts (`global = false`). */
  private[graft] def withoutTopSort(plan: LogicalPlan): Option[LogicalPlan] =
    plan match {
      case s: Sort if s.global => Some(s.child)
      case p: Project => withoutTopSort(p.child).map(c => p.copy(child = c))
      case _ => None
    }

  /** Git HEAD sha read straight from `.git` (ref indirection and
    * `packed-refs` resolved); None outside a repo or on anything odd. */
  private[graft] def gitHeadSha(repoRoot: String = "."): Option[String] = {
    def read(p: java.nio.file.Path): Option[String] =
      try Some(new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim)
      catch { case _: Exception => None }
    val git = java.nio.file.Paths.get(repoRoot, ".git")
    read(git.resolve("HEAD")).flatMap { head =>
      if (head.startsWith("ref: ")) {
        val ref = head.stripPrefix("ref: ").trim
        read(git.resolve(ref)).orElse(
          read(git.resolve("packed-refs")).flatMap(_.linesIterator
            .map(_.trim).find(_.endsWith(" " + ref)).map(_.split(' ').head)))
      } else Some(head)
    }.filter(_.matches("[0-9a-f]{40}"))
  }

  /** /proc/loadavg's three averages; None when unreadable. */
  private[graft] def readLoadAvg(path: String = "/proc/loadavg"): Option[(Double, Double, Double)] =
    try {
      val parts = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8").trim.split("\\s+")
      Some((parts(0).toDouble, parts(1).toDouble, parts(2).toDouble))
    } catch { case _: Exception => None }

  /** One covariate snapshot: `{"loadavg":[a,b,c],"steal_ticks":n}`. */
  private[graft] def covariateJson(load: Option[(Double, Double, Double)],
                                   steal: Option[Long]): String = {
    val l = load.map { case (a, b, c) => s"[$a,$b,$c]" }.getOrElse("null")
    s"""{"loadavg":$l,"steal_ticks":${steal.map(_.toString).getOrElse("null")}}"""
  }

  /** Steal ticks above which a run was not comparable. */
  private[graft] val SuspectStealDelta = 400L

  /** Not comparable when the steal delta exceeds [[SuspectStealDelta]]
    * or the 1-minute loadavg at either endpoint exceeds the worker
    * count; the readable covariates decide, and None when none was
    * readable (unknown is not clean). */
  private[graft] def nonComparable(cpus: Int,
                                   loadStart: Option[(Double, Double, Double)],
                                   loadEnd: Option[(Double, Double, Double)],
                                   stealD: Option[Long]): Option[Boolean] =
    if (loadStart.isEmpty && loadEnd.isEmpty && stealD.isEmpty) None
    else Some(
      stealD.exists(_ > SuspectStealDelta) ||
        loadStart.exists(_._1 > cpus) ||
        loadEnd.exists(_._1 > cpus))

  /** The old line's tail: `"steal_delta":…,"noncomparable":…`. */
  private[graft] def verdictFields(stealD: Option[Long],
                                   noncmp: Option[Boolean]): String =
    s""""steal_delta":${stealD.map(_.toString).getOrElse("null")},""" +
      s""""noncomparable":${noncmp.map(_.toString).getOrElse("null")}"""

  /** A history line: ts/sha/jvm_run spliced ahead of a bench line's fields. */
  private[graft] def historyLine(line: String, ts: String, sha: String,
                                 jvmRun: Int): String =
    s"""{"ts":"$ts","sha":"$sha","jvm_run":$jvmRun,${line.drop(1)}"""

  // ── Per-query suspect bands ──────────────────────────────────────────

  /** A query needs this many history mins before it has a band. */
  private[graft] val SuspectMinHistory = 5
  /** Flag when a min exceeds ratio × the history median… */
  private[graft] val SuspectRatio = 1.5
  /** …and by more than this absolute excess. */
  private[graft] val SuspectFloorSec = 0.5

  private[graft] def medianOf(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** query -> (band median, history size) for each min past both bars,
    * judged only against a band of at least [[SuspectMinHistory]] mins. */
  private[graft] def suspectsOf(best: Map[String, Double],
      hist: Map[String, Seq[Double]]): Map[String, (Double, Int)] =
    best.flatMap { case (q, v) =>
      hist.get(q).filter(_.size >= SuspectMinHistory).flatMap { mins =>
        val med = medianOf(mins)
        if (v > SuspectRatio * med && v - med > SuspectFloorSec)
          Some(q -> (med, mins.size))
        else None
      }
    }

  /** The suspect block: flagged names, per-query evidence (min, band
    * median, band size, re-run sample or null) and the re-run steal delta. */
  private[graft] def suspectJson(suspect: Map[String, (Double, Int)],
      best: Map[String, Double], rerun: Map[String, Double],
      rerunStealD: Option[Long]): String = {
    val names = suspect.keys.toSeq.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val detail = suspect.toSeq.sortBy(_._1).map { case (q, (med, n)) =>
      s""""$q":{"min":${jsonNum(best(q))},"band_median":${jsonNum(med)},"n":$n,""" +
        s""""rerun":${rerun.get(q).map(jsonNum).getOrElse("null")}}"""
    }.mkString("{", ",", "}")
    s""""suspect":$names,"suspect_detail":$detail,""" +
      s""""rerun_steal_delta":${rerunStealD.map(_.toString).getOrElse("null")}"""
  }

  /** A run is reference-grade when comparable, failure-free and
    * suspect-free. */
  private[graft] def referenceGrade(noncmp: Option[Boolean],
      failed: Set[String], suspect: Set[String]): Boolean =
    noncmp.contains(false) && failed.isEmpty && suspect.isEmpty

  /** JSON number as a finite Double; None for anything else. */
  private def jnum(v: org.json4s.JValue): Option[Double] = {
    import org.json4s._
    (v match {
      case JDouble(d)  => Some(d)
      case JInt(n)     => Some(n.toDouble)
      case JLong(n)    => Some(n.toDouble)
      case JDecimal(d) => Some(d.toDouble)
      case _           => None
    }).filter(java.lang.Double.isFinite(_))
  }

  /** A Double as a JSON number token, `null` when non-finite. */
  private[graft] def jsonNum(d: Double): String =
    if (java.lang.Double.isFinite(d)) d.toString else "null"

  // ── Anchor-band verdict ──────────────────────────────────────────────

  private[graft] val BandElevated = 1.05
  private[graft] val BandDiffuseFrac = 0.7
  private[graft] val BandConcentrated = 1.5
  /** Base mins under this are timer noise. */
  private[graft] val BandMinSec = 0.05

  /** A headline band for one (cpus, sf) cohort; `sha` names the commit
    * whose lines form the per-query base. */
  private[graft] final case class AnchorBand(lo: Double, hi: Double,
      cpus: Option[Int], sfNum: Option[Double], sha: Option[String])

  /** The band file; lo/hi must be finite numbers. None on a missing or
    * garbled file. */
  private[graft] def readAnchorBand(path: String): Option[AnchorBand] =
    try {
      import org.json4s._
      val j = org.json4s.jackson.JsonMethods.parse(new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
        "UTF-8"))
      val sha = (j \ "sha") match {
        case JString(s) if s.nonEmpty => Some(s)
        case _                        => None
      }
      for { lo <- jnum(j \ "lo"); hi <- jnum(j \ "hi") } yield
        AnchorBand(lo, hi, jnum(j \ "cpus").map(_.toInt),
          jnum(j \ "sf_num"), sha)
    } catch { case _: Exception => None }

  /** `side` is above|below, the ratios are per-query mins over the base
    * minima, `cls` is diffuse|concentrated|comparable. */
  private[graft] final case class BandVerdict(side: String,
      lo: Double, hi: Double, n: Int, medianRatio: Double,
      fracUp: Double, fracDown: Double, maxRatio: Double,
      minRatio: Double, cls: String)

  /** None unless the band's cohort is the run's, the run is clean, the
    * headline is a real number outside [lo, hi] and some base min clears
    * [[BandMinSec]]. `baseMins` is by-name: an in-band run never
    * evaluates it. Diffuse = most ratios past the bar in the excursion's
    * direction with the median along; concentrated = a calm median with
    * one plan past [[BandConcentrated]]; comparable otherwise. */
  private[graft] def bandVerdict(value: Double, noncmp: Option[Boolean],
      band: Option[AnchorBand], cpus: Int, sfNum: Option[Double],
      best: Map[String, Double],
      baseMins: => Map[String, Double]): Option[BandVerdict] =
    band.flatMap { b =>
      val cohortOk = b.cpus.contains(cpus) &&
        b.sfNum.exists(s => sfNum.contains(s))
      val outside = java.lang.Double.isFinite(value) && value >= 0 &&
        (value < b.lo || value > b.hi)
      if (!cohortOk || !noncmp.contains(false) || !outside) None
      else {
        val base = baseMins
        val ratios = best.toSeq.flatMap { case (q, v) =>
          base.get(q).filter(_ >= BandMinSec).map(v / _)
        }
        if (ratios.isEmpty) None
        else {
          val side = if (value > b.hi) "above" else "below"
          val med = medianOf(ratios)
          val fracUp = ratios.count(_ > BandElevated).toDouble / ratios.size
          val fracDown =
            ratios.count(_ < 1 / BandElevated).toDouble / ratios.size
          val cls =
            if (side == "above") {
              if (fracUp >= BandDiffuseFrac && med > BandElevated) "diffuse"
              else if (med <= BandElevated && ratios.max >= BandConcentrated)
                "concentrated"
              else "comparable"
            } else {
              if (fracDown >= BandDiffuseFrac && med < 1 / BandElevated)
                "diffuse"
              else if (med >= 1 / BandElevated &&
                ratios.min <= 1 / BandConcentrated) "concentrated"
              else "comparable"
            }
          Some(BandVerdict(side, b.lo, b.hi, ratios.size, med, fracUp,
            fracDown, ratios.max, ratios.min, cls))
        }
      }
    }

  private def round4(d: Double): Double = math.rint(d * 10000) / 10000

  /** `"band_verdict":{…}` (ratios to 4 decimals) or `"band_verdict":null`. */
  private[graft] def bandVerdictJson(v: Option[BandVerdict]): String =
    v.map { b =>
      s""""band_verdict":{"side":"${b.side}","band_lo":${jsonNum(b.lo)},""" +
        s""""band_hi":${jsonNum(b.hi)},"n":${b.n},""" +
        s""""median_ratio":${jsonNum(round4(b.medianRatio))},""" +
        s""""frac_up":${jsonNum(round4(b.fracUp))},""" +
        s""""frac_down":${jsonNum(round4(b.fracDown))},""" +
        s""""max_ratio":${jsonNum(round4(b.maxRatio))},""" +
        s""""min_ratio":${jsonNum(round4(b.minRatio))},""" +
        s""""class":"${b.cls}"}"""
    }.getOrElse(""""band_verdict":null""")
}
