package perfbench

import java.io.{BufferedWriter, File}
import java.nio.file.{Files, Paths}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructType}

import graft.pipelines.Pipelines
import graft.sources.{Schemas, Sinks}

/** Bronze inputs for the reference ETL, written as JSON lines (one file
  * per payload kind) plus a `|`-delimited page file, all drawn from one
  * seed. The generator also computes, on its own, the row count of every
  * output the pipelines land and what their recap tables must report. */
final class IngestInputs(seed: Long, dir: String) {
  val markets = Seq("GB", "ID", "US")
  val pagedMarket = "ID"
  private val rnd = new Random(seed)
  private val artistIds = 8000
  private val words = Vector("blue", "night", "echo", "river", "gold", "neon",
    "storm", "velvet", "paper", "sun", "ghost", "wild", "glass", "atlas", "ember",
    "lunar", "coral", "drift", "static", "harbor")
  private val genres = Vector.tabulate(30)(i => s"genre${i}x")

  private def phrase(n: Int): String = Seq.fill(n)(words(rnd.nextInt(words.size))).mkString(" ")
  private def id(prefix: String, i: Int): String = f"$prefix$i%06d"
  private def date(): String = rnd.nextInt(3) match {
    case 0 => s"${1990 + rnd.nextInt(35)}"
    case 1 => f"${1990 + rnd.nextInt(35)}-${1 + rnd.nextInt(12)}%02d"
    case _ => f"${1990 + rnd.nextInt(35)}-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02d"
  }
  private def images(n: Int, key: String): String =
    (0 until n).map(i => s"""{"url":"https://img/$key/$i","height":${64 << i},"width":${64 << i}}""")
      .mkString("[", ",", "]")
  private def artistRefs(n: Int): String =
    (0 until n).map(_ => s"""{"id":"${id("ar", rnd.nextInt(artistIds))}","name":"${phrase(2)}"}""")
      .mkString("[", ",", "]")
  private def track(tid: String): String =
    s""""id":"$tid","name":"${phrase(3)}","popularity":${rnd.nextInt(100)},""" +
    s""""duration_ms":${90000 + rnd.nextInt(300000)},"explicit":${rnd.nextBoolean()},""" +
    s""""track_number":${1 + rnd.nextInt(20)},"disc_number":1,"artists":${artistRefs(1 + rnd.nextInt(3))},""" +
    s""""album":{"id":"${id("al", rnd.nextInt(9000))}","name":"${phrase(2)}","release_date":"${date()}"}"""
  private def album(aid: String): String =
    s"""{"id":"$aid","name":"${phrase(2)}","artists":${artistRefs(1 + rnd.nextInt(2))},""" +
    s""""release_date":"${date()}","total_tracks":${1 + rnd.nextInt(20)},""" +
    s""""album_type":"${if (rnd.nextBoolean()) "album" else "single"}","images":${images(rnd.nextInt(3), aid)}}"""

  private def write(name: String)(lines: BufferedWriter => Unit): Unit = {
    val w = Files.newBufferedWriter(Paths.get(dir, name))
    try lines(w) finally w.close()
  }

  def path(name: String): String = s"$dir/$name"

  /** Writes every input file; returns the row count each output must
    * land with, and the contents of the two recap tables. */
  def generate(): (Map[String, Long], Map[String, Map[String, Long]]) = {
    new File(dir).mkdirs()
    // artists: 8000 ids, each fetched 1-3 times (the reference's genre
    // fan-out returns an artist once per matching genre) with differing
    // popularity; dedup keeps the most popular copy, ties by id
    val copies = (0 until artistIds).flatMap(i => Seq.fill(1 + rnd.nextInt(3))(i -> rnd.nextInt(100)))
    write("artists.json") { w =>
      copies.foreach { case (i, pop) =>
        val gs = Seq.fill(1 + rnd.nextInt(4))(genres(rnd.nextInt(genres.size)))
          .map(g => s""""$g"""").mkString("[", ",", "]")
        w.write(s"""{"id":"${id("ar", i)}","name":"${phrase(2)}","popularity":$pop,""" +
          s""""followers":{"total":${rnd.nextInt(Int.MaxValue).toLong * 4}},"genres":$gs,""" +
          s""""images":${images(rnd.nextInt(4), id("ar", i))}}""")
        w.newLine()
      }
    }
    val best = copies.groupBy(_._1).map { case (i, cs) => id("ar", i) -> cs.map(_._2).max }
    val top20 = best.toSeq.sortBy { case (a, pop) => (-pop, a) }.take(20).map(_._1).toSet

    // top tracks: 10 per artist for about 600 artists, the top 20 among them
    val trackArtists = (top20.toSeq.sorted ++
      Seq.fill(580)(id("ar", rnd.nextInt(artistIds)))).distinct
    var topTrackRows = 0L
    write("top_tracks.json") { w =>
      trackArtists.zipWithIndex.foreach { case (a, ai) =>
        (0 until 10).foreach { t =>
          if (top20(a)) topTrackRows += 1
          w.write(s"""{${track(id("tt", ai * 10 + t))},"artist_id":"$a"}"""); w.newLine()
        }
      }
    }

    val newReleases = 3000
    write("albums.json") { w =>
      (0 until newReleases).foreach { i => w.write(album(id("nr", i))); w.newLine() }
    }
    var albumTrackRows = 0L
    write("album_tracks.json") { w =>
      (0 until newReleases).foreach { i =>
        (0 until 4 + rnd.nextInt(13)).foreach { t =>
          albumTrackRows += 1
          w.write(s"""{${track(s"${id("at", i)}t$t")},"album_id":"${id("nr", i)}"}"""); w.newLine()
        }
      }
    }

    // per-market releases: 4000 draws each from a shared pool of 6000 ids
    val releaseIds = markets.map { m =>
      val ids = rnd.shuffle((0 until 6000).toList).take(4000).map(id("rl", _))
      write(s"releases_$m.json") { w => ids.foreach { r => w.write(album(r)); w.newLine() } }
      ids.toSet
    }.reduce(_ ++ _)

    val categories = 50
    write("categories.json") { w =>
      (0 until categories).foreach { i =>
        w.write(s"""{"id":"${id("ct", i)}","name":"${phrase(1)}","icons":${images(1, id("ct", i))}}""")
        w.newLine()
      }
    }

    val playlists = (0 until 600).map(i => (id("pl", i), rnd.nextInt(5000000).toLong, 20 + rnd.nextInt(180)))
    write("playlists.json") { w =>
      playlists.foreach { case (p, followers, n) =>
        w.write(s"""{"id":"$p","name":"${phrase(2)}","description":"${phrase(6)}",""" +
          s""""owner":{"id":"owner${rnd.nextInt(50)}","display_name":"${phrase(1)}"},""" +
          s""""followers":{"total":$followers},"tracks":{"total":$n},"images":${images(1, p)},""" +
          s""""external_urls":{"spotify":"https://open/$p"},"public":${rnd.nextBoolean()},""" +
          s""""collaborative":false}""")
        w.newLine()
      }
    }
    val top3 = playlists.sortBy { case (p, f, _) => (-f, p) }.take(3).map(_._1).toSet
    var playlistTrackRows = 0L
    write("playlist_items.json") { w =>
      playlists.foreach { case (p, _, n) =>
        (0 until n).foreach { t =>
          // about 3% local tracks: the envelope carries a null track id
          val local = rnd.nextInt(100) < 3
          if (top3(p) && !local) playlistTrackRows += 1
          val tid = if (local) "null" else s""""${p}t$t""""
          w.write(s"""{"added_at":"20${10 + rnd.nextInt(15)}-0${1 + rnd.nextInt(9)}-1${rnd.nextInt(10)}T0${rnd.nextInt(10)}:00:00Z",""" +
            s""""track":{"id":$tid,"name":"${phrase(3)}","popularity":${rnd.nextInt(100)},""" +
            s""""duration_ms":${90000 + rnd.nextInt(300000)},"explicit":${rnd.nextBoolean()},""" +
            s""""preview_url":"https://p/$p/$t","artists":${artistRefs(1 + rnd.nextInt(3))},""" +
            s""""album":{"name":"${phrase(2)}"},"external_urls":{"spotify":"https://open/t/$p$t"}},""" +
            s""""playlist_id":"$p"}""")
          w.newLine()
        }
      }
    }

    // the page file: 20k artist rows over three markets and a blank one
    var pagedRows = 0L
    write("pages.txt") { w =>
      (0 until 20000).foreach { i =>
        val m = rnd.nextInt(5) match { case 0 | 1 => pagedMarket; case 2 => "GB"; case 3 => "US"; case _ => "" }
        if (m == pagedMarket) pagedRows += 1
        w.write(s"${id("pg", i)}|${phrase(2)}|${rnd.nextInt(100)}|$m"); w.newLine()
      }
    }

    val e1Recap = Map("artists" -> best.size.toLong, "top_tracks" -> topTrackRows,
      "new_releases" -> newReleases.toLong, "categories" -> categories.toLong,
      "album_tracks" -> albumTrackRows)
    val e2Recap = Map("releases" -> releaseIds.size.toLong,
      "playlists" -> playlists.size.toLong, "playlist_tracks" -> playlistTrackRows)
    val rows = e1Recap ++ e2Recap ++ Map(
      "top_track_ids" -> math.min(100L, topTrackRows),
      "top_playlists" -> math.min(3L, playlists.size.toLong),
      "e1_recap" -> e1Recap.size.toLong, "e2_recap" -> e2Recap.size.toLong,
      "paged_artists" -> pagedRows)
    (rows, Map("e1_recap" -> e1Recap, "e2_recap" -> e2Recap))
  }

  def bytes: Long = new File(dir).listFiles().map(_.length).sum
}

/** `ingest`: the reference's own ETL end to end. A pass scans the page
  * file through `PagedSource` (market pushed down), builds `Pipelines.e1`
  * and `Pipelines.e2` over the bronze JSON, and lands every output with
  * `Sinks.csv` and `Sinks.parquetRuns` into a fresh directory. An op is one
  * sink call.
  *
  * `Sinks.csv` cannot write the artists silver table: its `genres_arr`
  * column is `array<string>`, which the CSV writer rejects. The CSV landing
  * drops that column (the joined `genres` string carries the same values);
  * the parquet landing keeps the table whole. */
final class IngestWorkload(spark: SparkSession, tracer: Tracer, seed: Long,
                           work: String) extends Workload {
  private val inputs = new IngestInputs(seed, s"$work/ingest/bronze")
  private val landing = s"$work/ingest/land"
  private val runId = "run"
  private var expected: (Map[String, Long], Map[String, Map[String, Long]]) =
    (Map.empty, Map.empty)
  private var frames: Map[String, DataFrame] = Map.empty

  private def json(name: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(inputs.path(name))

  private def paged(): DataFrame =
    spark.read.format("graft.sources.paged.PagedSource")
      .option("path", inputs.path("pages.txt")).option("pageSize", 50).load()
      .filter(col("market") === inputs.pagedMarket)

  /** Every output of E1, E2 and the paged scan, by name. */
  private def build(): Map[String, DataFrame] = {
    val e1 = Pipelines.e1(spark,
      json("artists.json", Schemas.artistBronze),
      json("top_tracks.json", Schemas.trackBronze.add("artist_id", StringType)),
      json("albums.json", Schemas.albumBronze),
      json("categories.json", Schemas.categoryBronze),
      json("album_tracks.json", Schemas.trackBronze.add("album_id", StringType)))
    val e2 = Pipelines.e2(spark,
      inputs.markets.map(m => m -> json(s"releases_$m.json", Schemas.albumBronze)).toMap,
      json("playlists.json", Schemas.playlistBronze),
      json("playlist_items.json", Schemas.playlistItemBronze.add("playlist_id", StringType)))
    Map("artists" -> e1.artists, "top_tracks" -> e1.topTracks,
      "new_releases" -> e1.newReleases, "categories" -> e1.categories,
      "album_tracks" -> e1.albumTracks, "top_track_ids" -> e1.topTrackIds,
      "e1_recap" -> e1.recap, "releases" -> e2.releases, "playlists" -> e2.playlists,
      "top_playlists" -> e2.topPlaylists, "playlist_tracks" -> e2.playlistTracks,
      "e2_recap" -> e2.recap, "paged_artists" -> paged())
  }

  /** Every (output, sink) pair; the CSV landing of the artists table drops
    * its array column. */
  private val sinkOps: IndexedSeq[(String, String)] =
    Seq("artists", "top_tracks", "new_releases", "categories", "album_tracks",
      "top_track_ids", "e1_recap", "releases", "playlists", "top_playlists",
      "playlist_tracks", "e2_recap", "paged_artists")
      .flatMap(o => Seq(o -> "csv", o -> "parquet")).toIndexedSeq

  def size: Int = sinkOps.size

  def prepare(): Unit = expected = inputs.generate()

  /** Lands output `i` with its sink under `dir`, as run `run`. */
  private def land(i: Int, dir: String, run: String): OpResult = {
    val (out, sink) = sinkOps(i)
    val opName = s"$out.$sink"
    Main.timeOp(opName) {
      tracer.span("op", opName) {
        tracer.span(s"sinks.$sink") {
          sink match {
            case "csv" =>
              val df = if (out == "artists") frames(out).drop("genres_arr") else frames(out)
              Sinks.csv(df, s"$dir/csv", out, run)
            case _ => Sinks.parquetRuns(frames(out), s"$dir/parquet", out, run)
          }
        }
      }
    }
  }

  /** Data files and bytes landed under `dir`. */
  private def landed(dir: String): Map[String, Double] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val parts = walk(new File(dir)).filter(_.getName.startsWith("part-"))
    Map("sinks.files" -> parts.size.toDouble,
      "sinks.bytes" -> parts.map(_.length).sum.toDouble,
      "in_bytes" -> inputs.bytes.toDouble)
  }

  def pass(order: Seq[Int]): PassResult = {
    val p = Main.timePass {
      val t0 = System.nanoTime()
      frames = tracer.span("pipelines.build") { build() }
      val buildS = (System.nanoTime() - t0) / 1e9
      (order.map(land(_, landing, runId)), Map("pipelines.build_s" -> buildS))
    }
    p.copy(extra = p.extra ++ landed(landing))
  }

  def rerun(i: Int, tag: String): OpResult = land(i, s"$work/ingest/rerun", tag)

  /** Reads back what each op of the timed pass landed: its row count, and
    * for the recap tables their (table, count) rows. The generator's own
    * counts go alongside for the check. */
  def verify(): Map[String, Any] = {
    val got = sinkOps.map { case (out, sink) =>
      val read = try {
        val df = sink match {
          case "csv" => spark.read.option("header", "true").option("multiLine", "true")
            .csv(s"$landing/csv/${out}_$runId")
          case _ => spark.read.parquet(s"$landing/parquet/$out")
        }
        val recap = if (!out.endsWith("_recap")) Map.empty[String, Long]
          else df.collect().map(r => r.get(0).toString -> r.get(1).toString.toLong).toMap
        Map("rows" -> df.count(), "recap" -> recap)
      } catch {
        case e: Exception =>
          Map("error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
      }
      s"$out.$sink" -> read
    }.toMap
    Map("expected_rows" -> expected._1, "expected_recap" -> expected._2, "landed" -> got)
  }
}
