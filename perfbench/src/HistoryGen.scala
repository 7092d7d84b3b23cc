package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.util.Random

/** The seeded Spotify-export listening history the `pipeline` workload
  * extracts: one JSON object per line in `Extractor.historySchema`, one
  * line per `events` row, split into time-ordered files.
  *
  * At seeded positions it injects the four defects `cleanHistory` must
  * quarantine — malformed lines, unparseable `ts`, null and negative
  * `ms_played` — and it records how many of each it wrote, and how many
  * clean rows lie beyond the watermark of the first `loadedFiles` files,
  * so that the load's outputs can be checked.
  */
object HistoryGen {

  /** One `events` row: the fields the history is derived from. */
  final case class Event(eventId: Long, tsMicros: Long, userId: Long, eventType: String, value: Double)

  final case class History(dir: Path, files: Seq[Path], lines: Int,
      malformed: Int, badTs: Int, nullMs: Int, negativeMs: Int,
      loadedFiles: Int, expectedDelta: Long) {
    def injected: Int = malformed + badTs + nullMs + negativeMs
    /** Glob over the files a previous load already staged. */
    def loadedGlob: String = s"$dir/part-0000[0-${loadedFiles - 1}].json"
  }

  private val platforms = Array("android", "ios", "windows", "osx", "web_player", "cast_to_device")
  private val countries = Array("US", "GB", "DE", "SE", "BR", "JP", "IN", "FR")
  private val reasonsStart = Array("trackdone", "fwdbtn", "clickrow", "playbtn", "appload", "backbtn")
  private val reasonsEnd = Array("trackdone", "fwdbtn", "endplay", "logout", "backbtn", "unexpected-exit")
  private val tsFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'").withZone(ZoneOffset.UTC)

  /** Per-line defect rate of each of the four injected kinds. */
  private val DefectRate = 0.0005

  def write(events: Seq[Event], seed: Long, dir: Path, files: Int = 10, loadedFiles: Int = 3): History = {
    require(events.nonEmpty && files >= 2 && loadedFiles >= 1 && loadedFiles < files && files <= 10)
    val rnd = new Random(seed)
    val sorted = events.sortBy(e => (e.tsMicros, e.eventId))
    // a catalog of tracks per seed: track k belongs to album k/8 and
    // artist k/40, so names repeat the way a real history's do
    val tracks = 4000
    Files.createDirectories(dir)
    val perFile = (sorted.length + files - 1) / files
    var malformed, badTs, nullMs, negMs = 0
    var loadedWatermark = Long.MinValue
    val cleanSecs = Array.newBuilder[Long]
    val paths = sorted.grouped(perFile).zipWithIndex.map { case (chunk, f) =>
      val sb = new StringBuilder(chunk.length * 480)
      chunk.foreach { e =>
        val sec = Math.floorDiv(e.tsMicros, 1000000L)
        val u = rnd.nextDouble()
        val kind =
          if (u < DefectRate) 1 else if (u < 2 * DefectRate) 2
          else if (u < 3 * DefectRate) 3 else if (u < 4 * DefectRate) 4 else 0
        val track = rnd.nextInt(tracks)
        val ts = if (kind == 2) s"${tsFormat.format(Instant.ofEpochSecond(sec)).take(10)} at noon"
                 else tsFormat.format(Instant.ofEpochSecond(sec))
        val ms = kind match {
          case 3 => "null"
          case 4 => (-(1 + rnd.nextInt(100000))).toString
          case _ => math.round(e.value * 1000).toString
        }
        val line = new StringBuilder(480)
        line ++= s"""{"ts":"$ts","platform":"${platforms(rnd.nextInt(platforms.length))}","""
        line ++= s""""ms_played":$ms,"conn_country":"${countries(rnd.nextInt(countries.length))}","""
        line ++= s""""ip_addr":"10.${e.userId % 256}.${rnd.nextInt(256)}.${rnd.nextInt(256)}","""
        line ++= s""""master_metadata_track_name":"Track $track","""
        line ++= s""""master_metadata_album_artist_name":"Artist ${track / 40}","""
        line ++= s""""master_metadata_album_album_name":"Album ${track / 8}","""
        line ++= s""""spotify_track_uri":"spotify:track:${java.lang.Long.toString(track * 7919L + 104729L, 36)}","""
        line ++= s""""episode_name":null,"episode_show_name":null,"spotify_episode_uri":null,"""
        line ++= s""""reason_start":"${reasonsStart(rnd.nextInt(reasonsStart.length))}","""
        line ++= s""""reason_end":"${reasonsEnd(rnd.nextInt(reasonsEnd.length))}","""
        line ++= s""""shuffle":${rnd.nextBoolean()},"skipped":${e.eventType == "error"},"""
        line ++= s""""offline":false,"offline_timestamp":${sec * 1000},"incognito_mode":${rnd.nextInt(20) == 0}}"""
        kind match {
          case 1 => malformed += 1; sb ++= line.substring(0, line.length / 2) // truncated object
          case 2 => badTs += 1; sb ++= line
          case 3 => nullMs += 1; sb ++= line
          case 4 => negMs += 1; sb ++= line
          case _ =>
            sb ++= line
            cleanSecs += sec
            if (f < loadedFiles) loadedWatermark = math.max(loadedWatermark, sec)
        }
        sb += '\n'
      }
      val p = dir.resolve(f"part-$f%05d.json")
      Files.write(p, sb.toString.getBytes(StandardCharsets.UTF_8))
      p
    }.toVector
    val delta = cleanSecs.result().count(_ > loadedWatermark).toLong
    History(dir, paths, sorted.length, malformed, badTs, negativeMs = negMs, nullMs = nullMs,
      loadedFiles = loadedFiles, expectedDelta = delta)
  }
}
