package perfbench

import java.time.{LocalDate, LocalDateTime}
import java.time.format.DateTimeFormatter

/** One raw DONKI FLR record as the API delivers it. `None` in an optional
  * field means the key is absent from the JSON, except `endTime`, whose
  * `None` is rendered as an explicit `null` (FIXTURES.md §A). */
final case class Flare(
    flrID: String, classType: String,
    beginTime: Option[String], peakTime: Option[String], endTime: Option[String],
    sourceLocation: Option[String], activeRegionNum: Option[Int], link: String,
    instruments: Seq[String] = Nil, linkedEvents: Seq[String] = Nil,
    note: Option[String] = None, submissionTime: Option[String] = None,
    versionId: Option[Int] = None)

/** Seeded generator of daily DONKI FLR fetches.
  *
  * Every day `flaresPerDay` new flares begin. The fetch made on day `d`
  * returns the trailing `windowDays`-day window (days `d-windowDays+1 .. d`),
  * as the reference pipeline re-fetches it daily, so all but one day of
  * each payload is already stored. Edge rows appear at fixed rates:
  * a missing `activeRegionNum` key, an explicit null `endTime`, malformed
  * timestamps, flares re-delivered in a later fetch with a revised
  * class, and in-batch duplicates of one `flrID` with a differing payload.
  * Everything is a pure function of (seed, day), so the same seed gives
  * byte-identical payloads. */
final class DonkiGen(seed: Long, val flaresPerDay: Int, val windowDays: Int = 30) {
  import DonkiGen._

  private def rng(day: Int, stream: Int): java.util.SplittableRandom =
    new java.util.SplittableRandom(mix(seed, day.toLong * 4 + stream))

  /** The flares that begin on `day`, in their first-delivered form, each
    * paired with the day (if any) from which fetches carry its revision. */
  private def born(day: Int): IndexedSeq[(Flare, Option[Int])] = {
    val r = rng(day, 0)
    val date = Epoch.plusDays(day.toLong)
    (0 until flaresPerDay).map { i =>
      val begin = date.atStartOfDay().plusMinutes(r.nextInt(24 * 60).toLong)
      val peak = begin.plusMinutes(5L + r.nextInt(40))
      val end = peak.plusMinutes(5L + r.nextInt(60))
      val id = f"${begin.format(IdFmt)}-FLR-$i%04d"
      val malformed = r.nextDouble() < MalformedRate
      val f = Flare(
        flrID = id,
        classType = classOf(r),
        beginTime = Some(if (malformed && r.nextBoolean()) "not-a-timestamp" else ts(begin)),
        peakTime = Some(if (malformed) ts(peak).replace('T', ' ') else ts(peak)),
        endTime = if (r.nextDouble() < NullEndRate) None else Some(ts(end)),
        sourceLocation =
          if (r.nextDouble() < NullLocationRate) None
          else Some(f"${if (r.nextBoolean()) "N" else "S"}${r.nextInt(40)}%02d" +
            f"${if (r.nextBoolean()) "E" else "W"}${r.nextInt(90)}%02d"),
        activeRegionNum =
          if (r.nextDouble() < MissingRegionRate) None else Some(13000 + r.nextInt(1000)),
        link = s"https://kauai.ccmc.gsfc.nasa.gov/DONKI/view/FLR/$id/-1",
        instruments = Instruments.take(1 + r.nextInt(Instruments.size)),
        linkedEvents = (0 until r.nextInt(3)).map(k => s"${begin.format(IdFmt)}-CME-00$k"),
        note = Some((0 until 8 + r.nextInt(16)).map(_ => NoteWords(r.nextInt(NoteWords.size)))
          .mkString(" ")),
        submissionTime = Some(ts(end.plusMinutes(30))),
        versionId = Some(1))
      val revisedFrom =
        if (r.nextDouble() < RevisionRate) Some(day + 1 + r.nextInt(windowDays - 1)) else None
      (f, revisedFrom)
    }
  }

  /** The fetch made on `day`: the window's flares in begin order, revised
    * where a revision has been published by then, plus in-batch
    * duplicates (each right after its original). */
  def fetch(day: Int): IndexedSeq[Flare] = fetches(day to day).head

  /** The fetches of consecutive `days`, each day's flares generated once. */
  def fetches(days: Range): IndexedSeq[IndexedSeq[Flare]] = {
    val cache = scala.collection.mutable.Map.empty[Int, IndexedSeq[(Flare, Option[Int])]]
    days.map { day =>
      val r = rng(day, 1)
      val window = (math.max(0, day - windowDays + 1) to day)
        .flatMap(b => cache.getOrElseUpdate(b, born(b))).map {
          case (f, Some(from)) if from <= day =>
            f.copy(classType = revise(f.classType), versionId = f.versionId.map(_ + 1),
              endTime = f.endTime.orElse(f.peakTime))
          case (f, _) => f
        }
      window.flatMap { f =>
        if (r.nextDouble() < DuplicateRate)
          Seq(f, f.copy(classType = classOf(r), link = f.link + "?rev=dup"))
        else Seq(f)
      }
    }
  }

  /** The day's HTTP response body: one JSON array. */
  def payload(day: Int): String = render(fetch(day))
}

object DonkiGen {
  val MissingRegionRate = 0.30
  val NullEndRate = 0.08
  val NullLocationRate = 0.10
  val MalformedRate = 0.02
  val RevisionRate = 0.05
  val DuplicateRate = 0.02

  private val Epoch = LocalDate.of(2024, 1, 1)
  private val TsFmt = DateTimeFormatter.ofPattern("uuuu-MM-dd'T'HH:mm'Z'")
  private val IdFmt = DateTimeFormatter.ofPattern("uuuu-MM-dd'T'HH:mm:ss")
  private val Instruments = IndexedSeq("GOES-P: EXIS 1.0-8.0", "GOES-R: SUVI 131",
    "SDO: AIA 131", "SOHO: LASCO/C2")
  private val NoteWords = IndexedSeq("flare", "peak", "region", "limb", "gradual",
    "impulsive", "emission", "observed", "by", "the", "x-ray", "flux", "onset",
    "decay", "associated", "cme", "eruption", "loop", "arcade", "signature")

  private def ts(t: LocalDateTime): String = t.format(TsFmt)

  private def classOf(r: java.util.SplittableRandom): String =
    s"${"ABCMX".charAt(r.nextInt(5))}${1 + r.nextInt(9)}.${r.nextInt(10)}"

  private def revise(c: String): String = {
    val tenths = c.last - '0'
    c.dropRight(1) + ((tenths + 1) % 10).toString
  }

  /** SplitMix64 finaliser over (seed, stream): independent streams per day. */
  private def mix(seed: Long, stream: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + stream
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def render(f: Flare): String = {
    val fields = Seq(
      Some("flrID" -> Json.str(f.flrID)),
      Some("classType" -> Json.str(f.classType)),
      f.beginTime.map(v => "beginTime" -> Json.str(v)),
      f.peakTime.map(v => "peakTime" -> Json.str(v)),
      Some("endTime" -> f.endTime.map(Json.str).getOrElse("null")),
      f.sourceLocation.map(v => "sourceLocation" -> Json.str(v)),
      f.activeRegionNum.map(v => "activeRegionNum" -> v.toString),
      Some("link" -> Json.str(f.link)),
      f.note.map(v => "note" -> Json.str(v)),
      f.submissionTime.map(v => "submissionTime" -> Json.str(v)),
      f.versionId.map(v => "versionId" -> v.toString),
      Some("instruments" -> f.instruments
        .map(i => s"""{"displayName":${Json.str(i)}}""").mkString("[", ",", "]")),
      Some("linkedEvents" -> (if (f.linkedEvents.isEmpty) "null"
        else f.linkedEvents.map(a => s"""{"activityID":${Json.str(a)}}""").mkString("[", ",", "]"))))
    fields.flatten.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
  }

  def render(fs: Seq[Flare]): String = fs.map(render).mkString("[", ",\n", "]")
}
