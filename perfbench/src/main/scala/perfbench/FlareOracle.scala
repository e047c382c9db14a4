package perfbench

import java.time.LocalDateTime
import java.time.format.{DateTimeFormatter, ResolverStyle}

import scala.util.Try

/** The 8-field projected flare row (the `solar_flare_data` sink schema). */
final case class FlareRow(
    flrId: String, classType: String,
    beginTime: Option[LocalDateTime], peakTime: Option[LocalDateTime],
    endTime: Option[LocalDateTime], sourceLocation: Option[String],
    activeRegionNum: Option[Int], link: String)

/** Expected-table oracle for the daily ETL, in plain Scala with no Spark.
  *
  * It restates what `Donki.project` followed by `DedupAppend.append`
  * (keys `flr_id`, tie-break `class_type, link`) documents: timestamps are
  * parsed leniently (malformed → null); within one batch the survivor per
  * `flr_id` is the first row under the tie-break columns and then every
  * other payload column by name, all ascending with nulls last; across
  * batches the first stored row wins. */
object FlareOracle {
  private val TsFmt = DateTimeFormatter.ofPattern("uuuu-MM-dd'T'HH:mm'Z'")
    .withResolverStyle(ResolverStyle.STRICT)

  def parseTs(s: Option[String]): Option[LocalDateTime] =
    s.flatMap(v => Try(LocalDateTime.parse(v, TsFmt)).toOption)

  def project(f: Flare): FlareRow =
    FlareRow(f.flrID, f.classType, parseTs(f.beginTime), parseTs(f.peakTime),
      parseTs(f.endTime), f.sourceLocation, f.activeRegionNum, f.link)

  private def nullsLast[A](implicit o: Ordering[A]): Ordering[Option[A]] =
    (x: Option[A], y: Option[A]) => (x, y) match {
      case (Some(a), Some(b)) => o.compare(a, b)
      case (Some(_), None) => -1
      case (None, Some(_)) => 1
      case (None, None) => 0
    }

  /** Survivor order: class_type, link, then active_region_num, begin_time,
    * end_time, peak_time, source_location (the remaining columns by name). */
  val survivorOrder: Ordering[FlareRow] = {
    val ts = nullsLast[LocalDateTime](Ordering.fromLessThan(_ isBefore _))
    val int = nullsLast[Int]
    val s = nullsLast[String]
    Ordering.fromLessThan[FlareRow] { (a, b) =>
      val c = Iterator(
        () => a.classType.compareTo(b.classType),
        () => a.link.compareTo(b.link),
        () => int.compare(a.activeRegionNum, b.activeRegionNum),
        () => ts.compare(a.beginTime, b.beginTime),
        () => ts.compare(a.endTime, b.endTime),
        () => ts.compare(a.peakTime, b.peakTime),
        () => s.compare(a.sourceLocation, b.sourceLocation)).map(_()).find(_ != 0)
      c.exists(_ < 0)
    }
  }

  /** In-batch dedup: one survivor per flr_id. */
  def survivors(batch: Seq[FlareRow]): Seq[FlareRow] =
    batch.groupBy(_.flrId).values.map(_.min(survivorOrder)).toSeq

  /** The table after appending `batches` in order to an empty table. */
  final class Table {
    private val rows = scala.collection.mutable.LinkedHashMap.empty[String, FlareRow]

    /** Appends one batch; returns the number of rows it added. */
    def append(batch: Seq[Flare]): Int = {
      val fresh = survivors(batch.map(project)).filterNot(r => rows.contains(r.flrId))
      fresh.sortBy(_.flrId).foreach(r => rows.update(r.flrId, r))
      fresh.size
    }

    def result: Set[FlareRow] = rows.values.toSet
    def size: Int = rows.size
    def nullBeginTimes: Int = rows.values.count(_.beginTime.isEmpty)
  }
}
