package perfbench

import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable

/** One silver row (the call-center CSV columns plus the processing
  * date's year/month), as the reference model keeps it.
  */
final case class SRow(caller: Int, agent: Int, start: String, end: String,
                      status: String, year: Int, month: Int)

/** One generated CSV line, with the reject reason the DQ rules must give
  * it (None = valid). Invalid lines carry exactly one defect, so the
  * expected reason is a single rule message.
  */
final case class CsvLine(text: String, id: Option[Int], row: Option[SRow],
                         reject: Option[String])

/** Seeded input generator. Everything graft receives is produced here,
  * before any timing starts; the same seed gives the same inputs.
  */
final class Gen(seed: Long) {
  private val rnd = new SplittableRandom(seed)

  def int(n: Int): Int = rnd.nextInt(n)
  def chance(p: Double): Boolean = rnd.nextDouble() < p
  def unit(): Double = rnd.nextDouble()

  val Agents = 50

  private def hms(sec: Int): String = {
    val s = ((sec % 86400) + 86400) % 86400
    f"${s / 3600}%02d:${s / 60 % 60}%02d:${s % 60}%02d"
  }

  private val statuses = Array(
    "COMPLETED" -> 0.60, "DROPPED" -> 0.20, "FAILED" -> 0.15,
    // valid (the domain check is case-insensitive) but counted in no gold
    // bucket: the reference's quirk Q2
    "completed" -> 0.03, "dropped" -> 0.02)

  private def status(): String = {
    var u = unit()
    statuses.find { case (_, p) => u -= p; u < 0 }.map(_._1).getOrElse("FAILED")
  }

  /** A valid call row. A few calls cross midnight (negative duration) or
    * carry a pattern-valid but unparseable end time; gold's duration
    * metrics must drop both.
    */
  def row(year: Int, month: Int): SRow = {
    val start = int(86400)
    val end =
      if (chance(0.01)) "99:99:99"
      else hms(start + 10 + int(3600))
    SRow(1 + int(999999), 1 + int(Agents), hms(start), end, status(), year, month)
  }

  private def csv(id: String, r: SRow): String =
    s"$id,${r.caller},${r.agent},${r.start},${r.end},${r.status}"

  /** One processing day's CSV: `rows` lines, ~3 % invalid by construction,
    * ~3 % re-delivering a `call_id` from an earlier day (`prior`).
    * New ids are taken from `nextId`, which is advanced.
    */
  def day(date: LocalDate, rows: Int, prior: mutable.ArrayBuffer[Int],
          nextId: Array[Int]): Seq[CsvLine] = {
    val (y, m) = (date.getYear, date.getMonthValue)
    val usedToday = mutable.HashSet.empty[Int]
    val newValid = mutable.ArrayBuffer.empty[Int]
    def fresh(): Int = { val i = nextId(0); nextId(0) += 1; i }
    val out = (0 until rows).map { _ =>
      val u = unit()
      if (u < 0.03) {
        val r = row(y, m)
        val id = fresh()
        int(6) match {
          case 0 => CsvLine(csv("", r), None, None, Some("call_id must not be NULL"))
          case 1 => CsvLine(s"$id,x${r.caller},${r.agent},${r.start},${r.end},${r.status}",
            None, None, Some("caller_id must not be NULL"))
          case 2 => CsvLine(s"$id,${r.caller},-${r.agent},${r.start},${r.end},${r.status}",
            None, None, Some("agent_id must be numeric"))
          case 3 => CsvLine(s"$id,${r.caller},${r.agent},7:5:00,${r.end},${r.status}",
            None, None, Some("invalid call_start_time"))
          case 4 => CsvLine(s"$id,${r.caller},${r.agent},${r.start},,${r.status}",
            None, None, Some("call_end_time must not be NULL"))
          case _ => CsvLine(s"$id,${r.caller},${r.agent},${r.start},${r.end},UNKNOWN",
            None, None, Some("invalid call_status values"))
        }
      } else {
        val redeliver = u < 0.06 && prior.nonEmpty
        val c = if (redeliver) prior(int(prior.size)) else -1
        val id = if (c >= 0 && usedToday.add(c)) c else { val f = fresh(); newValid += f; f }
        val r = row(y, m)
        CsvLine(csv(id.toString, r), Some(id), Some(r), None)
      }
    }
    prior ++= newValid
    out
  }
}

object Gen {
  /** Processing dates start the day before a month boundary, so
    * re-delivered calls move rows across `month` partitions.
    */
  val FirstDate: LocalDate = LocalDate.of(2026, 1, 31)
  def date(day: Int): LocalDate = FirstDate.plusDays(day)

  val CsvHeader = "call_id,caller_id,agent_id,call_start_time,call_end_time,call_status"
}
