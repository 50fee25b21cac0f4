package perfbench

import java.time.LocalDate

import scala.collection.mutable

/** Reference model: the expected lake state as plain keyed maps, computed
  * without graft or Spark. Gold rows follow the reference job's semantics
  * (02_gold_analytics.py): every processing day aggregates the WHOLE silver
  * snapshot under that day's `call_date`.
  */
object Model {
  type Silver = mutable.HashMap[Int, SRow]

  /** (total, completed, dropped, failed, completion_rate) */
  final case class Summary(total: Long, completed: Long, dropped: Long, failed: Long,
                           rate: Double)
  /** (avg, min, max) of non-negative parseable durations */
  final case class Duration(avg: Double, min: Long, max: Long)

  final class Gold {
    val daily = mutable.HashMap.empty[LocalDate, Summary]
    val agent = mutable.HashMap.empty[(LocalDate, Int), Summary]
    val duration = mutable.HashMap.empty[LocalDate, Duration]
    def copy(): Gold = {
      val g = new Gold
      g.daily ++= daily; g.agent ++= agent; g.duration ++= duration
      g
    }
  }

  /** Spark's `round(x, 2)` on a double: HALF_UP on the decimal form. */
  def round2(x: Double): Double =
    BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def summary(rows: Iterable[SRow]): Summary = {
    var t, c, d, f = 0L
    rows.foreach { r =>
      t += 1
      r.status match {
        case "COMPLETED" => c += 1
        case "DROPPED" => d += 1
        case "FAILED" => f += 1
        case _ =>
      }
    }
    Summary(t, c, d, f, if (t > 0) round2(c.toDouble / t * 100) else 0.0)
  }

  private val Hms = """(\d{2}):(\d{2}):(\d{2})""".r
  def seconds(s: String): Option[Long] = s match {
    case Hms(h, m, x) if h.toInt < 24 && m.toInt < 60 && x.toInt < 60 =>
      Some(h.toLong * 3600 + m.toLong * 60 + x.toLong)
    case _ => None
  }

  /** Upsert one processing day's three gold results. */
  def goldDay(g: Gold, silver: Silver, date: LocalDate): Int = {
    val rows = silver.values
    g.daily(date) = summary(rows)
    val byAgent = rows.groupBy(_.agent)
    byAgent.foreach { case (a, rs) => g.agent((date, a)) = summary(rs) }
    val ds = rows.flatMap(r => for (s <- seconds(r.start); e <- seconds(r.end)) yield e - s)
      .filter(_ >= 0)
    if (ds.nonEmpty)
      g.duration(date) = Duration(round2(ds.sum.toDouble / ds.size), ds.min, ds.max)
    1 + byAgent.size + (if (ds.nonEmpty) 1 else 0)
  }

  /** Apply one day's valid CSV lines to silver (MERGE on call_id). */
  def silverDay(silver: Silver, lines: Seq[CsvLine]): Int = {
    var n = 0
    lines.foreach { l => l.row.foreach { r => silver(l.id.get) = r; n += 1 } }
    n
  }
}
