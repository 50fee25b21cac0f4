package perfbench

import java.nio.file.Path

import scala.collection.mutable

import graft.pipeline.CallCenterPipeline.LakePaths

/** Processing days, each one generated CSV run through
  * `CallCenterPipeline.silverJob` then `goldJob`: the reference's own job,
  * with large batches. The template holds the first `Preload` days; every
  * round runs the next `DaysPerRound` days over a copy of it, so each
  * round repeats the same work.
  */
final class DailyIngest(seed: Long, ctx: Ctx) extends Workload {
  val RowsPerDay = 20000
  val Preload = 1
  val DaysPerRound = 1

  private val gen = new Gen(seed)
  private val prior = mutable.ArrayBuffer.empty[Int]
  private val nextId = Array(1)
  private val days = (0 until Preload + DaysPerRound)
    .map(d => gen.day(Gen.date(d), RowsPerDay, prior, nextId))
  private val csvs = days.indices.map(d =>
    Pipeline.writeCsv(ctx.work.resolve("input").resolve(s"day_$d.csv"), days(d)))

  // model state after the preloaded days
  private val silver0: Model.Silver = mutable.HashMap.empty
  private val gold0 = new Model.Gold
  private val rejects0 = mutable.HashMap.empty[String, Long]
  (0 until Preload).foreach(applyDay(_, silver0, gold0, rejects0))

  private def applyDay(d: Int, s: Model.Silver, g: Model.Gold,
                       rj: mutable.Map[String, Long]): Long = {
    val n = Model.silverDay(s, days(d))
    days(d).flatMap(_.reject).foreach(r => rj(r) = rj.getOrElse(r, 0L) + 1)
    n + Model.goldDay(g, s, Gen.date(d))
  }

  // the template builds already run every code path a day takes
  val warmupOps = 0

  def build(ctx: Ctx, dir: Path): Unit = {
    val p = LakePaths(dir.toString)
    (0 until Preload).foreach(d => Pipeline.runDay(ctx, csvs(d), p, Gen.date(d)))
  }

  def checkTemplate(ctx: Ctx, dir: Path): Seq[String] = {
    val p = LakePaths(dir.toString)
    Pipeline.checkSilver(ctx, p.silver, silver0) ++ Pipeline.checkGold(ctx, p, gold0) ++
      Pipeline.checkExceptions(ctx, p, rejects0)
  }

  def round(ctx: Ctx, dir: Path): Round = new Round {
    private val p = LakePaths(dir.toString)
    private val silver = silver0.clone()
    private val gold = gold0.copy()
    private val rejects = rejects0.clone()
    private var changed, source = 0L

    val tables: Seq[String] = Pipeline.tables(p)
    def rowsChanged: Long = changed
    override def sourceRows: Long = source

    val ops: IndexedSeq[Op] = (Preload until Preload + DaysPerRound).map { d =>
      Op("day", () => Pipeline.runDay(ctx, csvs(d), p, Gen.date(d)), _ => {
        changed += applyDay(d, silver, gold, rejects)
        source += days(d).size
        Pipeline.probeDay(ctx, csvs(d), p, Gen.date(d), days(d).count(_.reject.nonEmpty))
      })
    }

    def finish(): Seq[String] =
      Pipeline.checkSilver(ctx, p.silver, silver) ++ Pipeline.checkGold(ctx, p, gold) ++
        Pipeline.checkExceptions(ctx, p, rejects)
  }
}
