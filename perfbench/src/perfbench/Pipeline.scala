package perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.dq.Validator
import graft.gold.GoldAggregates
import graft.lake.MergeTable
import graft.model.CallCenter
import graft.pipeline.CallCenterPipeline
import graft.pipeline.CallCenterPipeline.LakePaths
import graft.sqlapi.MergeInto

/** Calls into the reference pipeline, and the checks of its tables
  * against the model, shared by the workloads.
  */
object Pipeline {
  val SilverSchema: StructType = StructType.fromDDL(CallCenter.rawDdl + ",year INT,month INT")

  def toRow(id: Int, r: SRow): Row =
    Row(id, r.caller, r.agent, r.start, r.end, r.status, r.year, r.month)

  def writeCsv(path: Path, lines: Seq[CsvLine]): String = {
    Files.createDirectories(path.getParent)
    Files.write(path, (Gen.CsvHeader +: lines.map(_.text)).asJava)
    path.toString
  }

  /** One processing day: `silverJob` then `goldJob`, each in a span. */
  def runDay(ctx: Ctx, csv: String, p: LakePaths, date: LocalDate): Unit = {
    ctx.tr.span("pipeline.silver")(CallCenterPipeline.silverJob(ctx.spark, csv, p, date))
    ctx.tr.span("pipeline.gold")(CallCenterPipeline.goldJob(ctx.spark, p, date))
  }

  /** Traced runs only, after a day: the DQ and gold layers called
    * standalone on that day's batch and silver snapshot, forced. Returns
    * an error if the Validator's reject count differs from the model's.
    */
  def probeDay(ctx: Ctx, csv: String, p: LakePaths, date: LocalDate, rejects: Int): Option[String] =
    if (!ctx.tr.on) None
    else {
      val spark = ctx.spark
      val raw = spark.read.schema(CallCenter.rawSchema).option("header", "true").csv(csv)
      val t0 = System.nanoTime()
      val r = ctx.tr.span("dq.validate") {
        new Validator(CallCenter.rules).validate(raw)
          .agg(count(lit(1)), count(col("Reject_reason"))).head()
      }
      ctx.layers.add("dq.validate_ms", (System.nanoTime() - t0) / 1e6)
      ctx.layers.add("dq.reject_ratio", r.getLong(1).toDouble / r.getLong(0))
      val s = CallCenterPipeline.silverTable(p).read(spark)
      val t1 = System.nanoTime()
      ctx.tr.span("gold.aggregate") {
        GoldAggregates.dailySummary(s, lit(date)).collect()
        GoldAggregates.agentPerformance(s, lit(date)).collect()
        GoldAggregates.durationMetrics(s, lit(date)).collect()
      }
      ctx.layers.add("gold.aggregate_ms", (System.nanoTime() - t1) / 1e6)
      if (r.getLong(1) == rejects) None
      else Some(s"$date: Validator rejected ${r.getLong(1)} rows, model $rejects")
    }

  /** A read through a public API: untraced, the call and the collect;
    * traced, the call up to the executed plan (`sqlapi.plan`), then the
    * collect (`sqlapi.exec`).
    */
  def read(ctx: Ctx, name: String)(df: => DataFrame): (DataFrame, Seq[Row]) =
    if (!ctx.tr.on) { val d = df; (d, d.collect().toSeq) }
    else {
      val d = ctx.tr.span("sqlapi.plan") { val d = ctx.tr.span(name)(df); d.queryExecution.executedPlan; d }
      (d, ctx.tr.span("sqlapi.exec")(d.collect().toSeq))
    }

  /** Traced runs only: `MergeInto.parse` on a statement, standalone. */
  def parseMerge(ctx: Ctx, sql: String): Unit = if (ctx.tr.on) {
    val t0 = System.nanoTime()
    MergeInto.parse(sql)
    ctx.layers.add("sqlapi.merge_parse_ms", (System.nanoTime() - t0) / 1e6)
  }

  val UpsertSql = "MERGE INTO silver AS t USING %s AS s ON t.call_id = s.call_id " +
    "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"

  def date(r: Row, i: Int): LocalDate = r.get(i) match {
    case d: java.sql.Date => d.toLocalDate
    case d: LocalDate => d
  }

  def silverRows(rows: Array[Row]): Array[(Int, SRow)] =
    rows.map(r => r.getInt(0) -> SRow(r.getInt(1), r.getInt(2), r.getString(3),
      r.getString(4), r.getString(5), r.getInt(6), r.getInt(7)))

  /** A silver snapshot (rows as `silverRows` reads them) against the model. */
  def checkSilver(got: Array[(Int, SRow)], model: collection.Map[Int, SRow]): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    if (got.length != got.map(_._1).distinct.length) errs += "silver holds duplicate call_ids"
    if (got.length != model.size) errs += s"silver has ${got.length} rows, model ${model.size}"
    val bad = got.filter { case (id, r) => !model.get(id).contains(r) }
    if (bad.nonEmpty) errs += s"${bad.length} silver rows differ from the model, e.g. ${bad.head}"
    errs.toSeq
  }

  def checkSilver(ctx: Ctx, root: String, model: collection.Map[Int, SRow]): Seq[String] =
    checkSilver(silverRows(new MergeTable(root).read(ctx.spark)
      .select(SilverSchema.fieldNames.map(col).toIndexedSeq: _*).collect()), model)

  /** The three gold tables against the model, row by row. */
  def checkGold(ctx: Ctx, p: LakePaths, g: Model.Gold): Seq[String] = {
    val tables = CallCenterPipeline.goldTables(p)
    def read(name: String, cols: String*) =
      tables(name)._1.read(ctx.spark).select(cols.map(col): _*).collect().toSeq
    def summary(r: Row, o: Int) =
      Model.Summary(r.getLong(o), r.getLong(o + 1), r.getLong(o + 2), r.getLong(o + 3), r.getDouble(o + 4))
    val s = Seq("total_calls", "completed_calls", "dropped_calls", "failed_calls", "completion_rate")
    val daily = read("gold_call_daily_summary", "call_date" +: s: _*)
      .map(r => date(r, 0) -> summary(r, 1)).toMap
    val agent = read("gold_agent_performance", "call_date" +: "agent_id" +: s: _*)
      .map(r => (date(r, 0), r.getInt(1)) -> summary(r, 2)).toMap
    val dur = read("gold_call_duration_metrics", "call_date", "avg_call_duration_seconds",
      "min_call_duration_seconds", "max_call_duration_seconds")
      .map(r => date(r, 0) -> Model.Duration(r.getDouble(1), r.getLong(2), r.getLong(3))).toMap
    def same[K, V](what: String, got: Map[K, V], want: collection.Map[K, V]): Seq[String] =
      if (got == want.toMap) Nil
      else {
        val diff = (got.keySet ++ want.keySet).filter(k => got.get(k) != want.get(k))
        Seq(s"$what: ${diff.size} rows differ, e.g. ${diff.head}: got ${got.get(diff.head)}, " +
          s"want ${want.get(diff.head)}")
      }
    same("gold_call_daily_summary", daily, g.daily) ++
      same("gold_agent_performance", agent, g.agent) ++
      same("gold_call_duration_metrics", dur, g.duration)
  }

  def checkExceptions(ctx: Ctx, p: LakePaths, want: collection.Map[String, Long]): Seq[String] = {
    val got = ctx.spark.read.parquet(p.exception).groupBy("Reject_reason").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    if (got == want.toMap) Nil else Seq(s"exception rows by reason: got $got, want $want")
  }

  def tables(p: LakePaths): Seq[String] =
    p.silver +: CallCenterPipeline.goldTables(p).values.map(_._1.root).toSeq.sorted
}

/** The lake the gated workloads start from, the way ingest leaves it:
  * silver history written once into `Files` small files with narrow
  * `call_id` ranges over `Months` month partitions (version 0), then one
  * generated CSV day run through the pipeline (silver version 1 and the
  * gold tables). The day re-delivers ~3 % of its rows from the newest
  * history file, moving those rows into the day's month.
  */
final class LakeTemplate(gen: Gen, work: Path) {
  val Files = 16
  val RowsPerFile = 600
  val Months = 4
  val DayRows = 4000
  val History: Int = Files * RowsPerFile

  /** History ids are 0 until History, oldest month first. */
  private def monthOf(id: Int): (Int, Int) = {
    val ym = java.time.YearMonth.from(Gen.FirstDate)
      .minusMonths(Months - id.toLong * Months / History)
    (ym.getYear, ym.getMonthValue)
  }

  val history: Map[Int, SRow] = (0 until History).map { id =>
    val (y, m) = monthOf(id)
    id -> gen.row(y, m)
  }.toMap

  private val nextId = Array(History)
  // late data re-delivers recent calls: only the newest file's ids, so the
  // day rewrites one history file and leaves the others narrow
  val day: Seq[CsvLine] = gen.day(Gen.FirstDate, DayRows,
    mutable.ArrayBuffer.from(History - RowsPerFile until History), nextId)
  val csv: String = Pipeline.writeCsv(work.resolve("input").resolve("day.csv"), day)
  /** First id the day did not use: ids at or above it are new. */
  val maxId: Int = nextId(0)

  /** Silver after history (index 0) and after the day (index 1). */
  val silverAt: IndexedSeq[Map[Int, SRow]] = {
    val s: Model.Silver = mutable.HashMap.from(history)
    Model.silverDay(s, day)
    IndexedSeq(history, s.toMap)
  }
  val gold = new Model.Gold
  Model.goldDay(gold, mutable.HashMap.from(silverAt(1)), Gen.FirstDate)
  val rejects: Map[String, Long] = day.flatMap(_.reject).groupBy(identity).map { case (r, xs) => r -> xs.size.toLong }

  /** The built template against the model: silver, gold and exceptions. */
  def check(ctx: Ctx, dir: Path): Seq[String] = {
    val p = LakePaths(dir.toString)
    Pipeline.checkSilver(ctx, p.silver, silverAt(1)) ++ Pipeline.checkGold(ctx, p, gold) ++
      Pipeline.checkExceptions(ctx, p, rejects)
  }

  /** `n` distinct keys for one write: four in five from the day's ids
    * (plus a few new ids, so merges insert), the rest from the history
    * (late re-deliveries), one per history file, away from the file's
    * range edges. Every seed thus touches the same number of files.
    */
  def keys(gen: Gen, n: Int): Seq[Int] = {
    val recent = mutable.LinkedHashSet.empty[Int]
    while (recent.size < n - n / 5) recent += History + gen.int(maxId - History + 20)
    val files = new scala.util.Random(gen.int(Int.MaxValue)).shuffle((0 until Files).toList)
    recent.toSeq ++ files.take(n / 5).map(f =>
      f * RowsPerFile + RowsPerFile / 4 + gen.int(RowsPerFile / 2))
  }

  def build(ctx: Ctx, dir: Path): Unit = {
    val p = LakePaths(dir.toString)
    val rows = history.toSeq.sortBy(_._1).map { case (id, r) => Pipeline.toRow(id, r) }
    val df = ctx.spark.createDataFrame(rows.asJava, Pipeline.SilverSchema)
      .repartitionByRange(Files, col("call_id"))
    CallCenterPipeline.silverTable(p).overwrite(df)
    Pipeline.runDay(ctx, csv, p, Gen.FirstDate)
    Pipeline.probeDay(ctx, csv, p, Gen.FirstDate, day.count(_.reject.nonEmpty))
      .foreach(e => throw new IllegalStateException(e))
  }
}
