package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.pipeline.CallCenterPipeline
import graft.pipeline.CallCenterPipeline.LakePaths
import graft.sqlapi.{AthenaQueries, LakeSql, MergeInto}

/** A lake built by the pipeline, then a loop of SQL statements, mostly
  * reads: the five Athena queries over gold; point, range, `VERSION AS OF`
  * and `DESCRIBE HISTORY` through `LakeSql.query`; the same reads through
  * a `GraftCatalog` name and the `format("graft")` connector. One
  * statement in ten is a write on silver: `MERGE INTO` through
  * `MergeInto.run`, or `UPDATE` / `DELETE` through `LakeSql.run`.
  */
final class SqlMixed(seed: Long, ctx: Ctx) extends Workload {
  val RangeWidth = 200

  private val gen = new Gen(seed)
  private val lake = new LakeTemplate(gen, ctx.work)
  private val maxId = lake.maxId
  private val gold = lake.gold
  /** Silver version the template ends at (version 0 is the history). */
  private var templateVersion = 1L
  private def versionOf(d: Int): Long = if (d == 0) 0L else templateVersion

  private def recentKey(): Int =
    if (gen.chance(0.8)) lake.History + gen.int(maxId - lake.History + 20) else gen.int(maxId)

  private sealed trait Stmt
  private final case class Athena(name: String) extends Stmt
  private final case class Point(sql: String, key: Int, catalog: Boolean) extends Stmt
  private final case class Range(sql: String, lo: Int, catalog: Boolean) extends Stmt
  private final case class ConnRange(lo: Int) extends Stmt
  private final case class Versioned(sql: String, day: Int, lo: Int) extends Stmt
  private final case class History(sql: String) extends Stmt
  private final case class MergeW(sql: String, view: String, keys: Seq[Int], rows: Seq[SRow]) extends Stmt
  private final case class UpdateW(sql: String, keys: Seq[Int], agent: Int) extends Stmt
  private final case class DeleteW(sql: String, keys: Seq[Int]) extends Stmt

  private val Cols = "call_id, caller_id, agent_id, call_status"
  private val Cat = s"${Main.CatalogName}.{ns}.silver_delta"
  private def point(catalog: Boolean): Point = {
    val k = recentKey()
    Point(s"SELECT $Cols FROM ${if (catalog) Cat else "silver"} WHERE call_id = $k", k, catalog)
  }
  private def range(catalog: Boolean): Range = {
    val lo = gen.int(maxId - RangeWidth)
    Range(s"SELECT count(*) AS n, sum(caller_id) AS s FROM ${if (catalog) Cat else "silver"} " +
      s"WHERE call_id BETWEEN $lo AND ${lo + RangeWidth - 1}", lo, catalog)
  }
  private def inList(ks: Seq[Int]) = ks.mkString("(", ", ", ")")

  /** One round's statement kinds, in a fixed order: 27 reads and 3
    * writes. Only the parameters are random, so every seed runs the same
    * mix.
    */
  private val Plan = Seq(
    "athena:daily_call_summary", "point", "cat_point", "merge",
    "athena:agent_performance_overview", "range", "cat_range", "version0",
    "athena:daily_duration_metrics", "conn_range", "point", "history",
    "athena:top_agents", "update", "cat_point", "range",
    "athena:high_failure_days", "conn_range", "version1", "cat_range",
    "point", "cat_point", "range", "delete", "cat_range",
    "conn_range", "version0", "athena:top_agents", "point", "history")

  private val statements: IndexedSeq[Stmt] = Plan.zipWithIndex.map {
    case (a, _) if a.startsWith("athena:") => Athena(a.stripPrefix("athena:"))
    case ("point", _) => point(catalog = false)
    case ("cat_point", _) => point(catalog = true)
    case ("range", _) => range(catalog = false)
    case ("cat_range", _) => range(catalog = true)
    case ("conn_range", _) => ConnRange(gen.int(maxId - RangeWidth))
    case (v, _) if v.startsWith("version") =>
      val d = v.stripPrefix("version").toInt
      val lo = gen.int(maxId - RangeWidth)
      Versioned(s"SELECT count(*) AS n, sum(agent_id) AS s FROM silver VERSION AS OF {v$d} " +
        s"WHERE call_id BETWEEN $lo AND ${lo + RangeWidth - 1}", d, lo)
    case ("history", _) => History("DESCRIBE HISTORY silver LIMIT 5")
    case ("merge", i) =>
      val ks = lake.keys(gen, 10)
      MergeW(Pipeline.UpsertSql.format(s"src_$i"), s"src_$i", ks, ks.map(_ => gen.row(Gen.FirstDate.getYear, Gen.FirstDate.getMonthValue)))
    case ("update", _) =>
      val ks = lake.keys(gen, 5); val a = 1 + gen.int(gen.Agents)
      UpdateW(s"UPDATE silver SET call_status = 'DROPPED', agent_id = $a WHERE call_id IN ${inList(ks)}",
        ks, a)
    case ("delete", _) =>
      val ks = lake.keys(gen, 5)
      DeleteW(s"DELETE FROM silver WHERE call_id IN ${inList(ks)}", ks)
  }.toIndexedSeq

  val warmupOps = 6

  def build(ctx: Ctx, dir: Path): Unit = {
    val p = LakePaths(dir.toString)
    lake.build(ctx, dir)
    templateVersion = CallCenterPipeline.silverTable(p).currentVersion
    // the Athena views read the template's gold tables, which no round writes
    AthenaQueries.registerViews(ctx.spark, p)
  }

  def checkTemplate(ctx: Ctx, dir: Path): Seq[String] = lake.check(ctx, dir)

  private def athenaWant(name: String): Seq[Seq[Any]] = {
    val daily = gold.daily.toSeq.sortBy(_._1)(Ordering[java.time.LocalDate].reverse)
    name match {
      case "daily_call_summary" => daily.take(10).map { case (d, s) =>
        Seq(d, s.total, s.completed, s.dropped, s.failed, s.rate) }
      case "agent_performance_overview" =>
        gold.agent.toSeq.sortBy { case ((d, a), _) => (-d.toEpochDay, a) }.take(20).map {
          case ((d, a), s) => Seq(a, d, s.total, s.completed, s.dropped, s.failed, s.rate) }
      case "daily_duration_metrics" =>
        gold.duration.toSeq.sortBy(_._1)(Ordering[java.time.LocalDate].reverse).take(10).map {
          case (d, x) => Seq(d, x.avg, x.min, x.max) }
      case "top_agents" =>
        gold.agent.groupBy(_._1._2).toSeq.map { case (a, xs) =>
          Seq(a, xs.values.map(_.rate).sum / xs.size) }.sortBy(r => -r(1).asInstanceOf[Double]).take(5)
      case "high_failure_days" => daily.filter(_._2.total > 0).map { case (d, s) =>
        Seq(d, s.failed, s.total, BigDecimal(s.failed * 100).bigDecimal
          .divide(java.math.BigDecimal.valueOf(s.total), 20, java.math.RoundingMode.HALF_UP)
          .setScale(2, java.math.RoundingMode.HALF_UP)) }
          .sortBy(r => -r(3).asInstanceOf[java.math.BigDecimal].doubleValue).take(10)
    }
  }

  private def norm(v: Any): Any = v match {
    case d: java.sql.Date => d.toLocalDate
    case d: java.math.BigDecimal => d.stripTrailingZeros
    case d: Double => BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    case other => other
  }

  private def sameRows(what: String, got: Seq[Row], want: Seq[Seq[Any]], ordered: Boolean): Option[String] = {
    val g = got.map(_.toSeq.map(norm)); val w = want.map(_.map(norm))
    val ok = if (ordered) g == w else g.sortBy(_.toString) == w.sortBy(_.toString)
    if (ok) None else Some(s"$what: got ${g.take(3)}…(${g.size}), want ${w.take(3)}…(${w.size})")
  }

  def round(ctx: Ctx, dir: Path): Round = new Round {
    private val p = LakePaths(dir.toString)
    private val table = CallCenterPipeline.silverTable(p)
    private val targets = Map("silver" -> table)
    private val ns = dir.getFileName.toString
    private val model: Model.Silver = mutable.HashMap.from(lake.silverAt(1))
    private var changed = 0L
    private var commits = 0L
    private val spark = ctx.spark
    private val tr = ctx.tr
    statements.collect { case m: MergeW =>
      spark.createDataFrame(m.keys.zip(m.rows).map { case (k, r) => Pipeline.toRow(k, r) }.asJava,
        table.schemaOf(table.currentVersion)).createOrReplaceTempView(m.view)
    }

    val tables: Seq[String] = Seq(p.silver)
    def rowsChanged: Long = changed

    private def read(name: String)(df: => DataFrame) = Pipeline.read(ctx, name)(df)

    /** Traced only: remember the live bytes behind a filtered connector or
      * catalog read; the harness divides the bytes its Spark jobs read by
      * them. (The connector's V1-bridge scan hides its files from
      * `Dataset.inputFiles`.)
      */
    private def scanned(): Unit = if (tr.on)
      ctx.layers.scans += ctx.layers.op ->
        table.filesOf(table.currentVersion).map(f => Main.fileBytes(p.silver, f)).sum

    private def inRange(lo: Int, m: collection.Map[Int, SRow]) =
      (lo until lo + RangeWidth).flatMap(k => m.get(k))
    private def agg(rs: Seq[Row]): (Long, Option[Long]) =
      (rs.head.getLong(0), if (rs.head.isNullAt(1)) None else Some(rs.head.getLong(1)))
    private def sums(xs: Seq[Int]): (Long, Option[Long]) =
      (xs.size.toLong, if (xs.isEmpty) None else Some(xs.map(_.toLong).sum))

    val ops: IndexedSeq[Op] = statements.map {
      case Athena(name) => Op("read", () => read("athena.run")(AthenaQueries.run(spark, name)),
        { case (_, rs: Seq[Row @unchecked]) =>
          if (name == "top_agents") {
            // ties leave the chosen agents free: check the ranked values, and
            // that each returned agent carries its own average
            val want = athenaWant(name)
            val avg = gold.agent.groupBy(_._1._2)
              .map { case (a, xs) => a -> norm(xs.values.map(_.rate).sum / xs.size) }
            val ok = rs.map(r => norm(r.getDouble(1))) == want.map(r => norm(r(1))) &&
              rs.forall(r => avg.get(r.getInt(0)).contains(norm(r.getDouble(1))))
            if (ok) None else Some(s"top_agents: got ${rs.map(_.toSeq)}, want $want")
          } else sameRows(name, rs, athenaWant(name), ordered = name != "high_failure_days")
        })
      case Point(sql, k, cat) => Op("read", () =>
        read(if (cat) "catalog.read" else "sqlapi.query") {
          if (cat) spark.sql(sql.replace("{ns}", ns)) else LakeSql.query(spark, sql, targets) },
        { case (_, rs: Seq[Row @unchecked]) =>
          if (cat) scanned()
          sameRows(s"point $k", rs, model.get(k).toSeq.map(r => Seq(k, r.caller, r.agent, r.status)),
            ordered = true)
        })
      case Range(sql, lo, cat) => Op("read", () =>
        read(if (cat) "catalog.read" else "sqlapi.query") {
          if (cat) spark.sql(sql.replace("{ns}", ns)) else LakeSql.query(spark, sql, targets) },
        { case (_, rs: Seq[Row @unchecked]) =>
          if (cat) scanned()
          val want = sums(inRange(lo, model).map(_.caller))
          if (agg(rs) == want) None else Some(s"range $lo: got ${agg(rs)}, want $want")
        })
      case ConnRange(lo) => Op("read", () =>
        read("sources.read") {
          spark.read.format("graft").load(p.silver)
            .where(col("call_id").between(lo, lo + RangeWidth - 1))
            .agg(count(lit(1)), sum(col("caller_id")))
        },
        { case (_, rs: Seq[Row @unchecked]) =>
          scanned()
          val want = sums(inRange(lo, model).map(_.caller))
          if (agg(rs) == want) None else Some(s"connector range $lo: got ${agg(rs)}, want $want")
        })
      case Versioned(sql, d, lo) => Op("read", () =>
        read("sqlapi.query")(LakeSql.query(spark, sql.replace(s"{v$d}", versionOf(d).toString), targets)),
        { case (_, rs: Seq[Row @unchecked]) =>
          val want = sums(inRange(lo, lake.silverAt(d)).map(_.agent))
          if (agg(rs) == want) None else Some(s"version ${versionOf(d)} range $lo: got ${agg(rs)}, want $want")
        })
      case History(sql) => Op("read", () => read("sqlapi.query")(LakeSql.query(spark, sql, targets)),
        { case (_, rs: Seq[Row @unchecked]) =>
          val top = templateVersion + commits
          val want = (top to math.max(0L, top - 4) by -1).toSeq
          val got = rs.map(_.getAs[Long]("version"))
          if (got == want) None else Some(s"history: versions $got, want $want")
        })
      case MergeW(sql, _, ks, rows) => Op("write", () =>
        tr.span("sqlapi.merge_into")(MergeInto.run(spark, sql, targets)),
        _ => {
          Pipeline.parseMerge(ctx, sql)
          ks.zip(rows).foreach { case (k, r) => model(k) = r }
          changed += ks.size; commits += 1
          None
        })
      case UpdateW(sql, ks, a) => Op("write", () => tr.span("sqlapi.run")(LakeSql.run(spark, sql, targets)),
        _ => {
          ks.foreach(k => model.get(k).foreach { r =>
            model(k) = r.copy(status = "DROPPED", agent = a); changed += 1 })
          commits += 1
          None
        })
      case DeleteW(sql, ks) => Op("write", () => tr.span("sqlapi.run")(LakeSql.run(spark, sql, targets)),
        _ => {
          ks.foreach(k => if (model.remove(k).nonEmpty) changed += 1)
          commits += 1
          None
        })
    }

    def finish(): Seq[String] = Pipeline.checkSilver(ctx, p.silver, model)
  }
}
