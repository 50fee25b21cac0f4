package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.pipeline.CallCenterPipeline
import graft.pipeline.CallCenterPipeline.LakePaths
import graft.sqlapi.LakeSql

/** Small commits through the Scala API on the template's silver table,
  * opened like `CallCenterPipeline.silverTable` (partitioned, no key
  * stats): `merge` of 1–50 keys, `update` by key and `delete` by key. Keys
  * are mostly recent `call_id`s from the ingested day (a few new, so
  * merges insert too), plus a minority of uniformly old ones from the
  * history (late re-deliveries). A round is `OpsPerRound` commits from
  * silver version 1, so it crosses a checkpoint
  * (`MergeTable.CheckpointEvery` = 10).
  */
final class SmallDml(seed: Long, ctx: Ctx) extends Workload {
  val OpsPerRound = 12

  private val gen = new Gen(seed)
  private val lake = new LakeTemplate(gen, ctx.work)
  private val month = (Gen.FirstDate.getYear, Gen.FirstDate.getMonthValue)

  private sealed trait Dml { def keys: Seq[Int] }
  private final case class Merge(keys: Seq[Int], rows: Seq[SRow]) extends Dml
  private final case class Update(keys: Seq[Int], agent: Int) extends Dml
  private final case class Delete(keys: Seq[Int]) extends Dml

  /** Keys per op, in a fixed order: seeds change which rows are hit, not
    * how much work a round does.
    */
  private val KeyCounts = Seq(1, 50, 3, 20, 5, 10, 2, 30, 8, 15, 4, 40)

  /** Kinds in a fixed merge, update, merge, delete cycle. */
  private val stream: IndexedSeq[Dml] = (0 until OpsPerRound).map { i =>
    val ks = lake.keys(gen, KeyCounts(i % KeyCounts.size))
    i % 4 match {
      case 0 | 2 => Merge(ks, ks.map(_ => gen.row(month._1, month._2)))
      case 1 => Update(ks, 1 + gen.int(gen.Agents))
      case _ => Delete(ks)
    }
  }

  val warmupOps = 2

  def build(ctx: Ctx, dir: Path): Unit = lake.build(ctx, dir)
  def checkTemplate(ctx: Ctx, dir: Path): Seq[String] = lake.check(ctx, dir)

  def round(ctx: Ctx, dir: Path): Round = new Round {
    private val p = LakePaths(dir.toString)
    private val table = CallCenterPipeline.silverTable(p)
    private val model: Model.Silver = mutable.HashMap.from(lake.silverAt(1))
    private var changed = 0L
    private val spark = ctx.spark
    private val tr = ctx.tr

    val tables: Seq[String] = Seq(p.silver)
    def rowsChanged: Long = changed

    val ops: IndexedSeq[Op] = stream.map { dml =>
      val byKey = col("call_id").isin(dml.keys: _*)
      dml match {
        case Merge(ks, rows) => Op("write", () => {
          val src = spark.createDataFrame(
            ks.zip(rows).map { case (k, r) => Pipeline.toRow(k, r) }.asJava, Pipeline.SilverSchema)
          tr.span("lake.merge")(table.merge(spark, src, Seq("call_id")))
        }, _ => {
          // the SQL twin of this merge, parsed standalone (traced runs)
          Pipeline.parseMerge(ctx, Pipeline.UpsertSql.format("batch"))
          ks.zip(rows).foreach { case (k, r) => model(k) = r }
          changed += ks.size
          None
        })
        case Update(ks, agent) => Op("write", () => {
          tr.span("lake.update")(table.update(spark, byKey,
            Map("call_status" -> lit("FAILED"), "agent_id" -> lit(agent))))
        }, _ => {
          ks.foreach(k => model.get(k).foreach { r =>
            model(k) = r.copy(status = "FAILED", agent = agent); changed += 1 })
          None
        })
        case Delete(ks) => Op("write", () => {
          tr.span("lake.delete")(table.delete(spark, byKey))
        }, _ => {
          ks.foreach(k => if (model.remove(k).nonEmpty) changed += 1)
          None
        })
      }
    }

    /** The final state, read back through the SQL API. */
    def finish(): Seq[String] = {
      val (_, rows) = Pipeline.read(ctx, "sqlapi.query")(LakeSql.query(spark,
        s"SELECT ${Pipeline.SilverSchema.fieldNames.mkString(", ")} FROM silver", Map("silver" -> table)))
      Pipeline.checkSilver(Pipeline.silverRows(rows.toArray), model)
    }
  }
}
