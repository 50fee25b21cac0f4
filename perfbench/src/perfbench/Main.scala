package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.lake.MergeTable

/** One timed operation. `run` is the only timed part; `after` runs
  * untimed: it applies the operation's effect to the reference model,
  * checks `run`'s result against it, and returns an error if any.
  */
final case class Op(kind: String, run: () => Any, after: Any => Option[String])

/** A fixed list of operations over a fresh copy of the template lake. */
trait Round {
  def ops: IndexedSeq[Op]
  /** MergeTable roots the operations write. */
  def tables: Seq[String]
  /** Rows the operations applied so far changed, according to the model. */
  def rowsChanged: Long
  /** Source rows the operations applied so far carried (ingest only). */
  def sourceRows: Long = 0
  /** End-of-round state check against the model; one message per mismatch. */
  def finish(): Seq[String]
}

/** Per-layer samples recorded by a traced run. */
final class Layers {
  val xs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Id of the operation running now (set by the harness). */
  var op = -1
  /** (op id, live bytes of the table read) of filtered connector/catalog reads */
  val scans = mutable.ArrayBuffer.empty[(Int, Long)]
  def add(k: String, v: Double): Unit = xs.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
  def median(k: String): Double = xs.get(k).map(b => Stats.median(b.toSeq)).getOrElse(0.0)
  def mean(k: String): Double = xs.get(k).map(b => Stats.mean(b.toSeq)).getOrElse(0.0)
}

final class Ctx(val spark: SparkSession, val tr: Tracer, val layers: Layers, val work: Path)

trait Workload {
  /** Build the template lake in `dir` (repeated for `setup_s`). */
  def build(ctx: Ctx, dir: Path): Unit
  /** The template in `dir` against the model; one message per mismatch. */
  def checkTemplate(ctx: Ctx, dir: Path): Seq[String]
  /** A round over `dir`, which already holds a copy of the template. */
  def round(ctx: Ctx, dir: Path): Round
  /** Operations of a throwaway round run before timing starts. */
  def warmupOps: Int
}

object Main {
  val Workloads = Seq("daily_ingest", "small_dml", "sql_mixed")
  /** Template builds per run; `setup_s` reports their median. */
  val Builds = 3
  val CatalogName = "graft_cat"

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, cpus: Int, traceOut: Path)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload '$w' (known: ${Workloads.mkString(", ")})")
    Args(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")), m.get("cpus").map(_.toInt).getOrElse(4),
      Paths.get(m.getOrElse("trace-out", need("work") + "/trace.jsonl")))
  }

  def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim.split(' ').take(3).mkString(" ")
    catch { case NonFatal(_) => "" }

  def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally walk.close()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally walk.close()
  }

  def treeBytes(p: Path): Long = {
    val walk = Files.walk(p)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally walk.close()
  }

  /** A fresh commit-log handle: version, live files, schema. */
  def openLog(root: String): (Long, Set[String]) = {
    val t = new MergeTable(root)
    val v = t.currentVersion
    val files = t.filesOf(v).toSet
    t.schemaOf(v)
    (v, files)
  }

  def fileBytes(root: String, f: String): Long = Files.size(Paths.get(root, f))

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val load0 = loadavg()
    Files.createDirectories(a.work)
    val rounds = a.work.resolve("rounds")
    Files.createDirectories(rounds)

    val w0 = System.nanoTime()
    val spark = graft.Sessions.builder(a.cpus.toString)
      .config(s"spark.sql.catalog.$CatalogName", "graft.sources.GraftCatalog")
      .config(s"spark.sql.catalog.$CatalogName.warehouse", rounds.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - w0) / 1e9

    val tracer = if (a.trace) new SpanTracer(spark) else Tracer.Off
    val layers = new Layers
    val ctx = new Ctx(spark, tracer, layers, a.work)
    val jvm = new JvmStats

    val w: Workload = a.workload match {
      case "daily_ingest" => new DailyIngest(a.seed, ctx)
      case "small_dml" => new SmallDml(a.seed, ctx)
      case "sql_mixed" => new SqlMixed(a.seed, ctx)
    }

    // ---- setup: template builds (median) + a throwaway warm-up round ----
    val buildS = (1 to Builds).map { i =>
      val dir = a.work.resolve(s"template$i")
      val t0 = System.nanoTime()
      w.build(ctx, dir)
      val s = (System.nanoTime() - t0) / 1e9
      if (i > 1) deleteTree(a.work.resolve(s"template${i - 1}"))
      s
    }
    val template = a.work.resolve(s"template$Builds")
    val t0 = System.nanoTime()
    val wdir = rounds.resolve("warmup")
    copyTree(template, wdir)
    val wr = w.round(new Ctx(spark, Tracer.Off, new Layers, a.work), wdir)
    wr.ops.take(w.warmupOps).foreach(o => o.after(o.run()))
    val warmS = (System.nanoTime() - t0) / 1e9
    deleteTree(wdir)
    val setupS = sessionS + Stats.median(buildS) + warmS
    val templateErrors = try w.checkTemplate(ctx, template) catch {
      case NonFatal(e) => Seq(s"template check threw: $e")
    }

    // ---- timed phase: whole rounds until `seconds` of op time have passed,
    // so every run does the same mix of operations ----
    val limitNs = a.seconds * 1000000000L
    val lat = mutable.ArrayBuffer.empty[(String, Double)]
    var timedNs = 0L
    var attempted = 0L
    var failed = if (templateErrors.isEmpty) 0L else 1L
    val errors = mutable.ArrayBuffer.from(templateErrors.map("template: " + _))
    var bytesAdded, rowsChanged, sourceRows = 0L
    val lakeRatio = mutable.ArrayBuffer.empty[Double]
    var lastLog: Seq[(Long, Set[String])] = Nil
    var opId = 0
    var k = 0
    jvm.start()
    while (k == 0 || timedNs < limitNs) {
      val dir = rounds.resolve(s"r$k")
      copyTree(template, dir)
      val r = w.round(ctx, dir)
      val v0 = r.tables.map(t => new MergeTable(t).currentVersion)
      r.ops.foreach { op =>
        val before = if (tracer.on) r.tables.map(t => timedOpen(layers, t)) else Nil
        layers.op = opId
        val t0 = System.nanoTime()
        val res = try Right(tracer.op(opId, s"op.${op.kind}")(op.run())) catch {
          case NonFatal(e) => Left(e)
        }
        val dt = System.nanoTime() - t0
        timedNs += dt
        lat += op.kind -> dt / 1e6
        attempted += 1
        val err = res match {
          case Left(e) => Some(s"op $opId (${op.kind}) threw: $e")
          case Right(v) => try op.after(v) catch { case NonFatal(e) => Some(s"op $opId check threw: $e") }
        }
        err.foreach { e => failed += 1; errors += e }
        if (tracer.on && op.kind != "read") {
          val after = r.tables.map(t => timedOpen(layers, t))
          val removed = before.zip(after).map { case (b, a) => (b._2 -- a._2).size }.sum
          val live = before.map(_._2.size).sum
          val added = before.zip(after).zip(r.tables).flatMap { case ((b, a), t) =>
            (a._2 -- b._2).toSeq.map(f => fileBytes(t, f)) }
          layers.add("lake.scope.touched_ratio", if (live == 0) 0.0 else removed.toDouble / live)
          layers.add("lake.write.files_added_per_op", added.size)
          layers.add("lake.write.bytes_added_per_op", added.sum.toDouble)
        }
        opId += 1
      }
      val mismatches = try r.finish() catch { case NonFatal(e) => Seq(s"round $k check threw: $e") }
      if (mismatches.nonEmpty) { failed += 1; errors ++= mismatches.map(m => s"round $k: $m") }
      var liveBytes, lakeBytes = 0L
      r.tables.zip(v0).foreach { case (t, from) =>
        val mt = new MergeTable(t)
        val to = mt.currentVersion
        val written = ((from + 1) to to).flatMap(v => mt.filesOf(v).toSet -- mt.filesOf(v - 1)).toSet
        bytesAdded += written.toSeq.map(f => fileBytes(t, f)).sum
        liveBytes += mt.filesOf(to).map(f => fileBytes(t, f)).sum
        lakeBytes += treeBytes(Paths.get(t))
      }
      rowsChanged += r.rowsChanged
      sourceRows += r.sourceRows
      lakeRatio += lakeBytes.toDouble / liveBytes
      lastLog = r.tables.map(openLog)
      deleteTree(dir)
      k += 1
    }
    val timedS = timedNs / 1e9
    val heapMb = jvm.heapPeakMb
    val gcMs = jvm.gcSince

    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "op_p50_ms" -> (Stats.median(lat.map(_._2).toSeq), "ms"),
      "bytes_written_per_row" -> (bytesAdded.toDouble / math.max(1L, rowsChanged), "B/row"),
      "lake_bytes_per_live_byte" -> (Stats.median(lakeRatio.toSeq), "ratio"))

    // per-kind figures (days, commits, reads), reported beside the gated ones
    def kind(k: String) = lat.filter(_._1 == k).map(_._2).toSeq
    val extra = mutable.LinkedHashMap.empty[String, Any]
    def latency(prefix: String, xs: Seq[Double]): Unit = if (xs.nonEmpty) {
      extra(s"${prefix}_n") = xs.size
      extra(s"${prefix}_p50_ms") = Stats.median(xs)
      Stats.tail(xs).foreach { case (p, v) => extra(s"${prefix}_tail_ms") = v; extra(s"${prefix}_tail_pct") = p }
      extra(s"${prefix}s_per_s") = xs.size / (xs.sum / 1000)
    }
    if (kind("day").nonEmpty) {
      extra("day_p50_s") = Stats.median(kind("day")) / 1000
      extra("days") = kind("day").size
      extra("ingest_rows_per_s") = sourceRows / (kind("day").sum / 1000)
    }
    latency("commit", kind("write"))
    latency("read", kind("read"))
    extra("ops_per_s") = lat.size / timedS
    extra("error_rate") = failed.toDouble / math.max(1L, attempted)
    extra("rounds") = k
    extra("bytes_written") = bytesAdded
    extra("rows_changed") = rowsChanged
    extra("op_ms") = lat.map(x => math.round(x._2 * 10) / 10.0)
    extra("timed_s") = timedS
    extra("session_s") = sessionS
    extra("build_s") = buildS
    extra("warmup_s") = warmS
    extra("jvm.heap_peak_mb") = heapMb
    extra("jvm.gc_ms") = gcMs

    val perLayer: Seq[(String, (Double, String))] =
      if (!a.trace) Nil
      else {
        val st = tracer.asInstanceOf[SpanTracer]
        st.close()
        layerMetrics(st, layers, lastLog, heapMb, gcMs)
      }
    if (a.trace) {
      val st = tracer.asInstanceOf[SpanTracer]
      val tracePath = a.traceOut
      Files.createDirectories(tracePath.getParent)
      st.write(tracePath)
      extra("trace_file") = tracePath.toString
      extra("self_ms") = st.selfMicros.map { case (n, us) => n -> us / 1000.0 }
    }

    val shown = if (a.trace) perLayer else e2e
    val record = Seq(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> (if (a.trace) 1 else 0),
      "cpus" -> a.cpus, "commit" -> sys.props.getOrElse("perfbench.commit", "unknown"),
      "loadavg_before" -> load0, "loadavg_after" -> loadavg(),
      "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metricMap(e2e ++ perLayer),
      "extra" -> extra)
    errors.take(20).foreach(e => System.err.println(s"[perfbench] $e"))
    spark.stop()
    println(Json.obj(record))
    println(Json.obj(Seq(
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metricMap(shown))))
  }

  private def metricMap(ms: Seq[(String, (Double, String))]): ListMap[String, Any] =
    ListMap.from(ms.map { case (n, (v, u)) => n -> ListMap("value" -> v, "unit" -> u) })

  private def timedOpen(layers: Layers, root: String): (Long, Set[String]) = {
    val t0 = System.nanoTime()
    val r = openLog(root)
    layers.add("lake.log.open_ms", (System.nanoTime() - t0) / 1e6)
    r
  }

  /** Every per-layer metric; a layer the workload never calls reads 0. */
  def layerMetrics(st: SpanTracer, l: Layers, lastLog: Seq[(Long, Set[String])],
                   heapMb: Double, gcMs: Double): Seq[(String, (Double, String))] = {
    val ops = st.opSpans
    val perOp = ops.map { o =>
      val jobs = st.under(o).filter(_.name == "spark.job")
      (o, jobs, st.phaseMs(o))
    }
    def opMean(f: ((Span, Seq[Span], Map[String, Long])) => Double) = Stats.mean(perOp.map(f))
    val writes = perOp.filter(_._1.name != "op.read")
    def spanMedian(n: String) = Stats.median(st.all.filter(_.name == n).map(_.dur / 1000.0)) match {
      case d if d.isNaN => 0.0
      case d => d
    }
    Seq(
      "pipeline.silver_ms" -> (spanMedian("pipeline.silver"), "ms"),
      "pipeline.gold_ms" -> (spanMedian("pipeline.gold"), "ms"),
      "dq.validate_ms" -> (l.median("dq.validate_ms"), "ms"),
      "dq.reject_ratio" -> (l.mean("dq.reject_ratio"), "ratio"),
      "gold.aggregate_ms" -> (l.median("gold.aggregate_ms"), "ms"),
      "lake.log.open_ms" -> (l.median("lake.log.open_ms"), "ms"),
      "lake.log.versions" -> (lastLog.map(_._1 + 1).sum.toDouble, "count"),
      "lake.log.manifest_files" -> (lastLog.map(_._2.size).sum.toDouble, "count"),
      "lake.scope.touched_ratio" -> (l.mean("lake.scope.touched_ratio"), "ratio"),
      "lake.write.files_added_per_op" -> (l.mean("lake.write.files_added_per_op"), "count"),
      "lake.write.bytes_added_per_op" -> (l.mean("lake.write.bytes_added_per_op"), "B"),
      "lake.driver_self_ms_per_op" -> (Stats.mean(writes.map { case (o, jobs, _) =>
        (o.dur - st.covered(jobs, o.start, o.end)) / 1000.0 }), "ms"),
      "spark.jobs_per_op" -> (opMean(_._2.size.toDouble), "count"),
      "spark.tasks_per_op" -> (opMean(_._2.map(_.tasks).sum.toDouble), "count"),
      "spark.executor_ms_per_op" -> (opMean(_._2.map(_.execMs).sum.toDouble), "ms"),
      "spark.bytes_read_per_op" -> (opMean(_._2.map(_.bytesRead).sum.toDouble), "B"),
      "sqlapi.plan_ms" -> (spanMedian("sqlapi.plan"), "ms"),
      "sqlapi.exec_ms" -> (spanMedian("sqlapi.exec"), "ms"),
      "sqlapi.analysis_ms" -> (opMean(_._3.getOrElse("analysis", 0L).toDouble), "ms"),
      "sqlapi.optimization_ms" -> (opMean(_._3.getOrElse("optimization", 0L).toDouble), "ms"),
      "sqlapi.planning_ms" -> (opMean(_._3.getOrElse("planning", 0L).toDouble), "ms"),
      "sqlapi.merge_parse_ms" -> (l.median("sqlapi.merge_parse_ms"), "ms"),
      "sources.bytes_scanned_ratio" -> (Stats.mean(l.scans.toSeq.flatMap { case (id, live) =>
        perOp.find(_._1.op == id).map(_._2.map(_.bytesRead).sum.toDouble / live) }), "ratio"),
      "jvm.heap_peak_mb" -> (heapMb, "MB"),
      "jvm.gc_ms" -> (gcMs, "ms"))
  }
}
