package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A recorded interval. Times are epoch microseconds so benchmark spans
  * line up with Spark listener events (epoch milliseconds). `parent` is
  * the enclosing span's id (-1 at the top), `op` the timed operation the
  * span belongs to (-1 outside any).
  */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, op: Int,
                      callSite: String = "", tasks: Long = 0, execMs: Long = 0,
                      bytesRead: Long = 0) {
  def dur: Long = end - start
}

/** Spans around each public layer call, plus Spark jobs as child spans
  * (from a listener the benchmark owns) and Catalyst phase times (from a
  * QueryExecutionListener). Everything stays in memory until [[write]].
  * With tracing off the benchmark uses [[Tracer.Off]], whose `span` only
  * runs its body.
  */
class Tracer {
  def span[T](name: String)(body: => T): T = body
  def op[T](id: Int, name: String)(body: => T): T = body
  def on: Boolean = false
}

object Tracer {
  object Off extends Tracer

  def nowMicros(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
}

final class SpanTracer(spark: SparkSession) extends Tracer {
  override def on: Boolean = true

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var currentOp = -1

  override def span[T](name: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = Tracer.nowMicros()
    try body
    finally {
      stack = stack.tail
      spans += Span(id, name, t0, Tracer.nowMicros(), parent, currentOp)
    }
  }

  override def op[T](id: Int, name: String)(body: => T): T = {
    currentOp = id
    try span(name)(body) finally currentOp = -1
  }

  private final case class Job(id: Int, start: Long, stages: Seq[Int], callSite: String)
  private val jobStarts = new ConcurrentLinkedQueue[Job]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private final case class StageAgg(tasks: Long, execMs: Long, bytesRead: Long)
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()
  /** (epoch ms at completion, phase → ms) per Catalyst-tracked execution */
  private val phases = new ConcurrentLinkedQueue[(Long, Map[String, Long])]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      // a job's call site is its final stage's name, e.g. "collect at MergeTable.scala:1580"
      val cs = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      jobStarts.add(Job(e.jobId, e.time, e.stageInfos.map(_.stageId), cs))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.put(e.jobId, e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      stages.put(i.stageId, StageAgg(i.numTasks.toLong,
        if (m == null) 0L else m.executorRunTime,
        if (m == null) 0L else m.inputMetrics.bytesRead))
    }
  }
  private val qel = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      phases.add((System.currentTimeMillis(),
        qe.tracker.phases.map { case (p, s) => p -> (s.endTimeMs - s.startTimeMs) }.toMap))
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }
  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qel)

  /** Detach the listeners once the bus has delivered every finished job. */
  def close(): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    while (jobStarts.asScala.exists(j => !jobEnds.containsKey(j.id)) &&
      System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(200)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qel)
  }

  /** Benchmark spans plus one child span per Spark job, parented to the
    * innermost benchmark span that was open when the job started.
    */
  lazy val all: Seq[Span] = {
    val mine = spans.toSeq
    var id = nextId
    val jobs = jobStarts.asScala.toSeq.sortBy(_.start).flatMap { j =>
      Option(jobEnds.get(j.id)).map { endMs =>
        val s = j.start * 1000; val e = endMs * 1000
        val owner = mine.filter(p => p.start <= s + 999 && s <= p.end)
          .sortBy(p => -p.start).headOption
        val agg = j.stages.flatMap(st => Option(stages.get(st)))
        id += 1
        Span(id, "spark.job", s, math.max(s, e), owner.map(_.id).getOrElse(-1),
          owner.map(_.op).getOrElse(-1), j.callSite, agg.map(_.tasks).sum,
          agg.map(_.execMs).sum, agg.map(_.bytesRead).sum)
      }
    }
    mine ++ jobs
  }

  def opSpans: Seq[Span] = all.filter(s => s.parent == -1 && s.op >= 0)

  /** Spans anywhere under `root` (not including it). */
  def under(root: Span): Seq[Span] = {
    val kids = all.groupBy(_.parent)
    def go(id: Int): Seq[Span] = kids.getOrElse(id, Nil).flatMap(c => c +: go(c.id))
    go(root.id)
  }

  /** Length of the union of `xs` clipped to [lo, hi]. */
  def covered(xs: Seq[Span], lo: Long, hi: Long): Long = {
    var total = 0L; var cursor = lo
    xs.sortBy(_.start).foreach { s =>
      val a = math.max(s.start, cursor); val b = math.min(s.end, hi)
      if (b > a) { total += b - a; cursor = b }
    }
    total
  }

  /** Self time per span name (µs): duration minus what direct children cover. */
  def selfMicros: Map[String, Long] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.dur - covered(kids.getOrElse(s.id, Nil), s.start, s.end)).sum
    }
  }

  /** Catalyst phase ms summed over executions that finished inside `s`. */
  def phaseMs(s: Span): Map[String, Long] =
    phases.asScala.toSeq.filter { case (t, _) => t * 1000 >= s.start - 999 && t * 1000 <= s.end + 999 }
      .flatMap(_._2).groupMapReduce(_._1)(_._2)(_ + _)

  /** Write every span as one JSON line, once, at the end of the run. */
  def write(path: Path): Unit = {
    val lines = all.map { s =>
      Json.obj(Seq("id" -> s.id, "name" -> s.name, "start_us" -> s.start, "end_us" -> s.end,
        "parent" -> s.parent, "op" -> s.op, "call_site" -> s.callSite, "tasks" -> s.tasks,
        "executor_ms" -> s.execMs, "bytes_read" -> s.bytesRead))
    }
    Files.write(path, lines.asJava)
  }
}

/** Heap peak and GC time over the measured phase. */
final class JvmStats {
  private val heap = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private var gc0 = 0L
  def start(): Unit = { heap.foreach(_.resetPeakUsage()); gc0 = gcMs }
  private def gcMs: Long = gcs.map(_.getCollectionTime.max(0L)).sum
  def heapPeakMb: Double = heap.map(_.getPeakUsage.getUsed).sum / 1048576.0
  def gcSince: Double = (gcMs - gc0).toDouble
}
