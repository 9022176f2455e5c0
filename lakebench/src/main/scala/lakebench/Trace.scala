package lakebench

import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Spans around the harness's calls into each engine layer, and a
  * SparkListener that charges every Spark job, task and task-second to
  * the span that submitted it.
  *
  * Disabled (the default) a span is a plain call: end-to-end numbers are
  * measured that way. Enabled, each span records name, start, end, parent
  * and the id of the top-level op it belongs to; the span id rides as a
  * Spark local property, so a job is charged to the span open on the
  * thread that submitted it — including a streaming query's micro-batch
  * thread, which inherits the property of the span that started it.
  * Spans stay in memory until [[write]].
  *
  * The stack is shared, not per thread: the client is one thread, and
  * the only other thread that opens spans (a foreachBatch body) runs
  * while the client is blocked inside its parent span.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextOp = 0
  private var listener: Option[JobListener] = None
  private var phase: Option[(Long, Long)] = None

  def enabled: Boolean = listener.isDefined

  /** Start recording: register the job listener and open the traced
    * phase whose wall the `spark` layer reports. */
  def start(): Unit = {
    val l = new JobListener
    sc.addSparkListener(l)
    listener = Some(l)
    phase = Some((System.nanoTime(), 0L))
  }

  /** Stop recording and wait until the listener has seen every event. */
  def stop(): Unit = listener.foreach { l =>
    phase = phase.map { case (s, _) => (s, System.nanoTime()) }
    org.apache.spark.LakebenchAccess.drainListenerBus(sc)
    sc.removeSparkListener(l)
  }

  /** A top-level op of kind `name`: a harness span with a fresh op id. */
  def op[T](name: String)(body: => T): T = {
    nextOp += 1
    span(Harness + "." + name, Some(nextOp))(body)
  }

  def span[T](name: String, opId: Option[Int] = None)(body: => T): T =
    if (!enabled) body
    else {
      val (s, prevProp) = synchronized {
        val parent = stack.headOption
        val s = Span(spans.size, name, parent.map(_.id).getOrElse(-1),
          opId.orElse(parent.map(_.op)).getOrElse(0), System.nanoTime())
        spans += s
        stack = s :: stack
        (s, sc.getLocalProperty(SpanProp))
      }
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        sc.setLocalProperty(SpanProp, prevProp)
        synchronized { stack = stack.filterNot(_ eq s) }
      }
    }

  /** Every span and job as JSON: what `--trace 1` leaves behind. */
  def write(path: java.nio.file.Path): Unit = {
    val jobs = listener.map(_.jobs.values.toSeq.sortBy(_.id)).getOrElse(Nil)
    val sb = new StringBuilder("{\"spans\":[")
    sb.append(spans.map(s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},"start_ns":${s.start},"end_ns":${s.end}}""")
      .mkString(","))
    sb.append("],\"jobs\":[")
    sb.append(jobs.map(j =>
      s"""{"id":${j.id},"span":${j.span},"start_ms":${j.startMs},"end_ms":${j.endMs},"tasks":${j.tasks},"task_ms":${j.taskMs}}""")
      .mkString(","))
    sb.append("]}\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path,
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Per-layer ledger over the traced phase: for each layer, calls,
    * wall, self (wall minus child spans), the jobs/tasks/task time its
    * spans submitted, and gap (self time during which no Spark job of
    * any span was running). Layer = span name up to its last `.`-free
    * part, i.e. the harness op kinds fold into one `harness` layer. */
  def ledger(): Ledger = {
    val l = listener.getOrElse(sys.error("trace was never started"))
    // wall-clock (ms) job intervals onto the spans' nanoTime axis
    val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
    val busy = merge(l.jobs.values.toSeq.collect {
      case j if j.endMs > 0 =>
        (j.startMs * 1000000L - offsetNs, j.endMs * 1000000L - offsetNs)
    })
    val children = spans.groupBy(_.parent)
    val rows = mutable.LinkedHashMap.empty[String, LayerRow]
    spans.foreach { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      val self = subtract(Seq((s.start, s.end)), merge(kids.toSeq))
      val selfNs = self.map { case (a, b) => b - a }.sum
      val gapNs = selfNs - covered(self, busy)
      val js = l.jobs.values.filter(_.span == s.id)
      val row = rows.getOrElseUpdate(layerOf(s.name), LayerRow())
      row.calls += 1
      row.wallNs += s.end - s.start
      row.selfNs += selfNs
      row.gapNs += gapNs
      row.jobs += js.size
      row.tasks += js.map(_.tasks).sum
      row.taskMs += js.map(_.taskMs).sum
    }
    val (p0, p1) = phase.get
    val all = l.jobs.values
    val sparkRow = LayerRow(calls = 1, wallNs = p1 - p0, selfNs = 0,
      gapNs = (p1 - p0) - covered(Seq((p0, p1)), busy),
      jobs = all.size, tasks = all.map(_.tasks).sum,
      taskMs = all.map(_.taskMs).sum)
    val opWallNs = spans.filter(_.parent < 0).map(s => s.end - s.start).sum
    Ledger(rows.toMap, sparkRow, opWallNs, spans.size)
  }
}

object Trace {
  val SpanProp = "lakebench.span"
  val Harness = "harness"

  final case class Span(id: Int, name: String, parent: Int, op: Int,
      start: Long, var end: Long = 0L)

  final case class Job(id: Int, span: Int, startMs: Long,
      var endMs: Long = 0L, var tasks: Int = 0, var taskMs: Long = 0L)

  final case class LayerRow(var calls: Int = 0, var wallNs: Long = 0L,
      var selfNs: Long = 0L, var gapNs: Long = 0L, var jobs: Int = 0,
      var tasks: Int = 0, var taskMs: Long = 0L)

  /** `opWallNs`: summed wall of the top-level op spans, which the layers'
    * self times (harness included) must add up to. */
  final case class Ledger(layers: Map[String, LayerRow], spark: LayerRow,
      opWallNs: Long, spans: Int)

  /** `harness.ingest` -> `harness`; `SnapshotTable.commit` stays. */
  def layerOf(name: String): String =
    if (name.startsWith(Harness + ".")) Harness else name

  private final class JobListener extends SparkListener {
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    private val stageJob = mutable.HashMap.empty[Int, Job]
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p =>
        Option(p.getProperty(SpanProp))).map(_.toInt).getOrElse(-1)
      val j = Job(e.jobId, span, e.time)
      jobs(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        j.taskMs += Option(e.taskMetrics).map(_.executorRunTime)
          .getOrElse(e.taskInfo.duration)
      }
  }

  /** Sorted, disjoint union of intervals. */
  def merge(xs: Seq[(Long, Long)]): Vector[(Long, Long)] =
    xs.filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft(Vector.empty[(Long, Long)]) {
        case (acc :+ ((a, b)), (c, d)) if c <= b => acc :+ ((a, math.max(b, d)))
        case (acc, x) => acc :+ x
      }

  /** `xs` minus the sorted disjoint `cut`. */
  def subtract(xs: Seq[(Long, Long)], cut: Vector[(Long, Long)])
      : Seq[(Long, Long)] =
    xs.flatMap { case (a0, b) =>
      val out = mutable.ArrayBuffer.empty[(Long, Long)]
      var a = a0
      cut.foreach { case (c, d) =>
        if (d > a && c < b) {
          if (c > a) out += ((a, c))
          a = math.max(a, d)
        }
      }
      if (b > a) out += ((a, b))
      out
    }

  /** Length of `xs` covered by the sorted disjoint `busy`. */
  def covered(xs: Seq[(Long, Long)], busy: Vector[(Long, Long)]): Long =
    xs.map { case (a, b) =>
      val total = b - a
      total - subtract(Seq((a, b)), busy).map { case (c, d) => d - c }.sum
    }.sum
}
