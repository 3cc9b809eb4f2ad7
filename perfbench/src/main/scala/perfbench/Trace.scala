package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval. `parent` is 0 for a root span. Spark jobs become
  * spans named `spark.job` whose parent is the bench span that launched
  * them (local property [[Trace.SpanProp]]) or, for jobs a streaming query
  * runs on its own thread, the `streaming.batch` span of that micro-batch
  * (local property `streaming.sql.batchId`). */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long,
    run: String)

/** In-memory span recorder. Disabled (the default), [[span]] only runs its
  * body: the timed, untraced runs pay one volatile read per call. */
object Trace {
  val SpanProp = "perfbench.span"

  @volatile var enabled = false
  var runId = "run"
  private val ids = new AtomicLong(0)
  private val done = mutable.ArrayBuffer[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  @volatile private var sc: SparkContext = _

  def attach(context: SparkContext): Unit = sc = context

  def newId(): Long = ids.incrementAndGet()
  def current: Long = stack.get().headOption.getOrElse(0L)
  def record(s: Span): Unit = done.synchronized { done += s }
  def spans: Seq[Span] = done.synchronized { done.toList }
  /** Id of the most recently started span named `name`. */
  def last(name: String): Long = spans.filter(_.name == name).maxBy(_.startNs).id

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      val parent = current
      stack.set(id :: stack.get())
      val prop = if (sc != null) sc.getLocalProperty(SpanProp) else null
      if (sc != null) sc.setLocalProperty(SpanProp, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        record(Span(id, parent, name, t0, System.nanoTime(), runId))
        stack.set(stack.get().tail)
        if (sc != null) sc.setLocalProperty(SpanProp, prop)
      }
    }

  /** Length of the union of `[s, e)` intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }

  /** Self time of every span: its duration minus the part of its interval
    * covered by its child spans (jobs included). */
  def selfTimes(all: Seq[Span]): Map[Long, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))).filter(i => i._2 > i._1)
      s.id -> ((s.endNs - s.startNs) - (if (cs.isEmpty) 0L else covered(cs)))
    }.toMap
  }

  /** Spans below `root` (transitively), root excluded. */
  def descendants(all: Seq[Span], root: Long): Seq[Span] = {
    val kids = all.groupBy(_.parent)
    val out = mutable.ArrayBuffer[Span]()
    var frontier = List(root)
    while (frontier.nonEmpty) {
      val next = frontier.flatMap(id => kids.getOrElse(id, Nil))
      out ++= next
      frontier = next.map(_.id)
    }
    out.toSeq
  }

  /** The `bench.*` root spans and everything below them: drops the jobs
    * and micro-batches of untraced rounds, which have no bench span. */
  def benchSpans(all: Seq[Span]): Seq[Span] = {
    val roots = all.filter(s => s.parent == 0 && s.name.startsWith("bench."))
    val keep = roots.map(_.id).toSet ++ roots.flatMap(r => descendants(all, r.id)).map(_.id)
    all.filter(s => keep.contains(s.id))
  }

  /** Spans as JSON lines (one object each), with their self time. */
  def toJsonLines(all: Seq[Span]): Seq[String] = {
    val self = selfTimes(all)
    all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"self_ns":${self(s.id)},"run":"${s.run}"}"""
    }
  }
}

/** Engine counters attributed to the bench span that was open when each
  * job started (0 in untraced rounds). Registered only in a traced run. */
final class SparkCounters extends SparkListener {
  final class Acc {
    var jobs = 0L
    var tasks = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var gcMs = 0L
    var runMs = 0L
    var cpuNs = 0L
    var waitMs = 0L
    var outputBytes = 0L
    var inputBytes = 0L
  }

  private val jobStart = mutable.HashMap[Int, (Long, Long)]() // job -> (span, t0)
  private val stageSpan = mutable.HashMap[Int, Long]()
  private val stageSubmitMs = mutable.HashMap[Int, Long]()
  private val stageTaskMs = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()
  private val bySpan = mutable.HashMap[Long, Acc]()
  private val batchSpans = mutable.HashMap[String, Long]() // "<query>/<batch>" -> span

  def acc(span: Long): Acc = synchronized { bySpan.getOrElseUpdate(span, new Acc) }
  def accs: Map[Long, Acc] = synchronized { bySpan.toMap }

  /** Worst stage's max ÷ median task run time, over the stages of ≥ 2
    * tasks whose job was attributed to one of `spans`. */
  def taskSkew(spans: Set[Long]): Double = synchronized {
    val stages = stageTaskMs.filter { case (st, ts) => ts.size >= 2 && spans.contains(stageSpan.getOrElse(st, 0L)) }
    val ratios = stages.values.map { ts =>
      val sorted = ts.sorted
      val med = math.max(1L, sorted(sorted.size / 2))
      sorted.last.toDouble / med
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }

  /** True once every started job has ended. */
  def idle: Boolean = synchronized { jobStart.isEmpty }

  def streamBatchSpan(query: String, batch: String): Long = synchronized {
    batchSpans.getOrElseUpdate(s"$query/$batch", Trace.newId())
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = e.properties
    def prop(k: String) = Option(props).flatMap(p => Option(p.getProperty(k)))
    val span = prop("streaming.sql.batchId") match {
      case Some(b) => streamBatchSpan(prop("sql.streaming.queryId").getOrElse("q"), b)
      case None => prop(Trace.SpanProp).map(_.toLong).getOrElse(0L)
    }
    jobStart(e.jobId) = (span, System.nanoTime())
    e.stageIds.foreach(s => stageSpan(s) = span)
    acc(span).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (span, t0) =>
      Trace.record(Span(Trace.newId(), span, "spark.job", t0, System.nanoTime(), Trace.runId))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmitMs(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = acc(stageSpan.getOrElse(e.stageId, 0L))
      a.tasks += 1
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.gcMs += m.jvmGCTime
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.outputBytes += m.outputMetrics.bytesWritten
      a.inputBytes += m.inputMetrics.bytesRead
      stageSubmitMs.get(e.stageId).foreach(s => a.waitMs += math.max(0L, e.taskInfo.launchTime - s))
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) += m.executorRunTime
    }
  }
}

/** One micro-batch's progress: `batchDuration`, `durationMs("addBatch")`
  * and `numInputRows`. */
final case class Batch(query: String, run: String, batchId: Long, durationMs: Long,
    addBatchMs: Long, inputRows: Long)

/** Per-micro-batch progress of every streaming query, plus a
  * `streaming.batch` span per batch (start = progress timestamp,
  * length = batchDuration) parented to the bench span open when the query
  * was started. */
final class StreamCounters(counters: Option[SparkCounters]) extends StreamingQueryListener {
  private val batches = mutable.ArrayBuffer[Batch]()
  @volatile var parentSpan = 0L

  def all: Seq[Batch] = synchronized { batches.toList }
  def spanOf(b: Batch): Long = counters.fold(0L)(_.streamBatchSpan(b.query, b.batchId.toString))

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    def ms(k: String): Long = if (d.containsKey(k)) d.get(k).longValue() else 0L
    // an AvailableNow query reports one idle progress after its last batch
    if (p.numInputRows > 0 || ms("addBatch") > 0) {
      val now = System.nanoTime()
      val b = Batch(p.id.toString, p.runId.toString, p.batchId, p.batchDuration, ms("addBatch"),
        p.numInputRows)
      synchronized { batches += b }
      counters.foreach { c =>
        val id = c.streamBatchSpan(p.id.toString, p.batchId.toString)
        Trace.record(Span(id, parentSpan, "streaming.batch", now - p.batchDuration * 1000000L,
          now, Trace.runId))
      }
    }
  }
}
