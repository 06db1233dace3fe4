package perfbench

import java.util.concurrent.{ConcurrentHashMap, Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters attributed to one span: Spark jobs, tasks and task time,
  * shuffle and spill bytes, file-scan files and rows, Catalyst phase
  * time and execution time of finished queries. */
final class Counts {
  val jobs, stages, tasks, shuffleBytes, spillBytes, outBytes = new LongAdder
  val scanFiles, scanRows, queries = new LongAdder
  val taskRunS, catalystMs, execMs = new DoubleAdder
  def toMap: Map[String, Double] = Map(
    "jobs" -> jobs.sum.toDouble, "stages" -> stages.sum.toDouble,
    "tasks" -> tasks.sum.toDouble, "task_run_s" -> taskRunS.sum,
    "shuffle_bytes" -> shuffleBytes.sum.toDouble,
    "spill_bytes" -> spillBytes.sum.toDouble,
    "output_bytes" -> outBytes.sum.toDouble,
    "scan_files" -> scanFiles.sum.toDouble, "scan_rows" -> scanRows.sum.toDouble,
    "queries" -> queries.sum.toDouble, "catalyst_ms" -> catalystMs.sum,
    "exec_ms" -> execMs.sum)
}

/** One traced interval. `op` is shared by every span of one operation. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    op: Long, start: Long, var end: Long = -1L) {
  val counts = new Counts
  /** Wall-clock close time, comparable with Spark event times. */
  @volatile var endMs: Long = Long.MaxValue
}

/** In-memory span recorder plus the Spark listeners that feed it.
  *
  * Off (the untraced run) every method is a cheap no-op and no
  * listener is registered. On, spans nest per thread; the innermost
  * open span's id rides to Spark as a job local property, so a job,
  * its stages and its tasks are counted against the span that
  * submitted them even when client threads run concurrently. */
final class Tracer(val on: Boolean) {
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentHashMap[Long, Span]()
  private val stack = new ThreadLocal[List[Span]] { override def initialValue() = Nil }
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val execSpan = new ConcurrentHashMap[Long, Span]()
  private val stageBatch = new ConcurrentHashMap[Int, Counts]()
  /** Counters of streaming micro-batch jobs, keyed "runId/batch" from
    * the job description Structured Streaming sets per batch. */
  val batches = new ConcurrentHashMap[String, Counts]()
  /** Spark streaming progress events, in arrival order. */
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()
  val PropKey = "perfbench.span"

  @volatile private var spark: SparkSession = _
  /** Innermost span opened most recently anywhere: the owner of jobs
    * whose thread carries no live span (pool threads that inherited a
    * stale local property). */
  @volatile private var focus: Option[Span] = None

  def current: Option[Span] = stack.get.headOption

  private def setStack(l: List[Span]): Unit = {
    stack.set(l)
    if (spark != null) spark.sparkContext.setLocalProperty(PropKey,
      l.headOption.map(_.id.toString).orNull)
  }

  /** Run `body` on this thread as if `parent` were its open span. */
  def adopt[A](parent: Option[Span])(body: => A): A = {
    if (!on) return body
    val prev = stack.get
    setStack(parent.toList)
    try body finally setStack(prev)
  }

  /** Time `body` as a span named `name` at `layer`, child of the
    * innermost open span on this thread. */
  def span[A](name: String, layer: String, newOp: Boolean = false)(body: Span => A): A = {
    if (!on) return body(null)
    val parent = current
    val id = ids.incrementAndGet()
    val op = if (newOp || parent.isEmpty) id else parent.get.op
    val s = Span(id, parent.map(_.id).getOrElse(0L), name, layer, op, System.nanoTime())
    spans.put(id, s)
    setStack(s :: stack.get)
    focus = Some(s)
    try body(s) finally {
      s.end = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      setStack(stack.get.tail)
      focus = parent
    }
  }

  /** The span that submitted work at wall time `atMs`: the one named
    * by the job properties, unless it had already closed by then (a
    * pool thread's inherited, stale property), else the focus span. */
  private def spanOf(props: java.util.Properties, atMs: Long): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(PropKey)))
      .flatMap(v => Option(spans.get(v.toLong))).filter(atMs <= _.endMs)
      .orElse(focus)

  def install(session: SparkSession): Unit = if (on) {
    spark = session
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        spanOf(e.properties, e.time).foreach { s =>
          s.counts.jobs.increment()
          e.stageIds.foreach(stageSpan.put(_, s))
          Option(e.properties.getProperty("spark.sql.execution.id"))
            .foreach(x => execSpan.putIfAbsent(x.toLong, s))
        }
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .flatMap(d => "runId = (\\S+)[\\s\\S]*batch = (\\d+)".r.findFirstMatchIn(d))
          .foreach { m =>
            val c = batches.computeIfAbsent(s"${m.group(1)}/${m.group(2)}", _ => new Counts)
            c.jobs.increment()
            e.stageIds.foreach(stageBatch.put(_, c))
          }
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        Option(stageSpan.get(e.stageInfo.stageId))
          .orElse(spanOf(e.properties, e.stageInfo.submissionTime.getOrElse(Long.MaxValue)))
          .foreach { s => stageSpan.put(e.stageInfo.stageId, s); s.counts.stages.increment() }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        (Option(stageSpan.get(e.stageId)).map(_.counts) ++
            Option(stageBatch.get(e.stageId))).foreach { c =>
          c.tasks.increment()
          val m = e.taskMetrics
          if (m != null) {
            c.taskRunS.add(m.executorRunTime / 1000.0)
            c.shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
            c.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
            c.outBytes.add(m.outputMetrics.bytesWritten)
          }
        }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit =
        // runs on the listener bus thread: attribute through the
        // execution id its jobs carried, else to the focus span
        Option(execSpan.get(qe.id)).orElse(focus)
          .foreach(record(_, qe, durationNs))
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress): Unit
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
  }

  private def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
    case q: QueryStageExec => leaves(q.plan)
    case _ if p.children.isEmpty => Seq(p)
    case _ => p.children.flatMap(leaves)
  }

  private def record(s: Span, qe: QueryExecution, durationNs: Long): Unit = {
    s.counts.queries.increment()
    s.counts.execMs.add(durationNs / 1e6)
    val phases = qe.tracker.phases
    s.counts.catalystMs.add(Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum)
    leaves(qe.executedPlan).foreach { l =>
      if (l.getClass.getSimpleName.startsWith("FileSourceScan")) {
        l.metrics.get("numFiles").foreach(m => s.counts.scanFiles.add(m.value))
        l.metrics.get("numOutputRows").foreach(m => s.counts.scanRows.add(m.value))
      }
    }
  }

  /** Block until every listener event posted so far was delivered. */
  def drain(): Unit = if (on) org.apache.spark.perfbenchshim.Bus.drain(spark.sparkContext)

  def all: Seq[Span] = spans.values.asScala.toSeq.sortBy(_.id)

  /** Self time per layer name: each span's duration minus the union of
    * its children's intervals, summed by span name. */
  def selfTimes: Map[String, Double] = {
    val byParent = all.groupBy(_.parent)
    all.filter(_.end > 0).groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = byParent.getOrElse(s.id, Nil).filter(_.end > 0)
          .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
          .filter(iv => iv._2 > iv._1).sortBy(_._1)
        var covered = 0L; var curS = -1L; var curE = -1L
        kids.foreach { case (a, b) =>
          if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
          else curE = math.max(curE, b)
        }
        if (curE > curS) covered += curE - curS
        (s.end - s.start - covered) / 1e9
      }.sum
    }
  }

  /** Write every span as one JSON document. */
  def write(path: java.nio.file.Path, extra: Map[String, Any]): Unit = {
    val t0 = all.headOption.map(_.start).getOrElse(0L)
    val rows = all.map { s =>
      Map[String, Any]("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "op" -> s.op, "start_s" -> (s.start - t0) / 1e9,
        "end_s" -> (if (s.end > 0) (s.end - t0) / 1e9 else null),
        "counts" -> s.counts.toMap.filter(_._2 != 0.0))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, Json(extra ++ Map(
      "spans" -> rows, "self_time_s" -> selfTimes)))
  }
}

/** A named operation that overran its deadline or threw. */
final class OpFailed(val op: String, msg: String, cause: Throwable = null)
    extends RuntimeException(s"$op: $msg", cause)

/** Per-operation deadlines, enforced from outside the call.
  *
  * The body runs on a worker thread under its own Spark job group.
  * At the deadline the group is cancelled and, for calls that run a
  * stream, every active streaming query is stopped; if the worker has
  * still not returned after a grace period it is abandoned (daemon
  * thread) and the operation fails by name instead of hanging the
  * benchmark. */
final class Guard(spark: SparkSession, tracer: Tracer) {
  private val pool = Executors.newCachedThreadPool(new ThreadFactory {
    private val n = new AtomicLong(0L)
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"perfbench-op-${n.incrementAndGet()}")
      t.setDaemon(true); t
    }
  })
  private val seq = new AtomicLong(0L)
  @volatile var wedged: Option[String] = None

  def apply[A](name: String, deadlineS: Double, streams: Boolean = false)(body: => A): A = {
    wedged.foreach(w => throw new OpFailed(name, s"skipped: $w never returned"))
    val group = s"perfbench-${seq.incrementAndGet()}"
    val sc = spark.sparkContext
    val parentStack = tracer.current
    val fut = pool.submit(new java.util.concurrent.Callable[A] {
      def call(): A = {
        sc.setJobGroup(group, name, interruptOnCancel = true)
        try tracer.adopt(parentStack)(body) finally sc.clearJobGroup()
      }
    })
    try fut.get((deadlineS * 1e9).toLong, TimeUnit.NANOSECONDS)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        sc.cancelJobGroup(group)
        if (streams) spark.streams.active.foreach(q => scala.util.Try(q.stop()))
        try fut.get(20, TimeUnit.SECONDS) catch { case _: Throwable => () }
        if (!fut.isDone) wedged = Some(name)
        fut.cancel(true)
        throw new OpFailed(name, f"deadline of $deadlineS%.0f s exceeded")
      case e: java.util.concurrent.ExecutionException =>
        throw new OpFailed(name, String.valueOf(e.getCause), e.getCause)
    }
  }

  def shutdown(): Unit = pool.shutdownNow(): Unit
}
