package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: one call into a layer, timed from the benchmark's side.
  * Times are epoch milliseconds. `parent` 0 is the root. */
final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double) {
  def ms: Double = end - start
}

final case class JobRec(id: Int, start: Long, span: Int, streamQuery: String,
    callSite: String, stageIds: Seq[Int]) {
  var end: Long = -1L
}

final case class StageRec(tasks: Int, runMs: Long, gcMs: Long,
    shuffleWrite: Long, shuffleRead: Long)

/** Catalyst phase times of one executed query (QueryPlanningTracker). */
final case class Phases(start: Long, analysis: Long, optimization: Long, planning: Long,
    broadcastMs: Long)

/** Everything the benchmark observes from outside the engine.
  *
  * Streaming progress is always collected: the live latency metric is
  * computed from committed offsets. The rest — spans, job/stage records
  * and Catalyst phases — is collected only when `traced`, through Spark's
  * public listener interfaces. Records stay in memory and are written
  * once, when the run ends. */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  private val lock = new Object
  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.HashMap.empty[Int, StageRec]
  val phases = mutable.ArrayBuffer.empty[Phases]
  val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  private var nextId = 0
  private var stack: List[Int] = Nil

  /** Listeners stay registered for the whole run; this switches
    * recording on and off, so the traced run can time passes both ways. */
  @volatile var active: Boolean = traced

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized(progress += e.progress)
  })

  if (traced) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
        val p = Option(e.properties)
        def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
        val span = scala.util.Try(prop(SpanKey).toInt).getOrElse(0)
        lock.synchronized {
          // The result stage is named after the job's call site.
          jobs(e.jobId) = JobRec(e.jobId, e.time, span, prop("sql.streaming.queryId"),
            e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse(""), e.stageIds)
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        lock.synchronized(jobs.get(e.jobId).foreach(_.end = e.time))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (active) {
        val i = e.stageInfo
        val m = i.taskMetrics
        val rec = if (m == null) StageRec(i.numTasks, 0, 0, 0, 0)
          else StageRec(i.numTasks, m.executorRunTime, m.jvmGCTime,
            m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead)
        lock.synchronized(stages(i.stageId) = rec)
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (active) {
          val ph = qe.tracker.phases
          def d(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
          val start = ph.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(0L)
          val p = Phases(start, d("analysis"), d("optimization"), d("planning"),
            broadcastMs(qe.executedPlan))
          lock.synchronized(phases += p)
        }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  /** Run `body` as a span named `name`, child of the innermost open span.
    * Jobs it starts carry the span id as a local property. */
  def span[A](name: String)(body: => A): A = {
    if (!active) return body
    val id = lock.synchronized { nextId += 1; nextId }
    val parent = stack.headOption.getOrElse(0)
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, id.toString)
    stack = id :: stack
    val t0 = nowMs
    try body
    finally {
      stack = stack.tail
      sc.setLocalProperty(SpanKey, prev)
      val t1 = nowMs
      lock.synchronized(spans += Span(id, parent, name, t0, t1))
    }
  }

  /** Record a span measured elsewhere (a streaming batch). */
  def addSpan(name: String, parent: Int, start: Double, end: Double): Unit =
    lock.synchronized { nextId += 1; spans += Span(nextId, parent, name, start, end) }

  def spanNamed(name: String): Seq[Span] = lock.synchronized(spans.filter(_.name == name).toSeq)

  /** Ids of `root` and every span below it. */
  def subtree(root: Int): Set[Int] = lock.synchronized {
    val kids = spans.groupBy(_.parent)
    def walk(id: Int): Set[Int] = Set(id) ++ kids.getOrElse(id, Nil).flatMap(s => walk(s.id))
    walk(root)
  }

  def jobsUnder(root: Int): Seq[JobRec] = {
    val ids = subtree(root)
    lock.synchronized(jobs.values.filter(j => j.streamQuery.isEmpty && ids(j.span)).toSeq)
  }

  def jobsOfStream(queryId: String, from: Long, to: Long): Seq[JobRec] =
    lock.synchronized(jobs.values.filter(j =>
      j.streamQuery == queryId && j.start >= from && j.start <= to).toSeq)

  def stagesOf(js: Seq[JobRec]): Seq[StageRec] = lock.synchronized(
    js.flatMap(_.stageIds).distinct.flatMap(stages.get))

  def phasesIn(s: Span): Seq[Phases] = lock.synchronized(
    phases.filter(p => p.start >= s.start && p.start <= s.end).toSeq)

  def progressOf(queryId: java.util.UUID): Seq[StreamingQueryProgress] =
    lock.synchronized(progress.filter(_.id == queryId).toSeq)

  /** Wait until the listener bus has delivered every queued event. */
  def drain(): Unit = org.apache.spark.perfbenchbus.Bus.drain(sc)

  /** Spans as JSON lines with self time: duration minus the part of it
    * the span's children cover. Spark jobs are written as child spans of
    * the span that started them. */
  def write(path: java.io.File): Unit = {
    val (all, jobSpans) = lock.synchronized((spans.toSeq,
      jobs.values.filter(j => j.end >= 0 && j.streamQuery.isEmpty).map(j =>
        Span(-j.id - 1, j.span, s"job.${j.id} ${j.callSite}", j.start.toDouble, j.end.toDouble)).toSeq))
    val kids = (all ++ jobSpans).groupBy(_.parent)
    val out = new java.io.PrintWriter(path, "UTF-8")
    try (all ++ jobSpans).sortBy(_.start).foreach { s =>
      val covered = unionMs(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.start, s.start), math.min(c.end, s.end))))
      val name = s.name.replace("\\", "\\\\").replace("\"", "\\\"")
      out.println(f"""{"id":${s.id},"parent":${s.parent},"name":"$name","start_ms":${s.start}%.3f,"dur_ms":${s.ms}%.3f,"self_ms":${s.ms - covered}%.3f}""")
    } finally out.close()
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Build + collect + broadcast time of every broadcast exchange in an
    * executed plan, adaptive stages included. */
  def broadcastMs(plan: org.apache.spark.sql.execution.SparkPlan): Long = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Long = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case b: BroadcastExchangeExec =>
        Seq("collectTime", "buildTime", "broadcastTime")
          .flatMap(b.metrics.get).map(_.value).sum + b.children.map(walk).sum
      case other => other.children.map(walk).sum
    }
    walk(plan)
  }

  def nowMs: Double = System.nanoTime() / 1e6 - NanoOffsetMs
  // Epoch-aligned monotonic clock, so spans and listener timestamps
  // (epoch ms) share one axis.
  private val NanoOffsetMs: Double = System.nanoTime() / 1e6 - System.currentTimeMillis()

  /** Length of the union of intervals (not their sum: overlapping jobs
    * count once). */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  def jobUnionMs(js: Seq[JobRec]): Double =
    unionMs(js.filter(_.end >= 0).map(j => (j.start.toDouble, j.end.toDouble)))

  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  def cpuNs: Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  /** Codegen compile count and summed compile milliseconds so far. The
    * histogram's reservoir keeps every sample below 1028 compiles; past
    * that the sum is the count times the reservoir mean. */
  def codegen: (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    val n = h.getCount
    val sum = if (snap.size >= n) snap.getValues.map(_.toDouble).sum else n * snap.getMean
    (n, sum)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile, p in (0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100 * s.size).toInt - 1))
  }
}
