package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters attributed to one span (or to the whole traced phase). */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var schedDelayMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  // streaming progress
  var batches = 0L
  val batchMs = mutable.ArrayBuffer.empty[Double]
  var stateRows = 0L
  var walCommitMs = 0L
  // SQL executions (QueryExecutionListener)
  var planMs = 0.0
  var execMs = 0.0
  var filesRead = 0L
  var bytesRead = 0L
  var rowsScanned = 0L
  var bytesWritten = 0L
  var filesWritten = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs
    cpuNs += o.cpuNs; schedDelayMs += o.schedDelayMs
    shuffleWrite += o.shuffleWrite; spill += o.spill
    batches += o.batches; batchMs ++= o.batchMs
    stateRows = math.max(stateRows, o.stateRows); walCommitMs += o.walCommitMs
    planMs += o.planMs; execMs += o.execMs
    filesRead += o.filesRead; bytesRead += o.bytesRead; rowsScanned += o.rowsScanned
    bytesWritten += o.bytesWritten; filesWritten += o.filesWritten
  }
}

final case class Span(
    id: Int, layer: String, name: String, parent: Int, key: String,
    startNs: Long, endNs: Long, gcMs: Long)

/** Outside-in tracer: spans are opened by benchmark code around calls into
  * the library's modules; Spark, SQL-execution and streaming listeners
  * registered here attach engine counters to the innermost open span
  * through a SparkContext local property (inherited by the threads a span
  * starts, so stream executions land on the span that launched them).
  *
  * Spans live in memory and are written out once at the end. When the
  * tracer is disabled no listener is registered and `span` is a plain call.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val SpanKey = "perfbench.span"
  private val sc = spark.sparkContext
  private val closed = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, String, String, Long, Long)] = Nil
  private var nextId = 0
  private val byspan = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val stageDur = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  private val runSpan = new ConcurrentHashMap[java.util.UUID, Int]()
  /** Counters of everything the engine ran while the tracer was active. */
  val total = new Counters
  @volatile private var current = -1

  private def counters(id: Int): Counters = byspan.computeIfAbsent(id, _ => new Counters)
  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(SpanKey))).map(_.toInt).getOrElse(-1)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = spanOf(e.properties)
      e.stageIds.foreach(id => stageSpan.put(id, s))
      val c = counters(s)
      c.synchronized(c.jobs += 1)
      total.synchronized(total.jobs += 1)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      stageSpan.put(e.stageInfo.stageId, spanOf(e.properties)); ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m == null || info == null) return
      val delay = math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime)
      def upd(c: Counters): Unit = c.synchronized {
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.schedDelayMs += delay
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
      upd(counters(stageSpan.getOrDefault(e.stageId, -1)))
      upd(total)
      val d = stageDur.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long])
      d.synchronized(d += m.executorRunTime)
    }
    // streaming progress reaches the context's bus from every session, also
    // the cloned sessions the stream entries run in (a listener added to
    // one session's StreamingQueryManager sees only that session's queries)
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: StreamingQueryListener.QueryStartedEvent => runSpan.put(s.runId, current); ()
      case q: StreamingQueryListener.QueryProgressEvent =>
        val p = q.progress
        val c = counters(runSpan.getOrDefault(p.runId, current))
        val d = p.durationMs
        c.synchronized {
          c.batches += 1
          Option(d.get("triggerExecution")).foreach(v => c.batchMs += v.doubleValue)
          Option(d.get("walCommit")).foreach(v => c.walCommitMs += v.longValue)
          c.stateRows = math.max(c.stateRows, p.stateOperators.map(_.numRowsTotal).sum)
        }
      case _ => ()
    }
  }

  private val sqlListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val plan = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
      val (files, bytes, rows, wBytes, wFiles) = planMetrics(qe.executedPlan)
      // SQL-execution events carry no local properties: in a closed loop
      // the action belongs to the span open when it is delivered, and the
      // benchmark drains the bus before closing a traced span
      val c = counters(current)
      c.synchronized {
        c.planMs += plan; c.execMs += durationNs / 1e6
        c.filesRead += files; c.bytesRead += bytes; c.rowsScanned += rows
        c.bytesWritten += wBytes; c.filesWritten += wFiles
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** (files read, bytes of files read, rows out of scans, bytes written,
    * files written) over the final physical plan, adaptive stages included.
    */
  private def planMetrics(root: SparkPlan): (Long, Long, Long, Long, Long) = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
    }
    var files = 0L; var bytes = 0L; var rows = 0L; var wBytes = 0L; var wFiles = 0L
    nodes(root).foreach { n =>
      def m(k: String) = n.metrics.get(k).map(_.value).getOrElse(0L)
      if (n.nodeName.startsWith("Scan")) {
        files += m("numFiles"); bytes += m("filesSize"); rows += m("numOutputRows")
      } else {
        wBytes += m("numOutputBytes"); wFiles += m("numFiles")
      }
    }
    (files, bytes, rows, wBytes, wFiles)
  }

  private var installed = false
  private var phaseStartNs = 0L
  private var phaseGc0 = 0L
  var phaseWallS = 0.0
  var phaseGcMs = 0L

  /** Start attributing: register the listeners (traced runs only). */
  def start(): Unit = if (enabled && !installed) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(sqlListener)
    installed = true
    phaseStartNs = System.nanoTime()
    phaseGc0 = Jvm.gcMillis()
  }

  def stop(): Unit = if (installed) {
    drain()
    phaseWallS = (System.nanoTime() - phaseStartNs) / 1e9
    phaseGcMs = Jvm.gcMillis() - phaseGc0
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(sqlListener)
    installed = false
  }

  def active: Boolean = installed

  def drain(): Unit = if (installed) org.apache.spark.PerfbenchBus.drain(sc)

  /** Time `body` as a span of `layer`; `key` names the survey or query. */
  def span[T](layer: String, name: String, key: String = "")(body: => T): T =
    if (!installed) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      val k = if (key.nonEmpty) key else stack.headOption.map(_._4).getOrElse("")
      stack = (id, layer, name, k, System.nanoTime(), Jvm.gcMillis()) :: stack
      val prevProp = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, id.toString)
      current = id
      try body
      finally {
        drain()
        val (_, _, _, _, t0, gc0) = stack.head
        stack = stack.tail
        closed += Span(id, layer, name, parent, k, t0, System.nanoTime(), Jvm.gcMillis() - gc0)
        sc.setLocalProperty(SpanKey, prevProp)
        current = parent
      }
    }

  def spans: Seq[Span] = closed.toSeq

  private lazy val children: Map[Int, Seq[Span]] = closed.toSeq.groupBy(_.parent)

  /** Counters of a span and all its descendants. */
  def inclusive(s: Span): Counters = {
    val c = new Counters
    def go(x: Span): Unit = {
      Option(byspan.get(x.id)).foreach(o => o.synchronized(c.add(o)))
      children.getOrElse(x.id, Nil).foreach(go)
    }
    go(s)
    c
  }

  def durS(s: Span): Double = (s.endNs - s.startNs) / 1e9

  /** A span's duration minus the part its children cover. */
  def selfS(s: Span): Double =
    durS(s) - children.getOrElse(s.id, Nil).map(durS).sum

  /** Self time summed per layer. */
  def selfByLayer: Map[String, Double] =
    closed.toSeq.groupBy(_.layer).map { case (l, xs) => l -> xs.map(selfS).sum }

  /** Mean over stages with at least four tasks of max / median task run time. */
  def taskSkew: Double = {
    val ratios = stageDur.values.asScala.toSeq.flatMap { d =>
      val xs = d.synchronized(d.toSeq).map(_.toDouble)
      if (xs.size >= 4 && Stats.median(xs) > 0) Some(xs.max / Stats.median(xs)) else None
    }
    if (ratios.isEmpty) 1.0 else ratios.sum / ratios.size
  }

  /** The spark.* per-layer metrics of the traced phase. */
  def sparkLayer(cores: Int): Seq[(String, Double)] = {
    val t = total
    Seq(
      "spark.jobs" -> t.jobs.toDouble,
      "spark.tasks" -> t.tasks.toDouble,
      "spark.executor_busy_share" ->
        (if (phaseWallS > 0) t.runMs / 1000.0 / (phaseWallS * cores) else 0.0),
      "spark.scheduler_delay_ms" -> (if (t.tasks > 0) t.schedDelayMs.toDouble / t.tasks else 0.0),
      "spark.gc_ms" -> phaseGcMs.toDouble,
      "spark.shuffle_write_bytes" -> t.shuffleWrite.toDouble,
      "spark.spill_bytes" -> t.spill.toDouble,
      "spark.task_skew" -> taskSkew)
  }

  /** Write every span as one JSON line. */
  def writeSpans(path: java.io.File): Unit = {
    val t0 = closed.headOption.map(_.startNs).getOrElse(0L)
    val lines = closed.sortBy(_.startNs).map { s =>
      val c = inclusive(s)
      Json.render(Map(
        "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
        "key" -> s.key, "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6,
        "self_ms" -> selfS(s) * 1000, "gc_ms" -> s.gcMs, "jobs" -> c.jobs, "tasks" -> c.tasks,
        "shuffle_write_bytes" -> c.shuffleWrite, "spill_bytes" -> c.spill,
        "cpu_ms" -> c.cpuNs / 1e6, "batches" -> c.batches))
    }
    java.nio.file.Files.write(path.toPath, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
