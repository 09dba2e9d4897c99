package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** In-memory spans around the benchmark's calls into engine modules, and
  * counters from Spark listeners the benchmark registers itself (a
  * `SparkListener`, which also receives every session's streaming progress
  * events, and a `QueryExecutionListener`).
  *
  * A span records name, start, end, parent and the op it belongs to. An
  * op is a top-level span (one micro-batch, one query). While a span is
  * open its id rides the submitting thread's Spark local properties, so
  * every Spark job it launches — including jobs fired while a DataFrame
  * is still being built — is charged to it. Phase times and streaming
  * progress arrive on the listener bus and are charged to the op whose
  * wall-clock interval contains them.
  *
  * With tracing off, [[span]] is a plain call and nothing is recorded.
  */
object Trace {
  final case class Span(id: Long, parent: Long, name: String, op: Long,
                        startNs: Long, endNs: Long) {
    def durNs: Long = endNs - startNs
  }

  final class JobRec(val span: Long, val startMs: Long) {
    @volatile var endMs: Long = -1L
    var stages, tasks = 0
    var runMs, gcMs = 0L
    var cpuNs, inBytes, outBytes, shWrite, shRead, spill = 0L
  }

  final case class Phases(startMs: Long, analysisMs: Long, optimizationMs: Long,
                          planningMs: Long)
  final case class Progress(startMs: Long, durations: Map[String, Long],
                            stateRows: Long)

  val SpanProp = "perfbench.span"
  @volatile var on = false
  private var sc: SparkContext = _
  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[(Long, Long)] // (span id, op id)
  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val phases = new ConcurrentLinkedQueue[Phases]()
  val progress = new ConcurrentLinkedQueue[Progress]()
  /** epoch ms = nanoTime / 1e6 + offset */
  val epochOffsetMs: Double = System.currentTimeMillis() - System.nanoTime() / 1e6

  def epochMs(ns: Long): Double = ns / 1e6 + epochOffsetMs
  def epochNs(ms: Long): Long = ((ms - epochOffsetMs) * 1e6).toLong

  /** Register the listeners (once per context) and switch tracing on. */
  def install(spark: org.apache.spark.sql.SparkSession): Unit = {
    sc = spark.sparkContext
    sc.addSparkListener(JobListener)
    spark.listenerManager.register(PhaseListener)
    on = true
  }

  /** The (span, op) context of the calling thread, to hand to a pool thread. */
  def context: (Long, Long) = current.get

  /** Run `f` as a child of the span `ctx` (captured on another thread). */
  def within[T](ctx: (Long, Long))(f: => T): T =
    if (!on || ctx == null) f else {
      val prev = current.get; val prevProp = sc.getLocalProperty(SpanProp)
      current.set(ctx); sc.setLocalProperty(SpanProp, ctx._1.toString)
      try f finally { current.set(prev); sc.setLocalProperty(SpanProp, prevProp) }
    }

  def span[T](name: String)(f: => T): T =
    if (!on) f else {
      val parent = current.get
      val id = ids.incrementAndGet()
      val op = if (parent == null) id else parent._2
      val prevProp = sc.getLocalProperty(SpanProp)
      current.set((id, op)); sc.setLocalProperty(SpanProp, id.toString)
      val t0 = System.nanoTime()
      try f finally {
        spans.add(Span(id, if (parent == null) 0L else parent._1, name, op, t0, System.nanoTime()))
        current.set(parent); sc.setLocalProperty(SpanProp, prevProp)
      }
    }

  /** Block until every job the listener saw start has ended and been
    * fully accounted (the listener bus is asynchronous). */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def pending = jobs.values.asScala.exists(_.endMs < 0) || !stageJob.isEmpty
    while (pending && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(200) // phase and progress events trail the job events
  }

  private object JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toLong).getOrElse(0L)
      jobs.put(e.jobId, new JobRec(span, e.time))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      // stages that never ran (skipped) are never completed
      stageJob.entrySet.removeIf(_.getValue == e.jobId)
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    }
    /** Streaming progress arrives on the shared bus too; catching it here
      * sees the queries of every session (engine code may run a stream in
      * a session of its own, where a per-session listener would not). */
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: StreamingQueryListener.QueryProgressEvent => recordProgress(p)
      case _ =>
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      Option(stageJob.remove(info.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
        val m = info.taskMetrics
        j.synchronized {
          j.stages += 1
          j.tasks += info.numTasks
          if (m != null) {
            j.runMs += m.executorRunTime
            j.cpuNs += m.executorCpuTime
            j.gcMs += m.jvmGCTime
            j.inBytes += m.inputMetrics.bytesRead
            j.outBytes += m.outputMetrics.bytesWritten
            j.shWrite += m.shuffleWriteMetrics.bytesWritten
            j.shRead += m.shuffleReadMetrics.totalBytesRead
            j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
    }
  }

  private object PhaseListener extends QueryExecutionListener {
    private def rec(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      def ms(k: String) = p.get(k).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
      val start = p.get("analysis").orElse(p.values.headOption).map(_.startTimeMs)
        .getOrElse(System.currentTimeMillis())
      phases.add(Phases(start, ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = rec(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = rec(qe)
  }

  private def recordProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    progress.add(Progress(start, d, p.stateOperators.map(_.numRowsTotal).sum))
  }

  // ------------------------------------------------------------ analysis

  /** Self time: duration minus the part of it that child spans cover. */
  def selfNs(s: Span, children: Seq[Span]): Long = {
    val iv = children.map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    s.durNs - covered
  }

  def spansByOp: Map[Long, Seq[Span]] = spans.asScala.toSeq.groupBy(_.op)

  /** The span a job is charged to. A pool thread can carry the span of
    * the thread that created it (Spark local properties are inherited),
    * so a job whose recorded span has a descendant open at the job's
    * start goes to the deepest such descendant. */
  def owners(): Map[Int, Long] = {
    val all = spans.asScala.toSeq
    val kids = all.groupBy(_.parent)
    def deepest(s: Span, ms: Double): Long =
      kids.getOrElse(s.id, Nil)
        .find(c => epochMs(c.startNs) <= ms && ms <= epochMs(c.endNs))
        .map(deepest(_, ms)).getOrElse(s.id)
    val byId = all.map(s => s.id -> s).toMap
    jobs.asScala.map { case (id, j) =>
      id.intValue -> byId.get(j.span).map(deepest(_, j.startMs.toDouble)).getOrElse(j.span)
    }.toMap
  }

  /** Spans as JSON lines, with self time, for offline attribution. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val all = spans.asScala.toSeq
    val kids = all.groupBy(_.parent)
    val jobsBySpan = owners().groupBy(_._2).map { case (s, js) => s -> js.size }
    val lines = all.sortBy(_.startNs).map { s =>
      val jobsOf = jobsBySpan.getOrElse(s.id, 0)
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ms" -> epochMs(s.startNs), "end_ms" -> epochMs(s.endNs),
        "self_ms" -> selfNs(s, kids.getOrElse(s.id, Nil)) / 1e6, "jobs" -> jobsOf))
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** Host noise and process memory, from /proc. */
object Host {
  /** CPU time of the whole engine process, all threads, in ns. Time the
    * hypervisor steals from the VM is not in it. */
  def processCpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime


  /** (total, steal, busy) jiffies from the aggregate cpu line. */
  def cpu(): (Long, Long, Long) = {
    val f = java.nio.file.Paths.get("/proc/stat")
    if (!java.nio.file.Files.exists(f)) return (0L, 0L, 0L)
    val xs = java.nio.file.Files.readAllLines(f).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    val total = xs.sum - (if (xs.length > 9) xs(8) + xs(9) else 0L) // guest time is inside user
    val idle = xs(3) + (if (xs.length > 4) xs(4) else 0L)
    val steal = if (xs.length > 7) xs(7) else 0L
    (total, steal, total - idle - steal)
  }

  /** This process's user+system jiffies. */
  def selfCpu(): Long = {
    val f = java.nio.file.Paths.get("/proc/self/stat")
    if (!java.nio.file.Files.exists(f)) return 0L
    val s = java.nio.file.Files.readString(f)
    val xs = s.substring(s.lastIndexOf(')') + 2).split(" ")
    xs(11).toLong + xs(12).toLong
  }

  def statusKb(key: String): Long = {
    val f = java.nio.file.Paths.get("/proc/self/status")
    if (!java.nio.file.Files.exists(f)) return 0L
    java.nio.file.Files.readAllLines(f).asScala.find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
  }
}
