package perfbench

import java.io.File
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span store for traced runs.
  *
  * A span has a trace id, its own id, a parent id (0 = root), a name, the
  * layer it belongs to, start and end in epoch microseconds, and free-form
  * attributes. Spans stay in memory and are written once, as JSON lines,
  * when the run ends: at JVM exit (after Spark's own shutdown hooks have
  * drained the listener bus) or by an explicit [[dump]].
  *
  * Parents that cannot be known when a span is recorded are resolved at
  * dump time: Spark jobs of a micro-batch hang under that batch's
  * `addBatch` phase (jobs carry the query and batch ids as local
  * properties), suite jobs under their query (by job description), and
  * planning spans under the query or `addBatch` span whose interval holds
  * them.
  */
object Trace {
  final class Span(var trace: String, val id: Long, var parent: Long, val name: String,
      val layer: String, val startUs: Long, val endUs: Long,
      val attrs: mutable.LinkedHashMap[String, Any])

  val FileProperty = "perfbench.trace.file"

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val dumped = new AtomicBoolean(false)

  private val epochBaseUs = System.currentTimeMillis() * 1000L
  private val nanoBase = System.nanoTime()

  /** Epoch microseconds on a monotonic clock. */
  def nowUs(): Long = epochBaseUs + (System.nanoTime() - nanoBase) / 1000L

  def add(trace: String, parent: Long, name: String, layer: String,
          startUs: Long, endUs: Long, attrs: (String, Any)*): Span = {
    val s = new Span(trace, ids.incrementAndGet(), parent, name, layer, startUs, endUs,
      mutable.LinkedHashMap(attrs: _*))
    spans.add(s)
    s
  }

  // Runs after Spark's shutdown hooks (priority 30 in Hadoop's manager),
  // which stop the SparkContext and so deliver every queued listener event.
  Option(System.getProperty(FileProperty)).foreach { path =>
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      () => dump(path), 20)
  }

  private def resolveParents(all: Seq[Span]): Unit = {
    val byTrace = all.groupBy(_.trace)
    def named(trace: String, name: String): Option[Span] =
      byTrace.getOrElse(trace, Nil).find(_.name == name)
    all.foreach { s =>
      if (s.layer == "spark" && s.parent == 0L && s.trace.nonEmpty) {
        val host = if (s.trace.startsWith("stream:"))
          named(s.trace, "addBatch").orElse(named(s.trace, "microbatch"))
        else byTrace.getOrElse(s.trace, Nil).find(_.layer == "ext")
        host.foreach(h => s.parent = h.id)
      }
    }
    // actions seen by the QueryExecutionListener carry no trace id
    val hosts = all.filter(h => h.name == "addBatch" || h.layer == "ext")
    all.filter(s => s.name.startsWith("action:")).foreach { a =>
      hosts.filter(h => h.startUs <= a.startUs && a.startUs <= h.endUs)
        .sortBy(h => h.endUs - h.startUs).headOption.foreach { h =>
          a.parent = h.id
          a.trace = h.trace
        }
    }
    val actions = all.filter(_.name.startsWith("action:")).map(a => a.id -> a).toMap
    all.foreach { s =>
      actions.get(s.parent).filter(_ => s.layer == "compile").foreach(a => s.trace = a.trace)
    }
  }

  /** Write every recorded span to `path` as JSON lines (once per JVM). */
  def dump(path: String): Unit = if (dumped.compareAndSet(false, true)) {
    val all = spans.asScala.toSeq.sortBy(_.startUs)
    resolveParents(all)
    val mapper = new ObjectMapper()
    val tmp = new File(path + ".tmp")
    val w = new java.io.PrintWriter(tmp, "UTF-8")
    try all.foreach { s =>
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("trace", s.trace)
      m.put("span", s.id)
      m.put("parent", s.parent)
      m.put("name", s.name)
      m.put("layer", s.layer)
      m.put("start_us", s.startUs)
      m.put("end_us", s.endUs)
      m.put("attrs", s.attrs.map { case (k, v) => k -> toJava(v) }.asJava)
      w.println(mapper.writeValueAsString(m))
    } finally w.close()
    tmp.renameTo(new File(path))
  }

  private def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => k.toString -> toJava(x) }.asJava
    case s: Iterable[_] => s.map(toJava).asJava
    case other => other
  }
}

/** Spark jobs as spans, with the task metrics of their stages summed in.
  * Attach with `spark.extraListeners=perfbench.TraceSparkListener`. */
class TraceSparkListener extends SparkListener {
  private final class JobAcc(val startMs: Long, val trace: String, val description: String,
      val stages: Int) {
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var shuffleReadBytes = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
  }
  private val jobs = mutable.Map[Int, JobAcc]()
  private val stageToJob = mutable.Map[Int, Int]()

  private def traceOf(props: java.util.Properties): (String, String) = {
    def p(k: String) = Option(props).flatMap(x => Option(x.getProperty(k)))
    val desc = p("spark.job.description").getOrElse("")
    val trace = (p("sql.streaming.queryId"), p("streaming.sql.batchId")) match {
      case (Some(q), Some(b)) => s"stream:$q:$b"
      case _ if desc.startsWith("perfbench:") => "suite:" + desc.stripPrefix("perfbench:")
      case _ => ""
    }
    (trace, desc)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val (trace, desc) = traceOf(e.properties)
    jobs(e.jobId) = new JobAcc(e.time, trace, desc, e.stageIds.size)
    e.stageIds.foreach(s => stageToJob(s) = e.jobId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageToJob.get(e.stageId); acc <- jobs.get(j); m <- Option(e.taskMetrics)) {
      acc.tasks += 1
      acc.runMs += m.executorRunTime
      acc.cpuNs += m.executorCpuTime
      acc.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      acc.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      acc.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { acc =>
      Trace.add(acc.trace, 0L, s"job:${e.jobId}", "spark", acc.startMs * 1000L, e.time * 1000L,
        "description" -> acc.description,
        "succeeded" -> (e.jobResult == JobSucceeded),
        "stages" -> acc.stages,
        "tasks" -> acc.tasks,
        "executor_run_ms" -> acc.runMs,
        "executor_cpu_ns" -> acc.cpuNs,
        "shuffle_read_bytes" -> acc.shuffleReadBytes,
        "shuffle_write_bytes" -> acc.shuffleWriteBytes,
        "spill_bytes" -> acc.spillBytes)
    }
  }
}

/** Micro-batches and their `durationMs` phases as spans. Progress reports
  * carry phase durations, not start times, so the phases are laid end to
  * end inside the trigger in the order the micro-batch runs them. Attach
  * with `spark.sql.streaming.streamingQueryListeners`. */
class TraceStreamingListener extends StreamingQueryListener {
  private val phaseOrder = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
    "addBatch", "commitOffsets")
  private def layerOf(phase: String): String = phase match {
    case "latestOffset" | "getBatch" | "setOffsetRange" => "sources"
    case "queryPlanning" => "compile"
    case "addBatch" => "sinks"
    case _ => "engine"
  }
  private var idle = 0L

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    val startUs = Instant.parse(p.timestamp).toEpochMilli * 1000L
    val ran = d.contains("addBatch")
    val trace =
      if (ran) s"stream:${p.id}:${p.batchId}"
      else { idle += 1; s"stream:${p.id}:${p.batchId}:idle$idle" }
    val behind = p.sources.headOption
      .flatMap(s => Option(s.metrics).flatMap(m => Option(m.get("recordsBehindLatest"))))
      .map(_.toLong).getOrElse(-1L)
    val batch = Trace.add(trace, 0L, "microbatch", "engine",
      startUs, startUs + d.getOrElse("triggerExecution", 0L) * 1000L,
      "batch_id" -> p.batchId,
      "ran" -> ran,
      "input_rows" -> p.numInputRows,
      "records_behind_latest" -> behind,
      "duration_ms" -> d.toMap)
    var t = startUs
    (phaseOrder ++ d.keys.toSeq.sorted.filterNot(k => phaseOrder.contains(k) ||
        k == "triggerExecution")).foreach { ph =>
      d.get(ph).foreach { ms =>
        Trace.add(trace, batch.id, ph, layerOf(ph), t, t + ms * 1000L)
        t += ms * 1000L
      }
    }
  }
}

/** Every SQL action's planning phases (from `queryExecution.tracker`) as
  * spans, plus a count of the JMESPath expressions in its plan that run
  * interpreted or lowered. Attach with `spark.sql.queryExecutionListeners`. */
class TraceQeListener extends QueryExecutionListener {
  private val interpreted = Set("JmesPathEval", "JmesPathEvalDouble", "JmesPathFiltered",
    "JmesTruthy").map("graft.functions." + _)

  /** (interpreted, lowered): a lowered expression is a maximal subtree rooted
    * at a `graft.compile` JSON expression. */
  private def countJmes(e: Expression): (Int, Int) = {
    val cls = e.getClass.getName
    if (interpreted(cls)) (1, 0)
    else if (cls.startsWith("graft.compile.") && !cls.endsWith("FusedGate")) (0, 1)
    else e.children.map(countJmes).foldLeft((0, 0)) { case ((a, b), (c, d)) => (a + c, b + d) }
  }

  private def record(funcName: String, qe: QueryExecution, durationNs: Long,
                     failed: Boolean): Unit = synchronized {
    val phases = qe.tracker.phases
    val startMs = if (phases.isEmpty) System.currentTimeMillis() else phases.values.map(_.startTimeMs).min
    val planEndMs = if (phases.isEmpty) startMs else phases.values.map(_.endTimeMs).max
    var interp, lowered = 0
    // the optimized logical plan: lowering is an optimizer rule, and unlike
    // the physical plan it is not hidden behind adaptive-execution wrappers
    try qe.optimizedPlan.foreach { node =>
      node.expressions.foreach { e =>
        val (i, l) = countJmes(e)
        interp += i
        lowered += l
      }
    } catch { case _: Throwable => () }
    val action = Trace.add("", 0L, s"action:$funcName", "sql",
      startMs * 1000L, planEndMs * 1000L + durationNs / 1000L,
      "failed" -> failed, "jmes_interpreted" -> interp, "jmes_lowered" -> lowered)
    phases.foreach { case (name, ph) =>
      Trace.add("", action.id, s"plan.$name", "compile", ph.startTimeMs * 1000L,
        ph.endTimeMs * 1000L)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe, durationNs, failed = false)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe, 0L, failed = true)
}
