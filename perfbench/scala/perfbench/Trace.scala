package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Which of the program's modules a Spark job belongs to, read from the
  * call stack Spark records for the job's stages (`StageInfo.details`,
  * innermost frame first).
  *
  *   - A stage layer (`ingest`, `curate`, `consume`, `sources`) gets a job
  *     when the stack passes through that module; with several on the
  *     stack the innermost wins, so stage layers partition the jobs.
  *   - A mechanism layer (`keys`, `sinks`) gets a job when the job starts
  *     inside that module: the innermost program frame is in it.
  *
  * A job can carry one of each (a `TableSink.append` called from
  * `DimBuilder.build` is `consume` and `sinks`).
  */
object Attribution {
  val ProgramPrefix = "graft."
  val StageLayers: Set[String] = Set("ingest", "curate", "consume", "sources")
  val MechanismLayers: Set[String] = Set("keys", "sinks")

  /** Module of one stack frame (`graft.keys.SurrogateKeys$.dense(..)` ->
    * `keys`), or None for frames outside the program. */
  def moduleOf(frame: String): Option[String] = {
    val f = frame.trim.stripPrefix("at ")
    if (!f.startsWith(ProgramPrefix)) None
    else {
      val parts = f.stripPrefix(ProgramPrefix).split('.')
      if (parts.length >= 3) Some(parts(0)) else None
    }
  }

  /** (stage layer, mechanism layer) for a recorded call stack. */
  def attribute(callStack: String): (Option[String], Option[String]) = {
    val modules = callStack.split('\n').toSeq.flatMap(moduleOf)
    (modules.find(StageLayers), modules.headOption.filter(MechanismLayers))
  }
}

/** One recorded span: times are epoch milliseconds. */
final case class Span(id: Long, name: String, kind: String, start: Long,
    end: Long, parent: Long, attrs: Map[String, Any])

/** In-memory span store shared by the three listeners, written out as
  * JSON lines once, when the run ends (explicitly via [[dump]], or by a
  * shutdown hook when `-Dperfbench.trace.out=<file>` is set on a JVM the
  * benchmark does not otherwise control). */
object Trace {
  /** Job-group local property carrying the id of the op span a job runs
    * under; Spark hands local properties on to the threads a query uses. */
  val OpProperty = "perfbench.op"

  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  @volatile private var hooked = false

  def nextId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = spans.add(s)

  def span(name: String, kind: String, start: Long, end: Long, parent: Long = 0L,
      attrs: Map[String, Any] = Map.empty): Long = {
    val id = nextId()
    add(Span(id, name, kind, start, end, parent, attrs))
    id
  }

  def clear(): Unit = spans.clear()

  def all: Seq[Span] = spans.asScala.toSeq

  /** Install the dump-at-exit hook once, if an output file was named. */
  def hookExit(): Unit = synchronized {
    if (!hooked) sys.props.get("perfbench.trace.out").foreach { out =>
      hooked = true
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        span("jvm", "jvm", Jvm.startMs, System.currentTimeMillis(), 0L, Jvm.stats())
        dump(out)
      }))
    }
  }

  def dump(path: String): Unit = {
    val sb = new StringBuilder
    all.sortBy(_.id).foreach { s =>
      sb ++= Json.obj(Seq("id" -> s.id, "name" -> s.name, "kind" -> s.kind,
        "start" -> s.start, "end" -> s.end, "parent" -> s.parent) ++ s.attrs.toSeq)
      sb += '\n'
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}

/** JVM-wide heap and GC figures. */
object Jvm {
  val startMs: Long =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  def peakHeapMb: Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(p => Option(p.getPeakUsage).map(_.getUsed).getOrElse(0L)).sum / 1048576.0

  def gcSeconds: Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0

  def stats(): Map[String, Any] = Map("peak_heap_mb" -> peakHeapMb, "gc_s" -> gcSeconds)
}

/** Records every Spark job as a span with its attributed layers and the
  * summed task metrics of its stages. Usable as `spark.extraListeners`. */
class JobTracer extends SparkListener {
  Trace.hookExit()

  private final class JobAcc(val id: Int, val start: Long, val parent: Long,
      val stage: Option[String], val mech: Option[String]) {
    var tasks = 0L; var taskMs = 0L; var cpuNs = 0L; var shuffleW = 0L
    var spill = 0L; var peakMem = 0L; var inBytes = 0L; var inRecs = 0L
    var outBytes = 0L; var schedWaitMs = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, JobAcc]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  private val execStack = new ConcurrentHashMap[Long, String]()

  /** SQL executions record the call stack of the thread that started
    * them; jobs they run on helper threads (broadcasts, adaptive query
    * stages) carry only that helper thread's stack themselves. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execStack.put(s.executionId, s.details)
    case s: SparkListenerSQLExecutionEnd => execStack.remove(s.executionId)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(execStack.get(id.toLong)))
    val stack = exec.getOrElse(
      e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse(""))
    val (stage, mech) = Attribution.attribute(stack)
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.OpProperty)))
      .fold(0L)(_.toLong)
    jobs.put(e.jobId, new JobAcc(e.jobId, e.time, parent, stage, mech))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmit.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val acc = Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
    acc.foreach { a =>
      a.synchronized {
        a.tasks += 1
        Option(stageSubmit.get(e.stageId)).foreach(s =>
          a.schedWaitMs += math.max(0L, e.taskInfo.launchTime - s))
        Option(e.taskMetrics).foreach { m =>
          a.taskMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.shuffleW += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
          a.inBytes += m.inputMetrics.bytesRead
          a.inRecs += m.inputMetrics.recordsRead
          a.outBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.remove(e.jobId)).foreach { a =>
      a.synchronized {
        Trace.span(s"job ${a.id}", "job", a.start, e.time, a.parent, Map(
          "stage_layer" -> a.stage.orNull, "mech_layer" -> a.mech.orNull,
          "tasks" -> a.tasks, "task_s" -> a.taskMs / 1000.0, "cpu_s" -> a.cpuNs / 1e9,
          "shuffle_write_mb" -> a.shuffleW / 1048576.0, "spill_mb" -> a.spill / 1048576.0,
          "peak_task_mem_mb" -> a.peakMem / 1048576.0,
          "input_mb" -> a.inBytes / 1048576.0, "records_in" -> a.inRecs,
          "output_mb" -> a.outBytes / 1048576.0, "sched_wait_s" -> a.schedWaitMs / 1000.0,
          "ok" -> (e.jobResult == JobSucceeded)))
      }
    }
}

/** Records the analysis / optimization / planning phases of every
  * executed query, and whether it wrote a durable artifact. Usable as
  * `spark.sql.queryExecutionListeners`. */
class PlanTracer extends QueryExecutionListener {
  Trace.hookExit()

  private val DurableWrite =
    Seq("InsertInto", "AsSelect", "SaveIntoDataSource", "CreateTable", "AppendData",
      "OverwriteByExpression", "OverwritePartitions", "ReplaceTable")

  private def record(qe: QueryExecution, ok: Boolean): Unit = {
    val ph = qe.tracker.phases
    def secs(p: String): Double = ph.get(p).map(_.durationMs / 1000.0).getOrElse(0.0)
    val start = ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
    val end = ph.values.map(_.endTimeMs).maxOption.getOrElse(start)
    val node = qe.logical.nodeName
    val plan = qe.logical.toString
    val noop = plan.toLowerCase.contains("noop")
    Trace.span(node, "plan", start, end, 0L, Map(
      "analysis_s" -> secs("analysis"), "optimization_s" -> secs("optimization"),
      "planning_s" -> secs("planning"),
      "durable_write" -> (!noop && DurableWrite.exists(node.contains)),
      "target" -> plan.linesIterator.take(1).mkString, "ok" -> ok))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe, ok = false)
}

/** Records streaming query starts and one span per micro-batch. Usable as
  * `spark.sql.streaming.streamingQueryListeners`. */
class StreamTracer extends StreamingQueryListener {
  Trace.hookExit()
  import StreamingQueryListener._

  override def onQueryStarted(e: QueryStartedEvent): Unit = {
    val t = java.time.Instant.parse(e.timestamp).toEpochMilli
    Trace.span(Option(e.name).getOrElse(e.id.toString), "stream", t, t)
  }

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    Trace.span(s"batch ${p.batchId}", "batch", start,
      start + d.getOrElse("triggerExecution", 0L), 0L, Map(
        "input_rows" -> p.numInputRows,
        "addBatch_s" -> d.getOrElse("addBatch", 0L) / 1000.0,
        "walCommit_s" -> d.getOrElse("walCommit", 0L) / 1000.0,
        "queryPlanning_s" -> d.getOrElse("queryPlanning", 0L) / 1000.0,
        "latestOffset_s" -> d.getOrElse("latestOffset", 0L) / 1000.0))
  }

  override def onQueryIdle(e: QueryIdleEvent): Unit = ()

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}

/** Minimal JSON writer for the flat records this harness emits. */
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
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
