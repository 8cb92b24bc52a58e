package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, PathFilter}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One wall clock for every record: epoch milliseconds with sub-ms
  * resolution, comparable with the listener bus's epoch-ms event times. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** A benchmark span: one call the benchmark makes into a layer. */
final case class Span(id: Int, name: String, parent: Int, req: Int, start: Double, end: Double)

/** The traced run's recorder. Spans come from the benchmark's own calls;
  * jobs, stages, tasks, SQL executions and Catalyst phases come from
  * Spark's public listener APIs and carry the span id that caused them
  * through the `perfbench.span` local property. Everything is kept in
  * memory and handed out once the run ends.
  */
final class Recorder(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Recorder._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var current = -1 // open span on the client thread

  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobEnds = new ConcurrentLinkedQueue[(Int, Long)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()
  private val execs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val execEnds = new ConcurrentLinkedQueue[(Long, Long)]()
  private val phases = new ConcurrentLinkedQueue[Map[String, Any]]()
  @volatile private var recording = true

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  /** Run `body` as a span named `name`; nested calls become its children
    * and every Spark job it submits is tagged with its id. */
  def span[A](name: String, req: Int)(body: => A): A = {
    val id = nextId; nextId += 1
    val parent = current
    val start = Clock.ms()
    current = id
    sc.setLocalProperty(Tag, id.toString)
    try body
    finally {
      spans += Span(id, name, parent, req, start, Clock.ms())
      current = parent
      sc.setLocalProperty(Tag, if (parent < 0) null else parent.toString)
    }
  }

  /** Stop recording (the output checks run untraced) and wait until the
    * listener bus has delivered every event of the recorded window. */
  def finish(): Map[String, Any] = {
    org.apache.spark.ListenerBusBridge.drain(sc)
    recording = false
    Map(
      "spans" -> spans.toSeq.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "req" -> s.req, "start" -> s.start, "end" -> s.end)),
      "jobs" -> {
        val ends = jobEnds.asScala.toMap
        jobs.asScala.toSeq.map(j => j + ("end" -> ends.getOrElse(j("id").asInstanceOf[Int], -1L)))
      },
      "stages" -> stages.asScala.toSeq.map { case (id, a) =>
        a.toMap + ("id" -> id) + ("job" -> stageJob.getOrDefault(id, -1))
      },
      "sql" -> {
        val ends = execEnds.asScala.toMap
        execs.asScala.toSeq.map(e => e + ("end" -> ends.getOrElse(e("id").asInstanceOf[Long], -1L)))
      },
      "phases" -> phases.asScala.toSeq,
      "fs" -> TracingFs.events.asScala.toSeq)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobs.add(Map("id" -> e.jobId, "start" -> e.time, "tag" -> prop(Tag),
      "desc" -> Option(prop("spark.job.description")).filter(_.nonEmpty)
        .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)).getOrElse(""),
      "sql" -> prop("spark.sql.execution.id")))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (recording) jobEnds.add(e.jobId -> e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (recording && e.taskMetrics != null) {
    val m = e.taskMetrics
    val a = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
    a.synchronized {
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.recordsRead += m.inputMetrics.recordsRead
      a.bytesRead += m.inputMetrics.bytesRead
      a.recordsWritten += m.outputMetrics.recordsWritten
      a.bytesWritten += m.outputMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = if (recording) e match {
    case s: SparkListenerSQLExecutionStart =>
      execs.add(Map("id" -> s.executionId, "desc" -> s.description, "start" -> s.time))
    case s: SparkListenerSQLExecutionEnd => execEnds.add(s.executionId -> s.time)
    case _ =>
  }

  private def phasesOf(qe: QueryExecution): Unit = if (recording) {
    val ph = qe.tracker.phases
    if (ph.nonEmpty)
      phases.add(Map("start" -> ph.values.map(_.startTimeMs).min) ++
        ph.map { case (k, v) => s"${k}_ms" -> (v.endTimeMs - v.startTimeMs) })
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phasesOf(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phasesOf(qe)
}

object Recorder {
  val Tag = "perfbench.span"

  final class StageAgg {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var recordsRead = 0L; var bytesRead = 0L; var recordsWritten = 0L; var bytesWritten = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L; var peakMem = 0L
    def toMap: Map[String, Any] = synchronized(Map(
      "tasks" -> tasks, "run_ms" -> runMs, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs,
      "records_read" -> recordsRead, "bytes_read" -> bytesRead,
      "records_written" -> recordsWritten, "bytes_written" -> bytesWritten,
      "shuffle_read" -> shuffleRead, "shuffle_write" -> shuffleWrite,
      "spill" -> spill, "peak_mem" -> peakMem))
  }

  /** Route `file:` through [[TracingFs]]. Must run before the session
    * exists: SparkConf picks `spark.hadoop.*` up from system properties. */
  def traceFileSystem(): Unit =
    System.setProperty("spark.hadoop.fs.file.impl", classOf[TracingFs].getName)
}

/** The local file system with its globs and listings timed: they mark
  * where a flow's read and manifest steps begin. */
class TracingFs extends LocalFileSystem {
  import TracingFs.timed
  override def globStatus(p: Path): Array[FileStatus] = timed("glob", p)(super.globStatus(p))
  override def globStatus(p: Path, f: PathFilter): Array[FileStatus] =
    timed("glob", p)(super.globStatus(p, f))
  override def listStatus(p: Path): Array[FileStatus] = timed("list", p)(super.listStatus(p))
}

object TracingFs {
  val events = new ConcurrentLinkedQueue[Map[String, Any]]()
  def timed[A](op: String, p: Path)(body: => A): A = {
    val start = Clock.ms()
    try body
    finally events.add(Map("op" -> op, "path" -> p.toUri.getPath, "start" -> start,
      "end" -> Clock.ms()))
  }
}
