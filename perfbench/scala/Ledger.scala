package perfbench

import java.util.{ArrayList => JList, LinkedHashMap => JMap}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span ledger and the listeners of a traced run.
  *
  * Spans (workload → op → public call) are recorded around the benchmark's
  * own calls into graft, in both traced and untraced runs: they are a few
  * objects per op and give the op latencies. Everything else is gated by
  * `enabled`: the Spark listeners are registered through configuration
  * (`spark.extraListeners`, `spark.sql.queryExecutionListeners`) and drop
  * their events while it is off. Jobs find their span through the local
  * property `perfbench.span`, set on the calling thread before each call
  * and inherited by threads it starts. Everything is written once, at the
  * end, by [[Ledger.toJava]]. */
object Ledger {
  @volatile var enabled = false
  val SpanProp = "perfbench.span"

  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  /** Epoch milliseconds on the monotonic clock (listener times are epoch ms). */
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  final class Span(val id: Int, val name: String, val parent: Int,
      val start: Double, val attrs: JMap[String, Any]) {
    @volatile var end: Double = Double.NaN
  }

  private val spans = new JList[Span]()
  private val nextId = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  @volatile private var spark: SparkSession = _

  def attach(s: SparkSession): Unit = spark = s

  /** Open a span as a child of `parent`, by default this thread's innermost
    * open span. Jobs this thread starts until `close` carry the span's id. */
  def open(name: String, parent: Int, attrs: (String, Any)*): Span = {
    val m = new JMap[String, Any]()
    attrs.foreach { case (k, v) => m.put(k, v) }
    if (enabled) countersInto(m, "c0_")
    val s = new Span(nextId.incrementAndGet().toInt, name, parent, nowMs(), m)
    spans.synchronized(spans.add(s))
    stack.set(s.id :: stack.get)
    if (spark != null) {
      m.put("_prop", spark.sparkContext.getLocalProperty(SpanProp))
      spark.sparkContext.setLocalProperty(SpanProp, s.id.toString)
    }
    s
  }

  def open(name: String, attrs: (String, Any)*): Span =
    open(name, stack.get.headOption.getOrElse(-1), attrs: _*)

  def close(s: Span): Unit = {
    s.end = nowMs()
    if (enabled) countersInto(s.attrs, "c1_")
    stack.set(stack.get.dropWhile(_ == s.id))
    if (spark != null)
      spark.sparkContext.setLocalProperty(SpanProp, s.attrs.remove("_prop").asInstanceOf[String])
  }

  def span[T](name: String, attrs: (String, Any)*)(body: => T): T = {
    val s = open(name, attrs: _*)
    try body finally close(s)
  }

  /** A span known only after the fact (a streaming micro-batch). */
  def record(name: String, parent: Int, start: Double, end: Double,
      attrs: (String, Any)*): Unit = {
    val m = new JMap[String, Any]()
    attrs.foreach { case (k, v) => m.put(k, v) }
    val s = new Span(nextId.incrementAndGet().toInt, name, parent, start, m)
    s.end = end
    spans.synchronized(spans.add(s))
  }

  /** Code generation counters (global, so span deltas are exact only while
    * one thing runs at a time, which holds for this closed loop). */
  def counters(): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    countersInto(m, "")
    m
  }

  private def countersInto(m: JMap[String, Any], prefix: String): Unit = {
    val h = CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE
    m.put(prefix + "fs", CountingFs.total)
    m.put(prefix + "cg_ns", CodeGenerator.compileTime)
    m.put(prefix + "cg_n", CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    m.put(prefix + "cg_classes", h.getCount)
    // exact while the reservoir holds every sample (≤ 1028 of them)
    m.put(prefix + "cg_bytes", h.getSnapshot.getValues.sum)
  }

  // ------------------------------------------------------------ raw events

  private[perfbench] val jobs = new JList[JMap[String, Any]]()
  private[perfbench] val stages = new JList[JMap[String, Any]]()
  private[perfbench] val tasks = new JList[Array[Double]]()
  private[perfbench] val queries = new JList[JMap[String, Any]]()

  private[perfbench] def add(l: JList[JMap[String, Any]], kv: (String, Any)*): Unit = {
    val m = new JMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    l.synchronized(l.add(m))
  }

  def toJava: JMap[String, Any] = {
    val m = new JMap[String, Any]()
    val ss = new JList[JMap[String, Any]]()
    spans.synchronized(spans.asScala.foreach { s =>
      val o = new JMap[String, Any](s.attrs)
      o.put("id", s.id); o.put("name", s.name); o.put("parent", s.parent)
      o.put("start", s.start); o.put("end", s.end)
      ss.add(o)
    })
    m.put("spans", ss)
    jobs.synchronized(m.put("jobs", new JList[Any](jobs)))
    stages.synchronized(m.put("stages", new JList[Any](stages)))
    queries.synchronized(m.put("queries", new JList[Any](queries)))
    val ts = new JList[Any]()
    tasks.synchronized(tasks.asScala.foreach(t => ts.add(t)))
    m.put("tasks", ts)
    m.put("fs", CountingFs.snapshot)
    m
  }

}

/** Spark jobs, stages and tasks of a traced pass. */
class SparkEvents extends SparkListener {
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  override def onJobStart(e: SparkListenerJobStart): Unit = if (Ledger.enabled) {
    val p = Option(e.properties)
    val span = p.flatMap(x => Option(x.getProperty(Ledger.SpanProp))).getOrElse("-1")
    e.stageIds.foreach(id => stageSpan.put(id, span))
    Ledger.add(Ledger.jobs, "job" -> e.jobId, "start" -> e.time.toDouble, "span" -> span.toInt,
      "batch" -> p.flatMap(x => Option(x.getProperty("streaming.sql.batchId")))
        .map(_.toLong).getOrElse(-1L),
      "stages" -> e.stageIds.asJava)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (Ledger.enabled)
    Ledger.add(Ledger.jobs, "job" -> e.jobId, "end" -> e.time.toDouble)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (Ledger.enabled) {
    val i = e.stageInfo
    val tm = i.taskMetrics
    Ledger.add(Ledger.stages, "stage" -> i.stageId, "attempt" -> i.attemptNumber(),
      "span" -> stageSpan.getOrDefault(i.stageId, "-1").toInt,
      "submit" -> i.submissionTime.getOrElse(0L).toDouble,
      "complete" -> i.completionTime.getOrElse(0L).toDouble,
      "tasks" -> i.numTasks,
      "run_ms" -> (if (tm == null) 0L else tm.executorRunTime),
      "cpu_ns" -> (if (tm == null) 0L else tm.executorCpuTime),
      "gc_ms" -> (if (tm == null) 0L else tm.jvmGCTime),
      "shuffle_write" -> (if (tm == null) 0L else tm.shuffleWriteMetrics.bytesWritten),
      "shuffle_read" -> (if (tm == null) 0L else tm.shuffleReadMetrics.totalBytesRead),
      "spill" -> (if (tm == null) 0L else tm.memoryBytesSpilled + tm.diskBytesSpilled),
      "records_in" -> (if (tm == null) 0L else tm.inputMetrics.recordsRead),
      "bytes_out" -> (if (tm == null) 0L else tm.outputMetrics.bytesWritten))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (Ledger.enabled) {
    val i = e.taskInfo
    val run = Option(e.taskMetrics).map(_.executorRunTime).getOrElse(0L)
    Ledger.tasks.synchronized(Ledger.tasks.add(Array(e.stageId.toDouble, i.launchTime.toDouble,
      i.finishTime.toDouble, run.toDouble)))
  }
}

/** Catalyst phase times (`QueryExecution.tracker`) of executed queries. */
class QueryEvents extends QueryExecutionListener {
  private def record(func: String, qe: QueryExecution, ok: Boolean): Unit =
    if (Ledger.enabled) {
      val m = new JMap[String, Any]()
      qe.tracker.phases.foreach { case (k, v) =>
        val p = new JMap[String, Any]()
        p.put("start", v.startTimeMs.toDouble); p.put("end", v.endTimeMs.toDouble)
        m.put(k, p)
      }
      Ledger.add(Ledger.queries, "func" -> func, "ok" -> ok, "at" -> Ledger.nowMs(), "phases" -> m)
    }
  override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
    record(func, qe, ok = true)
  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
    record(func, qe, ok = false)
}

/** The local `file:` FileSystem with operation counters, installed only in
  * traced runs through `fs.file.impl` in a generated core-site.xml. */
class CountingFs extends LocalFileSystem {
  import CountingFs.bump
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    bump("open"); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    bump("create")
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { bump("rename"); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    bump("delete"); super.delete(f, recursive)
  }
  override def listStatus(f: Path): Array[FileStatus] = { bump("list"); super.listStatus(f) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    bump("mkdirs"); super.mkdirs(f, permission)
  }
  override def getFileStatus(f: Path): FileStatus = { bump("stat"); super.getFileStatus(f) }
}

object CountingFs {
  private val counts = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  def bump(op: String): Unit =
    if (Ledger.enabled) counts.computeIfAbsent(op, _ => new AtomicLong()).incrementAndGet()
  def total: Long = counts.values.asScala.map(_.get).sum
  def snapshot: JMap[String, Any] = {
    val m = new JMap[String, Any]()
    counts.forEach((k, v) => m.put(k, v.get))
    m
  }
}
