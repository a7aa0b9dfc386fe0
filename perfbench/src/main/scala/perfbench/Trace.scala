package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Job, stage and task totals, summed as the events arrive. */
final class ExecListener extends SparkListener {
  private val c = Seq("exec.jobs", "exec.stages", "exec.tasks", "exec.run_ms",
    "exec.cpu_ms", "exec.gc_ms", "exec.shuffle_write_bytes",
    "exec.shuffle_read_bytes", "exec.spill_bytes", "exec.records_written")
    .map(_ -> new AtomicLong).toMap

  override def onJobStart(e: SparkListenerJobStart): Unit =
    c("exec.jobs").incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    c("exec.stages").incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c("exec.tasks").incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c("exec.run_ms").addAndGet(m.executorRunTime)
      c("exec.cpu_ms").addAndGet(m.executorCpuTime / 1000000L)
      c("exec.gc_ms").addAndGet(m.jvmGCTime)
      c("exec.shuffle_write_bytes").addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c("exec.shuffle_read_bytes").addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c("exec.spill_bytes").addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c("exec.records_written").addAndGet(m.outputMetrics.recordsWritten)
    }
  }
  def totals: Map[String, Double] = c.map { case (k, v) => k -> v.get.toDouble }
}

/** Keeps each micro-batch's progress report, keyed by batch id. */
final class ProgressListener extends StreamingQueryListener {
  val byBatch = new java.util.concurrent.ConcurrentHashMap[Long, StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    byBatch.put(e.progress.batchId, e.progress)
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** One span: a timed call into a layer. `parent` is the span that
  * caused it (0 for an operation's root span). */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      startNs: Long, endNs: Long)

/** One operation as measured: wall time, rows or records it produced,
  * and (traced passes only) its counters. */
final case class OpRecord(op: Long, pass: Int, name: String, traced: Boolean,
                          ms: Double, cpuMs: Double, rows: Long, var ok: Boolean,
                          var error: String,
                          counters: mutable.Map[String, Double])

/** Spans and counters for the traced pass. Everything is kept in memory
  * and written once, at the end of the run. When a pass is untraced,
  * `span` only runs its body, and no listener is registered. */
final class Tracer(spark: () => SparkSession) {
  private var exec: Option[ExecListener] = None
  private var progress: Option[ProgressListener] = None
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Long] = Nil
  private var nextSpan = 1L
  private var currentOp = 0L
  def traced: Boolean = exec.isDefined

  /** Registers the listeners (traced pass) or removes them. */
  def setTraced(on: Boolean): Unit = synchronized {
    val s = spark()
    if (on && exec.isEmpty) {
      val e = new ExecListener; s.sparkContext.addSparkListener(e); exec = Some(e)
      val p = new ProgressListener; s.streams.addListener(p); progress = Some(p)
    } else if (!on && exec.isDefined) {
      s.sparkContext.removeSparkListener(exec.get); exec = None
      s.streams.removeListener(progress.get); progress = None
    }
  }

  def progressOf(batchId: Long): Option[StreamingQueryProgress] =
    progress.flatMap(p => Option(p.byBatch.get(batchId)))

  def beginOp(op: Long): Unit = synchronized { currentOp = op; stack = Nil }

  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val (id, parent) = synchronized {
        val id = nextSpan; nextSpan += 1
        val parent = stack.headOption.getOrElse(0L)
        stack = id :: stack
        (id, parent)
      }
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        synchronized {
          stack = stack.drop(1)
          spans += Span(id, parent, currentOp, name, t0, t1)
        }
      }
    }

  /** Counter totals at a layer boundary, after draining the listener
    * bus so that every event of the work just done is in. */
  def counters(): Map[String, Double] = {
    val s = spark()
    org.apache.spark.BenchBus.drain(s.sparkContext)
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    val fs = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    def fsSum(f: org.apache.hadoop.fs.FileSystem.Statistics => Long) =
      fs.map(f).sum.toDouble
    exec.map(_.totals).getOrElse(Map.empty) ++ Map(
      "codegen.compiles" ->
        org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "codegen.compile_ms" ->
        org.apache.spark.sql.execution.WholeStageCodegenExec.codeGenTime / 1e6,
      "jvm.gc_ms" -> gc.toDouble,
      "fs.read_ops" -> CountingFileSystem.reads.get.toDouble,
      "fs.write_ops" -> CountingFileSystem.writes.get.toDouble,
      "fs.bytes_read" -> fsSum(_.getBytesRead),
      "fs.bytes_written" -> fsSum(_.getBytesWritten)) ++ Ingest.callCounters
  }

  /** Records written by tasks so far, as their output metrics report
    * them (0 when untraced). */
  def recordsWritten(): Long = exec.map { e =>
    org.apache.spark.BenchBus.drain(spark().sparkContext)
    e.totals("exec.records_written").toLong
  }.getOrElse(0L)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double =
    heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  /** Span durations summed by name, per operation. */
  def spanMs(op: Long): Map[String, Double] =
    synchronized(spans.filter(_.op == op).toSeq)
      .groupBy(_.name).map { case (n, ss) =>
        (n + "_ms") -> ss.map(s => (s.endNs - s.startNs) / 1e6).sum }

  /** JSONL ledger: one line per span (with self time: its duration
    * minus the part of it that its child spans cover) and one line per
    * operation (with its counters). */
  def ledgerLines(workload: String, ops: Seq[OpRecord]): Seq[String] = {
    val all = synchronized(spans.toSeq)
    val t0 = if (all.isEmpty) 0L else all.map(_.startNs).min
    val children = all.groupBy(_.parent)
    def covered(s: Span): Long = {
      val iv = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).sortBy(_._1)
      var total = 0L; var end = Long.MinValue
      iv.foreach { case (a, b) =>
        val from = math.max(a, end)
        if (b > from) total += b - from
        end = math.max(end, b)
      }
      total
    }
    val spanLines = all.map { s =>
      Json.write(Map("type" -> "span", "workload" -> workload, "op" -> s.op,
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6,
        "dur_ms" -> (s.endNs - s.startNs) / 1e6,
        "self_ms" -> (s.endNs - s.startNs - covered(s)) / 1e6))
    }
    val opLines = ops.filter(_.traced).map { o =>
      Json.write(Map("type" -> "op", "workload" -> workload, "op" -> o.op,
        "pass" -> o.pass, "name" -> o.name, "ms" -> o.ms, "rows" -> o.rows,
        "ok" -> o.ok, "counters" -> o.counters))
    }
    spanLines ++ opLines
  }
}
