package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sinks.RowSink

/** One traced interval. Times are epoch microseconds. Client spans are
  * recorded around the benchmark's own calls into graft; listener spans
  * (Spark jobs and stages, Catalyst phases) get their parent when the
  * run ends, from the op id and the time they started. */
final case class Span(id: Int, name: String, var op: Int, start: Double,
    var end: Double, var parent: Int, depth: Int)

/** In-memory tracing for the traced run. With tracing off every entry
  * point is a cheap no-op, so the untraced run executes the same code. */
object Trace {
  @volatile var on: Boolean = false
  val OpProperty = "perfbench.op"

  private val nanoBase = System.nanoTime()
  private val epochBaseUs = System.currentTimeMillis() * 1000.0
  def nowUs: Double = epochBaseUs + (System.nanoTime() - nanoBase) / 1000.0

  private val ids = new AtomicInteger(0)
  val clientSpans = mutable.ArrayBuffer.empty[Span]
  val listenerSpans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  @volatile var currentOp: Int = -1

  /** Per-op counters, filled at op end and by the listeners. */
  val counters = new ConcurrentHashMap[Int, ConcurrentHashMap[String, Double]]()
  def add(op: Int, name: String, v: Double): Unit =
    if (op >= 0) counters.computeIfAbsent(op, _ => new ConcurrentHashMap())
      .merge(name, v, (a: Double, b: Double) => a + b)
  def add(name: String, v: Double): Unit = if (on) add(currentOp, name, v)

  /** End-of-run values that are not per op (log length, peak bytes). */
  val gauges = new ConcurrentHashMap[String, Double]()

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val sp = Span(ids.getAndIncrement(), name, currentOp, nowUs, 0.0,
        stack.headOption.map(_.id).getOrElse(-1), stack.size)
      stack.push(sp)
      try body
      finally {
        sp.end = nowUs
        stack.pop()
        clientSpans.synchronized(clientSpans += sp)
      }
    }

  private var fsBefore: Map[String, Long] = Map.empty
  private var gcBefore = 0L
  private var sinkBefore: Map[String, Long] = Map.empty

  def opBegin(spark: SparkSession, op: Int, name: String): Unit = {
    currentOp = op
    if (on) {
      spark.sparkContext.setLocalProperty(OpProperty, op.toString)
      SinkStats.rowsByPartition.clear()
      fsBefore = FsStats.snapshot()
      gcBefore = gcMillis()
      sinkBefore = SinkStats.snapshot()
      val sp = Span(ids.getAndIncrement(), s"op.$name", op, nowUs, 0.0, -1, 0)
      stack.push(sp)
    }
  }

  def opEnd(spark: SparkSession, op: Int): Unit = if (on) {
    val sp = stack.pop()
    sp.end = nowUs
    clientSpans.synchronized(clientSpans += sp)
    spark.sparkContext.setLocalProperty(OpProperty, null)
    val fs = FsStats.snapshot()
    fs.foreach { case (k, v) => add(op, s"fs.$k", (v - fsBefore(k)).toDouble) }
    add(op, "jvm.gc_ms", (gcMillis() - gcBefore).toDouble)
    val sk = SinkStats.snapshot()
    sk.foreach { case (k, v) => add(op, k, (v - sinkBefore(k)).toDouble) }
    val parts = SinkStats.rowsByPartition.values().asScala.map(_.get).toSeq
    if (parts.nonEmpty) {
      val mean = parts.sum.toDouble / parts.size
      add(op, "sources.split.skew", if (mean > 0) parts.max / mean else 1.0)
    }
    currentOp = -1
  }

  def gcMillis(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  private var listener: Listener = _

  def start(spark: SparkSession): Unit = {
    listener = new Listener
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(listener.queries)
    on = true
  }

  /** Stop recording, wait for the listener bus to deliver every job end,
    * then attach listener spans to the client span they ran under. */
  def finish(spark: SparkSession): Unit = if (on) {
    on = false
    val deadline = System.currentTimeMillis() + 10000
    while (!listener.quiet && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    Thread.sleep(200)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(listener.queries)
    listener.close()
    attachParents()
  }

  /** Job spans go under the deepest client span of their op that was open
    * when they started, stage spans under their job, and Catalyst phases
    * (which carry no op) under the deepest client span open at their
    * start. Until here job and stage spans hold their Spark id in
    * `parent`. */
  private def attachParents(): Unit = {
    val byOp = clientSpans.groupBy(_.op)
    def deepest(op: Int, t: Double): Int =
      byOp.getOrElse(op, Nil).filter(s => s.start <= t && t <= s.end)
        .maxByOption(_.depth).map(_.id).getOrElse(-1)
    def opAt(t: Double): Int = clientSpans
      .find(s => s.depth == 0 && s.start <= t && t <= s.end).map(_.op)
      .getOrElse(-1)
    val jobSpan = listenerSpans.filter(_.name == "scheduler.job")
      .map(s => s.parent -> s.id).toMap
    listenerSpans.foreach { s =>
      s.name match {
        case "executor.stage" =>
          s.parent = listener.stageJob.get(s.parent).flatMap(jobSpan.get)
            .getOrElse(-1)
        case "scheduler.job" => s.parent = deepest(s.op, s.start)
        case _ =>
          s.op = opAt(s.start)
          s.parent = deepest(s.op, s.start)
      }
    }
  }

  /** Listener-side counters: scheduler, executor and block manager. */
  final class Listener extends SparkListener {
    private val jobs = new ConcurrentHashMap[Int, Span]()
    val stageJob = new ConcurrentHashMap[Int, Int]().asScala
    private val stageOp = new ConcurrentHashMap[Int, Int]()
    private val stageTasks =
      new ConcurrentHashMap[(Int, Int), mutable.ArrayBuffer[Long]]()
    private val open = new AtomicLong(0)
    private val blocks = new ConcurrentHashMap[String, Long]()
    private val pinned = new AtomicLong(0)
    private val peakPinned = new AtomicLong(0)

    def quiet: Boolean = open.get() == 0

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).flatMap(p =>
        Option(p.getProperty(OpProperty))).map(_.toInt).getOrElse(-1)
      open.incrementAndGet()
      e.stageIds.foreach { s => stageJob.put(s, e.jobId); stageOp.put(s, op) }
      add(op, "scheduler.jobs", 1)
      add(op, "scheduler.stages", e.stageIds.size.toDouble)
      jobs.put(e.jobId, Span(ids.getAndIncrement(), "scheduler.job", op,
        e.time * 1000.0, e.time * 1000.0, e.jobId, 0))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.remove(e.jobId)).foreach { s =>
        s.end = e.time * 1000.0
        if (s.op >= 0) listenerSpans.synchronized(listenerSpans += s)
      }
      open.decrementAndGet()
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val op = stageOp.getOrDefault(info.stageId, -1)
      for (s <- info.submissionTime; c <- info.completionTime if op >= 0) {
        listenerSpans.synchronized(listenerSpans += Span(ids.getAndIncrement(),
          "executor.stage", op, s * 1000.0, c * 1000.0, info.stageId, 0))
      }
      Option(stageTasks.remove((info.stageId, info.attemptNumber())))
        .foreach { ds =>
          if (ds.size >= 2 && op >= 0) {
            val sorted = ds.sorted
            val med = sorted(sorted.size / 2).max(1L)
            add(op, "executor.task_skew_sum", sorted.last.toDouble / med)
            add(op, "executor.skew_stages", 1)
          }
        }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val op = stageOp.getOrDefault(e.stageId, -1)
      if (op < 0) return
      add(op, "scheduler.tasks", 1)
      val durations = stageTasks.computeIfAbsent(
        (e.stageId, e.stageAttemptId), _ => mutable.ArrayBuffer.empty[Long])
      durations.synchronized(durations += e.taskInfo.duration)
      val m = e.taskMetrics
      if (m != null) {
        add(op, "executor.run_ms", m.executorRunTime.toDouble)
        add(op, "executor.cpu_ms", m.executorCpuTime / 1e6)
        add(op, "executor.gc_ms", m.jvmGCTime.toDouble)
        add(op, "executor.scan_bytes", m.inputMetrics.bytesRead.toDouble)
        add(op, "executor.shuffle_read_bytes",
          m.shuffleReadMetrics.totalBytesRead.toDouble)
        add(op, "executor.shuffle_write_bytes",
          m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(op, "executor.spill_bytes",
          (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val size = if (info.storageLevel.isValid) info.memSize + info.diskSize
          else 0L
        val prev = Option(blocks.put(info.blockId.name, size)).getOrElse(0L)
        val now = pinned.addAndGet(size - prev)
        peakPinned.accumulateAndGet(now, (a: Long, b: Long) => a max b)
      }
    }

    /** Catalyst phase times of every Dataset action, from the query's
      * planning tracker. */
    val queries: QueryExecutionListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        record(qe)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = record(qe)
      private def record(qe: QueryExecution): Unit =
        qe.tracker.phases.foreach { case (phase, p) =>
          listenerSpans.synchronized(listenerSpans += Span(
            ids.getAndIncrement(), s"catalyst.$phase", -1,
            p.startTimeMs * 1000.0, p.endTimeMs * 1000.0, -1, 0))
        }
    }

    def close(): Unit = gauges.put("operators.pin_bytes",
      peakPinned.get().toDouble)
  }
}

/** Bytes from Hadoop's per-scheme storage statistics of the local file
  * system; LIST, open and mutating calls counted by
  * [[CountingLocalFileSystem]] (the local file system's statistics count
  * bytes but no operations). */
object FsStats {
  val lists = new AtomicLong(0)
  val opens = new AtomicLong(0)
  val writes = new AtomicLong(0)

  def snapshot(): Map[String, Long] = {
    val st = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    Map(
      "list_ops" -> lists.get(),
      "read_ops" -> opens.get(),
      "write_ops" -> writes.get(),
      "bytes_read" -> st.map(_.getBytesRead).sum,
      "bytes_written" -> st.map(_.getBytesWritten).sum)
  }
}

/** The local file system with LIST, open and mutating calls counted.
  * Installed for the `file` scheme in the traced run only
  * (`fs.file.impl`). */
class CountingLocalFileSystem extends LocalFileSystem {
  import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus}
  import org.apache.hadoop.fs.permission.FsPermission
  import org.apache.hadoop.util.Progressable

  override def listStatus(p: Path): Array[FileStatus] = {
    FsStats.lists.incrementAndGet()
    super.listStatus(p)
  }
  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    FsStats.opens.incrementAndGet()
    super.open(p, bufferSize)
  }
  override def create(p: Path, perm: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    FsStats.writes.incrementAndGet()
    super.create(p, perm, overwrite, bufferSize, replication, blockSize,
      progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    FsStats.writes.incrementAndGet()
    super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    FsStats.writes.incrementAndGet()
    super.delete(p, recursive)
  }
}

/** Counters of the [[TimedSink]] wrapper. Spark runs in local mode, so
  * executor tasks update these in the driver JVM. */
object SinkStats {
  val batches = new AtomicLong(0)
  val rows = new AtomicLong(0)
  val writeNs = new AtomicLong(0)
  val failures = new AtomicLong(0)
  val rowsByPartition = new ConcurrentHashMap[Int, AtomicLong]()

  def snapshot(): Map[String, Long] = Map(
    "sinks.batch.batches" -> batches.get(),
    "sinks.batch.rows" -> rows.get(),
    "sinks.batch.write_ns" -> writeNs.get(),
    "sinks.batch.retries" -> failures.get())
}

/** Times every call the writer makes into the wrapped sink. */
final class TimedSink(inner: RowSink, partition: Int) extends RowSink {
  private def timed[T](n: Int)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    catch { case e: Throwable => SinkStats.failures.incrementAndGet(); throw e }
    finally {
      SinkStats.writeNs.addAndGet(System.nanoTime() - t0)
      SinkStats.batches.incrementAndGet()
      SinkStats.rows.addAndGet(n)
      SinkStats.rowsByPartition.computeIfAbsent(partition,
        _ => new AtomicLong(0)).addAndGet(n)
    }
  }
  override def open(partitionId: Int): Unit = inner.open(partitionId)
  override def writeBatch(rows: Seq[Row]): Unit =
    timed(rows.size)(inner.writeBatch(rows))
  override def writeRow(row: Row): Unit = timed(1)(inner.writeRow(row))
  override def begin(): Unit = inner.begin()
  override def commit(): Unit = inner.commit()
  override def rollback(): Unit = inner.rollback()
  override def complete(): Unit = inner.complete()
  override def close(): Unit = inner.close()
}
