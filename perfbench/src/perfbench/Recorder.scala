package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed operation of a workload: its kind, wall time and outcome. */
final case class OpRec(id: Int, kind: String, group: Int, units: Double, ms: Double,
                       ok: Boolean, traced: Boolean, startMs: Long, endMs: Long,
                       fs: Map[String, Long])

/** A traced interval: `parent` is the enclosing span (0 = none), `op` the op id. */
final case class SpanRec(id: Int, parent: Int, name: String, op: Int, t0Ns: Long, t1Ns: Long)

/** Per-op Spark counters, filled by [[OpListener]] from the job's `perfbench.op` property. */
final class OpCounters {
  val jobs, stages, tasks, cpuNs, runMs, shuffleWrite, spill = new AtomicLong
  val jobSpans = new ConcurrentHashMap[Int, Array[Long]]() // jobId -> [start, end]
}

/** Counts Spark jobs, stages and task metrics per op. Only installed in traced runs. */
final class OpListener extends SparkListener {
  val byOp = new ConcurrentHashMap[Int, OpCounters]()
  private val stageOp = new ConcurrentHashMap[Int, Int]()
  private val jobOp = new ConcurrentHashMap[Int, Int]()

  private def of(op: Int) = byOp.computeIfAbsent(op, _ => new OpCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpListener.Key)))
      .map(_.toInt).getOrElse(0)
    jobOp.put(e.jobId, op)
    e.stageIds.foreach(s => stageOp.put(s, op))
    val c = of(op)
    c.jobs.incrementAndGet()
    c.jobSpans.put(e.jobId, Array(e.time, e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val c = of(jobOp.getOrDefault(e.jobId, 0))
    Option(c.jobSpans.get(e.jobId)).foreach(_(1) = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    of(stageOp.getOrDefault(e.stageInfo.stageId, 0)).stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = of(stageOp.getOrDefault(e.stageId, 0))
    c.tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      c.cpuNs.addAndGet(m.executorCpuTime)
      c.runMs.addAndGet(m.executorRunTime)
      c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
}

object OpListener { val Key = "perfbench.op" }

/**
 * The local file system with per-call counters, installed as `fs.file.impl`
 * in traced runs only. Nested calls (a list implemented through another
 * list) count once: only the outermost counted call on a thread is counted.
 */
class CountingFs extends org.apache.hadoop.fs.LocalFileSystem {
  private def counted[T](c: AtomicLong)(body: => T): T = {
    val d = CountingFs.depth.get
    if (d == 0) c.incrementAndGet()
    CountingFs.depth.set(d + 1)
    try body finally CountingFs.depth.set(d)
  }
  import CountingFs._
  override def open(f: Path, bufferSize: Int) = counted(reads)(super.open(f, bufferSize))
  override def getFileStatus(f: Path): FileStatus = counted(reads)(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] = counted(lists)(super.listStatus(f))
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] =
    counted(lists)(super.listLocatedStatus(f))
  override def globStatus(p: Path): Array[FileStatus] = counted(lists)(super.globStatus(p))
  override def create(f: Path, perm: org.apache.hadoop.fs.permission.FsPermission,
                      overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: org.apache.hadoop.util.Progressable) =
    counted(writes)(super.create(f, perm, overwrite, bufferSize, replication, blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean = counted(writes)(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean = counted(writes)(super.delete(f, recursive))
  override def mkdirs(f: Path, perm: org.apache.hadoop.fs.permission.FsPermission): Boolean =
    counted(writes)(super.mkdirs(f, perm))
}

object CountingFs {
  val reads, writes, lists = new AtomicLong
  private val depth = ThreadLocal.withInitial[Int](() => 0)

  /** Cumulative counters: op counts from the wrapper, bytes from Hadoop's statistics. */
  def snapshot(): Map[String, Long] = {
    val st = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    Map("read_ops" -> reads.get, "write_ops" -> writes.get, "list_ops" -> lists.get,
      "bytes_read" -> st.map(_.getBytesRead).sum, "bytes_written" -> st.map(_.getBytesWritten).sum)
  }
}

/**
 * Times a workload's operations and, in a traced run, the spans inside them.
 * Single client: ops and spans are driven from one thread; calls made on other
 * threads (executor tasks, futures) are only summed, in [[Recorder.agentsNs]].
 */
final class Recorder(sc: SparkContext, val traced: Boolean) {
  val ops = ArrayBuffer[OpRec]()
  val spans = ArrayBuffer[SpanRec]()
  val setupS = ArrayBuffer[Double]()
  val gauges = scala.collection.mutable.LinkedHashMap[String, Double]()
  val samples = scala.collection.mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  val listener: Option[OpListener] = if (traced) Some(new OpListener) else None
  listener.foreach(sc.addSparkListener)

  /** Spans are recorded only while this is on (the traced window of a traced run). */
  var tracing = false
  private val base = System.nanoTime()
  /** Wall clock at `base`, to place spans on the listener's job timeline. */
  val baseEpochMs: Long = System.currentTimeMillis()
  private val owner = Thread.currentThread()
  private var stack = List.empty[Int]
  private var nextOp = 0
  private var nextSpan = 0
  private var curOp = 0

  def attempted: Int = ops.size
  def failed: Int = ops.count(!_.ok)

  def span[T](name: String)(body: => T): T =
    if (!tracing || (Thread.currentThread() ne owner)) body
    else {
      nextSpan += 1
      val id = nextSpan
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += SpanRec(id, parent, name, curOp, t0 - base, System.nanoTime() - base)
        stack = stack.tail
      }
    }

  /** Run one operation; an exception or a failed `check` (run after the
    * timer stops) makes it a failed op with no latency sample. `kind` is
    * read after the body, so an op can be classified by what it did;
    * `group` ties ops of one session or pass, `units` is the work it
    * completed (sessions, docs) for throughput. */
  def op[T](kind: => String, group: Int, units: Double = 0)(body: => T)(
      check: T => Boolean): Option[T] = {
    nextOp += 1
    curOp = nextOp
    sc.setLocalProperty(OpListener.Key, curOp.toString)
    val fs0 = if (traced) CountingFs.snapshot() else Map.empty[String, Long]
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = try Right(span("op")(body)) catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    val wall1 = System.currentTimeMillis()
    sc.setLocalProperty(OpListener.Key, null)
    val fs1 = if (traced) CountingFs.snapshot() else fs0
    val ok = res match {
      case Right(v) => try check(v) catch { case e: Throwable => Recorder.warn(kind, e); false }
      case Left(e) => Recorder.warn(kind, e); false
    }
    if (!ok) Recorder.warn(kind, new RuntimeException(s"op $curOp ($kind) failed its check"))
    ops += OpRec(curOp, kind, group, units, ms, ok, tracing, wall0, wall1,
      fs1.map { case (k, v) => k -> (v - fs0(k)) })
    curOp = 0
    res.toOption.filter(_ => ok)
  }

  /** A named timing outside any op (layer probes), in ms. */
  def sample[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    add(name, (System.nanoTime() - t0) / 1e6)
    r
  }

  def add(name: String, v: Double): Unit = samples.getOrElseUpdate(name, ArrayBuffer()) += v

  def gauge(name: String, v: Double): Unit = gauges(name) = v
}

object Recorder {
  /** Summed time of agent calls on every thread (searches run inside tasks). */
  val agentsNs = new AtomicLong
  def agentsMs: Double = agentsNs.get / 1e6

  def progress(msg: String): Unit = {
    val up = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    System.err.println(f"[perfbench] $up%7.2f s  $msg")
  }

  def warn(kind: String, e: Throwable): Unit =
    System.err.println(s"[perfbench] $kind: ${e.getClass.getSimpleName}: ${e.getMessage}")
}
