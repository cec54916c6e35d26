package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/**
 * JVM side of the benchmark: runs one workload on `local[N]` and writes the
 * raw record (op latencies, set-up times, spans, counters) as JSON. All
 * statistics are computed from that record by `perfbench/run.py`.
 *
 * Phases: set-up `setups` times (each into a fresh directory, timed; the
 * median hides the cold first one), an untimed warm-up on the first copy,
 * the measured window on the last copy, then the output checks.
 */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val work = new File(a("work")).getAbsolutePath
    val cores = a("cores").toInt
    val traced = a("trace") == "1"
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.autoBroadcastJoinThreshold", s"${64 * 1024 * 1024}")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .config("spark.driver.host", "localhost")
    if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
      .config("spark.hadoop.fs.file.impl.disable.cache", "false")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Recorder.progress("spark session up")
    val rec = new Recorder(spark.sparkContext, traced)
    val w: Workload = a("workload") match {
      case "research_api" => new ResearchApi(spark, rec, a("input"))
      case "curate_ingest" => new CurateIngest(spark, rec, a("input"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    try {
      Recorder.progress("inputs loaded")
      val dirs = (1 to a("setups").toInt).map(i => s"$work/setup-$i")
      dirs.foreach { d =>
        val t0 = System.nanoTime()
        w.setup(d)
        rec.setupS += (System.nanoTime() - t0) / 1e9
        Recorder.progress(f"set-up ${rec.setupS.last}%.2f s")
      }
      w.warmup(dirs.head)
      Recorder.progress("warm-up done")
      val gc0 = gcMs()
      rec.tracing = traced
      w.measure(dirs.last, a("seconds").toDouble)
      rec.tracing = false
      rec.gauge("jvm.gc_ms", gcMs() - gc0)
      Recorder.progress(s"measured ${rec.ops.size} ops")
      w.check(dirs.last)
      Recorder.progress("checks done")
      if (traced) {
        w.layerProbes(dirs.last)
        org.apache.spark.PerfbenchAccess.drainListenerBus(spark.sparkContext)
      }
      rec.gauge("jvm.heap_peak_mb", ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum / 1048576.0)
    } catch {
      case e: Throwable => Recorder.warn("workload", e); e.printStackTrace(); rec.gauge("aborted", 1)
    } finally {
      Out.write(new File(a("out")), rec)
      spark.stop()
    }
  }

  private def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble
}

/**
 * `curate_ingest`: batch curation and streaming ingest in one process — the
 * md5 near-dup pipeline and the hashed dedup twin behind `CurationStream`.
 * Each window runs ingest micro-batches with their read mix until the
 * window ends, then one curation pass.
 */
final class CurateIngest(spark: SparkSession, rec: Recorder, input: String) extends Workload {
  private val curate = new CurateBatch(spark, rec, input)
  private val stream = new StreamIngest(spark, rec, input)
  def setup(dir: String): Unit = { curate.setup(dir); stream.setup(dir) }
  def warmup(dir: String): Unit = { curate.warmup(dir); stream.warmup(dir) }
  def measure(dir: String, seconds: Double): Unit = {
    stream.measure(dir, seconds)
    curate.measure(dir, seconds)
  }
  def check(dir: String): Unit = { curate.check(dir); stream.check(dir) }
  def layerProbes(dir: String): Unit = { curate.layerProbes(dir); stream.layerProbes(dir) }
}

/** A benchmark workload: builds its starting state, then drives graft's public API. */
trait Workload {
  /** Build the starting state under `dir` from the generated inputs (timed as set-up). */
  def setup(dir: String): Unit
  /** Untimed warm-up on a set-up copy that is not measured. */
  def warmup(dir: String): Unit
  /** Closed loop of timed ops for `seconds`; may be called twice (untraced, traced). */
  def measure(dir: String, seconds: Double): Unit
  /** Output checks that need the whole run; a failure is recorded as a failed op. */
  def check(dir: String): Unit
  /** Traced runs only: per-layer probes and gauges. */
  def layerProbes(dir: String): Unit
}

/** Writes the raw record as one JSON object. */
object Out {
  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  private def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
  private def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")

  def write(f: File, rec: Recorder): Unit = {
    val counters = rec.listener.map(_.byOp.asScala.toSeq.sortBy(_._1).map { case (op, c) =>
      op.toString -> obj(Seq(
        "jobs" -> c.jobs.get.toString, "stages" -> c.stages.get.toString,
        "tasks" -> c.tasks.get.toString, "cpu_ms" -> num(c.cpuNs.get / 1e6),
        "run_ms" -> c.runMs.get.toString, "shuffle_write" -> c.shuffleWrite.get.toString,
        "spill" -> c.spill.get.toString,
        "job_spans" -> arr(c.jobSpans.values.asScala.map(s => arr(s.map(_.toString))))))
    }).getOrElse(Nil)
    val body = obj(Seq(
      "setup_s" -> arr(rec.setupS.map(num)),
      "span_base_epoch_ms" -> rec.baseEpochMs.toString,
      "ops" -> arr(rec.ops.map(o => obj(Seq(
        "id" -> o.id.toString, "kind" -> q(o.kind), "group" -> o.group.toString,
        "units" -> num(o.units), "ms" -> num(o.ms),
        "ok" -> o.ok.toString, "traced" -> o.traced.toString,
        "start_ms" -> o.startMs.toString, "end_ms" -> o.endMs.toString,
        "fs" -> obj(o.fs.map { case (k, v) => k -> v.toString }))))),
      "spans" -> arr(rec.spans.map(s => arr(Seq(s.id.toString, s.parent.toString, q(s.name),
        s.op.toString, s.t0Ns.toString, s.t1Ns.toString)))),
      "counters" -> obj(counters),
      "gauges" -> obj(rec.gauges.map { case (k, v) => k -> num(v) }),
      "samples" -> obj(rec.samples.map { case (k, v) => k -> arr(v.map(num)) })))
    val w = new PrintWriter(f, "UTF-8")
    try w.println(body) finally w.close()
  }
}
