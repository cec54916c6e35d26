package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dedup.Dedup
import graft.store.Snapshots
import graft.streaming.CurationStream

/**
 * Streaming ingest: seeded micro-batches through `CurationStream.ingestBatch`
 * (hashed minhash admission, two exactly-once `Snapshots.appendStream`
 * commits), and after each batch a fixed read mix on the same corpus table:
 * `scanWhere` point, `scanWhere` range, `read` at an older version and
 * `countWhere`. The starting table and its LSH bucket table are built at
 * set-up; each set-up copy is ingested into by one client only.
 */
final class StreamIngest(spark: SparkSession, rec: Recorder, input: String) extends Workload {
  import StreamIngest._

  private case class Doc(id: Long, text: String, plant: String)
  private case class Batch(seq: Int, batchId: Long, docs: Seq[Doc])
  private case class Reads(point: Long, lo: Long, hi: Long, back: Int, lt: Long)

  private val batches: IndexedSeq[Batch] = spark.read.schema(batchSchema)
    .json(s"$input/batches.jsonl").collect().toSeq
    .groupBy(_.getInt(0)).toIndexedSeq.sortBy(_._1).map { case (seq, rows) =>
      Batch(seq, rows.head.getLong(1),
        rows.map(r => Doc(r.getLong(2), r.getString(3), r.getString(4))).sortBy(_.id))
    }
  private val reads: Map[Int, Reads] = spark.read.schema(readSchema)
    .json(s"$input/reads.jsonl").collect()
    .map(r => r.getInt(0) -> Reads(r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4),
      r.getLong(5))).toMap

  private var cursor = 0
  private val offered = mutable.Map[Int, Int]()
  private def corpus(dir: String) = s"$dir/stream-corpus"
  private def buckets(dir: String) = s"$dir/stream-buckets"

  def setup(dir: String): Unit = {
    val h = spark.read.schema(historySchema).json(s"$input/history.jsonl")
      .repartitionByRange(HistoryFiles, col("doc_id")).cache()
    Snapshots.write(h, corpus(dir), statsKey = Some("doc_id"))
    val sig = Dedup.minhashSignatureHashed(h, "doc_id", "text", 5, NumHashes)
    Snapshots.write(Dedup.lshBucketsHashed(sig, "doc_id", NumHashes, Bands), buckets(dir))
    h.unpersist()
  }

  def warmup(dir: String): Unit = batches.take(2).foreach { b =>
    ingest(dir, b)
    readMix(dir, b.seq, timed = false)
  }

  private def ingest(dir: String, b: Batch): Unit = {
    import spark.implicits._
    val df = b.docs.map(d => (d.id, d.text)).toDF("doc_id", "text")
    CurationStream.ingestBatch(df, b.batchId, corpus(dir), buckets(dir), AppId,
      minLen = 20, numHashes = NumHashes, bands = Bands)
  }

  private def latest(dir: String): Long = Snapshots.versions(spark, corpus(dir)).last

  def measure(dir: String, seconds: Double): Unit = {
    val t0 = System.nanoTime()
    while (cursor < batches.size && (System.nanoTime() - t0) / 1e9 < seconds) {
      val b = batches(cursor)
      cursor += 1
      val v0 = latest(dir)
      val replay = batches.take(cursor - 1).exists(_.batchId == b.batchId)
      rec.op("ingest", b.seq, units = b.docs.size)(rec.span("streaming.ingest_batch")(ingest(dir, b))) { _ =>
        val added = latest(dir) - v0
        if (rec.tracing)
          rec.add("snapshots.manifest_raw_lines",
            Snapshots.rawManifestLines(spark, corpus(dir), latest(dir)).size)
        if (replay) rec.gauge("snapshots.replay_new_versions", added)
        !replay || added == 0
      }
      if (!replay) offered(b.seq) = b.docs.size
      readMix(dir, b.seq, timed = true)
    }
  }

  /** The four reads after a batch; each is checked against `read(v).filter`. */
  private def readMix(dir: String, seq: Int, timed: Boolean): Unit = {
    val r = reads(seq)
    val base = corpus(dir)
    val v = latest(dir)
    val old = math.max(1L, v - r.back)
    val point = col("doc_id") === r.point
    val range = col("doc_id").between(r.lo, r.hi)
    def ref(version: Long, p: Column): Set[Row] =
      Snapshots.read(spark, base, Some(version)).filter(p).collect().toSet
    def run[T](kind: String)(body: => T)(check: T => Boolean): Unit =
      if (timed) rec.op(kind, seq)(rec.span(s"snapshots.$kind")(body))(check)
      else check(body)
    run("scan_point")(Snapshots.scanWhere(spark, base, point).collect())(_.toSet == ref(v, point))
    run("scan_range")(Snapshots.scanWhere(spark, base, range).collect())(_.toSet == ref(v, range))
    run("read_as_of")(Snapshots.read(spark, base, Some(old)).filter(range).collect())(
      _.toSet == Snapshots.scanWhere(spark, base, range, Some(old)).collect().toSet)
    run("count_where")(Snapshots.countWhere(spark, base, col("doc_id") < r.lt))(
      _ == Snapshots.read(spark, base, Some(v)).filter(col("doc_id") < r.lt).count())
  }

  def check(dir: String): Unit = {
    val table = Snapshots.read(spark, corpus(dir)).cache()
    // no two admitted docs share text
    rec.op("check", -1)(table.groupBy("text").count().filter(col("count") > 1).count())(_ == 0)
    // planted copies (of admitted docs, across or within batches) were rejected,
    // and a redelivered doc id is present once
    val ingested = batches.take(cursor).flatMap(_.docs)
    val rejected = ingested.filter(d => d.plant == "cross_copy" || d.plant == "intra_copy")
      .map(_.id).distinct
    val redelivered = ingested.filter(_.plant == "redelivery").map(_.id).distinct
    rec.op("check", -1)(table.filter(col("doc_id").isin(rejected: _*)).count())(_ == 0)
    rec.op("check", -1)(table.filter(col("doc_id").isin(redelivered: _*))
      .groupBy("doc_id").count().filter(col("count") =!= 1).count())(_ == 0)
    table.unpersist()
  }

  def layerProbes(dir: String): Unit = {
    val base = corpus(dir)
    val files = Snapshots.files(spark, base).count()
    rec.gauge("snapshots.files", files.toDouble)
    val history = spark.read.schema(historySchema).json(s"$input/history.jsonl").count()
    val admitted = Snapshots.read(spark, base).count() - history
    rec.gauge("streaming.admitted_frac", admitted.toDouble / math.max(1, offered.values.sum))
    reads.toSeq.sortBy(_._1).take(cursor).foreach { case (_, r) =>
      Seq(col("doc_id") === r.point, col("doc_id").between(r.lo, r.hi)).foreach { p =>
        val (cands, _) = rec.sample("snapshots.scan_plan_ms")(Snapshots.scanPlan(spark, base, p))
        rec.add("snapshots.candidate_files_frac", cands.size.toDouble / files)
      }
    }
  }
}

object StreamIngest {
  val AppId = "perfbench"
  val NumHashes = 4
  val Bands = 2
  /** Data files of the starting table. Every read opens each candidate file,
    * so reads cost ~10 ms per file here; a table past the 512-line manifest
    * fold threshold made each read ~2.5 s and each set-up ~10 s. */
  val HistoryFiles = 8
  val historySchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  val batchSchema: StructType = StructType(Seq(
    StructField("seq", IntegerType), StructField("batch_id", LongType),
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("plant", StringType)))
  val readSchema: StructType = StructType(Seq(
    StructField("seq", IntegerType), StructField("point", LongType),
    StructField("lo", LongType), StructField("hi", LongType),
    StructField("back", IntegerType), StructField("lt", LongType)))
}
