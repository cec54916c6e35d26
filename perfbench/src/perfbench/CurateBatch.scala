package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dedup.Dedup
import graft.ops.Curation
import graft.text.TextAnalysis

/**
 * Batch curation: the near-dup pretraining pipeline over a seeded corpus —
 * `text.tokenStats` gate, md5 `dedup.minhashSignature`, `lshCandidatePairs`,
 * `connectedComponents`, `dedupByCluster`, then `ops.Curation.temperatureMix`
 * and `splitAssign`, written out as the training mix. Each `measure` call
 * runs one fused pass. Phased passes put a materialisation barrier between
 * phases so each phase is timed on its own: the warm-up pass (whose
 * intermediates the output checks use) and every pass of a traced window.
 */
final class CurateBatch(spark: SparkSession, rec: Recorder, input: String) extends Workload {
  import CurateBatch._

  /** Intermediates of a phased pass (checkpointed, so they outlive the pass). */
  private case class Phased(sig: DataFrame, pairs: DataFrame, labels: DataFrame,
                            surv: DataFrame, mixed: DataFrame)

  private var passes = 0
  private var corpusDir: String = _
  private lazy val nDocs = spark.read.parquet(corpusDir).count()
  private val fingerprints = mutable.Map[Int, Fingerprint]()
  private var reference: Option[(Fingerprint, Phased)] = None

  def setup(dir: String): Unit = {
    spark.read.schema(corpusSchema).json(s"$input/corpus.jsonl")
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
      .write.parquet(s"$dir/curate-corpus")
    corpusDir = s"$dir/curate-corpus"
  }

  /** The warm-up is a phased pass; its output is the reference every timed pass must match. */
  def warmup(dir: String): Unit = {
    val (out, ph) = pipeline(spark.read.parquet(s"$dir/curate-corpus"), s"$dir/warm-out",
      phased = true)
    reference = Some((fingerprint(out), ph.get))
  }

  /** The whole pipeline; returns the written mix's path and, if phased, its intermediates. */
  private def pipeline(docs: DataFrame, out: String, phased: Boolean): (String, Option[Phased]) = {
    def barrier(df: DataFrame): DataFrame =
      if (phased) { val c = df.localCheckpoint(); c.count(); c } else df
    val gated = rec.span("text.token_stats") {
      val stats = TextAnalysis.tokenStats(docs, "doc_id", "text")
      val g = docs.join(stats, "doc_id")
        .filter(col("entropy") >= MinEntropy && col("avg_logp") >= MinAvgLogp)
        .drop("entropy", "avg_logp")
        .persist()
      if (phased) g.count()
      g
    }
    try {
      val sig = rec.span("dedup.minhash")(barrier(Dedup.minhashSignature(gated, "doc_id", "text", 5, 4)))
      val pairs = rec.span("dedup.lsh_pairs")(barrier(Dedup.lshCandidatePairs(sig, "doc_id", 4, 2)))
      val labels = rec.span("dedup.cc")(barrier(
        Dedup.connectedComponents(pairs, gated.select(col("doc_id")), "doc_id")))
      val surv = rec.span("dedup.survivors")(barrier(
        Dedup.dedupByCluster(gated, labels, "doc_id", length(col("text"))).drop("cluster")))
      val mixed = rec.span("ops.mix_split") {
        val m = Curation.temperatureMix(surv, "doc_id", "source", tau = 0.5, targetFrac = 0.5)
          .filter(col("__keep")).drop("__keep", "__keep_rate")
        Curation.splitAssign(m, "doc_id", Splits)
          .select(col("doc_id"), col("source"), col("split"), col("n_tokens"))
          .write.parquet(out)
        m
      }
      (out, if (phased) Some(Phased(sig, pairs, labels, surv, mixed)) else None)
    } finally gated.unpersist(false)
  }

  /** Per (split, source): doc count and an order-free hash of the doc ids. */
  private def fingerprint(out: String): Fingerprint =
    spark.read.parquet(out).groupBy("split", "source")
      .agg(count(lit(1)), bit_xor(xxhash64(col("doc_id")))).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap

  /** One pass, whatever `seconds` is. */
  def measure(dir: String, seconds: Double): Unit = {
    val k = passes
    passes += 1
    rec.op("pass", -1, units = nDocs.toDouble)(
      pipeline(spark.read.parquet(corpusDir), s"$dir/curate-out-$k", phased = rec.tracing)) {
      case (o, ph) =>
        fingerprints(k) = fingerprint(o)
        ph.foreach(probes)
        true
    }
  }

  /** Per-layer counts of a traced phased pass, taken after its timer stopped. */
  private def probes(ph: Phased): Unit = {
    rec.add("dedup.candidate_pairs", ph.pairs.count().toDouble)
    rec.add("expr.minhash_rows_per_s", ph.sig.count() / (lastSpanMs("dedup.minhash") / 1000))
    rec.add("dedup.clusters",
      ph.labels.groupBy("cluster").count().filter(col("count") > 1).count().toDouble)
    rec.add("dedup.survivors", ph.surv.count().toDouble)
    val planted = spark.read.parquet(corpusDir).select(col("doc_id"), col("cluster"))
    def side(s: String) = planted.select(col("doc_id").as(s"id_$s"), col("cluster").as(s"c$s"))
    val pc = ph.pairs.join(side("a"), "id_a").join(side("b"), "id_b")
      .agg(count(lit(1)), sum(when(col("ca") === col("cb") && col("ca") >= 0, 1).otherwise(0)))
      .head()
    rec.add("dedup.pair_precision", pc.getLong(1).toDouble / math.max(1L, pc.getLong(0)))
    def pairsOf(c: Column) = c * (c - 1) / 2
    val byCluster = planted.filter(col("cluster") >= 0)
      .join(ph.labels.select(col("id").as("doc_id"), col("cluster").as("label")), "doc_id")
    val total = byCluster.groupBy("cluster").count().agg(sum(pairsOf(col("count")))).head()
    val joined = byCluster.groupBy("cluster", "label").count()
      .agg(sum(pairsOf(col("count")))).head()
    rec.add("dedup.planted_recall", joined.getDouble(0) / math.max(1.0, total.getDouble(0)))
  }

  private def lastSpanMs(name: String): Double =
    rec.spans.reverseIterator.find(_.name == name).map(s => (s.t1Ns - s.t0Ns) / 1e6)
      .getOrElse(Double.NaN)

  def check(dir: String): Unit = {
    val (fp, ph) = reference.get
    // every timed pass wrote the same mix as the phased warm-up pass
    rec.op("check", -1)(fingerprints.values.toSeq)(_.forall(_ == fp))
    // split counts sum to the docs the temperature mix kept
    rec.op("check", -1)(ph.mixed.count())(_ == fp.values.map(_._1).sum)
    // at most one survivor per planted exact-copy cluster
    val exact = spark.read.parquet(corpusDir).filter(col("ckind") === "exact")
      .select(col("doc_id"), col("cluster"))
    rec.op("check", -1)(ph.surv.select("doc_id").join(exact, "doc_id")
      .groupBy("cluster").count().filter(col("count") > 1).count())(_ == 0)
  }

  def layerProbes(dir: String): Unit = ()
}

object CurateBatch {
  type Fingerprint = Map[(String, String), (Long, Long)]
  val MinEntropy = 3.0
  val MinAvgLogp = -12.0
  val Splits: Seq[(String, Double)] = Seq(("train", 0.9), ("val", 0.05), ("test", 0.05))
  val corpusSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("source", StringType),
    StructField("text", StringType), StructField("cluster", LongType),
    StructField("ckind", StringType)))
}
