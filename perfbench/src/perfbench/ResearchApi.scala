package perfbench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.Service
import graft.model.Schemas.{ReportData, SearchItem}
import graft.pipeline.{Research, ResearchPipeline}
import graft.rag.Rag
import graft.store.ConversationStore

/** ConversationStore whose eager methods are traced as `store.*` spans. */
final class TimedStore(spark: SparkSession, base: String, rec: Recorder)
    extends ConversationStore(spark, base) {
  override def createConversation(w: String, q: String, s: String, now: Timestamp) =
    rec.span("store.create_conversation")(super.createConversation(w, q, s, now))
  override def updateStatus(w: String, s: String): Unit =
    rec.span("store.update_status")(super.updateStatus(w, s))
  override def addMessage(w: String, t: String, c: String, now: Timestamp, cat: Option[String]) =
    rec.span("store.add_message")(super.addMessage(w, t, c, now, cat))
  override def addMessageIfAbsent(w: String, t: String, c: String, now: Timestamp,
                                  cat: Option[String]) =
    rec.span("store.add_message_if_absent")(super.addMessageIfAbsent(w, t, c, now, cat))
  override def getConversation(w: String) =
    rec.span("store.get_conversation")(super.getConversation(w))
  override def addResult(w: String, s: String, m: String, now: Timestamp, t: Option[String],
                         i: Option[String]) =
    rec.span("store.add_result")(super.addResult(w, s, m, now, t, i))
  override def setEmbedding(r: String, e: Array[Float]): Unit =
    rec.span("store.set_embedding")(super.setEmbedding(r, e))
  override def linkExistingResult(w: String, r: String, now: Timestamp): Boolean =
    rec.span("store.link_result")(super.linkExistingResult(w, r, now))
}

/** The deterministic stub agents, timed: `agents.*` spans on the driver thread,
  * summed clock time on every thread (searches run inside executor tasks). */
final class TimedAgents(@transient private val rec: Recorder) extends Research.StubAgents(64) {
  private def t[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try { if (rec == null) body else rec.span(s"agents.$name")(body) }
    finally Recorder.agentsNs.addAndGet(System.nanoTime() - t0)
  }
  override def embed(text: String): Array[Float] = t("embed")(super.embed(text))
  override def plan(query: String): Seq[SearchItem] = t("plan")(super.plan(query))
  override def search(item: SearchItem): Option[String] = t("search")(super.search(item))
  override def writeReport(q: String, c: Option[String], s: Seq[String]): ReportData =
    t("write_report")(super.writeReport(q, c, s))
  override def clarify(query: String): Seq[String] = t("clarify")(super.clarify(query))
  override def generateImage(query: String): Option[String] =
    t("generate_image")(super.generateImage(query))
}

/** ResearchPipeline whose `run` is traced and whose outcomes are kept. */
final class TimedPipeline(spark: SparkSession, store: ConversationStore, agents: Research.Agents,
                          rec: Recorder, sink: DataFrame => Unit)
    extends ResearchPipeline(spark, store, agents, eventSink = sink) {
  var last: Option[Research.RunOutcome] = None
  override def run(w: String, q: String, now: Timestamp): Research.RunOutcome = {
    val a0 = Recorder.agentsMs
    val t0 = System.nanoTime()
    val o = rec.span("pipeline.run")(super.run(w, q, now))
    if (rec.tracing && !o.cacheHit) {
      rec.add("pipeline.run_ms", (System.nanoTime() - t0) / 1e6)
      rec.add("pipeline.searches", o.nSearches)
      rec.add("pipeline.search_failures", o.nSearchFailures)
      rec.add("agents.ms", Recorder.agentsMs - a0)
    }
    last = Some(o)
    o
  }
}

/**
 * `research_api`: one closed-loop client over `api.Service`. A session is
 * either a `?` query (runs the pipeline at once) or `startResearch` plus
 * three `answer` turns (the last runs the pipeline); every session ends with
 * `status` and `result`. Repeated queries are served by the cache gate.
 */
final class ResearchApi(spark: SparkSession, rec: Recorder, input: String) extends Workload {
  import ResearchApi._

  private val sessions: IndexedSeq[Session] = spark.read.schema(sessionSchema)
    .json(s"$input/sessions.jsonl").collect().toIndexedSeq
    .map(r => Session(r.getInt(0), r.getString(1), r.getSeq[String](2), r.getInt(3)))
    .sortBy(_.i)
  private val base = Timestamp.valueOf("2026-01-01 00:00:00").getTime

  /** Next session to run; survives between windows. */
  private var next = 0
  private var svc: Service = _
  private var pipeline: TimedPipeline = _
  private val reports = mutable.Map[Int, String]()  // session -> markdown report
  private val cacheHits = mutable.Map[Int, Boolean]()

  private def open(dir: String): (TimedStore, TimedPipeline, Service) = {
    val store = new TimedStore(spark, s"$dir/store", rec)
    val agents = new TimedAgents(rec)
    val p = new TimedPipeline(spark, store, agents, rec,
      df => rec.span("events.sink")(df.write.format("noop").mode("overwrite").save()))
    (store, p, new Service(store, p))
  }

  def setup(dir: String): Unit = {
    val h = spark.read.schema(historySchema).json(s"$input/history.jsonl")
      .withColumn("created_at", (lit(base / 1000) + col("i") * 60).cast("timestamp"))
      .cache()
    val store = s"$dir/store"
    h.select(col("wf").as("workflow_id"), col("query").as("original_query"),
        lit("completed").as("status"), col("created_at"),
        concat(lit("conv-"), col("wf")).as("conversation_id"))
      .write.parquet(s"$store/conversations")
    // a "?" query has only its initial message (sequence 0) and its result
    // (1); otherwise three questions and three answers follow (1..6, result 7)
    val question = col("query").endsWith("?")
    val resultSeq = when(question, lit(1)).otherwise(lit(7))
    val resultId = concat(col("wf"), lit("-result-"), resultSeq)
    val msgs = explode(array(
      (Seq(struct(lit(0).as("seq"), lit("human").as("t"), col("query").as("c"),
        lit("initial_query").as("cat"))) ++
      (1 to 3).map(k => struct(lit(k).as("seq"), lit("ai").as("t"),
        col("questions")(k - 1).as("c"), lit("clarification_question").as("cat"))) ++
      (1 to 3).map(k => struct(lit(k + 3).as("seq"), lit("human").as("t"),
        col("answers")(k - 1).as("c"), lit("clarification_answer").as("cat")))): _*))
    h.select(col("wf"), col("created_at"), question.as("q"), msgs.as("m"))
      .filter(!col("q") || col("m.seq") === 0)
      .select(concat(col("wf"), lit("-msg-"), col("m.seq")).as("message_id"),
        col("wf").as("workflow_id"), col("m.t").as("message_type"), col("m.c").as("content"),
        col("created_at").as("timestamp"), col("m.seq").as("sequence"),
        col("m.cat").as("message_category"))
      .write.parquet(s"$store/messages")
    h.select(resultId.as("result_id"), col("wf").as("workflow_id"),
        concat(lit("Report on: "), col("query")).as("short_summary"),
        concat(lit("# Research: "), col("query"), lit("\n\n"), col("body")).as("markdown_report"),
        col("created_at").as("timestamp"), resultSeq.as("sequence"),
        concat(lit("Research: "), col("query")).as("title"),
        lit(null).cast("string").as("image_file_path"),
        col("emb").cast("array<float>").as("embedding"))
      .write.parquet(s"$store/results")
    h.select(col("wf").as("workflow_id"), resultId.as("result_id"),
        col("created_at").as("linked_at"))
      .write.parquet(s"$store/result_links")
    h.unpersist()
  }

  /** The measured session kinds once each, on a copy that is not measured:
    * a "?" query, a cache-gate repeat of a history query, a clarified query. */
  def warmup(dir: String): Unit = {
    val (_, _, s) = open(dir)
    val now = new Timestamp(base)
    val repeat = sessions.find(_.repeatOf < -1).map(_.query).toSeq
    for ((q, k) <- (Seq("warm-up query one?") ++ repeat :+ "warm-up query two").zipWithIndex) {
      val wf = s"warm-$k"
      s.startResearch(wf, q, now)
      if (!q.endsWith("?")) (1 to 3).foreach(a => s.answer(wf, s"warm-up answer $a", now))
      s.status(wf)
      s.result(wf)
    }
  }

  /** Whole sessions: a session that starts inside the window runs to its end. */
  def measure(dir: String, seconds: Double): Unit = {
    if (svc == null) { val (_, p, s) = open(dir); pipeline = p; svc = s }
    val t0 = System.nanoTime()
    while (next < sessions.size && (System.nanoTime() - t0) / 1e9 < seconds) {
      val s = sessions(next)
      next += 1
      (0 until s.nSteps).foreach(k => step(s, k))
    }
  }

  private def kindOf(default: String): String =
    pipeline.last.map(o => if (o.cacheHit) "cached" else "research").getOrElse(default)

  /** Step `k` of session `s`: start, answers (clarify sessions), status, result. */
  private def step(s: Session, k: Int): Unit = {
    val wf = s"r${s.i}"
    val now = new Timestamp(base + 86400000L + s.i * 60000L)
    pipeline.last = None
    val runsPipeline = (s.question && k == 0) || (!s.question && k == 3)
    if (k == 0)
      rec.op(kindOf("turn"), s.i)(svc.startResearch(wf, s.query, now)) { r =>
        if (s.question) r.status == "completed" && r.clarification_questions.isEmpty &&
          outcomeOk(s)
        else r.status == "collecting_answers" && r.clarification_questions.size == 3 &&
          pipeline.last.isEmpty
      }
    else if (!s.question && k <= 3)
      rec.op(kindOf("turn"), s.i)(svc.answer(wf, s.answers(k - 1), now)) { r =>
        r == Right(3 - k) && (if (runsPipeline) outcomeOk(s) else pipeline.last.isEmpty)
      }
    else if (k == s.nSteps - 2)
      rec.op("read", s.i)(svc.status(wf)) { r =>
        val n = if (s.question) 0 else 3
        r.exists(x => x.status == "completed" && x.questions_total == n &&
          x.answers_collected == n)
      }
    else
      rec.op("read", s.i, units = 1)(svc.result(wf)) { r =>
        r.exists(x => reports.get(s.i).contains(x.markdown_report))
      }
  }

  /** The pipeline ran once; a repeated query was served from the cache
    * with the earlier report, a fresh one was researched. */
  private def outcomeOk(s: Session): Boolean = pipeline.last.exists { o =>
    cacheHits(s.i) = o.cacheHit
    reports(s.i) = o.report.markdown_report
    val answersQuery = o.report.markdown_report.startsWith(s"# Research: ${s.query}\n")
    if (s.repeatOf >= 0) o.cacheHit && reports.get(s.repeatOf).contains(o.report.markdown_report)
    else if (s.repeatOf < -1)
      o.cacheHit && answersQuery && o.existingResultId.exists(_.startsWith(s"h-${-1 - s.repeatOf}-result-"))
    else !o.cacheHit && answersQuery
  }

  def check(dir: String): Unit = {
    val store = new ConversationStore(spark, s"$dir/store")
    val run = sessions.filter(s => reports.contains(s.i)).map(s => s"r${s.i}")
    // per-workflow sequences over messages and results are 0..n-1
    val seqs = store.messages.select(col("workflow_id"), col("sequence"))
      .unionByName(store.results.select(col("workflow_id"), col("sequence")))
      .filter(col("workflow_id").isin(run: _*))
      .groupBy("workflow_id")
      .agg(count(lit(1)).as("n"), min("sequence").as("lo"), max("sequence").as("hi"),
        countDistinct(col("sequence")).as("d"))
      .collect()
    rec.op("check", -1)(seqs) { rows =>
      rows.length == run.size &&
        rows.forall(r => r.getLong(1) == r.getLong(4) && r.getInt(2) == 0 &&
          r.getInt(3) == r.getLong(1) - 1)
    }
  }

  def layerProbes(dir: String): Unit = {
    val store = new ConversationStore(spark, s"$dir/store")
    val agents = new Research.StubAgents(64)
    val indexed = store.results.filter(col("embedding").isNotNull).cache()
    rec.gauge("rag.indexed_rows", indexed.count().toDouble)
    val probed = sessions.filter(s => reports.contains(s.i)).takeRight(6)
    probed.foreach { s =>
      val q = agents.embed(s.query)
      rec.sample("rag.best_match_ms")(
        Rag.bestMatch(indexed, "result_id", "embedding", q, 0.8))
      rec.sample("rag.context_ms")(
        Rag.contextRetrieval(indexed, "result_id", "embedding",
          coalesce(col("title"), lit("Untitled")), col("short_summary"),
          col("markdown_report"), q, k = 3, minScore = 0.5).collect())
    }
    indexed.unpersist()
    val repeats = sessions.filter(s => s.repeatOf != -1 && cacheHits.contains(s.i))
    rec.gauge("pipeline.cache_hit_frac",
      if (repeats.isEmpty) 0 else repeats.count(s => cacheHits(s.i)).toDouble / repeats.size)
    rec.gauge("store.table_files", Files.count(s"$dir/store", ".parquet").toDouble)
  }
}

object ResearchApi {
  /** `repeatOf`: -1 fresh, i >= 0 repeats session i, -1 - h repeats history conversation h. */
  final case class Session(i: Int, query: String, answers: Seq[String], repeatOf: Int) {
    val question: Boolean = query.endsWith("?")
    /** `?` query: start, status, result. Otherwise start, 3 answers, status, result. */
    val nSteps: Int = if (question) 3 else 6
  }
  val sessionSchema: StructType = StructType(Seq(
    StructField("i", IntegerType), StructField("query", StringType),
    StructField("answers", ArrayType(StringType)), StructField("repeat_of", IntegerType)))
  val historySchema: StructType = StructType(Seq(
    StructField("i", IntegerType), StructField("wf", StringType),
    StructField("query", StringType), StructField("questions", ArrayType(StringType)),
    StructField("answers", ArrayType(StringType)), StructField("body", StringType),
    StructField("emb", ArrayType(DoubleType))))
}

/** Small file-tree helpers. */
object Files {
  def count(dir: String, suffix: String): Int = {
    def walk(f: java.io.File): Int =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0)
      else if (f.getName.endsWith(suffix)) 1 else 0
    walk(new java.io.File(dir))
  }
}
