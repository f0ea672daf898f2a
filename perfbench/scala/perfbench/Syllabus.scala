package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

import graft.pipeline._

/** A [[StubQuestionModel]] that waits a fixed simulated LLM latency per
  * call and counts calls and wait time (local mode: executors share the
  * driver JVM, so the counters are plain statics).
  */
final class SimulatedLatencyModel(latencyMs: Long) extends QuestionModel {
  private val inner = new StubQuestionModel

  private def call[T](body: => T): T = {
    val t = System.nanoTime()
    Thread.sleep(latencyMs)
    try body
    finally {
      SimulatedLatencyModel.calls.incrementAndGet()
      SimulatedLatencyModel.waitNs.addAndGet(System.nanoTime() - t)
    }
  }

  override def extractSubtopics(topic: SyllabusTopic, subject: String,
      academicClass: String): Seq[Subtopic] = call(inner.extractSubtopics(topic, subject, academicClass))

  override def generateQuestions(batch: Seq[PlannedQuestion],
      context: Option[Subtopic]): Seq[Question] = call(inner.generateQuestions(batch, context))
}

object SimulatedLatencyModel {
  val calls = new AtomicLong
  val waitNs = new AtomicLong

  /** (calls, wait seconds) since the last reset, then reset. */
  def take(): (Long, Double) = (calls.getAndSet(0), waitNs.getAndSet(0) / 1e9)

  /** (calls, wait seconds) since the last reset. */
  def peek(): (Long, Double) = (calls.get, waitNs.get / 1e9)
}

/** syllabus: docx → questions through `SyllabusPipeline.run` with a JSON
  * sink, over generated OOXML syllabi. Every model call waits
  * [[LatencyMs]].
  */
object Syllabus {
  val Docs = 8               // two per core on a 4-core box
  // An assumed figure, not a measured one: no model timing is recorded
  // anywhere in the repository. Hosted LLM calls take seconds; 25 ms keeps
  // a run within its time budget, and the two stages that call the model
  // still take the largest share of a run (the traced run reports it as
  // pipeline.model_stage_share).
  val LatencyMs = 25L
  val BatchSize = 5          // SyllabusPipeline defaults
  val PerSubtopic = 9
  val MaxBatches = 12
  // Untimed warm-up runs before the first timed one, with a model that
  // does not wait. Timed runs kept getting faster for more than 15 runs
  // after a single warm-up, as the JIT compiled the driver-side planning
  // and the task code (measured on a 4-vCPU VM: 5.93 s falling to 4.73 s
  // over 18 runs), so the slowest sample, the tail, timed JIT progress. A
  // run without model wait exercises the same code in about 1.7 s instead
  // of 5 s, so ten of them warm the JIT in under 20 s.
  val WarmUps = 10

  /** Questions and model calls the plan implies: per title, S subtopics
    * (one per table of each occurrence) give 9·S planned questions
    * numbered in subtopic order; batches of 5 beyond the 12-batch cap are
    * dropped; one generate call per (batch, subtopic) group, plus one
    * extract call per topic occurrence.
    */
  final case class Expect(questions: Long, calls: Long, ids: Set[String])

  def expect(docs: Seq[Gen.Syllabus]): Expect = {
    val occ = docs.flatMap(_.topics)
    val perTitle = occ.groupBy(_.title).map { case (t, ts) => t -> ts.map(_.nTables).sum }
    var questions = 0L
    var gen = 0L
    val ids = Set.newBuilder[String]
    perTitle.foreach { case (title, s) =>
      val kept = math.min(PerSubtopic * s, BatchSize * MaxBatches)
      questions += kept
      (1 to kept).foreach(n => ids += s"q-$title-$n")
      gen += (0 until kept).groupBy(i => i / BatchSize).values
        .map(is => is.map(_ / PerSubtopic).distinct.size).sum
    }
    Expect(questions, occ.length + gen, ids.result())
  }

  def run(c: Ctx, sessionS: Double): Unit = {
    val spark = c.spark
    val in = c.dir("syllabi")
    var docs: Seq[Gen.Syllabus] = Nil
    val setupS = Main.medianSetup(3) { _ =>
      docs = Gen.syllabi(c.args.seed, Docs)
      Files.deleteTree(new java.io.File(in))
      docs.foreach(d => Files.bytes(s"$in/${d.name}", d.docx))
    }
    val exp = expect(docs)
    val model = new SimulatedLatencyModel(LatencyMs)
    val pipeline = new SyllabusPipeline(model, "Chemistry", "Forms 1-2", BatchSize, PerSubtopic, MaxBatches)
    val docxBytes = docs.map(_.docx.length.toLong).sum
    // warm-up runs make the same calls with a model that does not wait
    val warmPipeline = new SyllabusPipeline(new SimulatedLatencyModel(0), "Chemistry", "Forms 1-2",
      BatchSize, PerSubtopic, MaxBatches)
    val (_, warmS) = Main.timed {
      (0 until WarmUps).foreach { w =>
        warmPipeline.run(spark, in, Some(new JsonOutputManager(c.dir(s"warm-sink-$w"))))
        // a traced run times the staged path: warm that up too
        if (c.args.trace) staged(c, warmPipeline, in, c.dir(s"warm-staged-$w"), docxBytes)
      }
    }
    c.notes += f"warm-up: $WarmUps runs without model wait in $warmS%.1f s"
    SimulatedLatencyModel.take()
    c.metric("setup_s", sessionS + setupS + warmS, "s")

    var sink = ""
    var lastCalls = 0L
    val stageStats = mutable.ArrayBuffer.empty[Map[String, Double]]
    val loop = new Loop(c)
    loop.run(c.args.seconds, 1) { i =>
      sink = c.dir(s"sink-$i")
      // a traced run times the staged path in both arms, so its overhead
      // is the tracer's alone; the untraced run times run() itself
      if (c.args.trace) {
        val st = staged(c, pipeline, in, sink, docxBytes)
        if (c.tr.active) stageStats += st
      } else c.op("pipeline.run") {
        pipeline.run(spark, in, Some(new JsonOutputManager(sink)))
      }
      val (calls, _) = SimulatedLatencyModel.take()
      lastCalls = calls
      c.check(s"run$i.model_calls", calls == exp.calls, s"calls=$calls expected=${exp.calls}")
    }
    checkSink(c, sink, exp)

    val wall = Stats.median(loop.untraced.toSeq)
    val times = loop.all
    c.metric("wall_s", wall, "s")
    c.metric("items_per_s", exp.questions / wall, "1/s")
    c.metric("latency_p50_ms", wall * 1000, "ms")
    val (tail, pct, beyond) = Stats.tail(times.map(_ * 1000))
    c.metric("latency_tail_ms", tail, "ms")
    c.notes += f"latency samples=${times.length} tail=p$pct%.1f beyond=$beyond (one sample = one pipeline run)"
    c.notes += times.map(t => f"${t * 1000}%.0f").mkString("latency_ms in run order: ", " ", "")
    c.notes += s"docs=$Docs topics=${docs.map(_.topics.length).sum} questions=${exp.questions} " +
      s"model_calls=${exp.calls} latency_ms=$LatencyMs"
    if (c.args.trace) {
      // the staged path must do what run() does: one more run() call,
      // compared on model calls and on every sink row
      val runSink = c.dir("run-sink")
      val (_, runS) = Main.timed(c.op("pipeline.run") {
        pipeline.run(spark, in, Some(new JsonOutputManager(runSink)))
      })
      val (runCalls, _) = SimulatedLatencyModel.take()
      val (stagedRows, runRows) = (sinkRows(c, sink), sinkRows(c, runSink))
      c.check("staged.matches_run", runCalls == lastCalls && stagedRows == runRows,
        s"calls staged=$lastCalls run=$runCalls; rows staged=${stagedRows.length} " +
          s"run=${runRows.length} equal=${stagedRows == runRows}")
      val rows = Report.table(c)
      Report.publishSpans(c, rows)
      stageStats.flatMap(_.keys).distinct.foreach { k =>
        c.layer(k) = Stats.median(stageStats.toSeq.map(_(k)))
      }
      // staged path (untraced arm) minus one warm run(): what the staging
      // itself costs, apart from the tracer
      c.layer("trace.path_delta_s") = wall - runS
      Report.overhead(c, loop)
    }
  }

  /** The pipeline's stages called one by one, each materialized inside its
    * span (spans and counters are no-ops while the tracer is inactive);
    * the model counters are read per stage.
    */
  private def staged(c: Ctx, p: SyllabusPipeline, in: String, sink: String,
      docxBytes: Long): Map[String, Double] = {
    val spark = c.spark
    val t0 = System.nanoTime()
    def stage[T](name: String)(body: => T): T = c.op(name)(c.tr.span(name)(body))
    def mat[T](ds: Dataset[T]): Dataset[T] = {
      val d = ds.persist(StorageLevel.MEMORY_AND_DISK)
      c.tr.add("rows_out", d.count().toDouble)
      d
    }
    val held = mutable.ArrayBuffer.empty[Dataset[_]]
    def keep[T](d: Dataset[T]): Dataset[T] = { held += d; d }
    val (elements, readS) = Main.timed(keep(stage("sources.docx.read")(mat(spark.read.format("docx").load(in)))))
    val topics = keep(stage("pipeline.topics")(mat(Topics.segmentTopics(elements))))
    val (calls0, wait0) = SimulatedLatencyModel.peek()
    val (subs, extractS) = Main.timed(keep(stage("pipeline.extract")(mat(p.extractSubtopics(topics)))))
    val plan = keep(stage("pipeline.plan")(mat(Planner.plan(subs, PerSubtopic, idsPerTopic = true))))
    val (qs, genS) = Main.timed(keep(stage("pipeline.generate")(mat(p.generate(plan, subs)))))
    val (calls1, wait1) = SimulatedLatencyModel.peek()
    stage("pipeline.sink")(new JsonOutputManager(sink).save(qs))
    held.foreach(_.unpersist())
    val totalS = (System.nanoTime() - t0) / 1e9
    val waitS = wait1 - wait0
    Map("pipeline.model_calls" -> (calls1 - calls0).toDouble,
      "pipeline.model_wait_s" -> waitS,
      // model calls run only in the extract and generate stages
      "pipeline.model_concurrency" -> waitS / (extractS + genS),
      "pipeline.model_stage_share" -> (extractS + genS) / totalS,
      "sources.docx.mb_per_s" -> docxBytes / 1048576.0 / readS)
  }

  /** Every row of a JSON sink, rendered and sorted. */
  private def sinkRows(c: Ctx, dir: String): Seq[String] = {
    val df = c.spark.read.json(dir)
    df.select(df.columns.sorted.map(df.col): _*).collect().map(_.toString).sorted.toSeq
  }

  private def checkSink(c: Ctx, sink: String, exp: Expect): Unit = {
    val rows = c.spark.read.json(sink).select("question_id").collect().map(_.getString(0))
    val ids = rows.toSet
    c.check("sink.question_count", rows.length == exp.questions,
      s"rows=${rows.length} expected=${exp.questions}")
    c.check("sink.ids_unique", ids.size == rows.length, s"distinct=${ids.size} rows=${rows.length}")
    c.check("sink.every_question_once", ids == exp.ids,
      s"missing=${(exp.ids -- ids).size} unexpected=${(ids -- exp.ids).size}")
    c.metric("recall_at_10", (ids intersect exp.ids).size.toDouble / exp.ids.size, "fraction")
    val (bytes, _) = Files.size(sink)
    c.metric("index_bytes_per_doc", bytes.toDouble / rows.length, "B")
  }
}
