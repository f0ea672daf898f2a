package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.MinHashIndex
import graft.similarity.IvfIndex

/** ingest: writes beside reads on a MinHash and an IVF index. Each batch
  * is classified against the MinHash index and its new docs published to
  * both indexes as a new generation. In a cycle of [[CycleLen]] batches
  * the second and third also tombstone ids, and the third compacts both
  * indexes. A reader then reloads both indexes from disk, checks what it
  * sees, and serves a single-query `topK` from the fresh generation. A
  * batch's latency runs from submit until that reader is done.
  */
object Ingest {
  val Initial = 2000
  val BatchSize = 100
  val Batches = 48           // generated; a run uses as many as fit
  val CycleLen = 3           // batch k: k % 3 >= 1 tombstones ids, k % 3 == 2 also compacts
  val DeletesPerRound = 20
  val Cells = 16
  val Bands = 16             // LSH shape: candidate recall ~1 at Jaccard >= 0.5
  val RowsPerBand = 2
  val Threshold = 0.5
  val K = 10

  private final class State(val spark: SparkSession, val mh: String, val ivf: String,
      val batchDir: String) {
    var live: Set[Long] = Set.empty
    val deleted = mutable.LinkedHashSet.empty[Long]
    var inserted = 0L
    var mhIdx: MinHashIndex.Index = null
    // reader reads, and those whose top-10 holds the doc that was the query
    val readVecs = mutable.ArrayBuffer.empty[Array[Float]]
    var found = 0
  }

  def run(c: Ctx, sessionS: Double): Unit = {
    val spark = c.spark
    val seed = c.args.seed
    var g: Gen.Ingest = null
    val genS = Main.medianSetup(3) { _ =>
      g = Gen.ingest(seed, Initial, Batches + 1, BatchSize)
      Files.ingestDocs(spark, g.initial.toSeq, c.dir("initial"), c.cores)
      writeBatches(spark, g, c.dir("batches"))
    }
    val (st, buildS) = Main.timed {
      val s = new State(spark, c.dir("mh"), c.dir("ivf"), c.dir("batches"))
      val docs = spark.read.parquet(c.dir("initial"))
      MinHashIndex.save(MinHashIndex.build(docs, "doc_id", "text", 3, Bands, RowsPerBand), s.mh)
      IvfIndex.save(IvfIndex.build(docs, "doc_id", "embedding", Cells), s.ivf)
      s.live = g.initial.map(_.id).toSet
      s.mhIdx = MinHashIndex.load(spark, s.mh, "doc_id")
      s
    }
    // warm-up on a byte copy of the indexes: one batch that publishes,
    // tombstones, compacts and reloads (the last generated batch)
    val (_, warmS) = Main.timed {
      val w = new State(spark, c.dir("mh-warm"), c.dir("ivf-warm"), c.dir("batches"))
      graft.tools.Scratch.copyRecursively(st.mh, w.mh)
      graft.tools.Scratch.copyRecursively(st.ivf, w.ivf)
      w.live = st.live
      w.mhIdx = MinHashIndex.load(spark, w.mh, "doc_id")
      batch(c, g, w, Batches, CycleLen - 1, check = false)
    }
    c.metric("setup_s", sessionS + genS + buildS + warmS, "s")
    c.notes += f"setup: session_s=$sessionS%.3f median_gen_s=$genS%.3f build_s=$buildS%.3f warm_s=$warmS%.3f"

    val lat = mutable.ArrayBuffer.empty[Double]
    val loop = new Loop(c, traceGroup = CycleLen)
    // whole cycles only, so every run weighs deletes and compactions alike
    val measured = loop.run(c.args.seconds, CycleLen, CycleLen) { b =>
      require(b < Batches, s"ran out of generated batches ($Batches)")
      lat += batch(c, g, st, b, b, check = true)
    }
    val n = lat.length

    // final state: live count = inserts - deletes, deleted ids never return
    val ivf = IvfIndex.load(spark, st.ivf, "doc_id", "embedding")
    val mh = MinHashIndex.load(spark, st.mh, "doc_id")
    val expectLive = Initial + st.inserted - st.deleted.size
    val ivfLive = ivf.corpus.count()
    val mhLive = mh.shingles.count()
    c.check("final.live_count", ivfLive == expectLive && mhLive == expectLive,
      s"ivf=$ivfLive minhash=$mhLive expected=$expectLive (initial $Initial + inserted ${st.inserted} - deleted ${st.deleted.size})")
    val recall = st.found.toDouble / st.readVecs.length

    val total = lat.sum / 1000
    c.metric("wall_s", total / n * CycleLen, "s")
    c.metric("items_per_s", n.toDouble * BatchSize / total, "1/s")
    c.metric("latency_p50_ms", Stats.median(lat.toSeq), "ms")
    val (tail, pct, beyond) = Stats.tail(lat.toSeq)
    c.metric("latency_tail_ms", tail, "ms")
    c.notes += f"latency samples=$n tail=p$pct%.1f beyond=$beyond (one sample = one batch, submit to visible)"
    c.metric("recall_at_10", recall, "fraction")
    val bytes = Files.size(st.mh)._1 + Files.size(st.ivf)._1
    c.metric("index_bytes_per_doc", bytes.toDouble / expectLive, "B")
    c.notes += f"batches=$n measured_s=$measured%.3f live=$expectLive"
    if (c.args.trace) layers(c, loop, st)
  }

  private def writeBatches(spark: SparkSession, g: Gen.Ingest, dir: String): Unit = {
    import spark.implicits._
    val rows = g.batches.zipWithIndex.flatMap { case (docs, b) =>
      docs.map(d => (b, d.id, d.text, d.vec.toSeq))
    }
    Files.parquet(spark.sparkContext.parallelize(rows.toSeq, 4)
      .toDF("batch", "doc_id", "text", "embedding"), dir, 4)
  }

  /** One batch through classify, publish, delete/compact and the reader;
    * returns its latency in ms. `k` places it in the compaction cycle.
    */
  private def batch(c: Ctx, g: Gen.Ingest, st: State, b: Int, k: Int, check: Boolean): Double = {
    val spark = st.spark
    val t0 = System.nanoTime()
    def stage[T](name: String)(body: => T): T = c.op(name)(c.tr.span(name)(body))
    val docs = spark.read.parquet(st.batchDir).filter(col("batch") === b).drop("batch")
    val cls = stage("dedup.classify") {
      val r = MinHashIndex.classify(st.mhIdx, docs, "doc_id", "text", Threshold)
        .select("doc_id", "status", "dup_of").collect()
      c.tr.add("rows_out", r.length)
      r
    }
    val newIds = cls.filter(_.getString(1) == "new").map(_.getLong(0)).toSet
    val fresh = docs.filter(col("doc_id").isin(newIds.toSeq: _*))
    stage("dedup.append_publish") { MinHashIndex.appendPublish(spark, st.mh, fresh, "doc_id", "text") }
    stage("similarity.append_publish") { IvfIndex.appendPublish(spark, st.ivf, fresh, "doc_id", "embedding") }
    val before = st.live
    st.live ++= newIds
    st.inserted += newIds.size
    if (k % CycleLen >= 1) {
      // half from the initial non-source docs, half from this batch's new ones
      val pool = (g.nSources.toLong until Initial).filterNot(st.deleted).take(DeletesPerRound / 2) ++
        newIds.toSeq.sorted.take(DeletesPerRound / 2)
      val ids = spark.createDataFrame(pool.map(Tuple1(_))).toDF("doc_id")
      stage("similarity.delete") { IvfIndex.delete(spark, st.ivf, ids, "doc_id") }
      stage("dedup.delete") { MinHashIndex.delete(spark, st.mh, ids, "doc_id") }
      st.deleted ++= pool
      st.live --= pool
    }
    if (k % CycleLen == 2) {
      stage("dedup.compact") { MinHashIndex.compact(spark, st.mh, "doc_id") }
      stage("similarity.compact") { IvfIndex.compact(spark, st.ivf, "doc_id", "embedding") }
    }
    // the reader: reload both indexes, then one visibility query on each
    st.mhIdx = stage("dedup.load") { MinHashIndex.load(spark, st.mh, "doc_id") }
    val ivf = stage("similarity.load") { IvfIndex.load(spark, st.ivf, "doc_id", "embedding") }
    val (mhSeen, ivfSeen) = stage("reader.visible") {
      (visible(st.mhIdx.shingles, newIds, st.deleted), visible(ivf.corpus, newIds, st.deleted))
    }
    // reads from the fresh generation: a new doc's own vector finds it first
    val probe = g.batches(b).find(d => newIds.contains(d.id) && !st.deleted.contains(d.id))
    val top = probe.map { d =>
      stage("similarity.topk") {
        val r = IvfIndex.topK(ivf, d.vec.toSeq, K).collect().map(_.getLong(0))
        c.tr.add("rows_out", r.length)
        r
      }
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (check) {
      for (r <- top; d <- probe) {
        st.readVecs += d.vec
        if (r.contains(d.id)) st.found += 1
      }
      val wrong = cls.count { r =>
        val expect = g.dupOf.get(r.getLong(0))
        expect match {
          case Some(src) => r.getString(1) != "near_dup" || r.isNullAt(2) || r.getLong(2) != src
          case None => r.getString(1) != "new"
        }
      }
      c.check(s"batch$b.classify", wrong == 0 && cls.length == BatchSize,
        s"${cls.length} docs, $wrong misclassified")
      val newLive = newIds.count(st.live.contains)
      Seq("minhash" -> mhSeen, "ivf" -> ivfSeen).foreach { case (name, (n, nNew, nDel)) =>
        val sawNew = n == st.live.size && nNew == newLive
        val sawOld = n == before.size && nNew == 0
        c.check(s"batch$b.$name.generation", (sawNew || sawOld) && nDel == 0,
          s"live=$n new_visible=$nNew deleted_visible=$nDel (old ${before.size}, new ${st.live.size})")
      }
      c.check(s"batch$b.read", top.forall(_.headOption == probe.map(_.id)),
        s"topK of a new doc's vector starts with ${top.flatMap(_.headOption)} (want ${probe.map(_.id)})")
    }
    ms
  }

  /** (rows, rows of this batch's new ids, rows of deleted ids) in one job. */
  private def visible(df: DataFrame, newIds: Set[Long], deleted: collection.Set[Long]): (Long, Long, Long) = {
    val r = df.agg(count(lit(1)),
      sum(when(col("doc_id").isin(newIds.toSeq: _*), 1L).otherwise(0L)),
      sum(when(col("doc_id").isin(deleted.toSeq: _*), 1L).otherwise(0L))).collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  private def layers(c: Ctx, loop: Loop, st: State): Unit = {
    val rows = Report.table(c)
    Report.publishSpans(c, rows)
    val (bytes, files) = (Files.size(st.mh), Files.size(st.ivf))
    c.layer("tools.artifacts.generations") =
      Files.count(st.mh, "/_COMMITTED") + Files.count(st.ivf, "/_COMMITTED")
    c.layer("tools.artifacts.files") = bytes._2 + files._2
    c.layer("tools.artifacts.tombstone_files") =
      Files.count(st.mh, "/tombstones/") + Files.count(st.ivf, "/tombstones/")
    def outBytes(names: String*) = rows.filter(r => names.contains(r.name))
      .map(_.totals("out_mb") * 1048576).sum
    val written = outBytes("dedup.append_publish", "similarity.append_publish",
      "similarity.delete", "dedup.delete", "dedup.compact", "similarity.compact")
    val docs = Report.row(rows, "dedup.classify").map(_.totals("rows_out")).getOrElse(0.0)
    c.layer("tools.artifacts.bytes_written_per_doc") = if (docs > 0) written / docs else 0.0
    // per compaction cycle: both indexes' compaction writes
    c.layer("tools.artifacts.bytes_rewritten") =
      rows.filter(_.name.endsWith(".compact")).map(_.values("out_mb") * 1048576).sum
    Report.row(rows, "similarity.topk").foreach(r => c.layer("similarity.topk.jobs_per_call") = r.values("jobs"))
    // corpus rows a reader topK scans per result row: the probed cells' share
    val ivf = IvfIndex.load(st.spark, st.ivf, "doc_id", "embedding")
    val live = ivf.corpus.count()
    c.layer("similarity.topk.rows_scanned_per_result") = Stats.median(
      st.readVecs.toSeq.map(v => IvfIndex.probedFraction(ivf, v.toSeq) * live / K))
    Report.overhead(c, loop)
  }
}
