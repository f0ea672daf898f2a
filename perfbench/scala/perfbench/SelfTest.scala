package perfbench

import java.io.File
import java.nio.file.{Files => JFiles}

import scala.collection.mutable

/** The benchmark's own tests: `python3 perfbench/run.py --self-test`.
  * Prints one line per test and exits non-zero if any fails.
  */
object SelfTest {
  private val failures = mutable.ArrayBuffer.empty[String]

  private def test(name: String)(body: => Unit): Unit = {
    val ok = try { body; true } catch {
      case e: Throwable => failures += s"$name: $e"; false
    }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
  }

  private def expect(cond: Boolean, what: => String): Unit =
    if (!cond) throw new AssertionError(what)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = a("work")

    test("corpus generator is deterministic per seed") {
      val (x, y, z) = (Gen.corpus(11, 2000), Gen.corpus(11, 2000), Gen.corpus(12, 2000))
      expect(x.docs.sameElements(y.docs), "same seed gave different docs")
      expect(x.exactGroups.map(_.toSeq).toSeq == y.exactGroups.map(_.toSeq).toSeq, "exact groups differ")
      expect(x.clusters.map(_.toSeq).toSeq == y.clusters.map(_.toSeq).toSeq, "clusters differ")
      expect(!x.docs.sameElements(z.docs), "different seeds gave the same docs")
    }

    test("corpus plants the stated shares") {
      val c = Gen.corpus(3, 4000)
      expect(c.exactGroups.map(_.length - 1).sum == 4000 * Gen.ExactCopyShare, "exact copy share")
      expect(c.clusters.map(_.length - 1).sum == 4000 * Gen.NearDupShare, "near-dup share")
      expect(c.clusters.forall(cl => cl.length >= 2 && cl.length <= 8), "cluster sizes outside 2-8")
      expect(c.docs.map(_._1).toSeq == (0L until 4000L), "ids are not a permutation")
    }

    test("syllabus work does not depend on the seed") {
      val e = (1 to 5).map(seed => Syllabus.expect(Gen.syllabi(seed, Syllabus.Docs)))
      expect(e.map(x => (x.questions, x.calls)).distinct.length == 1, s"${e.map(x => (x.questions, x.calls))}")
    }

    test("ingest and syllabus generators are deterministic per seed") {
      val (x, y, z) = (Gen.ingest(5, 200, 3, 50), Gen.ingest(5, 200, 3, 50), Gen.ingest(6, 200, 3, 50))
      def key(g: Gen.Ingest) = g.batches.flatten.map(d => (d.id, d.text, d.vec.toSeq)).toSeq
      expect(key(x) == key(y) && x.dupOf == y.dupOf, "same seed gave different batches")
      expect(key(x) != key(z), "different seeds gave the same batches")
      val (s1, s2, s3) = (Gen.syllabi(5, 3), Gen.syllabi(5, 3), Gen.syllabi(6, 3))
      expect(s1.zip(s2).forall { case (p, q) => p.docx.sameElements(q.docx) }, "docx bytes differ")
      expect(s1.zip(s3).exists { case (p, q) => !p.docx.sameElements(q.docx) }, "docx did not change")
    }

    test("generated syllabi parse with the planted structure") {
      val s = Gen.syllabi(9, 1).head
      val els = graft.sources.docx.DocxParser.parse(new java.io.ByteArrayInputStream(s.docx))
      val markers = els.filter(e => e.elementType == "paragraph" && e.text.contains("Core element"))
      expect(markers.length == Gen.Titles.length, s"markers=${markers.length}")
      expect(s.topics.map(_.title).distinct.length == Gen.Titles.length - 1, "no repeated title")
      val tables = els.filter(_.elementType == "table")
      expect(tables.length == s.topics.map(_.nTables).sum, "table count")
      expect(tables.forall(_.tableRows.forall(_.length == 6)), "tables are not 6-column")
      expect(els.head.text == "Teaching syllabus for Forms 1 and 2", "preamble missing")
    }

    test("tail is the highest rank with at least 10 samples beyond it") {
      val (v, pct, beyond) = Stats.tail((1 to 100).map(_.toDouble))
      expect(v == 90.0 && beyond == 10 && pct == 90.0, s"got ($v, $pct, $beyond)")
      val (v11, _, b11) = Stats.tail((1 to 11).map(_.toDouble).reverse)
      expect(v11 == 1.0 && b11 == 10, s"11 samples: got ($v11, $b11)")
      val (v10, _, b10) = Stats.tail((1 to 10).map(_.toDouble))
      expect(v10 == 10.0 && b10 == 0, s"10 samples: got ($v10, $b10), want the max, 0 beyond")
      expect(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5, "even median")
    }

    test("self time subtracts the union of child intervals") {
      def span(id: Int, parent: Int, s: Long, e: Long) = {
        val r = new SpanRec(id, s"s$id", parent, "t", s * 1000000000L)
        r.endNs = e * 1000000000L
        r
      }
      // root [0,100]; children [10,30], [20,50] (overlapping), [60,70];
      // grandchild [12,14] under the first child
      val spans = Seq(span(0, -1, 0, 100), span(1, 0, 10, 30), span(2, 0, 20, 50),
        span(3, 0, 60, 70), span(4, 1, 12, 14))
      val self = Tracer.selfTimes(spans)
      expect(self(0) == 50.0, s"root self ${self(0)}")
      expect(self(1) == 18.0, s"child self ${self(1)}")
      expect(self(4) == 2.0 && self(3) == 10.0, "leaf self")
      // siblings that do not overlap: the self times sum to the root's wall
      val flat = Seq(span(0, -1, 0, 10), span(1, 0, 1, 4), span(2, 0, 5, 9))
      expect(Tracer.selfTimes(flat).values.sum == 10.0, "self times do not sum to the wall")
    }

    test("listener attributes jobs and tasks to the active span") {
      val spark = Main.session(Args("selftest", 0, 0, trace = true, work, 2, work))
      try {
        val tr = new Tracer(true, spark.sparkContext, "selftest")
        tr.active = true
        val rdd = spark.sparkContext.parallelize(1 to 100, 3)
        tr.span("outer") {
          tr.span("three") { (1 to 3).foreach(_ => rdd.count()) }
          rdd.map(_ * 2).count()
        }
        tr.flush()
        val l = tr.listener.get
        val byName = tr.recorded.map(s => s.name -> l.counters(s.id)).toMap
        expect(byName("three").jobs == 3, s"three.jobs=${byName("three").jobs}")
        expect(byName("three").tasks == 9, s"three.tasks=${byName("three").tasks}")
        expect(byName("outer").jobs == 1 && byName("outer").tasks == 3,
          s"outer jobs=${byName("outer").jobs} tasks=${byName("outer").tasks}")
        tr.close()
      } finally spark.stop()
    }

    test("parquet inputs are byte-identical for the same rows") {
      val spark = Main.session(Args("selftest", 0, 0, trace = false, work, 2, work))
      try {
        val rows = Gen.corpus(21, 1000).docs.toSeq
        Files.docs(spark, rows, s"$work/p1", 2)
        Files.docs(spark, rows, s"$work/p2", 2)
        def bytes(d: String) = new File(d).listFiles().sortBy(_.getName)
          .map(f => f.getName -> JFiles.readAllBytes(f.toPath).toSeq).toSeq
        expect(bytes(s"$work/p1") == bytes(s"$work/p2"), "parquet bytes differ")
        expect(bytes(s"$work/p1").length == 2, "expected two part files")
      } finally spark.stop()
    }

    failures.foreach(f => System.err.println(s"selftest failure: $f"))
    println(s"selftest ${if (failures.isEmpty) "passed" else s"FAILED ${failures.length}"}")
    sys.exit(if (failures.isEmpty) 0 else 1)
  }
}
