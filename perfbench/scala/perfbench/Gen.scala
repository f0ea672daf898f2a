package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.text.Normalizer
import java.util.SplittableRandom
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded input generators. Each takes the run seed and returns plain
  * rows plus the ground truth the checks need; the engine only ever
  * sees the files [[Files]] writes from those rows. Same seed, same
  * bytes.
  */
object Gen {

  /** The QualityModel stopword set, so generated prose carries its
    * quality signal.
    */
  val Stopwords: Array[String] = Array("the", "and", "of", "to", "in", "is", "a")

  /** A fixed 6,000-word vocabulary built from syllables (seed
    * independent); about one word in twelve carries an accent, so
    * normalization has work to do.
    */
  val Vocab: Array[String] = {
    val r = new SplittableRandom(7L)
    val cons = Array("b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z")
    val vows = Array("a", "e", "i", "o", "u")
    val accented = Map('a' -> 'á', 'e' -> 'é', 'i' -> 'í', 'o' -> 'ö', 'u' -> 'ü')
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < 6000) {
      val sb = new StringBuilder
      (0 until 2 + r.nextInt(3)).foreach { _ =>
        sb.append(cons(r.nextInt(cons.length))).append(vows(r.nextInt(vows.length)))
      }
      var w = sb.toString
      if (r.nextInt(12) == 0) {
        val i = w.indexWhere(accented.contains)
        w = w.updated(i, accented(w(i)))
      }
      if (!Stopwords.contains(w)) seen += w
    }
    seen.toArray
  }

  /** Skewed word draw: low vocabulary ranks are frequent. */
  private def word(r: SplittableRandom): String = {
    val u = r.nextDouble()
    Vocab((u * u * Vocab.length).toInt)
  }

  /** `n` tokens of prose; `stopShare` of them stopwords. */
  def prose(r: SplittableRandom, n: Int, stopShare: Double): Array[String] =
    Array.fill(n)(if (r.nextDouble() < stopShare) Stopwords(r.nextInt(Stopwords.length)) else word(r))

  /** Replace `k` distinct positions with a different word. */
  def perturb(r: SplittableRandom, toks: Array[String], k: Int): Array[String] = {
    val out = toks.clone()
    val pos = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (pos.size < k) pos += r.nextInt(out.length)
    pos.foreach { p =>
      var w = word(r)
      while (w == out(p)) w = word(r)
      out(p) = w
    }
    out
  }

  /** A copy that only normalization makes equal to `text`: accents in
    * decomposed (NFD) form and random capitalized tokens.
    */
  def deform(r: SplittableRandom, text: String): String =
    Normalizer.normalize(text, Normalizer.Form.NFD).split(" ").map { t =>
      if (r.nextInt(3) == 0) t.toUpperCase(java.util.Locale.ROOT) else t
    }.mkString(" ")

  // ---------------------------------------------------------- curate

  /** Curation corpus: `docs` (id, text) with ids a seeded permutation;
    * `exactGroups` = docs equal after normalization (original + 1-3
    * deformed copies); `clusters` = near-duplicate clusters of 2-8
    * members (a base and variants with 1-2 substituted tokens).
    */
  final case class Corpus(docs: Array[(Long, String)],
      exactGroups: Array[Array[Long]], clusters: Array[Array[Long]])

  val ExactCopyShare = 0.10
  val NearDupShare = 0.15
  val LowQualityShare = 0.10

  def corpus(seed: Long, n: Int): Corpus = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    val nCopies = (n * ExactCopyShare).toInt
    val nVariants = (n * NearDupShare).toInt
    val nBase = n - nCopies - nVariants
    val bases = Array.tabulate(nBase) { i =>
      if (i < nBase * LowQualityShare) // short or stopword-free: label 0
        (if (i % 2 == 0) prose(r, 12 + r.nextInt(10), 0.15) else prose(r, 40 + r.nextInt(20), 0.0))
      else prose(r, 36 + r.nextInt(30), 0.15)
    }
    val texts = ArrayBuffer.empty[String] // doc slot -> text
    val groupOf = ArrayBuffer.empty[Int]   // slot -> exact group (-1 none)
    val clusterOf = ArrayBuffer.empty[Int] // slot -> cluster (-1 none)
    bases.foreach { b => texts += b.mkString(" "); groupOf += -1; clusterOf += -1 }
    // clusters from the long, quality bases at the end of the array
    var nextBase = nBase - 1
    var made = 0
    var nClusters = 0
    while (made < nVariants) {
      val m = math.min(2 + r.nextInt(7), nVariants - made + 1)
      clusterOf(nextBase) = nClusters
      (1 until m).foreach { _ =>
        texts += perturb(r, bases(nextBase), 1 + r.nextInt(2)).mkString(" ")
        groupOf += -1; clusterOf += nClusters
      }
      made += m - 1; nClusters += 1; nextBase -= 1
    }
    // exact copies from the remaining bases, front first
    var nextCopy = 0
    var copies = 0
    var nGroups = 0
    while (copies < nCopies) {
      val c = math.min(1 + r.nextInt(3), nCopies - copies)
      groupOf(nextCopy) = nGroups
      (0 until c).foreach { _ =>
        texts += deform(r, texts(nextCopy)); groupOf += nGroups; clusterOf += -1
      }
      copies += c; nGroups += 1; nextCopy += 1
    }
    require(nextCopy <= nextBase, "corpus too small for its planted shares")
    val perm = permutation(r, texts.length)
    // slot s gets id perm(s)
    val docs = Array.tabulate(texts.length)(s => (perm(s).toLong, texts(s))).sortBy(_._1)
    def groups(of: ArrayBuffer[Int], k: Int): Array[Array[Long]] = {
      val g = Array.fill(k)(ArrayBuffer.empty[Long])
      of.indices.foreach(s => if (of(s) >= 0) g(of(s)) += perm(s).toLong)
      g.map(_.toArray.sorted)
    }
    Corpus(docs, groups(groupOf, nGroups), groups(clusterOf, nClusters))
  }

  // ------------------------------------------------------- vectors

  /** `c` cluster centers in [-1, 1]^dim. */
  def centers(r: SplittableRandom, c: Int, dim: Int): Array[Array[Float]] =
    Array.fill(c, dim)((r.nextDouble() * 2 - 1).toFloat)

  /** A point of the mixture: a random center plus N(0, sigma) noise. */
  def point(r: SplittableRandom, cs: Array[Array[Float]], sigma: Double): Array[Float] = {
    val c = cs(r.nextInt(cs.length))
    Array.tabulate(c.length)(i => (c(i) + gaussian(r) * sigma).toFloat)
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller; one of the pair is enough here
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  // -------------------------------------------------------- ingest

  /** One ingest document: text for the MinHash index, vector for IVF. */
  final case class Doc(id: Long, text: String, vec: Array[Float])

  /** Initial corpus plus batches. A batch's first `nearShare` docs are
    * near-duplicates (one substituted token) of initial "source" docs,
    * which are never deleted; `dupOf` maps each to its source. The rest
    * are fresh.
    */
  final case class Ingest(initial: Array[Doc], nSources: Int,
      batches: Array[Array[Doc]], dupOf: Map[Long, Long])

  def ingest(seed: Long, nInitial: Int, nBatches: Int, batchSize: Int,
      nearShare: Double = 0.2, dim: Int = 64): Ingest = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 3)
    val cs = centers(r, 32, dim)
    def fresh(id: Long): (Doc, Array[String]) = {
      val t = prose(r, 36 + r.nextInt(30), 0.15)
      (Doc(id, t.mkString(" "), point(r, cs, 0.25)), t)
    }
    val init = Array.tabulate(nInitial)(i => fresh(i.toLong))
    val nSources = nInitial / 4
    val dupOf = Map.newBuilder[Long, Long]
    var next = nInitial.toLong
    val batches = Array.fill(nBatches) {
      Array.tabulate(batchSize) { i =>
        val id = next; next += 1
        if (i < batchSize * nearShare) {
          val src = r.nextInt(nSources)
          dupOf += id -> src.toLong
          Doc(id, perturb(r, init(src)._2, 1).mkString(" "), point(r, cs, 0.25))
        } else fresh(id)._1
      }
    }
    Ingest(init.map(_._1), nSources, batches, dupOf.result())
  }

  // ------------------------------------------------------ syllabus

  val Titles: Array[String] = Array("Analytical skills in chemistry",
    "Chemical composition of matter", "Chemical reactions",
    "Environmental chemistry", "Inorganic compounds", "Organic chemistry")

  private val Header = Seq("Assessment standard", "Success criteria", "Theme/topic",
    "Suggested teaching and learning activities",
    "Suggested teaching, learning and assessment method(s)",
    "Suggested teaching, learning and assessment resources")

  /** One topic occurrence of a generated syllabus. */
  final case class TopicSpec(title: String, nTables: Int)

  /** One syllabus: the OOXML bytes and its topic occurrences in order. */
  final case class Syllabus(name: String, docx: Array[Byte], topics: Seq[TopicSpec])

  /** `nDocs` syllabi with the reference fixture's structure: a
    * preamble before the first marker, `Core element` markers written
    * spaced and unspaced, and two 6-column tables with a header row per
    * topic. Each document has one topic per title except that one title
    * is replaced by a repeat of another, so titles repeat within and
    * across documents. Seeds vary the text, marker forms, topic order
    * and which titles repeat, never the amount of work: every title
    * keeps at least 12 subtopics, so the plan caps each at 60 questions.
    */
  def syllabi(seed: Long, nDocs: Int): Seq[Syllabus] = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 4)
    val shift = r.nextInt(Titles.length)
    (0 until nDocs).map { d =>
      // doc d drops one title and repeats another; a title is dropped by
      // at most ceil(nDocs / 6) documents
      val dropped = (d + shift) % Titles.length
      val repeated = (dropped + 1 + r.nextInt(Titles.length - 1)) % Titles.length
      val titles = permutation(r, Titles.length).map(i => if (i == dropped) repeated else i)
      val body = new StringBuilder
      def para(t: String): Unit = body.append("<w:p><w:r><w:t xml:space=\"preserve\">")
        .append(xml(t)).append("</w:t></w:r></w:p>")
      para("Teaching syllabus for Forms 1 and 2")
      para(s"Form ${1 + d % 2}")
      para("   ") // blank paragraph: dropped by the whitespace filter
      val topics = titles.map { ti =>
        val title = Titles(ti)
        para(r.nextInt(4) match {
          case 0 => s"Core element$title"
          case 1 => s"Core element: $title"
          case 2 => s"Core element - $title"
          case _ => s"Core element $title"
        })
        (0 until 1 + r.nextInt(3)).foreach(_ => para(prose(r, 8 + r.nextInt(12), 0.15).mkString(" ")))
        (0 until TablesPerTopic).foreach { _ =>
          body.append("<w:tbl>")
          val rows = Header +: Seq.fill(2 + r.nextInt(3))(Seq.fill(6)(prose(r, 3 + r.nextInt(5), 0.1).mkString(" ")))
          rows.foreach { row =>
            body.append("<w:tr>")
            row.foreach(c => body.append("<w:tc><w:p><w:r><w:t xml:space=\"preserve\">")
              .append(xml(c)).append("</w:t></w:r></w:p></w:tc>"))
            body.append("</w:tr>")
          }
          body.append("</w:tbl>")
          para("")
        }
        TopicSpec(title, TablesPerTopic)
      }
      Syllabus(f"syllabus_$d%02d.docx", docx(body.toString), topics)
    }
  }

  val TablesPerTopic = 2

  /** A seeded Fisher-Yates permutation of 0 until n. */
  def permutation(r: SplittableRandom, n: Int): Array[Int] = {
    val a = Array.range(0, n)
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  private def xml(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  private val W = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"

  /** A minimal OOXML package around a `w:body`, written with JDK zip
    * and fixed entry times so the bytes depend on the content only.
    */
  def docx(body: String): Array[Byte] = {
    val entries = Seq(
      "[Content_Types].xml" ->
        ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
          """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
          """<Default Extension="xml" ContentType="application/xml"/>""" +
          """<Override PartName="/word/document.xml" ContentType="application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/>""" +
          "</Types>"),
      "_rels/.rels" ->
        ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="word/document.xml"/>""" +
          "</Relationships>"),
      "word/document.xml" ->
        (s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><w:document xmlns:w="$W"><w:body>""" +
          body + "<w:sectPr/></w:body></w:document>"))
    val bytes = new java.io.ByteArrayOutputStream
    val zip = new ZipOutputStream(bytes)
    entries.foreach { case (name, content) =>
      val e = new ZipEntry(name)
      e.setTimeLocal(java.time.LocalDateTime.of(2000, 1, 1, 0, 0))
      zip.putNextEntry(e)
      zip.write(content.getBytes(UTF_8))
      zip.closeEntry()
    }
    zip.close()
    bytes.toByteArray
  }
}

/** Writes generated rows as the engine's input files. */
object Files {

  /** Write `df` as `parts` parquet files named part-<i>.parquet in
    * `dir`. Spark names part files with a per-job UUID; renaming them
    * (and dropping the checksum and marker files) leaves a directory
    * whose bytes depend on the rows only.
    */
  def parquet(df: DataFrame, dir: String, parts: Int): Unit = {
    val tmp = dir + ".tmp"
    df.coalesce(parts).write.mode("overwrite").parquet(tmp)
    val out = new File(dir)
    deleteTree(out)
    out.mkdirs()
    new File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .zipWithIndex.foreach { case (f, i) =>
        require(f.renameTo(new File(out, s"part-$i.parquet")), s"cannot move $f")
      }
    deleteTree(new File(tmp))
  }

  def docs(spark: SparkSession, rows: Seq[(Long, String)], dir: String, parts: Int): Unit = {
    import spark.implicits._
    parquet(spark.sparkContext.parallelize(rows, parts).toDF("doc_id", "text"), dir, parts)
  }

  def ingestDocs(spark: SparkSession, rows: Seq[Gen.Doc], dir: String, parts: Int): Unit = {
    import spark.implicits._
    parquet(spark.sparkContext.parallelize(rows.map(d => (d.id, d.text, d.vec.toSeq)), parts)
      .toDF("doc_id", "text", "embedding"), dir, parts)
  }

  def bytes(path: String, content: Array[Byte]): Unit = {
    val f = new File(path)
    f.getParentFile.mkdirs()
    val out = new BufferedOutputStream(new FileOutputStream(f))
    try out.write(content) finally out.close()
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
    ()
  }

  /** Bytes and file count under `path`, recursively. */
  def size(path: String): (Long, Int) = {
    def walk(f: File): (Long, Int) =
      if (f.isFile) (f.length, 1)
      else Option(f.listFiles()).getOrElse(Array.empty[File]).map(walk)
        .foldLeft((0L, 0)) { case ((a, b), (c, d)) => (a + c, b + d) }
    walk(new File(path))
  }

  /** Files under `path` whose path contains `part`. */
  def count(path: String, part: String): Int = {
    def walk(f: File): Int =
      if (f.isFile) (if (f.getPath.contains(part)) 1 else 0)
      else Option(f.listFiles()).getOrElse(Array.empty[File]).map(walk).sum
    walk(new File(path))
  }
}
