package askbench

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.util.SplittableRandom

/** Seeded corpus and question generator.
  *
  * A vocabulary of lowercase words is drawn once per seed; background
  * words follow a Zipf law over it, and `Topics` disjoint sets of
  * mid-frequency words are planted into documents. Each document has
  * one topic, which is the relevance label of all its chunks; each
  * question names one topic. Every document and question is a pure
  * function of (seed, index), so a workload can ask for any subset in
  * any order and still get the same bytes.
  */
final class Gen(val seed: Long) {
  import Gen._

  val vocab: Array[String] = {
    val r = new SplittableRandom(mix(seed, 1L, 0L))
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < VocabSize) {
      // word length follows the rank, so text lengths do not depend on the seed
      val len = 3 + seen.size % 7
      seen += new String(Array.fill(len)(('a' + r.nextInt(26)).toChar))
    }
    seen.toArray
  }

  /** Cumulative Zipf(s = 1.07) weights over the vocabulary ranks. */
  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(VocabSize)(i => 1.0 / math.pow(i + 1.0, 1.07))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  /** Topic t's planted words: a disjoint block of mid-frequency ranks. */
  val topicWords: Array[Array[String]] =
    Array.tabulate(Topics)(t =>
      Array.tabulate(WordsPerTopic)(j => vocab(TopicRankBase + t * WordsPerTopic + j)))

  private def zipfWord(r: SplittableRandom): String = {
    val u = r.nextDouble()
    var lo = 0; var hi = VocabSize - 1
    while (lo < hi) { val m = (lo + hi) >>> 1; if (zipfCdf(m) < u) lo = m + 1 else hi = m }
    vocab(lo)
  }

  def topicOf(doc: Int): Int = new SplittableRandom(mix(seed, 2L, doc.toLong)).nextInt(Topics)

  /** Document `doc` as pages of lines; one line is one PDF text item. */
  def pages(doc: Int): Array[Array[String]] = {
    val r = new SplittableRandom(mix(seed, 3L, doc.toLong))
    val topic = topicWords(topicOf(doc))
    // page counts cycle with the document number, so a range of
    // documents has the same size under every seed
    val nPages = MinPages + (doc * 5 % (MaxPages - MinPages + 1))
    Array.fill(nPages)(Array.fill(LinesPerPage) {
      val n = 9 + r.nextInt(6)
      Array.fill(n)(
        if (r.nextDouble() < TopicShare) topic(r.nextInt(WordsPerTopic)) else zipfWord(r)
      ).mkString(" ")
    })
  }

  /** The text the reference's PDF ingest yields for `doc`: each page's
    * items joined with ' ', each page followed by '\n'. */
  def text(doc: Int): String = Gen.textOf(pages(doc))

  def pdf(doc: Int): Array[Byte] = Gen.writePdf(pages(doc))

  /** Question `q` of a stream about one of `topics`: six words of the
    * topic and one background word. Returns (topic, text). */
  def question(stream: Long, q: Int, topics: IndexedSeq[Int]): (Int, String) = {
    val r = new SplittableRandom(mix(seed, 4L + stream, q.toLong))
    val t = topics(r.nextInt(topics.size))
    val words = Array.fill(6)(topicWords(t)(r.nextInt(WordsPerTopic))) :+ zipfWord(r)
    (t, "what does the document say about " + words.mkString(" "))
  }

  /** `n` draws from a pool of `pool` questions with Zipf(1.0)
    * repetition: rank-1 questions come back most often. */
  def zipfDraws(pool: Int, n: Int): Array[Int] = {
    val w = Array.tabulate(pool)(i => 1.0 / (i + 1.0))
    val total = w.sum
    val r = new SplittableRandom(mix(seed, 5L, pool.toLong))
    Array.fill(n) {
      var u = r.nextDouble() * total
      var i = 0
      while (i < pool - 1 && u >= w(i)) { u -= w(i); i += 1 }
      i
    }
  }
}

object Gen {
  val VocabSize = 6000
  val Topics = 48
  val WordsPerTopic = 24
  val TopicRankBase = 300
  val TopicShare = 0.35
  val MinPages = 3
  val MaxPages = 9
  val LinesPerPage = 34

  def mix(seed: Long, stream: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + i * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def textOf(pages: Array[Array[String]]): String =
    pages.map(_.mkString(" ") + "\n").mkString

  /** A multi-page PDF 1.4 with one Flate-compressed content stream per
    * page and one `Tj` per line, written with the JDK alone. Lines are
    * lowercase words and spaces, so no string escapes are needed. */
  def writePdf(pages: Array[Array[String]]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val offsets = scala.collection.mutable.ArrayBuffer.empty[Int]
    def emit(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    def obj(body: => Unit): Unit = {
      offsets += out.size()
      emit(s"${offsets.size} 0 obj\n"); body; emit("\nendobj\n")
    }
    val n = pages.length
    // 1 catalog, 2 page tree, 3 font, then (page, content) pairs
    val kids = (0 until n).map(i => s"${4 + 2 * i} 0 R").mkString(" ")
    emit("%PDF-1.4\n%âãÏÓ\n")
    obj(emit("<< /Type /Catalog /Pages 2 0 R >>"))
    obj(emit(s"<< /Type /Pages /Kids [$kids] /Count $n >>"))
    obj(emit("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"))
    pages.zipWithIndex.foreach { case (lines, i) =>
      obj(emit(s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"/Resources << /Font << /F1 3 0 R >> >> /Contents ${5 + 2 * i} 0 R >>"))
      val content = lines.map(l => s"($l) Tj T*\n")
        .mkString("BT /F1 9 Tf 11 TL 36 756 Td\n", "", "ET\n")
      val packed = deflate(content.getBytes(ISO_8859_1))
      obj {
        emit(s"<< /Length ${packed.length} /Filter /FlateDecode >>\nstream\n")
        out.write(packed)
        emit("\nendstream")
      }
    }
    val xref = out.size()
    emit(s"xref\n0 ${offsets.size + 1}\n0000000000 65535 f \n")
    offsets.foreach(o => emit(f"$o%010d 00000 n \n"))
    emit(s"trailer\n<< /Size ${offsets.size + 1} /Root 1 0 R >>\nstartxref\n$xref\n%%EOF\n")
    out.toByteArray
  }

  private def deflate(in: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater(6)
    try {
      d.setInput(in); d.finish()
      val out = new java.io.ByteArrayOutputStream(in.length / 2 + 64)
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    } finally d.end()
  }
}
