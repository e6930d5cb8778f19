package askbench

import scala.collection.mutable.ArrayBuffer

/** Plain-Scala reference for every answer the benchmark checks, built
  * from the generated text alone: the reference's character chunker
  * (1000/200, whitespace-only chunks dropped), the hashing-trick count
  * embedding, and a brute-force cosine top-k with the engine's total
  * order (sim rounded to 6 places DESC, id ASC). It shares no code with
  * the engine, so an engine change that alters an answer shows up as a
  * failed operation instead of a faster one.
  */
final class Oracle(dim: Int) {
  import Oracle._

  private val ids = ArrayBuffer.empty[Long]
  private val texts = ArrayBuffer.empty[String]
  private val labels = ArrayBuffer.empty[Int]
  private val vecs = ArrayBuffer.empty[Array[Short]]
  private val norms = ArrayBuffer.empty[Double]

  def size: Int = ids.length
  def text(id: Long): String = texts(index(id))
  def label(id: Long): Int = labels(index(id))
  def allIds: Iterator[Long] = ids.iterator
  private val byId = scala.collection.mutable.HashMap.empty[Long, Int]
  private def index(id: Long): Int = byId(id)

  /** Add document `doc`'s chunks; returns how many were kept. */
  def addDoc(doc: Int, label: Int, text: String): Int = {
    val before = ids.length
    chunks(text).foreach { case (pos, c) =>
      val id = chunkId(doc, pos)
      byId(id) = ids.length
      ids += id; texts += c; labels += label
      val v = new Array[Short](dim)
      embed(c).foreach { case (b, n) => v(b) = n.toShort }
      vecs += v
      norms += math.sqrt(v.iterator.map(x => x.toLong * x).sum.toDouble)
    }
    ids.length - before
  }

  /** Top-k (id, sim) by (sim DESC, id ASC) over all chunks, or over
    * the ids accepted by `keep`. Rounding is monotone, so only chunks
    * whose raw cosine is within 1e-6 of the k-th best can be in the
    * rounded top k; only those are rounded. */
  def topK(question: String, k: Int, keep: Long => Boolean = _ => true): Seq[(Long, Double)] = {
    val (qb, qc, qn) = query(question)
    val raw = new Array[Double](ids.length)
    var i = 0
    while (i < ids.length) {
      raw(i) = if (keep(ids(i))) cosine(i, qb, qc, qn) else Double.NegativeInfinity
      i += 1
    }
    val kept = raw.count(_ != Double.NegativeInfinity)
    if (kept == 0) return Nil
    val kth = raw.sorted(Ordering.Double.TotalOrdering.reverse)(math.min(k, kept) - 1)
    raw.indices.filter(j => raw(j) != Double.NegativeInfinity && raw(j) >= kth - 1e-6)
      .map(j => (ids(j), round6(raw(j))))
      .sortBy { case (id, s) => (-s, id) }
      .take(k)
  }

  private def query(question: String): (Array[Int], Array[Long], Double) = {
    val q = embed(question).toArray
    (q.map(_._1), q.map(_._2.toLong), math.sqrt(q.map(x => x._2.toLong * x._2).sum.toDouble))
  }

  private def cosine(i: Int, qb: Array[Int], qc: Array[Long], qn: Double): Double = {
    val v = vecs(i)
    var dot = 0L
    var j = 0
    while (j < qb.length) { dot += v(qb(j)) * qc(j); j += 1 }
    val dn = norms(i)
    if (dn == 0.0 || qn == 0.0) 0.0 else dot.toDouble / (dn * qn)
  }

  /** Expected context for a top-k list: texts in rank order joined by
    * the reference's separator. */
  def context(top: Seq[(Long, Double)]): String = top.map(t => text(t._1)).mkString("\n---\n")

  /** Bucket → count of the hashing-trick embedding. */
  def embed(s: String): Map[Int, Int] = {
    val m = scala.collection.mutable.HashMap.empty[Int, Int]
    s.toLowerCase(java.util.Locale.ROOT).split(" ").foreach { t =>
      if (t.nonEmpty) {
        val b = (tokenHash(t) % dim).toInt
        m(b) = m.getOrElse(b, 0) + 1
      }
    }
    m.toMap
  }
}

object Oracle {
  val ChunkSize = 1000
  val Overlap = 200

  /** Chunk ids are stable across runs and upload orders: the chunk's
    * index within its document, then the document number. Ordering by
    * chunk index first spreads the lowest ids, which seed k-means, over
    * many documents. */
  def chunkId(doc: Int, pos: Int): Long = (pos / (ChunkSize - Overlap)).toLong * 1000000L + doc

  /** (offset, chunk) windows; a chunk of spaces only is dropped. */
  def chunks(text: String): Seq[(Int, String)] =
    (0 until text.length by (ChunkSize - Overlap))
      .map(p => p -> text.substring(p, math.min(p + ChunkSize, text.length)))
      .filter(_._2.exists(_ != ' '))

  def tokenHash(s: String): Long = {
    var h = 7L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * 31 + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    h
  }

  def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
}

/** The benchmark's output checks, kept pure so a test can feed them a
  * corrupted expectation. */
object Checks {

  /** An ask is right when its sources are exactly the expected top-k
    * (ids, round-6 sims, order sim DESC / id ASC) and the answer row is
    * built from them: the context joins their texts in rank order, and
    * the prompt and the template answer carry the context and the
    * question. */
  def answer(question: String, expected: Seq[(Long, Double)], expectedContext: String,
             sources: Seq[(Long, Double)], context: String, prompt: String, answer: String): Boolean =
    sources == expected && context == expectedContext &&
      prompt.contains(context) && prompt.contains("Question: " + question) &&
      answer.startsWith("Q: " + question + " | ")
}
