package askbench

import org.apache.spark.sql.catalyst.expressions.Literal
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.PdfExtract

class GenSpec extends AnyFunSuite {

  test("the same seed gives identical PDF bytes, text and questions") {
    val a = new Gen(7); val b = new Gen(7)
    (0 until 5).foreach { d =>
      assert(a.pdf(d).sameElements(b.pdf(d)))
      assert(a.text(d) == b.text(d))
      assert(a.topicOf(d) == b.topicOf(d))
    }
    assert(a.question(0, 3, 0 until Gen.Topics) == b.question(0, 3, 0 until Gen.Topics))
    assert(a.zipfDraws(64, 50).sameElements(b.zipfDraws(64, 50)))
  }

  test("different seeds give different documents of the same shape") {
    val a = new Gen(7); val b = new Gen(8)
    assert(!a.pdf(0).sameElements(b.pdf(0)))
    assert(a.text(0) != b.text(0))
    assert(a.pages(0).length == b.pages(0).length)
    // documents are sized by number, not by seed: a range of documents
    // yields close to the same number of chunks under any seed
    def chunks(g: Gen) = (0 until 40).map(d => Oracle.chunks(g.text(d)).size).sum
    assert(math.abs(chunks(a) - chunks(b)).toDouble / chunks(a) < 0.02)
  }

  test("a generated PDF comes back through PdfExtract as the generated text") {
    val g = new Gen(3)
    (0 until 4).foreach { d =>
      val out = PdfExtract(Literal(g.pdf(d))).eval().toString
      assert(out == g.text(d))
    }
  }

  test("zipf draws repeat the top of the pool") {
    val draws = new Gen(1).zipfDraws(64, 400)
    val counts = draws.groupBy(identity).map { case (k, v) => k -> v.length }
    assert(draws.forall(i => i >= 0 && i < 64))
    assert(counts(0) > counts.getOrElse(32, 0))
    assert(counts.size < 64 || counts(0) > 40)
  }
}
