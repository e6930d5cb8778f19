package askbench

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.answer.TemplateAnswerer
import graft.embed.Featurizer
import graft.search.Search

class ChecksSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val gen = new Gen(5)
  private val oracle = new Oracle(768)
  private val docs = 0 until 12
  docs.foreach(d => oracle.addDoc(d, gen.topicOf(d), gen.text(d)))
  private val question = gen.question(0, 1, docs.map(gen.topicOf))._2

  /** The engine's exact ask over the oracle's own chunks. */
  private def engineAnswer(): (Seq[(Long, Double)], String, String, String) = {
    val s = spark
    import s.implicits._
    val corpus = oracle.allIds.toSeq.map(id => (id, oracle.text(id))).toDF("chunk_id", "text")
      .withColumn("embedding", Featurizer.featurizeCounts(768)(col("text")))
    val qdf = Seq(Tuple1(Featurizer.featurizeCountsText(question, 768))).toDF("qvec")
    val obs = Observation()
    val top = Search.knn(corpus, qdf, 5, "chunk_id", "embedding")
      .observe(obs, collect_list(struct(col("chunk_id"), col("sim"))).as("src"))
    val row = Search.contextAgg(top, col("chunk_id"), col("text"), col("sim"))
      .select(lit(question).as("question"), col("context"),
        Search.prompt(col("context"), lit(question)).as("prompt"))
      .withColumn("answer", TemplateAnswerer.answer(col("prompt"), col("question"), col("context")))
      .head()
    val src = obs.get("src").asInstanceOf[scala.collection.Seq[org.apache.spark.sql.Row]].toSeq
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy { case (id, sim) => (-sim, id) }
    (src, row.getAs[String]("context"), row.getAs[String]("prompt"), row.getAs[String]("answer"))
  }

  test("the engine's exact answer passes the check against the oracle") {
    val (src, context, prompt, answer) = engineAnswer()
    val expected = oracle.topK(question, 5)
    assert(expected.size == 5)
    assert(Checks.answer(question, expected, oracle.context(expected), src, context, prompt, answer))
  }

  test("a corrupted expected answer fails the check") {
    val (src, context, prompt, answer) = engineAnswer()
    val expected = oracle.topK(question, 5)
    val ctx = oracle.context(expected)
    def fails(e: Seq[(Long, Double)], c: String = ctx): Unit =
      assert(!Checks.answer(question, e, c, src, context, prompt, answer))
    fails(expected.updated(4, (expected(4)._1 + 1, expected(4)._2)))        // wrong id
    fails(expected.updated(0, (expected(0)._1, expected(0)._2 + 1e-6)))     // sim off by one unit in the 6th place
    fails(Seq(expected(1), expected(0)) ++ expected.drop(2))                 // wrong order
    fails(expected.take(4))                                                  // missing result
    fails(expected, ctx + " ")                                               // wrong context
  }

  test("the oracle breaks sim ties by the lower id and drops space-only chunks") {
    assert(Oracle.chunks("a" * 900 + " " * 900).map(_._1) == Seq(0, 800))
    assert(Oracle.chunks("a" * 800 + " " * 900).map(_._1) == Seq(0))
    val o = new Oracle(768)
    o.addDoc(1, 0, "same words here")
    o.addDoc(0, 0, "same words here")
    assert(o.topK("same words", 2).map(_._1) == Seq(Oracle.chunkId(0, 0), Oracle.chunkId(1, 0)))
  }
}
