package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.io.Fs
import graft.search.{Ann, Search}
import graft.store.CorpusStore
import graft.vector.VectorOps

/** The driver-resident serving snapshot must return exactly what the
  * partitioned Spark plan returns: the same top-k ids, round-6 sims,
  * rows and schema. Every case runs both paths — the snapshot under the
  * default `spark.sql.autoBroadcastJoinThreshold`, the Spark plan with
  * it at -1 — and compares them. */
class ServingSnapshotSpec extends SparkSpec {
  import spark.implicits._

  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  private def withThreshold[A](v: String)(body: => A): A = {
    val prev = spark.conf.get(Threshold)
    spark.conf.set(Threshold, v)
    try body finally spark.conf.set(Threshold, prev)
  }

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-snap-$name").toString + "/store"

  private def fromSnapshot(df: DataFrame): Boolean =
    df.queryExecution.analyzed.getClass.getSimpleName == "LogicalRDD"

  /** Run `ask` on the snapshot and on the Spark plan; require both
    * paths were taken and agree row for row, schema included. */
  private def same(ask: => DataFrame): Seq[Row] = {
    val snap = ask
    assert(fromSnapshot(snap), "the small store must be served from the snapshot")
    val got = snap.collect().toSeq
    val (want, wantSchema, sparkPlan) = withThreshold("-1") {
      val s = ask
      (s.collect().toSeq, s.schema, s.queryExecution.analyzed.getClass.getSimpleName)
    }
    assert(sparkPlan != "LogicalRDD", "threshold -1 must turn the snapshot off")
    assert(snap.schema == wantSchema, s"${snap.schema.treeString} vs ${wantSchema.treeString}")
    assert(got == want, s"snapshot $got\nspark    $want")
    got
  }

  private def q(v: Seq[Double]): DataFrame = Seq(Tuple1(v)).toDF("qvec")

  private val rnd = new scala.util.Random(11)
  private val corpusRows: Seq[(Long, String, Seq[Double])] =
    (1L to 60L).map(i => (i, s"chunk $i", Seq.fill(4)(rnd.nextInt(5) - 2.0))) ++ Seq(
      (100L, "tie a", Seq(1.0, 1.0, 0.0, 0.0)),
      (99L, "tie b", Seq(1.0, 1.0, 0.0, 0.0)),
      (101L, "tie c", Seq(2.0, 2.0, 0.0, 0.0)),
      (102L, "zero", Seq(0.0, 0.0, 0.0, 0.0)),
      (103L, "short", Seq(1.0, 1.0)))

  private def write(path: String, rows: Seq[(Long, String, Seq[Double])],
                    append: Boolean = false): Unit = {
    val df = rows.toDF("vec_id", "text", "embedding").repartition(3)
    if (append) CorpusStore.append(df, path) else CorpusStore.overwrite(df, path)
  }

  test("snapshot ≡ Spark plan: ties (sim DESC, id ASC), zero vector 0.0, dim mismatch -1.0") {
    val path = tmp("edges")
    write(path, corpusRows)
    val all = same(Search.knn(CorpusStore.load(spark, path), q(Seq(1.0, 1.0, 0.0, 0.0)), 100))
    assert(all.size == corpusRows.size)
    val byId = all.map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("sim")).toMap
    assert(byId(102L) == 0.0 && byId(103L) == -1.0)
    val ones = all.takeWhile(_.getAs[Double]("sim") == 1.0).map(_.getAs[Long]("vec_id"))
    assert(ones == ones.sorted && Seq(99L, 100L, 101L).forall(ones.contains),
      s"equal sims break ties by the lower id: $ones")
    same(Search.knn(CorpusStore.load(spark, path), q(Seq(0.3, -1.0, 2.0, 0.5)), 5))
    same(Search.knn(spark.read.parquet(path), q(Seq(0.0, 0.0, 0.0, 0.0)), 7))
  }

  test("snapshot ≡ Spark plan: array<float> vectors, NULL vectors, a partitioned store") {
    val path = tmp("float")
    corpusRows.map { case (id, t, v) => (id, t, if (id == 7L) null else v.map(_.toFloat)) }
      .toDF("vec_id", "text", "embedding").write.parquet(path)
    val top = same(Search.knn(CorpusStore.load(spark, path), q(Seq(0.1, 0.7, -0.2, 0.4)), 100))
    assert(top.last.getAs[Long]("vec_id") == 7L && top.last.isNullAt(top.last.fieldIndex("sim")),
      "a NULL similarity ranks last")
    val parted = tmp("parted")
    CorpusStore.overwrite(corpusRows.toDF("vec_id", "text", "embedding")
      .withColumn("part", (col("vec_id") % 3).cast("int")), parted, Seq("part"))
    same(Search.knn(CorpusStore.load(spark, parted), q(Seq(1.0, 0.0, 2.0, 0.0)), 6))
  }

  test("an empty store and a 0-row query answer with 0 rows on both paths") {
    val path = tmp("empty")
    write(path, Nil)
    assert(same(Search.knn(CorpusStore.load(spark, path), q(Seq(1.0, 0.0)), 5)).isEmpty)
    val full = tmp("full")
    write(full, corpusRows)
    val none = Seq.empty[Tuple1[Seq[Double]]].toDF("qvec")
    val res = Search.knn(CorpusStore.load(spark, full), none, 5)
    assert(res.collect().isEmpty)
    assert(res.schema == withThreshold("-1")(Search.knn(CorpusStore.load(spark, full),
      q(Seq(1.0, 0.0, 0.0, 0.0)), 5).schema))
    val two = Seq(Tuple1(Seq(1.0)), Tuple1(Seq(2.0))).toDF("qvec")
    val e = intercept[IllegalArgumentException](Search.knn(CorpusStore.load(spark, full), two, 5))
    assert(e.getMessage.contains("1-row query"))
  }

  test("IVF probe ≡ Spark plan, with and without tombstones") {
    val path = tmp("ivf")
    val emb = corpusRows.toDF("vec_id", "text", "embedding")
    val cents = Ann.kmeansCentroids(emb.filter(size(col("embedding")) === 4),
      "vec_id", "embedding", 4, 2)
    Ann.buildIvfIndex(emb, cents, path)
    val qv = q(Seq(1.0, 0.5, -0.5, 0.0))
    val before = same(Ann.ivfIndexTopK(spark, path, qv, cents, 5, 2))
    assert(!before.head.schema.fieldNames.contains("__cluster"))
    Ann.deleteFromIvfIndex(before.take(2).map(r => Tuple1(r.getAs[Long]("vec_id"))).toSeq
      .toDF("vec_id"), path)
    val after = same(Ann.ivfIndexTopK(spark, path, qv, cents, 5, 2))
    assert(after.map(_.getAs[Long]("vec_id")).intersect(before.take(2).map(_.getAs[Long]("vec_id"))).isEmpty,
      "tombstoned ids never rank")
    assert(after.take(3) == before.drop(2).take(3))
    // the whole index probed ≡ the exact answer over the survivors
    val dead = before.take(2).map(_.getAs[Long]("vec_id")).toSet
    val exact = withThreshold("-1")(Search.knn(emb.filter(!col("vec_id").isin(dead.toSeq: _*)),
      qv, 5).select("vec_id", "sim").collect().toSeq)
    assert(Ann.ivfIndexTopK(spark, path, qv, cents, 5, 4).select("vec_id", "sim")
      .collect().toSeq == exact)
  }

  test("an append is visible on the next ask; an overwrite never serves the old rows") {
    val path = tmp("gen")
    write(path, corpusRows.take(30))
    val qv = q(Seq(5.0, -3.0, 1.0, 0.25))
    same(Search.knn(CorpusStore.load(spark, path), qv, 5))
    val planted = (500L, "planted", Seq(5.0, -3.0, 1.0, 0.25))
    write(path, Seq(planted), append = true)
    val next = same(Search.knn(CorpusStore.load(spark, path), qv, 5))
    assert(next.head.getAs[Long]("vec_id") == 500L && next.head.getAs[Double]("sim") == 1.0)
    write(path, corpusRows.drop(30).take(20))
    val fresh = same(Search.knn(CorpusStore.load(spark, path), qv, 100)).map(_.getAs[Long]("vec_id"))
    assert(fresh.toSet == corpusRows.drop(30).take(20).map(_._1).toSet,
      "an overwrite must serve exactly the new generation")
  }

  /** Jobs and tasks started inside `body` under a job group of its own. */
  private def counted(body: => Unit): (Int, Int) = {
    val group = s"snap-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val tasks = new AtomicInteger
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.incrementAndGet(); e.stageIds.foreach(stages.add)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId)) tasks.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      spark.sparkContext.setJobGroup(group, "serving snapshot spec")
      try body finally spark.sparkContext.clearJobGroup()
      Thread.sleep(500) // listener events arrive asynchronously
      (jobs.get, tasks.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("an ask on a small store runs exactly one Spark job of one task") {
    val path = tmp("jobs")
    write(path, corpusRows)
    val qv = q(Seq(1.0, 2.0, 3.0, 4.0))
    def ask(): Unit = Search.contextAgg(Search.knn(CorpusStore.load(spark, path), qv, 5),
        col("vec_id"), col("text"), col("sim"))
      .select(Search.prompt(col("context"), lit("why?")).as("prompt")).head(): Unit
    ask() // first ask of the generation loads its files
    assert(counted(ask()) == ((1, 1)), "snapshot ask: one job, one task")
    val (sparkJobs, _) = withThreshold("-1")(counted(ask()))
    assert(sparkJobs == 1, "no schema-inference or broadcast job on the Spark path either")
    // a new generation reads only its new file, on the driver
    write(path, Seq((900L, "new", Seq(1.0, 2.0, 3.0, 4.0))), append = true)
    assert(counted(ask()) == ((1, 1)), "the ask after an append: still one job")
  }

  test("CorpusStore.load: Spark's schema without inference, one relation per generation") {
    val path = tmp("load")
    CorpusStore.overwrite(corpusRows.toDF("vec_id", "text", "embedding")
      .withColumn("part", (col("vec_id") % 2).cast("int")), path, Seq("part"))
    val a = CorpusStore.load(spark, path)
    assert(a.schema == spark.read.parquet(path).schema)
    assert(counted(CorpusStore.load(spark, path): Unit)._1 == 0)
    assert(CorpusStore.load(spark, path) eq a, "an unchanged store reuses its relation")
    write(path, Seq((901L, "x", Seq(1.0, 0.0, 0.0, 0.0))), append = true)
    assert(!(CorpusStore.load(spark, path) eq a))
    assert(Fs.countDataFiles(spark, path) ==
      Fs.dataFiles(spark, path).count(_.getPath.getName.endsWith(".parquet")))
    assert(Fs.dataFiles(spark, path).forall(f => !f.getPath.getName.startsWith("_")))
  }

  test("round6 keeps NaN and infinities; the packed kernel keeps the cosine edges") {
    assert(VectorOps.round6(Double.NaN).isNaN)
    assert(VectorOps.round6(Double.PositiveInfinity) == Double.PositiveInfinity)
    assert(VectorOps.round6(0.1234565) == 0.123457)
    val f = graft.functions.CosineSimilarity
    assert(f.packed(Array(9.0, 1.0, 0.0), 1, 2, Array(3.0, 0.0)) == 1.0)
    assert(f.packed(Array(0.0, 0.0), 0, 2, Array(1.0, 1.0)) == 0.0)
    assert(f.packed(Array(1.0), 0, 1, Array(1.0, 1.0)) == -1.0)
  }
}
