package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

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
    * paths were taken and agree row for row (in `order`), schema
    * included. */
  private def same(ask: => DataFrame, order: Seq[Row] => Seq[Row] = identity): Seq[Row] = {
    val snap = ask
    assert(fromSnapshot(snap), "the small store must be served from the snapshot")
    val got = order(snap.collect().toSeq)
    val (want, wantSchema, sparkPlan) = withThreshold("-1") {
      val s = ask
      (order(s.collect().toSeq), s.schema, s.queryExecution.analyzed.getClass.getSimpleName)
    }
    assert(sparkPlan != "LogicalRDD", "threshold -1 must turn the snapshot off")
    assert(snap.schema == wantSchema, s"${snap.schema.treeString} vs ${wantSchema.treeString}")
    assert(values(got) == values(want), s"snapshot $got\nspark    $want")
    got
  }

  /** Row values with NaN made equal to itself (also inside vectors). */
  private def values(rows: Seq[Row]): Seq[Any] = {
    def v(x: Any): Any = x match {
      case d: Double if d.isNaN => "NaN"
      case f: Float if f.isNaN => "NaN"
      case r: Row => r.toSeq.map(v)
      case s: scala.collection.Seq[_] => s.map(v)
      case other => other
    }
    rows.map(v)
  }

  /** A join's row order is not part of its answer. */
  private def sorted(rows: Seq[Row]): Seq[Row] = rows.sortBy(_.toString)

  /** [[same]] for the batch similarity join. */
  private def sameJoin(join: => DataFrame): Seq[Row] = same(join, sorted)

  /** The Spark plan answers `join` under the default threshold, and
    * its answer is the one the snapshot-off session gives. */
  private def fallsBack(join: => DataFrame): Seq[Row] = {
    val df = join
    assert(!fromSnapshot(df), "this input must take the Spark plan")
    val got = sorted(df.collect().toSeq)
    val want = withThreshold("-1")(sorted(join.collect().toSeq))
    assert(df.schema == withThreshold("-1")(join.schema))
    assert(values(got) == values(want), s"default $got\nspark   $want")
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
    val (jobs, tasks, _) = listened(body)
    (jobs, tasks)
  }

  /** Jobs, tasks and shuffle bytes (written + read) of `body`. */
  private def listened(body: => Unit): (Int, Int, Long) = {
    val group = s"snap-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val tasks = new AtomicInteger
    val shuffled = new AtomicLong
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.incrementAndGet(); e.stageIds.foreach(stages.add)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId)) {
          tasks.incrementAndGet()
          Option(e.taskMetrics).foreach(m => shuffled.addAndGet(
            m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead))
        }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      spark.sparkContext.setJobGroup(group, "serving snapshot spec")
      try body finally spark.sparkContext.clearJobGroup()
      Thread.sleep(500) // listener events arrive asynchronously
      (jobs.get, tasks.get, shuffled.get)
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

  test("similarityJoin snapshot ≡ Spark plan: ties, zero vector, dim mismatch, k > rows, query columns") {
    val path = tmp("join")
    write(path, corpusRows)
    val qs = Seq(
      (1L, "ones", Seq(1.0, 1.0, 0.0, 0.0)),
      (2L, "zero", Seq(0.0, 0.0, 0.0, 0.0)),
      (3L, "short", Seq(1.0, 1.0)),
      (4L, "mixed", Seq(0.3, -1.0, 2.0, 0.5))).toDF("qid", "question", "qvec")
    val top = sameJoin(Search.similarityJoin(CorpusStore.load(spark, path), qs, 5))
    assert(top.size == 20)
    assert(top.head.schema.fieldNames.toSeq ==
      Seq("vec_id", "text", "embedding", "qid", "question", "sim", "rank"))
    val ones = top.filter(_.getAs[Long]("qid") == 1L).sortBy(_.getAs[Int]("rank"))
    assert(ones.map(_.getAs[Int]("rank")) == (1 to 5))
    val tied = ones.takeWhile(_.getAs[Double]("sim") == 1.0).map(_.getAs[Long]("vec_id"))
    assert(tied.size > 1 && tied == tied.sorted, s"equal sims break ties by the lower id: $tied")
    // k past the store: every row for every query, from nested
    // selections of a local frame
    val all = sameJoin(Search.similarityJoin(CorpusStore.load(spark, path),
      qs.select("qvec", "qid").select("qid", "qvec"), 100))
    assert(all.size == 4 * corpusRows.size)
    val sims = all.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id")) -> r.getAs[Double]("sim")).toMap
    assert(sims((2L, 1L)) == 0.0 && sims((1L, 102L)) == 0.0, "a zero vector scores 0.0")
    assert(sims((3L, 1L)) == -1.0 && sims((3L, 103L)) == 1.0, "a dimension mismatch scores -1.0")
    // a computed query side (an int qid cast) is collected
    sameJoin(Search.similarityJoin(CorpusStore.load(spark, path),
      qs.select(col("qid").cast("int").as("qid"), col("qvec"), col("question")), 3))
    // string and fractional question ids
    sameJoin(Search.similarityJoin(CorpusStore.load(spark, path),
      qs.select(col("question").as("qid"), col("qvec")), 4))
    sameJoin(Search.similarityJoin(CorpusStore.load(spark, path),
      qs.select((col("qid") / 2).as("qid"), col("qvec")), 4))
  }

  test("similarityJoin snapshot ≡ Spark plan: array<float>, NULL vectors, a partitioned store") {
    val path = tmp("joinfloat")
    corpusRows.map { case (id, t, v) => (id, t, if (id == 7L) null else v.map(_.toFloat)) }
      .toDF("vec_id", "text", "embedding").write.parquet(path)
    val qs = Seq((1L, Seq(0.1f, 0.7f, -0.2f, 0.4f)), (2L, Seq(1f, 0f, 0f, 0f))).toDF("qid", "qvec")
    val all = sameJoin(Search.similarityJoin(CorpusStore.load(spark, path), qs, 100))
    assert(all.filter(_.getAs[Long]("vec_id") == 7L).forall(r =>
      r.isNullAt(r.fieldIndex("sim")) && r.getAs[Int]("rank") == corpusRows.size),
      "a NULL similarity ranks last")
    // a stored query side (float vectors), collected on the driver
    val stored = CorpusStore.load(spark, path).filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    sameJoin(Search.similarityJoin(CorpusStore.load(spark, path), stored, 4))
    val parted = tmp("joinparted")
    CorpusStore.overwrite(corpusRows.toDF("vec_id", "text", "embedding")
      .withColumn("part", (col("vec_id") % 3).cast("int")), parted, Seq("part"))
    sameJoin(Search.similarityJoin(CorpusStore.load(spark, parted), qs, 6))
  }

  test("similarityJoin snapshot: an appended generation, an empty store, an empty query side") {
    val path = tmp("joingen")
    write(path, corpusRows.take(30))
    val qs = Seq((5L, Seq(5.0, -3.0, 1.0, 0.25)), (6L, Seq(0.0, 1.0, 0.0, 0.0))).toDF("qid", "qvec")
    sameJoin(Search.similarityJoin(CorpusStore.load(spark, path), qs, 5))
    write(path, Seq((500L, "planted", Seq(5.0, -3.0, 1.0, 0.25))), append = true)
    val next = sameJoin(Search.similarityJoin(CorpusStore.load(spark, path), qs, 5))
    assert(next.exists(r => r.getAs[Long]("qid") == 5L && r.getAs[Int]("rank") == 1 &&
      r.getAs[Long]("vec_id") == 500L && r.getAs[Double]("sim") == 1.0))
    val none = Seq.empty[(Long, Seq[Double])].toDF("qid", "qvec")
    assert(sameJoin(Search.similarityJoin(CorpusStore.load(spark, path), none, 5)).isEmpty)
    val empty = tmp("joinempty")
    write(empty, Nil)
    assert(sameJoin(Search.similarityJoin(CorpusStore.load(spark, empty), qs, 5)).isEmpty)
  }

  test("similarityJoin falls back to the Spark plan where the snapshot would answer differently") {
    val path = tmp("joinfallback")
    write(path, corpusRows)
    def load: DataFrame = CorpusStore.load(spark, path)
    val v = Seq(1.0, 0.5, -0.5, 0.0)
    val qs = Seq((1L, v)).toDF("qid", "qvec")
    // a repeated qid: the window ranks both queries' rows as one
    assert(fallsBack(Search.similarityJoin(load,
      Seq((1L, v), (1L, v.reverse)).toDF("qid", "qvec"), 3)).size == 3)
    fallsBack(Search.similarityJoin(load,
      spark.sql("SELECT CAST(NULL AS BIGINT) AS qid, array(1D, 0D, 0D, 0D) AS qvec"), 3))
    fallsBack(Search.similarityJoin(load,
      spark.sql("SELECT 1L AS qid, CAST(NULL AS ARRAY<DOUBLE>) AS qvec"), 3))
    fallsBack(Search.similarityJoin(load,
      spark.sql("SELECT 1L AS qid, array(1D, CAST(NULL AS DOUBLE), 0D, 0D) AS qvec"), 3))
    // the window groups -0.0 with 0.0 and NaN with NaN: repeated qids
    assert(fallsBack(Search.similarityJoin(load,
      Seq((0.0, v), (-0.0, v.reverse)).toDF("qid", "qvec"), 3)).size == 3)
    assert(fallsBack(Search.similarityJoin(load,
      Seq((Double.NaN, v), (Double.NaN, v.reverse)).toDF("qid", "qvec"), 3)).size == 3)
    // a nested qid: the window normalizes the floats inside it too
    assert(fallsBack(Search.similarityJoin(load,
      Seq((Tuple1(0.0), v), (Tuple1(-0.0), v.reverse)).toDF("qid", "qvec"), 3)).size == 3)
    // a collected query side that is refused reaches the plan as the
    // collected rows, so the plan does not read the source again
    val stored = tmp("joinfallbackq")
    Seq((1L, v), (1L, v.reverse), (2L, v)).toDF("qid", "qvec").write.parquet(stored)
    val repeated = fallsBack(Search.similarityJoin(load, spark.read.parquet(stored), 3))
    assert(repeated.size == 6)
    assert(Search.similarityJoin(load, spark.read.parquet(stored), 3).queryExecution.analyzed
      .collectFirst { case r: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => r }
      .exists(_.data.size == 3), "the plan joins the collected rows")
    // a column on both sides, and a sim column withColumn replaces
    fallsBack(Search.similarityJoin(load, Seq((1L, "q", v)).toDF("qid", "text", "qvec"), 3))
    fallsBack(Search.similarityJoin(load, Seq((1L, 0.5, v)).toDF("qid", "sim", "qvec"), 3))
    // stores and columns the snapshot refuses
    fallsBack(Search.similarityJoin(load.filter(col("vec_id") > 10), qs, 3))
    fallsBack(Search.similarityJoin(load, qs, 3, idCol = "text"))
    withThreshold("1")(fallsBack(Search.similarityJoin(load, qs, 3)))
  }

  test("similarityJoin takes the Spark plan for a query side or a result past the bound") {
    val path = tmp("joinbound")
    write(path, corpusRows)
    def load: DataFrame = CorpusStore.load(spark, path)
    val storeBytes = Fs.dataFiles(spark, path).map(_.getLen).sum
    val qs = Seq((1L, Seq(1.0, 1.0, 0.0, 0.0)), (2L, Seq(0.0, 1.0, 0.0, 0.0)),
      (3L, Seq(1.0, 0.0, 2.0, 0.0)), (4L, Seq(0.3, -1.0, 2.0, 0.5))).toDF("qid", "qvec")
    val long = Seq((1L, Seq.fill(2000)(1.0))).toDF("qid", "qvec")
    // the bound admits the store, so a small batch is served
    withThreshold(storeBytes.toString) {
      assert(fromSnapshot(Search.similarityJoin(load, qs, 2)))
      // every row for 4 queries holds more than the store's bytes
      assert(fallsBack(Search.similarityJoin(load, qs, 100)).size == 4 * corpusRows.size)
      // one query of 16 kB (a dimension mismatch: every sim is -1.0)
      assert(fallsBack(Search.similarityJoin(load, long, 1)).map(_.getAs[Double]("sim")) ==
        Seq(-1.0))
    }
    // under the default bound both are served
    sameJoin(Search.similarityJoin(load, qs, 100))
    sameJoin(Search.similarityJoin(load, long, 1))
  }

  test("a batch answer over a small store runs one job of one task with no shuffle") {
    val path = tmp("batchjobs")
    write(path, corpusRows)
    val qs = Seq((0L, "why?", Seq(1.0, 2.0, 3.0, 4.0)), (1L, "how?", Seq(0.0, 1.0, 0.0, 1.0)))
      .toDF("qid", "question", "qvec")
    def answer(): Array[Row] = Search.contextAggBatch(
        Search.similarityJoin(CorpusStore.load(spark, path), qs.select("qid", "qvec"), 5),
        col("vec_id"), col("text"), col("sim"))
      .join(qs.select("qid", "question"), "qid")
      .withColumn("prompt", Search.prompt(col("context"), col("question")))
      .collect()
    def contexts(): Array[Row] = Search.contextAggBatch(
        Search.similarityJoin(CorpusStore.load(spark, path), qs.select("qid", "qvec"), 5),
        col("vec_id"), col("text"), col("sim"))
      .collect()
    assert(answer().length == 2) // the first batch of the generation loads its files
    assert(listened(contexts(): Unit) == ((1, 1, 0L)),
      "similarity join → contextAggBatch → collect: one job, one task, no shuffle")
    // the join back onto the question table adds only the broadcast of
    // that local table, a job of its own; the answer's job stays one task
    val (jobs, tasks, shuffled) = listened(answer(): Unit)
    assert(jobs == 2 && shuffled == 0L, s"$jobs jobs, $shuffled shuffle bytes")
    assert(tasks - 1 == listened(qs.select("qid", "question").rdd.count(): Unit)._2,
      "the tasks past the answer's one are the question table's")
    val nested = Seq((7L, Seq(1.0, 2.0))).toDF("id", "qvec").select("qvec", "id").select("qvec")
    assert(counted(Search.queryVector(nested): Unit) == ((0, 0)),
      "a selection over a local frame reads its vector without a job")
  }

  test("round-6 pre-filter ≡ Spark plan: sims within 1e-6 of the k-th, HALF_UP boundaries, NaN, NULL") {
    // against (1, 0), the raw cosine of (s, sqrt(1 - s²)) is s up to an ulp
    def at(s: Double): Seq[Double] = Seq(s, math.sqrt(1 - s * s))
    val offsets = Seq(-2e-6, -1.1e-6, -1e-6, -9e-7, -6e-7, -5e-7, -4e-7, -1e-7, 0.0,
      1e-7, 4e-7, 5e-7, 6e-7, 9e-7, 1e-6, 1.1e-6, 2e-6)
    val band = offsets.zipWithIndex.flatMap { case (d, i) =>
      Seq((10L + 2 * i, s"b$i", at(0.5 + d)), (11L + 2 * i, s"b$i'", at(0.5 + d)))
    }
    val edges = Seq((1L, "half-up below", at(0.4999995)), (2L, "half-up above", at(0.5000005)),
      (3L, "half-up", at(0.1234565)), (4L, "NaN", Seq(Double.NaN, 1.0)),
      (5L, "NULL", null), (6L, "far", at(0.1)), (7L, "far", at(0.2)), (8L, "near top", at(0.9)))
    val rows = new scala.util.Random(5).shuffle(band ++ edges)
    val path = tmp("band")
    rows.toDF("vec_id", "text", "embedding").repartition(2).write.parquet(path)
    val n = rows.size
    (1 to n + 1).foreach { k =>
      val top = same(Search.knn(CorpusStore.load(spark, path), q(Seq(1.0, 0.0)), k))
      assert(top.size == math.min(k, n))
      assert(top.head.getAs[Long]("vec_id") == 4L && top.head.getAs[Double]("sim").isNaN,
        "a NaN sim ranks first")
    }
    val qs = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)), (3L, Seq(2.0, 0.0))).toDF("qid", "qvec")
    Seq(3, 12, 25).foreach(k => sameJoin(Search.similarityJoin(CorpusStore.load(spark, path), qs, k)))
  }

  // ------------------------------------------------------------- k-means

  private def kmeansOf(df: DataFrame, k: Int, iters: Int, idCol: String = "vec_id"): Seq[Seq[Double]] =
    Ann.kmeansCentroids(df, idCol, "embedding", k, iters)

  /** Gaussian rows in 4 files, one with a NULL id; float or double. */
  private def gaussianStore(name: String, float: Boolean, n: Int = 240, dim: Int = 12): String = {
    val r = new scala.util.Random(23)
    val rows = (1 to n).map { i =>
      val v = Seq.fill(dim)(r.nextGaussian())
      (if (i == 17) null else java.lang.Long.valueOf(1000L - 3L * i), s"g$i", v)
    }
    val path = tmp(name)
    val df = rows.toDF("vec_id", "text", "embedding").repartition(4)
    CorpusStore.overwrite(if (float) df.withColumn("embedding",
      col("embedding").cast("array<float>")) else df, path)
    path
  }

  /** k-means over the store at `path` from the snapshot (once the
    * store is held: no Spark job) and on the Spark plan: centroids
    * within 1e-9 and the same cluster for every row. */
  private def sameKmeans(path: String, k: Int, iters: Int): (Seq[Seq[Double]], Seq[Seq[Double]]) = {
    def load: DataFrame = CorpusStore.load(spark, path)
    kmeansOf(load, k, iters) // holds the generation
    var snap: Seq[Seq[Double]] = Nil
    assert(counted { snap = kmeansOf(load, k, iters) } == ((0, 0)),
      "a warm k-means over a held store runs no Spark job")
    val plan = withThreshold("-1")(kmeansOf(load, k, iters))
    assert(snap.map(_.size) == plan.map(_.size))
    snap.flatten.zip(plan.flatten).foreach { case (a, b) =>
      assert(math.abs(a - b) <= 1e-9, s"snapshot $a vs plan $b")
    }
    if (snap.nonEmpty) {
      val both = load.select(Ann.assignCluster(col("embedding"), snap).as("a"),
        Ann.assignCluster(col("embedding"), plan).as("b"))
      assert(both.filter(col("a") =!= col("b")).count() == 0, "every row in the same cluster")
    }
    (snap, plan)
  }

  test("k-means from the snapshot ≡ Spark plan: float and double, NULL id, k > rows, iters = 0") {
    Seq(false, true).foreach { float =>
      val path = gaussianStore(if (float) "kmf" else "kmd", float)
      val (snap, plan) = sameKmeans(path, 8, 3)
      assert(snap.size == 8 && snap.forall(_.size == 12))
      // the init is the k lowest ids, NULL first
      val init = sameKmeans(path, 5, 0)._1
      val lowest = withThreshold("-1")(CorpusStore.load(spark, path).orderBy("vec_id").limit(5)
        .select(col("embedding").cast("array<double>")).collect().map(_.getSeq[Double](0)).toSeq)
      assert(init == lowest)
      // identical index rows and probe answers from either model
      val (a, b) = (tmp("kmidx-a"), tmp("kmidx-b"))
      Ann.buildIvfIndex(CorpusStore.load(spark, path), snap, a)
      Ann.buildIvfIndex(CorpusStore.load(spark, path), plan, b)
      def rows(p: String): Seq[Row] = sorted(withThreshold("-1")(spark.read.parquet(p).collect().toSeq))
      assert(values(rows(a)) == values(rows(b)))
      Seq(Seq.fill(12)(0.5), (1 to 12).map(i => math.sin(i.toDouble))).foreach { v =>
        val qv = q(v)
        assert(values(Ann.ivfIndexTopK(spark, a, qv, snap, 5, 3).collect().toSeq) ==
          values(Ann.ivfIndexTopK(spark, b, qv, plan, 5, 3).collect().toSeq))
      }
    }
    // k past the rows: one centroid per row
    val small = tmp("kmsmall")
    write(small, corpusRows.take(3))
    assert(sameKmeans(small, 5, 2)._1.size == 3)
    assert(sameKmeans(small, 5, 0)._1.size == 3)
  }

  /** The input takes the Spark plan (a job runs under the default
    * bound) and its outcome, centroids or error, is the one the
    * snapshot-off session gives. */
  private def kmeansFallsBack(df: => DataFrame, k: Int = 3, iters: Int = 2,
                              idCol: String = "vec_id"): Either[String, Seq[Seq[Double]]] = {
    def outcome(): Either[String, Seq[Seq[Double]]] =
      try Right(kmeansOf(df, k, iters, idCol)) catch {
        case e: Exception =>
          var t: Throwable = e
          while (t.getCause != null) t = t.getCause
          Left(s"${t.getClass.getName}: ${t.getMessage}")
      }
    var got: Either[String, Seq[Seq[Double]]] = null
    assert(counted { got = outcome() }._1 > 0, "this input must take the Spark plan")
    assert(got == withThreshold("-1")(outcome()))
    got
  }

  test("k-means takes the Spark plan, its answer and its errors, where the snapshot refuses") {
    def store(name: String, rows: Seq[(Long, String, Seq[java.lang.Double])]): DataFrame = {
      val path = tmp(name)
      rows.toDF("vec_id", "text", "embedding").repartition(2).write.parquet(path)
      CorpusStore.load(spark, path)
    }
    val grid = corpusRows.take(20).map { case (id, t, v) => (id, t, v.map(x => x: java.lang.Double)) }
    // held rows the driver path cannot match exactly
    kmeansFallsBack(store("kmnullvec", grid.map(r => if (r._1 == 2L) r.copy(_3 = null) else r)))
    kmeansFallsBack(store("kmnullvec9", grid.map(r => if (r._1 == 19L) r.copy(_3 = null) else r)), iters = 0)
    kmeansFallsBack(store("kmnullelem", grid.map(r =>
      if (r._1 == 9L) r.copy(_3 = Seq[java.lang.Double](1.0, null, 0.0, 0.0)) else r)))
    val mixed = tmp("kmmixed")
    write(mixed, corpusRows)
    assert(kmeansFallsBack(CorpusStore.load(spark, mixed)).isLeft, "mixed dimensions fail on the plan")
    val empty = tmp("kmempty")
    write(empty, Nil)
    assert(kmeansFallsBack(CorpusStore.load(spark, empty)).isLeft)
    assert(kmeansFallsBack(CorpusStore.load(spark, empty), iters = 0) == Right(Nil))
    // inputs the snapshot refuses
    val path = tmp("kmrefused")
    write(path, corpusRows.filter(_._3.size == 4))
    def load: DataFrame = CorpusStore.load(spark, path)
    kmeansFallsBack(load.filter(col("vec_id") > 10))
    kmeansFallsBack(load, idCol = "text") // string ids
    withThreshold("1")(kmeansFallsBack(load)) // a store past the bound
    withThreshold("-1")(kmeansFallsBack(load))
    sameKmeans(path, 3, 2) // while the same store under the bound is served
  }

  test("k-means after an append re-reads only the new file, then trains with no Spark job") {
    val path = gaussianStore("kmappend", float = false)
    val old = Fs.dataFiles(spark, path)
    kmeansOf(CorpusStore.load(spark, path), 6, 2) // holds the generation
    write(path, Seq((5000L, "new", Seq.fill(12)(1.0))), append = true)
    val want = withThreshold("-1")(kmeansOf(CorpusStore.load(spark, path), 6, 2))
    // zero the old files in place, keeping length and mtime: reading
    // one again would fail
    old.foreach { f =>
      val p = java.nio.file.Paths.get(f.getPath.toUri)
      val mtime = java.nio.file.Files.getLastModifiedTime(p)
      java.nio.file.Files.write(p, new Array[Byte](f.getLen.toInt))
      java.nio.file.Files.setLastModifiedTime(p, mtime)
    }
    var got: Seq[Seq[Double]] = Nil
    assert(counted { got = kmeansOf(CorpusStore.load(spark, path), 6, 2) } == ((0, 0)))
    got.flatten.zip(want.flatten).foreach { case (a, b) => assert(math.abs(a - b) <= 1e-9) }
    assert(got.map(_.size) == want.map(_.size))
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
