package askbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.analysis.Eval
import graft.answer.TemplateAnswerer
import graft.embed.Featurizer
import graft.functions.PdfExtract
import graft.search.{Ann, Search}
import graft.store.CorpusStore
import graft.text.Chunker

/** The AskMyDoc user paths driven through the engine's public layers.
  *
  * Write path: PDF upload → `PdfExtract` → `Chunker.chunk`/`nonEmpty` →
  * `Featurizer.featurizeCounts(768)` → `CorpusStore.overwrite`/`append`,
  * then `Ann.kmeansCentroids`/`buildIvfIndex`/`appendToIvfIndex`.
  * Read path: `Featurizer.featurizeCountsText` → `Search.knn` (exact) or
  * `Ann.ivfIndexTopK` (IVF) → `Search.contextAgg` → `Search.prompt` →
  * `TemplateAnswerer`. Batch path: `Search.similarityJoin` →
  * `contextAggBatch`, scored by `Eval.rankedEval`.
  *
  * Usage: `Main --workload chat|live --seed N --seconds S --trace 0|1`,
  * run from the checkout root. The last stdout line is the result JSON.
  */
object Main {
  val ChunkSize = 1000
  val Overlap = 200
  val Dim = 768
  val K = 5
  val Clusters = 32
  val KmeansIters = 4
  // 12 of 32 clusters: at 4 the recall of the generated corpora ranged
  // 0.64-0.87 from seed to seed, at 12 it stays near 0.94-0.99
  val NProbe = 12
  val Workloads = Seq("chat", "live")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val w = m.getOrElse("workload", "")
    require(Workloads.contains(w), s"--workload must be one of ${Workloads.mkString(", ")}")
    Args(w, m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "10").toInt,
      m.getOrElse("trace", "0") == "1")
  }

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val args = parse(argv)
    val root = Paths.get("").toAbsolutePath
    val outDir = root.resolve("askbench/out")
    Files.createDirectories(outDir)
    // under java.io.tmpdir, which run.py points into the checkout and
    // deletes after the run, even when the JVM is killed
    val work = Files.createTempDirectory("askbench-work-")
    val load0 = loadAvg()
    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("askbench")
      .config("spark.ui.enabled", "false")
      // loopback only, whatever the host's name resolves to
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val result =
      try new Bench(spark, args, work, t0).run()
      finally {
        spark.stop()
        deleteTree(work)
      }
    val meta = Json.obj(
      "workload" -> Json.str(args.workload), "seed" -> args.seed.toString,
      "seconds" -> args.seconds.toString, "trace" -> args.trace.toString,
      "nproc" -> nproc.toString,
      "loadavg_start" -> Json.str(load0), "loadavg_end" -> Json.str(loadAvg()),
      "jvm" -> Json.str(System.getProperty("java.vm.name") + " " + System.getProperty("java.version")),
      "spark" -> Json.str(spark.version),
      "heap_mb" -> (Runtime.getRuntime.maxMemory() / (1L << 20)).toString,
      "samples" -> Json.obj(result.samples.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString }: _*),
      "phases_s" -> Json.obj(result.phases.map { case (k, v) => k -> Json.num(v) }: _*))
    val base = s"${args.workload}-seed${args.seed}-trace${if (args.trace) 1 else 0}"
    val metrics = Json.obj(result.metrics.map { case (n, (v, u)) =>
      n -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u)) }: _*)
    Files.write(outDir.resolve(base + ".json"),
      Json.obj("meta" -> meta, "metrics" -> metrics, "extra" -> Json.obj(result.extra: _*),
        "ops_attempted" -> result.attempted.toString, "ops_failed" -> result.failed.toString)
        .getBytes("UTF-8"))
    result.lines.foreach(println)
    println("meta " + meta)
    println(s"ops_attempted ${result.attempted} ops_failed ${result.failed}")
    println(Json.obj("correct" -> (result.failed == 0).toString,
      "attempted" -> result.attempted.toString, "failed" -> result.failed.toString,
      "metrics" -> metrics))
  }

  def loadAvg(): String =
    scala.util.Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim
      .split(" ").take(3).mkString(" ")).getOrElse("n/a")

  def peakRssMb(): Double =
    scala.util.Try(Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0 }
      .get).getOrElse(Double.NaN)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists) finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator.asScala.foreach(p => Files.copy(p, to.resolve(from.relativize(p).toString)))
    finally s.close()
  }

  /** (parquet data files, bytes of every file) under `p`. */
  def du(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val files = s.iterator.asScala.filter(Files.isRegularFile(_)).toSeq
        (files.count(_.getFileName.toString.endsWith(".parquet")).toLong,
          files.map(Files.size).sum)
      } finally s.close()
    }
}

final case class Result(metrics: Seq[(String, (Double, String))], attempted: Long, failed: Long,
                        samples: Map[String, Int], phases: Seq[(String, Double)],
                        extra: Seq[(String, String)], lines: Seq[String])

/** Per-workload op counts. They depend only on the workload and the
  * run length, never on elapsed time, so every run of a seed builds the
  * same store, the same file count and the same index. Every question
  * goes through the exact path and every second one also through IVF,
  * which gives the exact latency's tail the most samples per second. */
final case class Plan(bulkDocs: Int, asks: Int, askPool: Int, appends: Int, interleave: Boolean)

object Plan {
  val Uploads = 4
  // measured operations run in rounds; each round builds the index once,
  // runs its share of the batches and repeats this many bulk uploads
  val Rounds = 3
  val Batches = 9
  val RepeatUploads = 1
  val BatchSize = 8
  val WarmDocs = 24
  val WarmAsks = 8

  def apply(workload: String, seconds: Int): Plan = {
    val s = math.max(5, seconds)
    workload match {
      // a large store; questions drawn with Zipf repetition from a
      // 64-question pool, and a few uploads into a copy of the store
      case "chat" => Plan(bulkDocs = 8 * s, asks = 2 * s, askPool = 64, appends = Rounds,
        interleave = false)
      // a smaller store growing by one-document uploads, each followed by
      // three questions never asked before
      case "live" => Plan(bulkDocs = 4 * s, asks = 2 * s, askPool = 0, appends = 2 * s / 3,
        interleave = true)
    }
  }
}

final class Bench(spark: SparkSession, args: Main.Args, work: Path, t0: Long) {
  import Main._
  import spark.implicits._

  private val gen = new Gen(args.seed)
  private val plan = Plan(args.workload, args.seconds)
  private val tr = new Tracer(args.trace, spark)
  private val oracle = new Oracle(Dim)
  private val store = work.resolve("store").toString
  private val ivf = work.resolve("ivf").toString
  // repeat uploads and builds go here, so they leave the measured store
  // and index as the workload made them
  private val sampleStore = work.resolve("sample-store").toString
  private val sampleIvf = work.resolve("sample-ivf").toString
  // chat's uploads go to a copy of the measured store and index, so the
  // store its questions read never changes
  private val copyStore = work.resolve("copy-store").toString
  private val copyIvf = work.resolve("copy-ivf").toString
  private var copyChunks = 0L
  private val warmStore = work.resolve("warm-store").toString
  private val warmIvf = work.resolve("warm-ivf").toString

  private var attempted = 0L
  private var failed = 0L
  private val failures = ArrayBuffer.empty[String]
  private val lines = ArrayBuffer.empty[String]
  private val phases = mutable.LinkedHashMap.empty[String, Double]
  /** Set at the end of set-up: from then on every operation is timed,
    * checked and, in traced runs, recorded; before it, operations only
    * warm up. */
  private var measuring = false
  private var setupEnd = 0L
  private var gcAtSetupEnd = 0L

  // end-to-end samples
  private val askMs = ArrayBuffer.empty[Double]
  private val ivfAskMs = ArrayBuffer.empty[Double]
  private var recall = Double.NaN
  private val appendMs = ArrayBuffer.empty[Double]
  private var ingestChunks = 0L
  private val ingestRate = ArrayBuffer.empty[Double]
  private val buildS = ArrayBuffer.empty[Double]
  private val batchQps = ArrayBuffer.empty[Double]
  private var mrr = Double.NaN
  // every checked batch's questions and top-5s, for one MRR@10 at the end
  private val mrrQuestions = ArrayBuffer.empty[(Int, String)]
  private val mrrSources = mutable.HashMap.empty[Long, Seq[(Long, Double)]]
  private var textBytes = 0L

  // per-layer samples (traced runs)
  private val layer = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  private def traced: Boolean = tr.on && measuring
  private def rec(name: String, v: => Double): Unit =
    if (traced) layer.getOrElseUpdate(name, ArrayBuffer.empty) += v

  private var cents: Seq[Seq[Double]] = Nil
  private var nextDoc = 0

  /** One checked operation: an exception or a failed check counts once
    * in `failed`; the operation's timing is kept only if it succeeded. */
  private def op(what: String)(body: => Boolean): Boolean = {
    attempted += 1
    val ok = try body catch {
      case NonFatal(e) => failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"; false
    }
    if (!ok) {
      failed += 1
      if (failures.isEmpty || !failures.last.startsWith(what)) failures += s"$what: check failed"
    }
    ok
  }

  private def timeNs[A](body: => A): (A, Long) = {
    val s = System.nanoTime(); val a = body; (a, System.nanoTime() - s)
  }

  private def phase[A](name: String)(body: => A): A = {
    val (a, ns) = timeNs(body)
    phases(name) = phases.getOrElse(name, 0.0) + ns / 1e9
    a
  }

  // ------------------------------------------------------------ write path

  // generated once, before the first timed operation
  private val pdfs = mutable.HashMap.empty[Int, Array[Byte]]
  private val texts = mutable.HashMap.empty[Int, String]
  private def pdf(d: Int): Array[Byte] = pdfs.getOrElseUpdate(d, gen.pdf(d))
  private def text(d: Int): String = texts.getOrElseUpdate(d, gen.text(d))

  private def uploadFrame(docs: Seq[Int]): DataFrame =
    docs.map(d => (d.toLong, pdf(d))).toDF("doc_id", "pdf")

  private def extracted(up: DataFrame): DataFrame =
    up.select(col("doc_id"), PdfExtract(col("pdf")).as("text"))

  private def chunked(ex: DataFrame): DataFrame =
    Chunker.chunk(ex, "text", ChunkSize, Overlap)
      .filter(Chunker.nonEmpty(col("chunk")))
      .select(((col("pos") / lit(ChunkSize - Overlap)).cast("long") * 1000000L + col("doc_id"))
        .as("chunk_id"), col("doc_id"),
        col("chunk").as("text"))

  private def embedded(ch: DataFrame): DataFrame =
    ch.withColumn("embedding", Featurizer.featurizeCounts(Dim)(col("text")))

  /** Best of two passes of `df` into the `noop` sink. */
  private def noopNs(df: DataFrame): Long =
    Seq.fill(2)(timeNs(df.write.format("noop").mode("overwrite").save())._2).min

  /** Traced runs force each lazy layer's output prefix into the `noop`
    * sink before the real write; self time is the difference between
    * consecutive prefixes. Returns the full prefix's time. */
  private def tracePrefixes(up: DataFrame, pdfBytes: Long, opId: Long): Long = {
    val p0 = tr.span("upload.scan", opId)(noopNs(up))
    val ex = extracted(up); val ch = chunked(ex)
    val p1 = tr.span("pdf", opId)(noopNs(ex))
    val p2 = tr.span("chunker", opId)(noopNs(ch))
    val p3 = tr.span("featurizer", opId)(noopNs(embedded(ch)))
    rec("pdf.ns", (p1 - p0).toDouble); rec("pdf.bytes", pdfBytes.toDouble)
    rec("chunker.ns", (p2 - p1).toDouble)
    rec("featurizer.ns", (p3 - p2).toDouble)
    p3
  }

  /** Upload `docs` as one request into `path`; returns chunks written.
    * Only uploads into the measured store (`tracked`) reach the oracle. */
  private def upload(docs: Seq[Int], path: String, overwrite: Boolean, tracked: Boolean = true): Long = {
    val up = uploadFrame(docs)
    val opId = tr.newOp()
    val prefixNs =
      if (traced) tr.span("upload", opId)(tracePrefixes(up, docs.map(pdf(_).length.toLong).sum, opId))
      else 0L
    val filesBefore = if (traced && !overwrite) du(Paths.get(path))._1 else 0L
    val (writeNs, c) = tr.counted {
      val (_, ns) = timeNs(tr.span("store.write", opId) {
        val df = embedded(chunked(extracted(up)))
        if (overwrite) CorpusStore.overwrite(df, path) else CorpusStore.append(df, path)
      })
      rec("store.write.ns", (ns - prefixNs).toDouble)
      ns
    }
    if (traced) {
      rec("store.files_written", (du(Paths.get(path))._1 - filesBefore).toDouble)
      rec("store.bytes_written", c("bytes_written").toDouble)
    }
    if (measuring) {
      val n =
        if (tracked) {
          textBytes += docs.map(text(_).length.toLong).sum
          docs.map(d => oracle.addDoc(d, gen.topicOf(d), text(d)).toLong).sum
        } else docs.map(d => Oracle.chunks(text(d)).size.toLong).sum
      ingestChunks += n
      ingestRate += n / (writeNs / 1e9)
      rec("chunker.chunks", n.toDouble)
      n
    } else 0L
  }

  private def bulkGroups(docs: Seq[Int]): Seq[Seq[Int]] =
    docs.grouped((docs.size + Plan.Uploads - 1) / Plan.Uploads).toSeq

  private def bulkIngest(docs: Seq[Int]): Unit = {
    bulkGroups(docs).zipWithIndex.foreach { case (g, i) =>
      op("bulk upload")(upload(g, store, overwrite = i == 0) > 0)
    }
    op("stored chunk count")(CorpusStore.load(spark, store).count() == oracle.size)
  }

  /** One bulk upload again, into the sample store, for another ingest
    * sample later in the run. */
  private def repeatUpload(docs: Seq[Int]): Unit = {
    val expected = docs.map(d => Oracle.chunks(text(d)).size.toLong).sum
    op("repeat bulk upload")(upload(docs, sampleStore, overwrite = true, tracked = false) == expected &&
      CorpusStore.load(spark, sampleStore).count() == expected)
  }

  /** Index build from scratch over the store at `path`. The first build
    * of the measured index sets the centroids that appends and IVF asks
    * use; repeat builds into the sample index only add timings. */
  private def buildIndex(path: String, index: String): Seq[Seq[Double]] = {
    val opId = tr.newOp()
    val stored = CorpusStore.load(spark, path)
    val ((c, kNs, bNs), ns) = timeNs {
      val (c, kNs) = timeNs(tr.span("ann.kmeans", opId)(
        Ann.kmeansCentroids(stored, "chunk_id", "embedding", Clusters, KmeansIters)))
      val (_, bNs) = timeNs(tr.span("ann.build", opId)(Ann.buildIvfIndex(stored, c, index, "embedding")))
      (c, kNs, bNs)
    }
    rec("ann.kmeans.ns", kNs.toDouble); rec("ann.build.ns", bNs.toDouble)
    if (measuring) {
      buildS += ns / 1e9
      if (index == ivf) readAssignment()
      op("index row count")(spark.read.parquet(index).count() == oracle.size)
    }
    c
  }

  /** One-document upload, searchable in the store and the IVF index. */
  private def appendDoc(doc: Int, path: String, index: String, cs: Seq[Seq[Double]]): Unit = {
    val up = uploadFrame(Seq(doc))
    val opId = tr.newOp()
    val prefixNs =
      if (traced) tr.span("upload", opId)(tracePrefixes(up, pdf(doc).length.toLong, opId))
      else 0L
    val ok = op("append") {
      val (_, ns) = timeNs(tr.span("append", opId) {
        val delta = embedded(chunked(extracted(up))).persist()
        try {
          val (_, sNs) = timeNs(tr.span("store.append", opId)(CorpusStore.append(delta, path)))
          val (_, aNs) = timeNs(tr.span("ann.append", opId)(Ann.appendToIvfIndex(delta, cs, index, "embedding")))
          // the store append computes the persisted delta, so its
          // self time is net of the upload's prefix
          rec("store.write.ns", (sNs - prefixNs).toDouble); rec("ann.append.ns", aNs.toDouble)
        } finally delta.unpersist()
      })
      if (measuring) appendMs += ns / 1e6
      true
    }
    if (ok && measuring) {
      if (path == store) {
        oracle.addDoc(doc, gen.topicOf(doc), text(doc))
        textBytes += text(doc).length
        readAssignment()
      } else copyChunks += Oracle.chunks(text(doc)).size
    }
  }

  // ------------------------------------------------------------- read path

  /** Chunk id → IVF cluster, as the index on disk holds it. */
  private var assignment: Map[Long, Int] = Map.empty
  private def readAssignment(): Unit =
    assignment = spark.read.parquet(ivf).select("chunk_id", "__cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap

  /** The oracle's IVF answer: the exact top-k restricted to the clusters
    * the engine's probe selection picks for the question. */
  private def ivfExpected(question: String): Seq[(Long, Double)] = {
    val q = oracle.embed(question)
    val probes = Ann.probeIds(cents, Vector.tabulate(Dim)(b => q.getOrElse(b, 0).toDouble), NProbe).toSet
    oracle.topK(question, K, id => assignment.get(id).exists(probes))
  }

  /** IVF recall@5 of the final index over a fixed question set; the
    * timed IVF asks check that the engine returns exactly these lists. */
  private def ivfRecall(): Double = {
    val qs = (0 until RecallQuestions).map(i => gen.question(6, i, topics)._2)
    qs.map { q =>
      ivfExpected(q).map(_._1).toSet.intersect(oracle.topK(q, K).map(_._1).toSet).size.toDouble / K
    }.sum / qs.size
  }

  private def answerFrame(top: DataFrame, question: String, obs: Observation): DataFrame =
    Search.contextAgg(
      top.observe(obs, collect_list(struct(col("chunk_id"), col("sim"))).as("src")),
      col("chunk_id"), col("text"), col("sim"))
      .select(lit(question).as("question"), col("context"),
        Search.prompt(col("context"), lit(question)).as("prompt"))
      .withColumn("answer", TemplateAnswerer.answer(col("prompt"), col("question"), col("context")))

  private def sources(obs: Observation): Seq[(Long, Double)] =
    obs.get("src").asInstanceOf[scala.collection.Seq[Row]].toSeq
      .map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy { case (id, s) => (-s, id) }

  /** Question → answer row over `path` (exact) or `index` (IVF);
    * returns (sources, answer row, action ns). */
  private def answerOnce(question: String, useIvf: Boolean, path: String, index: String,
                         cs: Seq[Seq[Double]], opId: Long): (Seq[(Long, Double)], Row, Long) = {
    val (qvec, fNs) = timeNs(tr.span("featurizer.query", opId)(Featurizer.featurizeCountsText(question, Dim)))
    rec("featurizer.query.ns", fNs.toDouble)
    val qdf = Seq(Tuple1(qvec)).toDF("qvec")
    val obs = Observation()
    val (row, aNs) = timeNs(tr.span(if (useIvf) "ann.probe" else "search.knn", opId) {
      val top =
        if (useIvf) Ann.ivfIndexTopK(spark, index, qdf, cs, K, NProbe, "chunk_id", "embedding")
        else Search.knn(CorpusStore.load(spark, path), qdf, K, "chunk_id", "embedding")
      answerFrame(top, question, obs).head()
    })
    (if (measuring) sources(obs) else Nil, row, aNs)
  }

  /** Timed exact or IVF ask against the main store, checked against the
    * oracle outside the timed window. */
  private def ask(question: String, useIvf: Boolean): Unit = {
    val opId = tr.newOp()
    val filesRead = if (traced) du(Paths.get(store))._1 else 0L
    op(if (useIvf) "ivf ask" else "exact ask") {
      val (((src, row, aNs), ns), c) = tr.counted(timeNs(
        tr.span(if (useIvf) "ask.ivf" else "ask.exact", opId)(
          answerOnce(question, useIvf, store, ivf, cents, opId))))
      (if (useIvf) ivfAskMs else askMs) += ns / 1e6
      if (traced) {
        rec("ask.jobs", c("jobs").toDouble); rec("ask.tasks", c("tasks").toDouble)
        rec("ask.plan_ns", c("plan_ns").toDouble)
        if (useIvf) {
          rec("ann.probe.ns", aNs.toDouble)
          rec("ann.scan_fraction", c("records_read").toDouble / oracle.size)
          val probes = Ann.probeIds(cents, Featurizer.featurizeCountsText(question, Dim).toSeq, NProbe)
          rec("ann.files_read_per_probe",
            probes.map(p => du(Paths.get(ivf, s"__cluster=$p"))._1).sum.toDouble)
        } else {
          rec("search.knn.ns", aNs.toDouble)
          rec("store.bytes_read_per_ask", c("bytes_read").toDouble)
          rec("store.files_read_per_ask", filesRead.toDouble)
          rec("search.rows_scanned_per_ask", c("records_read").toDouble)
        }
      }
      val expected = if (useIvf) ivfExpected(question) else oracle.topK(question, K)
      Checks.answer(question, expected, oracle.context(expected), src,
        row.getAs[String]("context"), row.getAs[String]("prompt"), row.getAs[String]("answer"))
    }
  }

  // ------------------------------------------------------------ batch path

  private def batch(questions: Seq[(Int, String)], path: String): Unit = {
    val opId = tr.newOp()
    val qs = questions.zipWithIndex.map { case ((_, q), i) =>
      (i.toLong, q, Featurizer.featurizeCountsText(q, Dim)) }.toDF("qid", "question", "qvec")
    val obs = Observation()
    op("batch") {
      val (rows, c) = tr.counted {
        val (rows, ns) = timeNs(tr.span("search.simjoin", opId) {
          val top = Search.similarityJoin(CorpusStore.load(spark, path), qs.select("qid", "qvec"),
            K, "chunk_id", "embedding")
            .observe(obs, collect_list(struct(col("qid"), col("chunk_id"), col("sim"))).as("src"))
          Search.contextAggBatch(top, col("chunk_id"), col("text"), col("sim"))
            .join(qs.select("qid", "question"), "qid")
            .withColumn("prompt", Search.prompt(col("context"), col("question")))
            .withColumn("answer", TemplateAnswerer.answer(col("prompt"), col("question"), col("context")))
            .collect()
        })
        if (measuring) batchQps += questions.size / (ns / 1e9)
        rec("search.simjoin.ns", ns.toDouble)
        rows
      }
      rec("search.simjoin_shuffle_bytes", c("shuffle_bytes").toDouble)
      !measuring || {
        val src = obs.get("src").asInstanceOf[scala.collection.Seq[Row]].toSeq
          .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
          .groupBy(_._1).map { case (q, v) => q -> v.map(_._2).sortBy { case (id, s) => (-s, id) } }
        val byQid = rows.map(r => r.getLong(0) -> r).toMap
        val ok = questions.indices.forall { i =>
          val exact = oracle.topK(questions(i)._2, K)
          src.get(i.toLong).contains(exact) &&
            byQid.get(i.toLong).exists(_.getAs[String]("context") == oracle.context(exact))
        }
        if (ok) {
          src.foreach { case (q, v) => mrrSources(mrrQuestions.size + q) = v }
          mrrQuestions ++= questions
        }
        ok
      }
    }
  }

  /** MRR@10 of the batch results against the planted topic labels,
    * through the engine's `Eval.rankedEval`. */
  private def mrrAt10(questions: Seq[(Int, String)], src: Map[Long, Seq[(Long, Double)]]): Double = {
    val results = src.toSeq.flatMap { case (q, v) => v.map { case (id, s) => (q, id, s) } }
      .toDF("qid", "chunk_id", "sim")
    val queries = questions.zipWithIndex.map { case ((t, _), i) => (i.toLong, t) }.toDF("qid", "qlabel")
    val corpus = oracle.allIds.toSeq.map(id => (id, oracle.label(id))).toDF("chunk_id", "label")
    Eval.rankedEval(results, "sim", queries, corpus, 10, "chunk_id", "label")
      .select("mrr_at_10").head().getDouble(0)
  }

  // -------------------------------------------------------------- workload

  private val RecallQuestions = 200

  /** Untimed warm-up of every timed plan shape on a separate store, so
    * the measured store's contents and file count never depend on it. */
  private def warmUp(): Unit = {
    val docs = (0 until Plan.WarmDocs).map(500000 + _)
    upload(docs.take(docs.size / 2), warmStore, overwrite = true)
    upload(docs.drop(docs.size / 2), warmStore, overwrite = false)
    val warmCents = buildIndex(warmStore, warmIvf)
    (0 until 2).foreach(i => appendDoc(600000 + i, warmStore, warmIvf, warmCents))
    batch((0 until Plan.BatchSize).map(gen.question(9, _, allTopics)), warmStore)
    (0 until Plan.WarmAsks).foreach { i =>
      val q = gen.question(8, i, allTopics)._2
      Seq(false, true).foreach(ivf => answerOnce(q, ivf, warmStore, warmIvf, warmCents, 0L))
    }
  }

  /** Measurement starts on a collected heap, so garbage left by the
    * warm-up is not charged to the first timed operations. */
  private def endSetup(): Unit = {
    System.gc()
    measuring = true
    tr.recording = true
    setupEnd = System.nanoTime()
    gcAtSetupEnd = gcMs()
  }

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  private val askedFresh = mutable.HashSet.empty[String]
  private var freshIdx = 0
  private def freshQuestion(stream: Long): String = {
    var q = gen.question(stream, freshIdx, topics)._2
    while (askedFresh.contains(q)) { freshIdx += 1; q = gen.question(stream, freshIdx, topics)._2 }
    freshIdx += 1; askedFresh += q
    q
  }

  private var asked = 0
  private def askQuestion(q: String): Unit = {
    ask(q, useIvf = false)
    if (asked % 2 == 0) ask(q, useIvf = true)
    asked += 1
  }

  private def appendNext(path: String, index: String): Unit = {
    appendDoc(nextDoc, path, index, cents)
    nextDoc += 1
  }

  private def runBatch(b: Int): Unit =
    batch((0 until Plan.BatchSize).map(i => gen.question(2, b * Plan.BatchSize + i, topics)), store)

  /** The part of `0 until n` that round `r` of `Plan.Rounds` takes. */
  private def share(n: Int, r: Int): Range = (n * r / Plan.Rounds) until (n * (r + 1) / Plan.Rounds)

  private val allTopics = 0 until Gen.Topics
  /** Questions ask about topics the initial corpus holds. */
  private lazy val topics: IndexedSeq[Int] = (0 until plan.bulkDocs).map(gen.topicOf).distinct.sorted

  def run(): Result = {
    val main = 0 until plan.bulkDocs
    nextDoc = plan.bulkDocs
    phase("generate")((main ++ (nextDoc until nextDoc + plan.appends)).foreach { d => pdf(d); text(d) })
    phase("warmup")(warmUp())
    endSetup()
    phase("ingest")(bulkIngest(main))
    val groups = bulkGroups(main)
    val draws = if (plan.interleave) Array.empty[Int] else gen.zipfDraws(plan.askPool, plan.asks)
    // The machine runs faster and slower for tens of seconds at a time.
    // Each round takes a share of every kind of operation, so every
    // metric samples the whole measured window, not one stretch of it.
    (0 until Plan.Rounds).foreach { r =>
      phase("build")(if (r == 0) cents = buildIndex(store, ivf) else buildIndex(store, sampleIvf))
      phase("batch")(share(Plan.Batches, r).foreach(runBatch))
      phase("ingest")(share(Plan.Rounds * Plan.RepeatUploads, r)
        .foreach(u => repeatUpload(groups(u % groups.size))))
      if (plan.interleave)
        phase("steps")(share(plan.appends, r).foreach { _ =>
          appendNext(store, ivf)
          (0 until plan.asks / plan.appends).foreach(_ => askQuestion(freshQuestion(1)))
        })
      else {
        phase("asks")(share(plan.asks, r).foreach(i => askQuestion(gen.question(0, draws(i), topics)._2)))
        if (r == 0) phase("appends") {
          copyTree(Paths.get(store), Paths.get(copyStore)); copyTree(Paths.get(ivf), Paths.get(copyIvf))
        }
        phase("appends")(share(plan.appends, r).foreach(_ => appendNext(copyStore, copyIvf)))
      }
    }
    phase("final checks") {
      op("final store and index row counts")(
        CorpusStore.load(spark, store).count() == oracle.size &&
          spark.read.parquet(ivf).count() == oracle.size)
      if (!plan.interleave) op("final row counts of the copy")(
        CorpusStore.load(spark, copyStore).count() == oracle.size + copyChunks &&
          spark.read.parquet(copyIvf).count() == oracle.size + copyChunks)
    }
    recall = phase("recall")(ivfRecall())
    if (mrrQuestions.nonEmpty) mrr = phase("mrr")(mrrAt10(mrrQuestions.toSeq, mrrSources.toMap))
    finish()
  }

  private def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val r = p * (s.size - 1)
    val lo = math.floor(r).toInt; val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  private def med(xs: Seq[Double]): Double = pct(xs, 0.5)
  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  private def finish(): Result = {
    val setupS = (setupEnd - t0) / 1e9
    val (_, storeBytes) = du(Paths.get(store))
    val (_, ivfBytes) = du(Paths.get(ivf))
    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "ingest_chunks_per_s" -> (med(ingestRate.toSeq), "chunks/s"),
      "index_build_s" -> (med(buildS.toSeq), "s"),
      "batch_queries_per_s" -> (med(batchQps.toSeq), "queries/s"),
      "batch_mrr_at_10" -> (mrr, "score"),
      "ask_p50_ms" -> (med(askMs.toSeq), "ms"),
      "ask_p90_ms" -> (pct(askMs.toSeq, 0.9), "ms"),
      "ivf_ask_p50_ms" -> (med(ivfAskMs.toSeq), "ms"),
      "ivf_recall_at_5" -> (recall, "fraction"),
      "append_p50_ms" -> (med(appendMs.toSeq), "ms"),
      "store_bytes_per_text_byte" -> ((storeBytes + ivfBytes).toDouble / textBytes, "ratio"),
      "peak_rss_mb" -> (peakRssMb(), "MB"))
    val samples = Map("ask" -> askMs.size, "ivf_ask" -> ivfAskMs.size, "append" -> appendMs.size,
      "batch" -> batchQps.size, "build" -> buildS.size, "upload" -> ingestRate.size,
      "chunks" -> ingestChunks.toInt)
    failures.take(20).foreach(f => lines += s"failure: $f")
    if (!tr.on) Result(e2e, attempted, failed, samples, phases.toSeq, Nil, lines.toSeq)
    else {
      val gc = (gcMs() - gcAtSetupEnd).toDouble
      val perLayer = perLayerMetrics(gc)
      tr.writeSpans(Paths.get("askbench/out", s"${args.workload}-seed${args.seed}-spans.jsonl"))
      val overhead = tracingOverhead(e2e)
      lines += "tracing overhead " + overhead
      Result(perLayer, attempted, failed, samples, phases.toSeq,
        Seq("end_to_end_traced" -> Json.obj(e2e.map { case (n, (v, _)) => n -> Json.num(v) }: _*),
          "tracing_overhead" -> overhead), lines.toSeq)
    }
  }

  private def perLayerMetrics(gcMs: Double): Seq[(String, (Double, String))] = {
    def s(n: String): Seq[Double] = layer.getOrElse(n, ArrayBuffer.empty).toSeq
    val pdfMs = s("pdf.ns").sum / 1e6
    val asks = askMs.size + ivfAskMs.size
    Seq(
      "pdf.ms" -> (pdfMs, "ms"),
      "pdf.bytes_per_s" -> (s("pdf.bytes").sum / (pdfMs / 1e3), "B/s"),
      "chunker.ms" -> (s("chunker.ns").sum / 1e6, "ms"),
      "chunker.chunks" -> (s("chunker.chunks").sum, "count"),
      "featurizer.ms" -> (s("featurizer.ns").sum / 1e6, "ms"),
      "featurizer.query_us" -> (med(s("featurizer.query.ns")) / 1e3, "us"),
      "store.write_ms" -> (s("store.write.ns").sum / 1e6, "ms"),
      "store.files_written" -> (s("store.files_written").sum, "count"),
      "store.bytes_written" -> (s("store.bytes_written").sum, "B"),
      "store.files_read_per_ask" -> (mean(s("store.files_read_per_ask")), "count"),
      "store.bytes_read_per_ask" -> (mean(s("store.bytes_read_per_ask")), "B"),
      "search.knn_ms" -> (med(s("search.knn.ns")) / 1e6, "ms"),
      "search.rows_scanned_per_ask" -> (mean(s("search.rows_scanned_per_ask")), "count"),
      "search.simjoin_ms" -> (med(s("search.simjoin.ns")) / 1e6, "ms"),
      "search.simjoin_shuffle_bytes" -> (mean(s("search.simjoin_shuffle_bytes")), "B"),
      "ann.kmeans_ms" -> (med(s("ann.kmeans.ns")) / 1e6, "ms"),
      "ann.build_ms" -> (med(s("ann.build.ns")) / 1e6, "ms"),
      "ann.append_ms" -> (med(s("ann.append.ns")) / 1e6, "ms"),
      "ann.probe_ms" -> (med(s("ann.probe.ns")) / 1e6, "ms"),
      "ann.scan_fraction" -> (mean(s("ann.scan_fraction")), "fraction"),
      "ann.files_read_per_probe" -> (mean(s("ann.files_read_per_probe")), "count"),
      "spark.jobs_per_ask" -> (s("ask.jobs").sum / asks, "count"),
      "spark.tasks_per_ask" -> (s("ask.tasks").sum / asks, "count"),
      "spark.plan_ms_per_ask" -> (s("ask.plan_ns").sum / 1e6 / asks, "ms"),
      "spark.gc_ms" -> (gcMs, "ms"))
  }

  /** Traced minus untraced end-to-end values, against the untraced
    * result of the same workload and seed when one was recorded. */
  private def tracingOverhead(traced: Seq[(String, (Double, String))]): String = {
    val f = Paths.get("askbench/out", s"${args.workload}-seed${args.seed}-trace0.json")
    if (!Files.exists(f)) return Json.str("no untraced run of this workload and seed recorded")
    val txt = new String(Files.readAllBytes(f), "UTF-8")
    Json.obj(traced.flatMap { case (n, (v, _)) =>
      val re = ("\"" + java.util.regex.Pattern.quote(n) + "\":\\{\"value\":([-0-9.eE]+)").r
      re.findFirstMatchIn(txt).map(m => m.group(1).toDouble).filter(_ != 0.0)
        .map(u => n -> Json.num((v - u) / u))
    }: _*)
  }
}

/** Just enough JSON for the result line and the run files. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
