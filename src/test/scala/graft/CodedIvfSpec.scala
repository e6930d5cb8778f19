package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, ByteType, FloatType, IntegerType, LongType}

import graft.search.{Ann, Pq, Sq}

/** The composed IVF layout that SQ8-IVF and IVF-PQ share: its one owner
  * (`search/CodedIvf.scala`) is the only file that spells the side
  * paths, each side keeps its schema through a build and an append, and
  * a warm probe reads both sides without a schema-inference job. */
class CodedIvfSpec extends SparkSpec {
  import spark.implicits._

  /** The stage call sites of every job started inside `body`, one
    * string per job. A schema-inference job's call site starts in
    * `DataFrameReader.parquet`. */
  private def jobSites(body: => Unit): Seq[String] = {
    val group = s"coded-ivf-${System.nanoTime()}"
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          sites.add(e.stageInfos.map(_.details).mkString("\n"))
    }
    spark.sparkContext.addSparkListener(l)
    try {
      spark.sparkContext.setJobGroup(group, "coded ivf spec")
      try body finally spark.sparkContext.clearJobGroup()
      Thread.sleep(500) // listener events arrive asynchronously
      sites.toArray(Array.empty[String]).toSeq
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def inferences(sites: Seq[String]): Seq[String] =
    sites.filter(_.contains("DataFrameReader.parquet"))

  /** Assert the two sides' schemas: codes (id, codes) plus the
    * `__cluster` partition directories, vectors (id, vector). */
  private def assertSides(path: String): Unit = {
    val codes = spark.read.parquet(s"$path/codes").schema
    assert(codes.fieldNames.toSeq == Seq("vec_id", "codes", "__cluster"), codes.treeString)
    assert(codes("vec_id").dataType == LongType && codes("__cluster").dataType == IntegerType)
    assert(codes("codes").dataType.asInstanceOf[ArrayType].elementType == ByteType)
    val dirs = new java.io.File(s"$path/codes").listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("__cluster=")), dirs.mkString(","))
    val vectors = spark.read.parquet(s"$path/vectors").schema
    assert(vectors.fieldNames.toSeq == Seq("vec_id", "embedding"), vectors.treeString)
    assert(vectors("embedding").dataType.asInstanceOf[ArrayType].elementType == FloatType)
    assert(new java.io.File(s"$path/vectors").listFiles().forall(!_.isDirectory))
  }

  test("SQ8 and IVF-PQ sides keep their schemas; a warm probe runs no schema-inference job") {
    val emb = graft.io.Tables.embeddings(spark, sf0001)
    val cents = Ann.kmeansCentroids(emb, "vec_id", "embedding", 10, 2)
    val cb = Pq.train(emb, "vec_id", "embedding", 64, 8, 32, 2)
    val qv = emb.filter(col("vec_id") === 0L).head().getSeq[Float](1)
    val q = Seq(Tuple1(qv)).toDF("qvec")
    val tmp = java.nio.file.Files.createTempDirectory("graft-coded-ivf").toString
    val (sq, pq) = (s"$tmp/sq", s"$tmp/pq")
    Sq.buildIvfSqIndex(emb.filter(col("vec_id") < 300), cents, sq)
    Pq.buildIvfPqIndex(emb.filter(col("vec_id") < 300), cents, cb, pq)
    Seq(sq, pq).foreach(assertSides)
    Sq.appendToIvfSqIndex(emb.filter(col("vec_id") >= 300), cents, sq)
    Pq.appendToIvfPqIndex(emb.filter(col("vec_id") >= 300), cents, cb, pq)
    Seq(sq, pq).foreach(assertSides)
    // the listener sees an inference job where one runs
    assert(inferences(jobSites(spark.read.parquet(s"$sq/codes"): Unit)).nonEmpty,
      "a cold spark.read.parquet must show its schema-inference job")
    def sqProbe() = Sq.ivfSqIndexTopK(spark, sq, q, cents, 5, 20, 3).collect()
    def pqProbe() = Pq.ivfPqIndexTopK(spark, pq, q, cents, cb, 5, nprobe = 3, shortlist = 20)
      .collect()
    val (sqCold, pqCold) = (sqProbe(), pqProbe())
    val sqSites = jobSites(assert(sqProbe().toSeq == sqCold.toSeq))
    val pqSites = jobSites(assert(pqProbe().toSeq == pqCold.toSeq))
    assert(sqSites.nonEmpty && pqSites.nonEmpty, "the probes run Spark jobs")
    assert(inferences(sqSites).isEmpty,
      s"a warm SQ8 probe inferred a schema:\n${inferences(sqSites).mkString("\n--\n")}")
    assert(inferences(pqSites).isEmpty,
      s"a warm IVF-PQ probe inferred a schema:\n${inferences(pqSites).mkString("\n--\n")}")
    assert(sqCold.head.schema.fieldNames.toSeq == Seq("vec_id", "sim"))
  }

  test("no codes/ or vectors/ path literal outside search/CodedIvf.scala") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    val literal = """/(codes|vectors)"""".r
    val owner = "graft/search/CodedIvf.scala"
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val hits = files(root).filter(_.getName.endsWith(".scala"))
      .filterNot(_.getPath.endsWith(owner))
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().zipWithIndex.collect {
          case (line, i) if literal.findFirstIn(line).isDefined => s"${f.getPath}:${i + 1}: $line"
        }.toList finally src.close()
      }
    assert(hits.isEmpty, "name the sides through graft.search.CodedIvf:\n" + hits.mkString("\n"))
  }
}
