package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.io.Fs
import graft.search.{Ann, KnnGraph, Lexical, Pq, Sq}
import graft.store.Sidecars

/** `store.Sidecars` owns every index sidecar. Each family writes into a
  * REUSED destination that carries every named sidecar of an earlier
  * generation: after a build, and after a compact or rebucket, only the
  * sidecars the operation carries (equal to the source's) or writes
  * itself may be there. Two cases replay the wrong answers a missed
  * reset gave without any error (BM25 stale tombstones, IVF stale range
  * certificates), and a source check keeps the owner the only owner. */
class SidecarsSpec extends SparkSpec {

  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
  private lazy val docs = spark.read.parquet(s"$sf0001/documents.parquet")
  private lazy val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-sidecars-$name").toString

  /** Plant every named sidecar of `path` with a marker column. */
  private def plant(path: String): Unit =
    Sidecars.all(path).foreach(p =>
      spark.range(1).select(lit("stale").as("__planted"))
        .write.mode("overwrite").parquet(p))

  private def rows(p: String): Seq[String] =
    spark.read.parquet(p).collect().map(_.toString).toSeq.sorted

  /** After an operation into `dst`: the `carried` sidecars exist and
    * equal `src`'s, the `written` ones are the operation's own (no
    * planted marker), and every other named sidecar is gone. */
  private def assertOnly(src: String, dst: String,
                         carried: Seq[String => String] = Nil,
                         written: Seq[String => String] = Nil): Unit = {
    carried.foreach { side =>
      assert(Fs.exists(spark, side(src)), s"vacuous: ${side(src)} was never recorded")
      assert(rows(side(dst)) == rows(side(src)), s"${side(dst)} must equal ${side(src)}")
    }
    written.foreach { side =>
      assert(!spark.read.parquet(side(dst)).columns.contains("__planted"),
        s"${side(dst)} is the stale generation's")
    }
    val kept = (carried ++ written).map(_(dst)).toSet
    Sidecars.all(dst).filterNot(kept).foreach(p =>
      assert(!Fs.exists(spark, p), s"stale sidecar survived: $p"))
  }

  private def ids(df: DataFrame): Seq[Long] =
    df.select(col("vec_id")).collect().map(_.getLong(0)).toSeq

  test("IVF: build and compact into a reused destination keep only model/stats") {
    val base = tmp("ivf")
    val (src, dst) = (s"$base/src", s"$base/dst")
    val cents = Ann.kmeansCentroids(emb, "vec_id", "embedding", 6, 2)
    plant(src)
    Ann.buildIvfIndex(emb, cents, src)
    assertOnly(src, src)
    Ann.recordIvfModel(spark, src, cents)
    Ann.recordRangeStats(spark, src)
    Ann.deleteFromIvfIndex(emb.filter(col("vec_id") < 5), src)
    plant(dst)
    Ann.compactIvfIndex(spark, src, dst)
    assertOnly(src, dst, carried = Seq(Sidecars.model, Sidecars.stats))
    assert(ids(spark.read.parquet(dst)).toSet == ids(emb.filter(col("vec_id") >= 5)).toSet)
  }

  test("IVF: a range probe on a compacted reused destination fails until recordRangeStats") {
    val base = tmp("ivf-range")
    val (src, dst) = (s"$base/src", s"$base/dst")
    val cents = Ann.kmeansCentroids(emb, "vec_id", "embedding", 6, 2)
    // the destination's earlier generation: a few rows and their
    // (tight) certificates, which bound nothing of the source's rows
    Ann.buildIvfIndex(emb.filter(col("vec_id") < 40), cents, dst)
    Ann.recordRangeStats(spark, dst)
    Ann.buildIvfIndex(emb, cents, src)
    Ann.recordRangeStats(spark, src)
    Ann.compactIvfIndex(spark, src, dst)
    intercept[Exception] { Ann.ivfRangeSearch(spark, dst, q, 0.25).collect() }
    Ann.recordRangeStats(spark, dst)
    val got = Ann.ivfRangeSearch(spark, dst, q, 0.25).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    val want = Ann.ivfRangeSearch(spark, src, q, 0.25).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == want && got.nonEmpty)
  }

  test("LSH: build and compact into a reused destination keep no sidecar") {
    val base = tmp("lsh")
    val (src, dst) = (s"$base/src", s"$base/dst")
    val planes = Ann.planes(64, 4)
    plant(src)
    Ann.buildLshIndex(emb, planes, src)
    assertOnly(src, src)
    Ann.deleteFromLshIndex(emb.filter(col("vec_id") < 5), src)
    plant(dst)
    Ann.compactLshIndex(spark, src, dst)
    assertOnly(src, dst)
    assert(ids(spark.read.parquet(dst)).toSet == ids(emb.filter(col("vec_id") >= 5)).toSet)
  }

  test("SQ8: build and compact into a reused destination keep only model/stats") {
    val base = tmp("sq")
    val (src, dst) = (s"$base/src", s"$base/dst")
    val cents = Ann.kmeansCentroids(emb, "vec_id", "embedding", 6, 2)
    Seq(src, s"$src/codes").foreach(plant)
    Sq.buildIvfSqIndex(emb, cents, src)
    assertOnly(src, src)
    assertOnly(s"$src/codes", s"$src/codes")
    Sq.recordIvfSqModel(spark, src, cents)
    Sq.deleteFromIvfSqIndex(emb.filter(col("vec_id") < 5), src)
    Seq(dst, s"$dst/codes").foreach(plant)
    Sq.compactIvfSqIndex(spark, src, dst)
    assertOnly(src, dst, carried = Seq(Sidecars.model, Sidecars.stats))
    assertOnly(s"$src/codes", s"$dst/codes")
    assert(Sq.ivfSqHealth(spark, dst).head().getAs[Long]("n_tombstones") == 0L)
  }

  test("IVF-PQ: build and compact into a reused destination keep only codes.qstats") {
    val base = tmp("pq")
    val (src, dst) = (s"$base/src", s"$base/dst")
    val cents = Ann.kmeansCentroids(emb, "vec_id", "embedding", 6, 2)
    val cb = Pq.train(emb, "vec_id", "embedding", 64, 8, 16, 2)
    Seq(src, s"$src/codes").foreach(plant)
    Pq.buildIvfPqIndex(emb, cents, cb, src)
    assertOnly(src, src)
    assertOnly(s"$src/codes", s"$src/codes")
    Pq.recordIvfPqModel(spark, src, cb)
    Pq.recordIvfPqRangeStats(spark, src, cb)
    Pq.deleteFromIvfPqIndex(emb.filter(col("vec_id") < 5), src)
    Seq(dst, s"$dst/codes").foreach(plant)
    Pq.compactIvfPqIndex(spark, src, dst)
    assertOnly(src, dst)
    assertOnly(s"$src/codes", s"$dst/codes", carried = Seq(Sidecars.qstats))
    // the stale codes-side certificate is gone: the range probe fails
    // until the compacted contents are recorded
    intercept[Exception] { Pq.ivfPqRangeSearch(spark, dst, q, 0.25, cb).collect() }
  }

  test("graph: build and compact into a reused destination keep only the nodes they write") {
    val base = tmp("graph")
    val (src, dst) = (s"$base/src", s"$base/dst")
    val pts = emb.filter(col("vec_id") < 60).select(col("vec_id"), col("embedding"))
    plant(src)
    KnnGraph.writeGraphIndex(KnnGraph.exact(pts, 3), pts, src)
    assertOnly(src, src, written = Seq(Sidecars.nodes))
    KnnGraph.writeGraphLayer(spark, src, sampleEvery = 4, k = 3)
    KnnGraph.deleteFromGraphIndex(pts.filter(col("vec_id") < 3), src)
    plant(dst)
    KnnGraph.compactGraphIndex(spark, src, dst, 3)
    assertOnly(src, dst, written = Seq(Sidecars.nodes))
    assert(spark.read.parquet(Sidecars.nodes(dst)).count() == 57L)
  }

  private lazy val bm25Queries = {
    import spark.implicits._
    Seq((0L, Seq("spark", "join")), (1L, Seq("table", "filter")),
      (2L, Seq("spark", "filter", "table"))).toDF("qid", "terms")
  }

  private def bm25Probe(p: String): Seq[(Long, Long, Double)] =
    Lexical.bm25IndexTopKBatch(spark, p, bm25Queries, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted

  test("BM25: build, compact and rebucket into a reused destination keep no sidecar") {
    val base = tmp("bm25")
    val src = s"$base/src"
    plant(src)
    Lexical.buildBm25Index(docs, "text", "doc_id", src)
    assertOnly(src, src)
    Lexical.deleteFromBm25Index(docs.filter(col("doc_id") < 3), "doc_id", src)
    Seq(("compact", (d: String) => Lexical.compactBm25Index(spark, src, d, "doc_id")),
        ("rebucket", (d: String) => Lexical.rebucketBm25Index(spark, src, d, 8)))
      .foreach { case (name, op) =>
        val dst = s"$base/$name"
        plant(dst)
        op(dst)
        assertOnly(src, dst)
        assert(bm25Probe(dst) == bm25Probe(src), s"$name must keep the probe")
      }
    intercept[IllegalArgumentException] {
      Lexical.compactBm25Index(spark, src, src, "doc_id")
    }
  }

  test("BM25: a compact into a reused destination probes like one into a fresh one") {
    val base = tmp("bm25-reuse")
    val (src, fresh, reused) = (s"$base/src", s"$base/fresh", s"$base/reused")
    Lexical.buildBm25Index(docs, "text", "doc_id", src)
    Lexical.deleteFromBm25Index(docs.filter(col("doc_id") % 5 === 0), "doc_id", src)
    Lexical.compactBm25Index(spark, src, fresh, "doc_id")
    val want = bm25Probe(fresh)
    // the reused destination's earlier generation deleted the very
    // documents the fresh compact ranks first
    val top = want.map(_._2).distinct
    Lexical.buildBm25Index(docs, "text", "doc_id", reused)
    Lexical.deleteFromBm25Index(docs.filter(col("doc_id").isin(top: _*)), "doc_id", reused)
    Lexical.compactBm25Index(spark, src, reused, "doc_id")
    assert(top.nonEmpty)
    assert(bm25Probe(reused) == want)
  }

  test("an unrelated sibling such as p.snaps survives a build at p") {
    val p = s"${tmp("snaps")}/idx"
    graft.store.Snapshots.write(docs.select(col("doc_id"), col("text")), s"$p.snaps", "v1")
    plant(p)
    Lexical.buildBm25Index(graft.store.Snapshots.read(spark, s"$p.snaps", "v1"),
      "text", "doc_id", p)
    assertOnly(p, p)
    assert(Fs.exists(spark, s"$p.snaps"))
    assert(graft.store.Snapshots.read(spark, s"$p.snaps", "v1").count() == docs.count())
    val cents = Ann.kmeansCentroids(emb, "vec_id", "embedding", 4, 1)
    Ann.buildIvfIndex(emb, cents, p)
    assert(Fs.exists(spark, s"$p.snaps"))
  }

  test("no sidecar path literal outside store/Sidecars.scala and SparkEntry.scala") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    val literal = ("""(\.(tombstones|rstats|model|stats|qstats|oplog|resolutions|nodes""" +
      """|layer(\d|\$\{?\w+\}?)(_conf)?)|/(_applied_batches|tombstones))"""").r
    val owners = Set("graft/store/Sidecars.scala", "graft/SparkEntry.scala")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val hits = files(root).filter(_.getName.endsWith(".scala"))
      .filterNot(f => owners.exists(f.getPath.endsWith))
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().zipWithIndex.collect {
          case (line, i) if literal.findFirstIn(line).isDefined => s"${f.getPath}:${i + 1}: $line"
        }.toList finally src.close()
      }
    assert(hits.isEmpty, "name sidecars through graft.store.Sidecars:\n" + hits.mkString("\n"))
  }
}
