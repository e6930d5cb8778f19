package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.store.Snapshots

/** Named corpus snapshots: isolation between names, plan-time
  * partition pruning on single-snapshot reads, diff statuses, and
  * last-wins precedence across snapshots. */
class SnapshotsSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore(): String =
    java.nio.file.Files.createTempDirectory("graft-snaps").toString + "/store"

  test("snapshots are isolated: writing v2 does not change v1 reads") {
    val path = freshStore()
    Snapshots.write(Seq((1L, "a"), (2L, "b")).toDF("id", "text"), path, "v1")
    val before = Snapshots.read(spark, path, "v1").collect().map(_.getLong(0)).sorted
    Snapshots.write(Seq((1L, "A"), (3L, "c")).toDF("id", "text"), path, "v2")
    val after = Snapshots.read(spark, path, "v1").collect().map(_.getLong(0)).sorted
    assert(before.toSeq == Seq(1L, 2L) && after.toSeq == Seq(1L, 2L))
    assert(Snapshots.names(spark, path) == Seq("v1", "v2"))
  }

  test("reading one snapshot opens only that snapshot's files") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val path = freshStore()
    for (n <- Seq("v1", "v2", "v3"))
      Snapshots.write(Seq((1L, n)).toDF("id", "text"), path, n)
    val one = Snapshots.read(spark, path, "v2")
    assert(one.collect().map(_.getString(1)).toSeq == Seq("v2"))
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(s.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val scan = scans(one.queryExecution.executedPlan).headOption
      .getOrElse(fail("no parquet scan found"))
    assert(scan.toString.contains("PartitionFilters"))
    val numFiles = scan.metrics("numFiles").value
    val totalFiles = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(path)).count(_.getName.endsWith(".parquet"))
    }
    assert(numFiles < totalFiles,
      s"expected snapshot pruning: read $numFiles of $totalFiles files")
  }

  test("diff classifies added / removed / changed / same per id") {
    val path = freshStore()
    Snapshots.write(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "text"), path, "v1")
    Snapshots.write(Seq((1L, "a"), (2L, "B"), (4L, "d")).toDF("id", "text"), path, "v2")
    val out = Snapshots.diff(spark, path, "v1", "v2", "id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "same", 2L -> "changed", 3L -> "removed", 4L -> "added"))
  }

  test("diff distinguishes null content from absence and from empty content") {
    val path = freshStore()
    // id 1: null → "x" (changed); id 2: null → null (same); id 3: null
    // in v1 only (removed — NOT conflated with absence); id 4: "" → null
    // (changed — null and empty are different contents); id 5 absent
    // from v1 (added)
    Snapshots.write(
      Seq((1L, null), (2L, null), (3L, null), (4L, ""))
        .toDF("id", "text"), path, "v1")
    Snapshots.write(
      Seq((1L, "x"), (2L, null), (4L, null), (5L, "y"))
        .toDF("id", "text"), path, "v2")
    val out = Snapshots.diff(spark, path, "v1", "v2", "id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "changed", 2L -> "same", 3L -> "removed",
      4L -> "changed", 5L -> "added"))
  }

  test("names round-trips snapshot ids containing '+' and escaped chars") {
    val path = freshStore()
    // '+' is NOT escaped by the partition writer, so a URL decode would
    // list 'v1+hotfix' back as 'v1 hotfix'; ':' IS Hive-escaped (%3A)
    // and must decode back
    for (n <- Seq("v1+hotfix", "rel:2026-08", "plain"))
      Snapshots.write(Seq((1L, "a")).toDF("id", "text"), path, n)
    assert(Snapshots.names(spark, path) == Seq("plain", "rel:2026-08", "v1+hotfix"))
    // and each listed name actually reads back its rows
    for (n <- Seq("v1+hotfix", "rel:2026-08"))
      assert(Snapshots.read(spark, path, n).count() == 1)
  }

  test("syncBm25Index: delete → compact → append reproduces a fresh v2 build") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val snaps = freshStore()
    Snapshots.write(docs, snaps, "v1")
    // v2: remove %13, CHANGE %11 (new 'spark' posting — old postings
    // must die AND new ones must survive the tombstones), add 2
    val v2 = docs.filter(col("doc_id") % 13 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 11 === 0, concat(col("text"), lit(" spark")))
          .otherwise(col("text")).as("text"))
      .unionByName(docs.filter(col("doc_id") < 2)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
    Snapshots.write(v2, snaps, "v2")
    val tmp = java.nio.file.Files.createTempDirectory("graft-sync").toString
    graft.search.Lexical.buildBm25Index(
      Snapshots.read(spark, snaps, "v1"), "text", "doc_id", tmp + "/v1idx")
    Snapshots.syncBm25Index(spark, snaps, "v1", "v2", "doc_id", "text",
      tmp + "/v1idx", tmp + "/synced")
    graft.search.Lexical.buildBm25Index(
      Snapshots.read(spark, snaps, "v2"), "text", "doc_id", tmp + "/fresh")
    val qs = Seq((0L, Seq("spark", "join")), (1L, Seq("table", "filter")))
      .toDF("qid", "terms")
    def probe(p: String) = graft.search.Lexical.bm25IndexTopKBatch(spark, p, qs, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    assert(probe(tmp + "/synced") == probe(tmp + "/fresh"),
      "synced index must probe identically to a fresh build on v2")
  }

  test("syncIvfIndex: delete → compact → append reproduces a fresh v2 build, drift reported") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val snaps = freshStore()
    Snapshots.write(emb, snaps, "v1")
    // v2: remove %13, CHANGE %11 (negated vector — its old row must
    // die AND its new row must survive the tombstones), add 3 re-ids
    val v2 = emb.filter(col("vec_id") % 13 =!= 0)
      .select(col("vec_id"),
        when(col("vec_id") % 11 === 0, transform(col("embedding"), x => -x))
          .otherwise(col("embedding")).as("embedding"))
      .unionByName(emb.filter(col("vec_id") < 3)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
    Snapshots.write(v2, snaps, "v2")
    val cents = graft.search.Ann.kmeansCentroids(emb, "vec_id", "embedding", 8, 2)
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivf-sync").toString
    graft.search.Ann.buildIvfIndex(emb, cents, tmp + "/v1idx")
    graft.search.Ann.recordIvfModel(spark, tmp + "/v1idx", cents)
    val drift = Snapshots.syncIvfIndex(spark, snaps, "v1", "v2",
      "vec_id", "embedding", cents, tmp + "/v1idx", tmp + "/synced")
    graft.search.Ann.buildIvfIndex(
      Snapshots.read(spark, snaps, "v2"), cents, tmp + "/fresh")
    val q = emb.filter(col("vec_id") === 1).select(col("embedding").as("qvec"))
    def probe(p: String) =
      graft.search.Ann.ivfIndexTopK(spark, p, q, cents, 10, 3)
        .select(col("vec_id"), col("sim"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(probe(tmp + "/synced") == probe(tmp + "/fresh"),
      "synced IVF index must probe identically to a fresh build on v2")
    // the baseline carried: sync returns the drift report (negated
    // vectors sit farther from their v1 centroids, so drift > 0 here)
    val d = drift.getOrElse(fail("baseline was recorded — sync must report drift"))
      .head()
    assert(d.getDouble(d.fieldIndex("drift")) > 0.0)
  }

  test("syncIvfIndex without a recorded baseline returns None, still syncs") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 60)
    val snaps = freshStore()
    Snapshots.write(emb, snaps, "v1")
    Snapshots.write(emb.filter(col("vec_id") % 3 =!= 0), snaps, "v2")
    val cents = graft.search.Ann.kmeansCentroids(emb, "vec_id", "embedding", 4, 1)
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivf-sync-nb").toString
    graft.search.Ann.buildIvfIndex(emb, cents, tmp + "/v1idx")
    val drift = Snapshots.syncIvfIndex(spark, snaps, "v1", "v2",
      "vec_id", "embedding", cents, tmp + "/v1idx", tmp + "/synced")
    assert(drift.isEmpty)
    val q = emb.filter(col("vec_id") === 1).select(col("embedding").as("qvec"))
    val got = graft.search.Ann.ivfIndexTopK(spark, tmp + "/synced", q, cents, 5, 2)
      .collect().map(_.getLong(0)).toSet
    assert(got.nonEmpty && got.forall(id => id % 3 != 0))
  }

  test("syncIvfPqIndex reproduces a fresh v2 build; no duplicate rerank rows for changed ids") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val snaps = freshStore()
    Snapshots.write(emb, snaps, "v1")
    val v2 = emb.filter(col("vec_id") % 13 =!= 0)
      .select(col("vec_id"),
        when(col("vec_id") % 11 === 0, transform(col("embedding"), x => -x))
          .otherwise(col("embedding")).as("embedding"))
      .unionByName(emb.filter(col("vec_id") < 3)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
    Snapshots.write(v2, snaps, "v2")
    val cents = graft.search.Ann.kmeansCentroids(emb, "vec_id", "embedding", 8, 2)
    val cb = graft.search.Pq.train(emb, "vec_id", "embedding", 64, 8, 16, 1)
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivfpq-sync").toString
    graft.search.Pq.buildIvfPqIndex(emb, cents, cb, tmp + "/v1idx")
    Snapshots.syncIvfPqIndex(spark, snaps, "v1", "v2",
      "vec_id", "embedding", cents, cb, tmp + "/v1idx", tmp + "/synced")
    graft.search.Pq.buildIvfPqIndex(
      Snapshots.read(spark, snaps, "v2"), cents, cb, tmp + "/fresh")
    val q = emb.filter(col("vec_id") === 1).select(col("embedding").as("qvec"))
    def probe(p: String) =
      graft.search.Pq.ivfPqIndexTopK(spark, p, q, cents, cb, 10, 3, 40)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val synced = probe(tmp + "/synced")
    assert(synced == probe(tmp + "/fresh"),
      "synced IVF-PQ index must probe identically to a fresh build on v2")
    assert(synced.map(_._1).distinct.size == synced.size,
      "a changed id must not keep two vector rows (duplicate rerank output)")
  }

  test("syncIvfSqIndex reproduces a fresh v2 build; no duplicate rerank rows for changed ids") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val snaps = freshStore()
    Snapshots.write(emb, snaps, "v1")
    val v2 = emb.filter(col("vec_id") % 13 =!= 0)
      .select(col("vec_id"),
        when(col("vec_id") % 11 === 0, transform(col("embedding"), x => -x))
          .otherwise(col("embedding")).as("embedding"))
      .unionByName(emb.filter(col("vec_id") < 3)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
    Snapshots.write(v2, snaps, "v2")
    val cents = graft.search.Ann.kmeansCentroids(emb, "vec_id", "embedding", 8, 2)
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivfsq-sync").toString
    graft.search.Sq.buildIvfSqIndex(emb, cents, tmp + "/v1idx")
    Snapshots.syncIvfSqIndex(spark, snaps, "v1", "v2",
      "vec_id", "embedding", cents, tmp + "/v1idx", tmp + "/synced")
    graft.search.Sq.buildIvfSqIndex(
      Snapshots.read(spark, snaps, "v2"), cents, tmp + "/fresh")
    val q = emb.filter(col("vec_id") === 1).select(col("embedding").as("qvec"))
    def probe(p: String) =
      graft.search.Sq.ivfSqIndexTopK(spark, p, q, cents, 10, 40, 3)
        .select(col("vec_id"), col("sim"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val synced = probe(tmp + "/synced")
    assert(synced == probe(tmp + "/fresh"),
      "synced SQ8-IVF index must probe identically to a fresh build on v2")
    assert(synced.map(_._1).distinct.size == synced.size,
      "a changed id must not keep two vector rows (duplicate rerank output)")
  }

  test("expireOlderThan drops stale snapshots by write time, survivors untouched") {
    val path = java.nio.file.Files.createTempDirectory("graft-snap-ttl")
      .toString + "/store"
    Seq("old1", "old2", "live").foreach(n =>
      Snapshots.write(Seq((1L, n)).toDF("id", "text"), path, n))
    // age the first two below any realistic cutoff by back-dating
    // their files (mtime is the age source — dirLastWriteMillis)
    def backdate(name: String, ts: Long): Unit = {
      def walk(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(walk)
        f.setLastModified(ts): Unit
      }
      walk(new java.io.File(s"$path/__snap=$name"))
    }
    val cutoff = System.currentTimeMillis() - 60L * 1000
    backdate("old1", cutoff - 10000); backdate("old2", cutoff - 10000)
    val dropped = Snapshots.expireOlderThan(spark, path, cutoff)
    assert(dropped == Seq("old1", "old2"), s"dropped $dropped")
    assert(Snapshots.names(spark, path) == Seq("live"))
    assert(Snapshots.read(spark, path, "live").count() == 1L)
    // nothing below the cutoff → no-op
    assert(Snapshots.expireOlderThan(spark, path, cutoff).isEmpty)
    // appending into an old snapshot refreshes its age: it survives
    Snapshots.write(Seq((2L, "more")).toDF("id", "text"), path, "live")
    assert(Snapshots.expireOlderThan(spark, path, cutoff).isEmpty)
    assert(Snapshots.read(spark, path, "live").count() == 2L)
  }

  /** The stage call sites of every job started inside `body`, one
    * string per job. A schema-inference job's call site starts in
    * `DataFrameReader.parquet`. */
  private def jobSites(body: => Unit): Seq[String] = {
    val group = s"snapshots-${System.nanoTime()}"
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          sites.add(e.stageInfos.map(_.details).mkString("\n"))
    }
    spark.sparkContext.addSparkListener(l)
    try {
      spark.sparkContext.setJobGroup(group, "snapshots spec")
      try body finally spark.sparkContext.clearJobGroup()
      Thread.sleep(500) // listener events arrive asynchronously
      sites.toArray(Array.empty[String]).toSeq
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("a warm read and latest run no schema-inference job") {
    val path = freshStore()
    Snapshots.write(Seq((1L, "a1"), (2L, "b1")).toDF("id", "text"), path, "v1")
    Snapshots.write(Seq((2L, "b2")).toDF("id", "text"), path, "v2")
    def inferences(sites: Seq[String]): Seq[String] =
      sites.filter(_.contains("DataFrameReader.parquet"))
    assert(inferences(jobSites(spark.read.parquet(path): Unit)).nonEmpty,
      "a cold spark.read.parquet infers a schema")
    Snapshots.read(spark, path, "v1").collect() // the first read of this generation
    val sites = jobSites {
      assert(Snapshots.read(spark, path, "v1").collect().map(_.getString(1)).sorted.toSeq ==
        Seq("a1", "b1"))
      assert(Snapshots.latest(spark, path, Seq("v1", "v2"), "id").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap == Map(1L -> "a1", 2L -> "b2"))
    }
    assert(sites.nonEmpty, "the reads run Spark jobs")
    assert(inferences(sites).isEmpty,
      s"a warm snapshot read inferred a schema:\n${inferences(sites).mkString("\n--\n")}")
  }

  test("latest: later snapshot names win per id, untouched ids carry through") {
    val path = freshStore()
    Snapshots.write(Seq((1L, "a1"), (2L, "b1")).toDF("id", "text"), path, "v1")
    Snapshots.write(Seq((2L, "b2"), (3L, "c2")).toDF("id", "text"), path, "v2")
    val out = Snapshots.latest(spark, path, Seq("v1", "v2"), "id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "a1", 2L -> "b2", 3L -> "c2"))
    // reversed precedence flips the overlap
    val rev = Snapshots.latest(spark, path, Seq("v2", "v1"), "id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rev(2L) == "b1")
  }

  test("expire keeps the last names, drops the rest, survivors stay readable") {
    val path = java.nio.file.Files.createTempDirectory("graft-snap-expire")
      .toString + "/store"
    Seq("v1", "v2", "v3").foreach(n =>
      Snapshots.write(Seq((1L, n)).toDF("id", "text"), path, n))
    val dropped = Snapshots.expire(spark, path, keep = 2)
    assert(dropped == Seq("v1"), s"dropped $dropped")
    assert(Snapshots.names(spark, path) == Seq("v2", "v3"))
    assert(Snapshots.read(spark, path, "v3").count() == 1L)
    // keep >= live count is a no-op
    assert(Snapshots.expire(spark, path, keep = 5).isEmpty)
    assert(Snapshots.names(spark, path) == Seq("v2", "v3"))
  }
}
