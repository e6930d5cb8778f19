package graft

import org.apache.spark.sql.functions._

import graft.search.Search

/** kNN semantics from `/root/reference/services/vectorDb.ts:11-24` +
  * context aggregation from `App.tsx:192` (FIXTURES.md §B). */
class SearchSpec extends SparkSpec {

  test("RankCache: second probe reads only the cache; new version recomputes; cache is invisible") {
    import org.apache.spark.sql.functions._
    import graft.search.RankCache
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val cacheDir = java.nio.file.Files.createTempDirectory("graft-rc").toString
    var computes = 0
    def probe(version: String) = RankCache.cachedResult(spark, cacheDir,
      version, "q0") {
      computes += 1
      graft.search.Search.knn(emb, q, 5).select(col("vec_id"), col("sim"))
    }
    val first = probe("v1").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val second = probe("v1").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(computes == 1, "second probe must be served from the cache")
    assert(first.toSet == second.toSet)
    // the served plan scans ONLY the cache entry, never the corpus
    val served = probe("v1")
    served.collect()
    val locations = served.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(locations.contains("graft-rc") && !locations.contains("embeddings"),
      s"cache hit must not scan the corpus:\n$locations")
    // structural invalidation: a new version tag misses and recomputes
    probe("v2").collect()
    assert(computes == 2, "a new corpus version must recompute")
    // and the cached result equals the direct computation
    val direct = graft.search.Search.knn(emb, q, 5)
      .select(col("vec_id"), col("sim"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(first.toSet == direct)
    // a PARTIAL entry (interrupted fill: directory without _SUCCESS)
    // must miss and be recomputed, never served truncated
    val partial = RankCache.entryPath(cacheDir, "v3", "q0")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(partial))
    graft.search.Search.knn(emb, q, 2).select(col("vec_id"), col("sim"))
      .write.mode("overwrite").parquet(partial)
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$partial/_SUCCESS"))
    val v3 = probe("v3").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(computes == 3, "a partial cache entry must recompute")
    assert(v3 == direct, "recompute must overwrite the partial entry")
  }

  import spark.implicits._

  private val q = Seq(Tuple1(Seq(1f, 0f))).toDF("qvec")

  test("emptyCorpus: 0-row corpus → 0 rows (vectorDb.ts:12-14)") {
    val corpus = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assert(Search.knn(corpus, q, 5).count() == 0)
  }

  test("topKTies: identical similarities break by id asc") {
    val corpus = Seq(
      (3L, Seq(2f, 0f)), (1L, Seq(5f, 0f)), (2L, Seq(1f, 0f)), (4L, Seq(0f, 1f)))
      .toDF("vec_id", "embedding")
    val ids = Search.knn(corpus, q, 3).select("vec_id").collect().map(_.getLong(0))
    assert(ids.toSeq == Seq(1L, 2L, 3L)) // all sim=1.0 ties → id asc
  }

  test("knn returns k most similar with sim column rounded") {
    val corpus = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(1f, 1f)), (3L, Seq(-1f, 0f)))
      .toDF("vec_id", "embedding")
    val rows = Search.knn(corpus, q, 2).select("vec_id", "sim").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(rows(0).getDouble(1) == 1.0)
    assert(math.abs(rows(1).getDouble(1) - 0.707107) < 1e-9)
  }

  test("contextOrder: texts joined with \\n---\\n in rank order (App.tsx:192)") {
    val top = Seq((1L, "first", 0.9), (2L, "second", 0.8), (3L, "third", 0.7))
      .toDF("id", "text", "sim")
    val ctx = Search.contextAgg(top, col("id"), col("text"), col("sim"))
      .head().getString(0)
    assert(ctx == "first\n---\nsecond\n---\nthird")
  }

  /** `body` with the serving snapshot off: every search plans its
    * Spark scan or join. */
  private def withoutSnapshot[A](body: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try body finally spark.conf.set(key, prev)
  }

  private def fromSnapshot(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed.getClass.getSimpleName == "LogicalRDD"

  test("similarityJoin: per-query top-k with rank") {
    val corpus = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)), (3L, Seq(1f, 1f)))
      .toDF("vec_id", "embedding")
    val queries = Seq((10L, Seq(1f, 0f)), (20L, Seq(0f, 1f)))
      .toDF("qid", "qvec")
    def ranked(c: org.apache.spark.sql.DataFrame) = Search.similarityJoin(c, queries, 2)
      .select("qid", "vec_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = Set((10L, 1L, 1), (10L, 3L, 2), (20L, 2L, 1), (20L, 3L, 2))
    assert(ranked(corpus) == want)
    // a stored corpus: served from the snapshot, then by the Spark plan
    val path = java.nio.file.Files.createTempDirectory("graft-simjoin").toString + "/store"
    graft.store.CorpusStore.overwrite(corpus, path)
    val stored = graft.store.CorpusStore.load(spark, path)
    assert(fromSnapshot(Search.similarityJoin(stored, queries, 2)))
    assert(ranked(stored) == want)
    withoutSnapshot {
      assert(!fromSnapshot(Search.similarityJoin(stored, queries, 2)))
      assert(ranked(stored) == want)
    }
  }

  test("blocked similarity join == broadcast similarity join on real data") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val qs = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "vec_id", "sim", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(fromSnapshot(Search.similarityJoin(emb, qs, 3)))
    val snapshotForm = norm(Search.similarityJoin(emb, qs, 3))
    val broadcastForm = withoutSnapshot(norm(Search.similarityJoin(emb, qs, 3)))
    val blockedForm = norm(Search.similarityJoinBlocked(emb, qs, 3, blocks = 7))
    assert(broadcastForm == blockedForm)
    assert(snapshotForm == blockedForm)
  }

  test("knnDot over a normalized corpus returns the same top-k ids as knn on raw vectors") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 3).select(col("embedding").as("qvec"))
    val raw = Search.knn(emb, q, 10).select("vec_id").collect().map(_.getLong(0)).toSeq
    val nc = emb.select(col("vec_id"),
      graft.vector.VectorOps.l2Normalize(col("embedding")).as("nvec"))
    val nq = q.select(graft.vector.VectorOps.l2Normalize(col("qvec")).as("qvec"))
    val viaDot = Search.knnDot(nc, nq, 10, vecCol = "nvec")
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(viaDot == raw)
  }

  test("MMR demotes a near-duplicate that pure relevance ranks second") {
    // doc 1 ≈ doc 0's direction (near-dup, rel ranks 1-2); doc 2 is
    // less relevant but orthogonal to doc 1 — MMR must pick it at
    // rank 2 and push the duplicate down
    val corpus = Seq(
      (0L, Seq(0.9f, 0.4359f, 0.0f, 0.0f)),  // rel ~0.90
      (1L, Seq(0.88f, 0.47f, 0.07f, 0.0f)),  // rel ~0.88, cos to doc0 ~0.997
      (2L, Seq(0.8f, 0.0f, 0.6f, 0.0f)),     // rel 0.80, cos to doc0 0.72
      (3L, Seq(0.0f, 0.0f, 0.0f, 1.0f))      // irrelevant, orthogonal
    ).toDF("vec_id", "embedding")
    val q = Seq(Tuple1(Seq(1.0f, 0.0f, 0.0f, 0.0f))).toDF("qvec")
    val byRel = Search.knn(corpus, q, 3).select("vec_id")
      .collect().map(_.getLong(0)).toSeq
    assert(byRel == Seq(0L, 1L, 2L))
    val mmr = Search.mmrTopK(corpus, q, k = 3, shortlist = 4, lambda = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(mmr.map(_._1) == Seq(0L, 2L, 3L),
      s"diversity must outrank the near-duplicate, got $mmr")
    assert(mmr.map(_._2) == Seq(1L, 2L, 3L))
  }

  test("MMR at lambda=1 degenerates to the relevance ranking") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val rel = Search.knn(emb, q, 5).select("vec_id").collect().map(_.getLong(0)).toSeq
    val mmr = Search.mmrTopK(emb, q, k = 5, shortlist = 20, lambda = 1.0)
      .collect().map(_.getLong(0)).toSeq
    assert(mmr == rel)
  }

  test("MMR scores carry the greedy arithmetic (round-6, dyadic lambda)") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val rows = Search.mmrTopK(emb, q, k = 3, shortlist = 10, lambda = 0.75)
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3)))
    // rank 1 is the top relevance hit and its score is 0.75 * rel
    val top = Search.knn(emb, q, 1).select(col("vec_id"), col("sim")).head()
    assert(rows(0)._1 == top.getLong(0))
    assert(rows(0)._3 ==
      BigDecimal(0.75 * top.getDouble(1))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // later scores are strictly below lambda * their relevance (the
    // diversity penalty is active on this corpus)
    rows.drop(1).foreach { case (_, rel, score) => assert(score < 0.75 * rel) }
  }

  test("batch MMR restricted to one query ≡ single-query MMR") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val qs = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val batch = Search.mmrTopKBatch(emb, qs, k = 3, shortlist = 20, lambda = 0.75)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._2).toSeq).toMap
    (0L until 3L).foreach { qid =>
      val q = emb.filter(col("vec_id") === qid).select(col("embedding").as("qvec"))
      val single = Search.mmrTopK(emb, q, k = 3, shortlist = 20, lambda = 0.75)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
        .sortBy(_._2).toSeq
      assert(batch(qid) == single, s"qid $qid: batch ${batch(qid)} vs single $single")
    }
  }

  test("batch MMR greedy runs executor-side: MapGroups in the plan, no driver collect") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val qs = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val batch = Search.mmrTopKBatch(emb, qs, k = 3, shortlist = 20, lambda = 0.75)
    // the batch path must be one lazy distributed plan whose greedy is
    // a MapGroups over the shuffled shortlists — building the frame
    // runs no job, and the plan carries the executor-side fold
    val plan = batch.queryExecution.optimizedPlan.toString
    assert(plan.contains("MapGroups"),
      s"batch MMR must run the greedy in flatMapGroups, got plan:\n$plan")
    assert(batch.count() == 9L)
  }

  test("prompt template interpolates context and question") {
    val out = Seq(Tuple1("CTX")).toDF("context")
      .select(Search.prompt(col("context"), lit("Q?")).as("p"))
      .head().getString(0)
    // verbatim reference template (geminiService.ts:80-88): --- fences
    // around the context, inline "Question: ", trailing newline
    assert(out.contains("Context:\n---\nCTX\n---\n") && out.contains("Question: Q?\n"))
    assert(out.startsWith("Based on the following context, please provide a comprehensive answer"))
    assert(out.endsWith("\n"))
  }
}
