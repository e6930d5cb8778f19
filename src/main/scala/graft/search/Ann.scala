package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.store.{CorpusStore, ServingSnapshot, Sidecars}
import graft.vector.VectorOps

/** Approximate nearest-neighbour search — the scale path past the
  * brute-force scan (`/root/reference/services/vectorDb.ts:16-23` is
  * O(N·d) per query with no index; fine at browser scale, not at 100 TB).
  *
  * Two standard index structures, both built from DataFrame ops:
  *
  *  - IVF (inverted file): corpus clustered by a coarse key (testdata's
  *    `label` stands in for a k-means assignment); search scores the
  *    per-cluster centroids first and scans only the `nprobe` best
  *    clusters. On a real deployment the corpus is PARTITIONED BY the
  *    cluster key, so pruning is partition pruning — scans skip files.
  *
  *  - Random-hyperplane LSH: sign-bit sketch of each vector against
  *    `nbits` seeded hyperplanes; search scans only the query's bucket
  *    (plus Hamming-1 neighbours), then exact-reranks with the fused
  *    cosine kernel.
  *
  * Both are approximations: the exact brute-force `Search.knn` remains
  * the correctness oracle; recall is asserted in tests.
  */
object Ann {

  /** Per-key centroids via the native vector_avg aggregate
    * (graft.functions.VectorAvg): one map-side-combined shuffle of a
    * single double[dim+1] buffer per (key × partition) — versus the
    * composed form ([[centroidsExploded]]) which explodes dim rows per
    * vector and aggregates twice. */
  def centroids(df: DataFrame, keyCol: String, vecCol: String): DataFrame =
    df.groupBy(col(keyCol).as("key"))
      .agg(graft.functions.VectorAvg(col(vecCol)).as("centroid"))

  /** Composed-builtin centroid build — the executable spec for
    * [[centroids]], kept for tests. */
  def centroidsExploded(df: DataFrame, keyCol: String, vecCol: String): DataFrame =
    df.select(col(keyCol).as("key"), posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col("key"), col("pos"))
      .agg(avg(col("x")).as("cx"))
      .groupBy(col("key"))
      .agg(array_sort(collect_list(struct(col("pos"), col("cx")))).as("pcs"))
      .select(col("key"), transform(col("pcs"), p => p.getField("cx")).as("centroid"))

  /** IVF search: probe the `nprobe` most query-similar centroids, then
    * exact top-k over only those clusters' rows. `query` is a 1-row
    * frame with column `qvec`. */
  def ivfTopK(corpus: DataFrame, query: DataFrame, k: Int, nprobe: Int,
              keyCol: String = "label", idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    val cents = centroids(corpus, keyCol, vecCol)
    // csim rounded to 6 places (the project-wide float-determinism
    // contract): probe RANKING must not hinge on the last ulp of a
    // partial-sum order, or near-tied centroids pick different probe
    // sets across engines/runs.
    val probes = cents.crossJoin(broadcast(query))
      .withColumn("csim", round(VectorOps.cosine(col("centroid"), col("qvec")), 6))
      .orderBy(col("csim").desc, col("key").asc)
      .limit(nprobe)
      .select(col("key").as(keyCol))
    // left_semi against the probed keys: with the corpus partitioned by
    // the cluster key this becomes partition pruning, not a join.
    Search.knn(corpus.join(broadcast(probes), Seq(keyCol), "left_semi"), query, k,
      idCol, vecCol)
  }

  /** Lloyd's k-means over a vector column — the batch index-construction
    * path for IVF when no coarse key exists. Centroids are model state
    * (k × dim doubles — kilobytes), so they live driver-side between
    * iterations. Deterministic: init = the k lowest-id vectors (NULL ids
    * first, as `orderBy(idCol)` sorts them); each row goes to its
    * nearest centroid by cosine, lowest index on ties
    * ([[graft.functions.NearestCentroid]]); each centroid becomes the
    * mean of its rows, and an empty cluster keeps its previous
    * centroid. Two paths compute this:
    *
    *  - A bare scan of a small store (one that
    *    [[graft.store.ServingSnapshot.serve]] accepts: within
    *    `spark.sql.autoBroadcastJoinThreshold`, integral ids) trains on
    *    the driver from the held vectors, with no Spark job. Each
    *    iteration computes one partial per held block (one data file):
    *    every row's assignment through `NearestCentroid.nearest`, and
    *    per cluster the vector sum in row order and the count. The
    *    partials are merged in block order, so the centroids do not
    *    depend on how many threads ran them. The blocks are spread over
    *    at most `defaultParallelism` driver threads of one pool per call.
    *  - Any other input runs the Spark plan ([[kmeansPlan]]): init by
    *    `orderBy.limit`, then per iteration one distributed assign pass
    *    (k fused-cosine evals per row, no join) and one `vector_avg`
    *    aggregation, whose partials merge in Spark's reduction order.
    *    A held store the driver path cannot match exactly takes the plan
    *    too, so the plan's answer or error stands there: a NULL vector
    *    or element, mixed dimensions, dimension 0, or no rows.
    *
    * The two paths differ only in sum order, so their centroids agree to
    * the last few ulps and they assign every row alike unless it sits
    * within those ulps of a tie. Rows with equal ids, which `orderBy`
    * leaves in no set order, enter the driver path's init in block,
    * then row, order. */
  def kmeansCentroids(df: DataFrame, idCol: String, vecCol: String,
                      k: Int, iters: Int): Seq[Seq[Double]] = {
    require(k >= 2, "k >= 2")
    ServingSnapshot.serve(df, idCol, vecCol)
      .flatMap(s => kmeansHeld(s.held, k, iters, df.sparkSession.sparkContext.defaultParallelism))
      .getOrElse(kmeansPlan(df, idCol, vecCol, k, iters))
  }

  /** The Spark plan of [[kmeansCentroids]]: the input is scanned
    * iters + 1 times (init + one assign pass per iteration). */
  private def kmeansPlan(df: DataFrame, idCol: String, vecCol: String,
                         k: Int, iters: Int): Seq[Seq[Double]] = {
    var cents: Seq[Seq[Double]] = df.orderBy(col(idCol)).limit(k)
      .select(transform(col(vecCol), x => x.cast("double")).as("v"))
      .collect().map(_.getSeq[Double](0).toSeq).toSeq
    (0 until iters).foreach { _ =>
      val updated = df
        .withColumn("__cluster", assignCluster(col(vecCol), cents))
        .groupBy(col("__cluster"))
        .agg(graft.functions.VectorAvg(col(vecCol)).as("centroid"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq)
        .toMap
      cents = cents.indices.map(i => updated.getOrElse(i, cents(i)))
    }
    cents
  }

  /** One held block's share of a Lloyd iteration: the clusters its rows
    * went to, in first-assigned order, their vector sums (`d` each,
    * packed) and row counts. It is sized by the clusters the block
    * touches, so an iteration's partials never hold more values than
    * the vectors themselves. */
  private final class Partial(val clusters: Array[Int], val sums: Array[Double],
                              val counts: Array[Long])

  /** [[kmeansCentroids]] over held blocks on the driver, or None where
    * it could not match the Spark plan exactly: no rows, a NULL vector
    * or element, mixed dimensions, or dimension 0. */
  private def kmeansHeld(held: IndexedSeq[ServingSnapshot.Held], k: Int, iters: Int,
                         parallelism: Int): Option[Seq[Seq[Double]]] = {
    val rows = held.iterator.map(_.ids.length).sum
    if (rows == 0) return None
    val first = held.find(_.ids.nonEmpty).get
    val d = first.off(1) - first.off(0)
    // a NULL vector or element holds no values, so it reads as dimension
    // 0: one dimension above 0 throughout refuses it too
    if (d == 0 || held.exists(b => b.ids.indices.exists(i => b.off(i + 1) - b.off(i) != d)))
      return None
    // init: the k lowest ids, NULL first; equal ids keep block, then row, order
    val order = held.indices.iterator.flatMap(bi => held(bi).ids.indices.map(ri => (bi, ri)))
      .toArray.sortBy { case (bi, ri) =>
        val b = held(bi)
        (!b.idNull(ri), if (b.idNull(ri)) 0L else b.ids(ri))
      }
    val kk = math.min(k, rows)
    val mat = new Array[Double](kk * d)
    order.iterator.take(kk).zipWithIndex.foreach { case ((bi, ri), c) =>
      val b = held(bi)
      System.arraycopy(b.vec, b.off(ri), mat, c * d, d)
    }
    val threads = math.max(1, math.min(parallelism, held.size))
    val pool = if (threads > 1 && iters > 0) Some(java.util.concurrent.Executors.newFixedThreadPool(threads))
      else None
    try {
      (0 until iters).foreach { _ =>
        val norms = graft.functions.NearestCentroid.norms(mat, kk, d)
        def partial(b: ServingSnapshot.Held): Partial = lloydPartial(b, mat, norms, kk, d)
        val parts = pool.fold(held.map(partial)) { p =>
          held.map(b => p.submit(new java.util.concurrent.Callable[Partial] {
            def call(): Partial = partial(b)
          })).map(_.get())
        }
        val sums = new Array[Double](kk * d)
        val counts = new Array[Long](kk)
        parts.foreach { p =>
          var s = 0
          while (s < p.clusters.length) {
            val c = p.clusters(s)
            var j = 0
            while (j < d) { sums(c * d + j) += p.sums(s * d + j); j += 1 }
            counts(c) += p.counts(s)
            s += 1
          }
        }
        var c = 0
        while (c < kk) {
          if (counts(c) > 0) {
            var j = 0
            while (j < d) { mat(c * d + j) = sums(c * d + j) / counts(c).toDouble; j += 1 }
          }
          c += 1
        }
      }
    } finally pool.foreach(_.shutdown())
    Some((0 until kk).map(c => mat.slice(c * d, (c + 1) * d).toSeq))
  }

  /** One block's assignments against `mat`, then its [[Partial]]. */
  private def lloydPartial(b: ServingSnapshot.Held, mat: Array[Double], norms: Array[Double],
                           k: Int, d: Int): Partial = {
    val n = b.ids.length
    val assign = new Array[Int](n)
    val slot = Array.fill(k)(-1)
    var used = 0
    var i = 0
    while (i < n) {
      val c = graft.functions.NearestCentroid.nearest(mat, norms, d, b.vec, b.off(i))
      assign(i) = c
      if (slot(c) < 0) { slot(c) = used; used += 1 }
      i += 1
    }
    val clusters = new Array[Int](used)
    (0 until k).foreach(c => if (slot(c) >= 0) clusters(slot(c)) = c)
    val sums = new Array[Double](used * d)
    val counts = new Array[Long](used)
    i = 0
    while (i < n) {
      val s = slot(assign(i))
      val off = b.off(i)
      var j = 0
      while (j < d) { sums(s * d + j) += b.vec(off + j); j += 1 }
      counts(s) += 1
      i += 1
    }
    new Partial(clusters, sums, counts)
  }

  /** Nearest-centroid id (cosine argmax, lowest id on ties) against a
    * driver-side centroid list — one native expression node carrying the
    * centroid matrix as a reference object
    * ([[graft.functions.NearestCentroid]]), so the plan stays O(1) in k.
    * The composed form it replaced ([[assignClusterComposed]]) inlined k
    * struct literals and hit the plan-size / codegen ceiling near
    * k ≈ 100; a 100 TB IVF needs k in the thousands. */
  def assignCluster(vec: Column, cents: Seq[Seq[Double]]): Column =
    graft.functions.NearestCentroid(vec, cents)

  /** Composed-builtin argmax — the executable specification
    * [[assignCluster]] is tested against (AnnSpec). Plan size grows
    * linearly with k; never use on a real index build. */
  def assignClusterComposed(vec: Column, cents: Seq[Seq[Double]]): Column = {
    val scored = cents.zipWithIndex.map { case (c, i) =>
      struct(VectorOps.cosine(vec, typedlit(c)).as("sim"), lit(-i).as("ni"))
    }
    -greatest(scored: _*).getField("ni")
  }

  /** IVF search over k-means clusters: build (or reuse) centroids,
    * bucket the corpus, probe the nprobe query-nearest clusters. */
  def ivfTopKKMeans(corpus: DataFrame, query: DataFrame, k: Int, nprobe: Int,
                    numClusters: Int, iters: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cents = kmeansCentroids(corpus, idCol, vecCol, numClusters, iters)
    val probes = probeIds(cents, Search.probeVector(query), nprobe)
    Search.knn(corpus.filter(assignCluster(col(vecCol), cents).isin(probes: _*)),
      query, k, idCol, vecCol)
  }

  /** Probe selection against a driver-side centroid list: nprobe best
    * clusters by cosine rounded to 6 (the probe-ranking determinism
    * contract of [[ivfTopK]]), ties to the lowest id. Mirrors the
    * DataFrame ranking exactly (asserted in AnnSpec); runs driver-side
    * because centroids are model state — k×dim doubles, kilobytes. */
  def probeIds(cents: Seq[Seq[Double]], qvec: Seq[Double], nprobe: Int): Seq[Int] =
    cents.zipWithIndex
      .map { case (c, i) => (VectorOps.round6(VectorOps.cosineLocal(c, qvec)), i) }
      .sortBy { case (s, i) => (-s, i) }
      .take(nprobe).map(_._2)

  /** The centroid table `(__cluster, centroid)` of a driver-side
    * centroid list: k rows of model state. */
  private[search] def centroidFrame(spark: org.apache.spark.sql.SparkSession,
                                    cents: Seq[Seq[Double]]): DataFrame = {
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c) }.toDF("__cluster", "centroid")
  }

  /** Per-query probe selection of a batch probe: each query's `nprobe`
    * nearest centroids by round-6 cosine, ties to the lower cluster (the
    * [[probeIds]] ranking), as a (queries × broadcast centroids) join
    * and a per-qid window. Returns the `(qid, __cluster)` probe table
    * and the union of the probed clusters — at most k ids, model-state
    * scale — for the scan's plan-time literal `IN`. */
  private[search] def batchProbes(queries: DataFrame, cents: Seq[Seq[Double]],
                                  nprobe: Int): (DataFrame, Seq[Int]) = {
    val w = Window.partitionBy(col("qid")).orderBy(col("csim").desc, col("__cluster").asc)
    val probes = queries.crossJoin(broadcast(centroidFrame(queries.sparkSession, cents)))
      .withColumn("csim", round(VectorOps.cosine(col("centroid"), col("qvec")), 6))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= nprobe)
      .select(col("qid"), col("__cluster"))
    (probes, probes.select(col("__cluster")).distinct().collect().map(_.getInt(0)).toSeq)
  }

  /** The best `n` rows per qid of a `(qid, id, sim)` frame,
    * `(sim DESC, id ASC)`. */
  private[search] def perQidTop(scored: DataFrame, n: Int, idCol: String): DataFrame =
    scored
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col(idCol).asc)))
      .filter(col("__rn") <= n)
      .select(col("qid"), col(idCol), col("sim"))

  /** The exact per-qid top-k of `(qid, row)` candidates: each row's
    * round-6 cosine against its query's `qvec`. Returns (qid, id, sim). */
  private[search] def batchExactTop(cands: DataFrame, queries: DataFrame, k: Int,
                                    idCol: String, vecCol: String): DataFrame =
    perQidTop(cands.join(broadcast(queries), Seq("qid"))
      .select(col("qid"), col(idCol), VectorOps.cosine6(col(vecCol), col("qvec")).as("sim")),
      k, idCol)

  /** Materialize an IVF index: the corpus bucketed by nearest centroid
    * and WRITTEN `partitionBy` the cluster id. This is the 100 TB form
    * of [[ivfTopKKMeans]]'s left_semi probe: with the cluster as a
    * physical partition column, a probe filter is PARTITION PRUNING —
    * files of non-probed clusters are never opened, so an
    * nprobe/k probe scans ~nprobe/k of the corpus bytes. */
  def buildIvfIndex(corpus: DataFrame, cents: Seq[Seq[Double]], path: String,
                    vecCol: String = "embedding"): Unit = {
    Sidecars.reset(corpus.sparkSession, path)
    corpus.withColumn("__cluster", assignCluster(col(vecCol), cents))
      .repartition(col("__cluster")) // cluster: one task (not every task) writes a partition
      .write.partitionBy("__cluster").mode("overwrite").parquet(path)
  }

  /** Incrementally add vectors to a materialized IVF index — the
    * reference's per-batch `add` (`vectorDb.ts:7-9`, `App.tsx:79`)
    * composed with the index. Delta rows are assigned against the
    * EXISTING centroids (no retrain: the standard IVF maintenance
    * trade — assignment quality drifts with the data distribution
    * until the next rebuild) and appended into the same
    * `partitionBy(__cluster)` directory layout, so a probe's partition
    * pruning is unchanged: append-then-probe ≡ rebuild-with-the-same-
    * centroids-then-probe row-for-row (pinned in AnnSpec). Repeated
    * small appends leave a file per batch per cluster; remedy with
    * [[graft.store.CorpusStore.compact]] on the hot cluster
    * directories. */
  def appendToIvfIndex(delta: DataFrame, cents: Seq[Seq[Double]], path: String,
                       vecCol: String = "embedding"): Unit = {
    Sidecars.appended(delta.sparkSession, path)
    delta.withColumn("__cluster", assignCluster(col(vecCol), cents))
      .repartition(col("__cluster")) // one file per cluster per append
      .write.partitionBy("__cluster").mode("append").parquet(path)
  }

  /** Tombstone-delete vectors from a materialized IVF index — the
    * vector twin of [[Lexical.deleteFromBm25Index]], completing the
    * build/append/probe/DELETE lifecycle (an update is delete +
    * append). The cluster files are immutable, so the delete is
    * LOGICAL: ids append to `<path>.tombstones/`; probes anti-join
    * them (kNN has no corpus stats to correct, unlike BM25), and
    * [[compactIvfIndex]] applies them physically. Deleting an unknown
    * or already-deleted id is harmless — the anti-join is idempotent. */
  def deleteFromIvfIndex(ids: DataFrame, path: String,
                         idCol: String = "vec_id"): Unit =
    Sidecars.addTombstones(ids.select(col(idCol)), Sidecars.tombstones(path))

  /** The index's tombstoned ids, or None when nothing was deleted. */
  private[search] def tombstoneIds(spark: org.apache.spark.sql.SparkSession,
                                   path: String): Option[DataFrame] =
    Sidecars.readTombstones(spark, Sidecars.tombstones(path)).map(_.distinct())

  private[search] def dropTombstones(df: DataFrame, path: String,
                                     idCol: String): DataFrame =
    tombstoneIds(df.sparkSession, path).fold(df)(t =>
      df.join(broadcast(t.withColumnRenamed(t.columns.head, idCol)),
        Seq(idCol), "left_anti"))

  /** Compact an incrementally appended IVF index into a fresh layout:
    * one shuffle clustering rows by the partition key, rewritten
    * `partitionBy(__cluster)` with `maxRecordsPerFile` bounding file
    * size — the index-shaped form of
    * [[graft.store.CorpusStore.compact]]'s small-files remedy (a batch
    * of appends leaves one file per batch per cluster; at 100 TB that
    * is an O(files) planning cost on every probe). Tombstoned rows are
    * dropped during the rewrite (the physical half of
    * [[deleteFromIvfIndex]]); surviving probe results are unchanged —
    * the layout moves, the rows don't (pinned in AnnSpec). */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession, srcPath: String,
                      dstPath: String, recordsPerFile: Long = 1L << 20,
                      idCol: String = "vec_id"): Unit = {
    // the retrain/rebucket convention: a compact is a REWRITE — an
    // in-place call would overwrite the very layout it is reading
    require(srcPath != dstPath,
      "compact rewrites the layout: dstPath must differ from srcPath")
    Sidecars.reset(spark, dstPath)
    dropTombstones(CorpusStore.load(spark, srcPath), srcPath, idCol)
      .repartition(col("__cluster"))
      .write.partitionBy("__cluster")
      .option("maxRecordsPerFile", recordsPerFile)
      .mode("overwrite").parquet(dstPath)
    Sidecars.carry(spark, srcPath, dstPath)
  }

  /** Search a materialized IVF index: probes are ranked driver-side
    * ([[probeIds]]) from the query vector read back once
    * ([[Search.queryVector]]), and tombstoned ids never rank. A small
    * index is answered from the driver-resident serving snapshot
    * ([[graft.store.ServingSnapshot]]; `spark.sql.autoBroadcastJoinThreshold`
    * bounds it, -1 turns it off), scanning only the probed clusters'
    * blocks. A larger one plans ONE job: the probes are a LITERAL `IN`
    * filter on the partition column, so pruning happens at PLAN time —
    * the scan's PartitionFilters skip non-probed directories before any
    * file is opened (asserted via scan metrics in AnnSpec). Both paths
    * return the same rows, sims and schema (index columns without
    * `__cluster`, plus `sim`). */
  def ivfIndexTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                   query: DataFrame, cents: Seq[Seq[Double]], k: Int, nprobe: Int,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = Search.queryVector(query)
    val probes = probeIds(cents, q.getOrElse(Array.empty[Double]).toSeq, nprobe)
    val index = CorpusStore.load(spark, path)
    def scan = Search.knnScan(
      dropTombstones(index.filter(col("__cluster").isin(probes: _*)).drop("__cluster"),
        path, idCol),
      q.getOrElse(Array.empty[Double]), if (q.isEmpty) 0 else k, idCol, vecCol)
    q.flatMap { qv =>
      val probed: Any => Boolean = {
        case c: Int => probes.contains(c)
        case _ => false
      }
      Sidecars.readTombstones(spark, Sidecars.tombstones(path))
        .fold(Option(Set.empty[Long]))(ServingSnapshot.idSet)
        .flatMap(dead => ServingSnapshot.topK(index, qv, k, idCol, vecCol,
          keep = Some("__cluster" -> probed), dead = dead, dropCols = Set("__cluster")))
    }.getOrElse(scan)
  }

  /** Document-granular maxP retrieval over a materialized IVF index —
    * the long-document retrieval composition (score chunk vectors,
    * rank their PARENT documents by the best chunk; Dai & Callan
    * 2019's maxP) on the index instead of a full scan: the index is
    * built over chunk-level vectors CARRYING the parent key
    * (`docCol` — any extra column survives [[buildIvfIndex]]'s
    * partitioned write), the probe prunes to the query-nearest
    * clusters at plan time, EVERY surviving probed row is scored (no
    * pre-aggregation truncation — a top-k cut before the per-doc max
    * could drop a document's best chunk), the per-doc max is an
    * algebraic aggregate (map-side combined), and the doc ranking is
    * a bounded TakeOrdered. Approximation boundary = the probe's,
    * exactly like [[ivfIndexTopK]]: a document whose best chunk lives
    * outside the probed clusters is missed, the standard IVF trade.
    * Returns `(docCol, maxp)`, `maxp DESC, doc ASC`. */
  def ivfIndexMaxPTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                       query: DataFrame, cents: Seq[Seq[Double]],
                       k: Int, nprobe: Int, docCol: String,
                       idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val probes = probeIds(cents, Search.probeVector(query), nprobe)
    probedRows(spark, path, probes, idCol).drop("__cluster")
      .crossJoin(broadcast(query))
      .select(col(docCol), VectorOps.cosine6(col(vecCol), col("qvec")).as("sim"))
      .groupBy(col(docCol)).agg(max(col("sim")).as("maxp"))
      .orderBy(col("maxp").desc, col(docCol).asc)
      .limit(k)
  }

  /** FILTERED index probe — the production shape "top-k WHERE
    * lang = 'en'" composed with the IVF index. The predicate is applied
    * INSIDE the probed partitions (pushed below the exact top-k, next
    * to the pruned scan, so non-probed directories still never open and
    * non-matching rows never reach the ranking), with an exact-count
    * fallback: a selective predicate can leave fewer than `k` matches
    * inside the probed clusters — the probe checks (one bounded driver
    * count on the PRUNED scan, `limit(k).count()` so it stops at k) and
    * widens to the full index when short. The fallback is the
    * exact-filtered answer at full filtered-scan cost — the documented
    * trade; production over-fetch (raising nprobe stepwise) sits
    * between the two and composes by calling this with a larger
    * `nprobe`. Guarantee: returns min(k, matching survivors) rows —
    * never silently fewer because of cluster pruning. */
  def ivfIndexTopKFiltered(spark: org.apache.spark.sql.SparkSession, path: String,
                           query: DataFrame, cents: Seq[Seq[Double]],
                           predicate: Column, k: Int, nprobe: Int,
                           idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val probes = probeIds(cents, Search.probeVector(query), nprobe)
    Search.knn(probeCandidates(spark, path, probes, Some(predicate), k, idCol),
      query, k, idCol, vecCol)
  }

  /** The surviving rows of the `probes` clusters of the IVF-layout
    * store at `path`, `__cluster` kept: a literal `IN` on the partition
    * column, so non-probed directories never open. */
  private[search] def probedRows(spark: org.apache.spark.sql.SparkSession, path: String,
                                 probes: Seq[Int], idCol: String): DataFrame =
    dropTombstones(CorpusStore.load(spark, path).filter(col("__cluster").isin(probes: _*)),
      path, idCol)

  /** The candidates of a single probe of the IVF-layout store at
    * `path`: [[probedRows]] without `__cluster`. With a predicate, only
    * the matching rows, and when the probed clusters hold fewer than
    * `k` of them (one bounded `limit(k).count()` on the pruned scan)
    * the matching survivors of every cluster. */
  private[search] def probeCandidates(spark: org.apache.spark.sql.SparkSession, path: String,
                                      probes: Seq[Int], predicate: Option[Column], k: Int,
                                      idCol: String): DataFrame = {
    def matching(df: DataFrame): DataFrame = predicate.fold(df)(df.filter).drop("__cluster")
    val probed = matching(probedRows(spark, path, probes, idCol))
    if (predicate.exists(_ => probed.limit(k).count() < k))
      matching(dropTombstones(CorpusStore.load(spark, path), path, idCol))
    else probed
  }

  /** The `(qid, row)` candidates of a batch probe of the IVF-layout
    * store at `path`: each query's probed surviving rows
    * ([[batchProbes]]), `__cluster` dropped. With a predicate, only the
    * matching rows, and every qid with fewer than `k` of them re-takes
    * its candidates from the matching survivors of every cluster. The
    * per-qid counts are one bounded aggregate (Q rows of driver state);
    * a qid with no match is absent from them, and the left join keeps
    * it in the fallback set. */
  private[search] def batchCandidates(spark: org.apache.spark.sql.SparkSession, path: String,
                                      queries: DataFrame, cents: Seq[Seq[Double]], nprobe: Int,
                                      predicate: Option[Column], k: Int,
                                      idCol: String): DataFrame = {
    val (probes, probed) = batchProbes(queries, cents, nprobe)
    def matching(df: DataFrame): DataFrame = predicate.fold(df)(df.filter)
    val cands = matching(probedRows(spark, path, probed, idCol))
      .join(broadcast(probes), Seq("__cluster")).drop("__cluster")
    val short = if (predicate.isEmpty) Seq.empty else
      queries.select(col("qid"))
        .join(cands.groupBy(col("qid")).agg(count(lit(1)).as("__n")), Seq("qid"), "left")
        .filter(coalesce(col("__n"), lit(0L)) < k)
        .select(col("qid")).collect().map(_.get(0)).toSeq
    if (short.isEmpty) cands
    else cands.filter(!col("qid").isin(short: _*))
      .unionByName(matching(dropTombstones(CorpusStore.load(spark, path), path, idCol))
        .drop("__cluster")
        .crossJoin(broadcast(queries.filter(col("qid").isin(short: _*)).select(col("qid")))))
  }

  /** BATCH filtered probe of a materialized IVF index — the
    * query-table form of [[ivfIndexTopKFiltered]] on the
    * [[Pq.ivfPqTopKBatch]] pattern: per-query probe selection as a
    * (queries × broadcast centroids) join + per-qid window, the union
    * of probed clusters a plan-time literal IN (file skipping
    * unchanged), the predicate inside the probed partitions, and NO
    * per-query driver loop. The per-query exact-count fallback is one
    * bounded aggregate (matching-candidate counts per qid — Q rows of
    * driver state); short qids re-candidate against the full, still
    * filtered, index via a broadcast of just those qids. Guarantee per
    * qid: min(k, matching survivors) rows. Returns (qid, id, sim). */
  def ivfIndexTopKFilteredBatch(spark: org.apache.spark.sql.SparkSession, path: String,
                                queries: DataFrame, cents: Seq[Seq[Double]],
                                predicate: Column, k: Int, nprobe: Int,
                                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    batchExactTop(batchCandidates(spark, path, queries, cents, nprobe, Some(predicate), k, idCol),
      queries, k, idCol, vecCol)

  /** Record an index's model state next to its data: the centroid
    * table at `<path>.model/` and the current mean assignment
    * similarity at `<path>.stats/` — the drift BASELINE. Call right
    * after [[buildIvfIndex]] (and after a retrain): appends then move
    * the data distribution while the centroids stand still, and
    * [[assignmentDrift]] measures how far. */
  def recordIvfModel(spark: org.apache.spark.sql.SparkSession, path: String,
                     cents: Seq[Seq[Double]],
                     idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    recordModel(spark, path, cents)(meanAssignSim(
      dropTombstones(CorpusStore.load(spark, path), path, idCol),
      centroidFrame(spark, cents), vecCol))

  /** Write the centroid table to `<path>.model/`, then the baseline
    * `mean` to `<path>.stats/`. The model MUST land before the stats
    * (the crash-ordering contract [[graft.store.Sidecars.carry]]'s
    * independent guards rely on), but the baseline scan runs against
    * the caller-held centroids, never the sidecar, so it overlaps the
    * model write. */
  private[search] def recordModel(spark: org.apache.spark.sql.SparkSession, path: String,
                                  cents: Seq[Seq[Double]])(mean: => Double): Unit = {
    import spark.implicits._
    val (_, m) = graft.io.Par.join2(
      centroidFrame(spark, cents)
        .coalesce(1) // model state: k × dim doubles, one file
        .write.mode("overwrite").parquet(Sidecars.model(path)),
      mean)
    Seq(m).toDF("mean_sim")
      .coalesce(1).write.mode("overwrite").parquet(Sidecars.stats(path))
  }

  /** Mean cosine between each row of `rows` and its ASSIGNED centroid
    * in `model` (both keyed by `__cluster`) — since assignment is the
    * cosine argmax, this is the per-row MAX centroid similarity
    * averaged over the rows: one scan joined to the broadcast k-row
    * model. */
  private[search] def meanAssignSim(rows: DataFrame, model: DataFrame, vecCol: String): Double =
    rows.join(broadcast(model), Seq("__cluster"))
      .agg(avg(VectorOps.cosine(col(vecCol), col("centroid"))).as("m"))
      .head().getDouble(0)

  /** Tombstone-debt health report of a materialized IVF(-layout)
    * index: RAW stored rows (build + appends — deletes not
    * subtracted, exactly the I/O a compact/retrain rewrite must read)
    * and distinct tombstoned ids. One row `(n_rows, n_tombstones)`.
    * Works on any store honoring the `<path>.tombstones` sidecar
    * contract — the codes side of an IVF-PQ or SQ8 store
    * ([[CodedIvf.codes]]) reads through here. (No id-column parameter:
    * both counts are column-name-free — a silent no-op parameter was
    * round-16 advice item 4.) */
  def ivfIndexHealth(spark: org.apache.spark.sql.SparkSession,
                     path: String): DataFrame = {
    import spark.implicits._
    // two independent eager counts — overlap (graft.io.Par)
    val (nRows, nTombs) = graft.io.Par.join2(
      CorpusStore.load(spark, path).count(),
      tombstoneIds(spark, path).map(_.count()).getOrElse(0L))
    Seq((nRows, nTombs)).toDF("n_rows", "n_tombstones")
  }

  /** Assignment-quality drift of a maintained index vs its recorded
    * build-time baseline — the "is it time to retrain?" scalar the
    * append path otherwise hides: [[appendToIvfIndex]] assigns deltas
    * against the ORIGINAL centroids forever, so under distribution
    * drift the mean row↔assigned-centroid similarity decays while
    * probes silently lose recall. One row `(build_mean_sim,
    * current_mean_sim, drift)` (round-6, the float-determinism
    * contract); drift > 0 means the current contents sit farther from
    * their centroids than the build corpus did — schedule
    * [[retrainIvfIndex]] when it crosses the deployment's threshold. */
  def assignmentDrift(spark: org.apache.spark.sql.SparkSession, path: String,
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    drift(spark, path)(meanAssignSim(
      dropTombstones(CorpusStore.load(spark, path), path, idCol),
      CorpusStore.load(spark, Sidecars.model(path)), vecCol))

  /** The drift row of the store at `path`: its recorded baseline
    * (`<path>.stats`), the `current` mean assigned-centroid similarity,
    * and baseline − current, all round-6 (HALF_UP like the SQL round()
    * both engines use, [[VectorOps.round6]]). The two reads are
    * independent, so they overlap. */
  private[search] def drift(spark: org.apache.spark.sql.SparkSession, path: String)
                           (current: => Double): DataFrame = {
    import spark.implicits._
    def r6(x: Double): Double = VectorOps.round6(x)
    val (b6, c6) = graft.io.Par.join2(
      r6(CorpusStore.load(spark, Sidecars.stats(path)).head().getDouble(0)),
      r6(current))
    Seq((b6, c6, r6(b6 - c6)))
      .toDF("build_mean_sim", "current_mean_sim", "drift")
  }

  /** Re-train an appended/deleted index from its CURRENT contents and
    * rewrite it at `dstPath` — the missing end of the maintenance
    * lifecycle (build → append/delete → drift → RETRAIN): fresh Lloyd
    * over the surviving rows (deterministic init = the k lowest-id
    * rows, like [[kmeansCentroids]] everywhere), fresh partition
    * layout, fresh model/stats baseline. Retrained ≡ a from-scratch
    * [[buildIvfIndex]] on the same surviving rows, row-for-row
    * (spec-pinned in AnnSpec) — because the retrain reads exactly the
    * survivors and the trainer is deterministic. `dstPath` must differ
    * from `srcPath` (immutable-layout rewrite, the [[compactIvfIndex]]
    * convention — no read-overwrite races); returns the new centroids
    * for subsequent probes. */
  def retrainIvfIndex(spark: org.apache.spark.sql.SparkSession, srcPath: String,
                      dstPath: String, k: Int, iters: Int,
                      idCol: String = "vec_id", vecCol: String = "embedding"): Seq[Seq[Double]] = {
    require(srcPath != dstPath, "retrain rewrites the layout: dstPath must differ from srcPath")
    val contents = dropTombstones(CorpusStore.load(spark, srcPath), srcPath, idCol)
      .drop("__cluster")
    val cents = kmeansCentroids(contents, idCol, vecCol, k, iters)
    buildIvfIndex(contents, cents, dstPath, vecCol)
    recordIvfModel(spark, dstPath, cents, idCol, vecCol)
    cents
  }

  /** Record per-cluster RANGE-pruning stats for a materialized IVF
    * index at `<path>.rstats`: the mean of the cluster's L2-NORMALIZED
    * vectors (`mu`) and the max Euclidean distance of those normalized
    * vectors to it (`radius`). For unit vectors q̂, x̂ Cauchy–Schwarz
    * gives `cos(q, x) = q̂·x̂ ≤ q̂·mu + ‖x̂ − mu‖ ≤ q̂·mu + radius`, so
    * a whole cluster is provably below a similarity threshold when its
    * bound is — EXACT pruning, unlike the top-k probe's best-effort
    * nprobe. Stats describe the index CONTENTS AT RECORD TIME, so a
    * build or an append deletes them ([[graft.store.Sidecars]]) and a
    * range probe fails until they are recorded again. Tombstoned rows
    * are excluded for tightness. */
  def recordRangeStats(spark: org.apache.spark.sql.SparkSession, path: String,
                       idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val normed = dropTombstones(CorpusStore.load(spark, path), path, idCol)
      .select(col("__cluster"), graft.functions.L2Normalize(col(vecCol)).as("__nv"))
    val mu = normed.groupBy(col("__cluster"))
      .agg(graft.functions.VectorAvg(col("__nv")).as("mu"))
    // exact element-wise ‖x̂ − mu‖ (no a²−2ab+b² cancellation); one
    // scan joined to the broadcast k-row centroid table — the fused
    // √Σ(x−y)² kernel (same ops, same order as the composed fold)
    val dist = graft.functions.EuclideanDistance(col("__nv"), col("mu"))
    normed.join(broadcast(mu), Seq("__cluster"))
      .select(col("__cluster"), col("mu"), dist.as("__d"))
      .groupBy(col("__cluster"))
      .agg(first(col("mu")).as("mu"), max(col("__d")).as("radius"))
      .coalesce(1) // model state: k rows
      .write.mode("overwrite").parquet(Sidecars.rstats(path))
  }

  /** Clusters a range query at threshold `tau` must scan: those whose
    * recorded upper bound `q̂·mu + radius` (+1e-6 margin, covering the
    * round-6 result rounding and driver float error) reaches `tau`.
    * Driver-side over the k-row stats table — model state, like
    * [[probeIds]]. */
  def rangeProbeClusters(spark: org.apache.spark.sql.SparkSession, path: String,
                         qvec: Seq[Double], tau: Double): Seq[Int] = {
    val qn = math.sqrt(qvec.map(x => x * x).sum)
    val qhat = if (qn == 0.0) qvec.map(_ => 0.0) else qvec.map(_ / qn)
    CorpusStore.load(spark, Sidecars.rstats(path)).collect().toSeq
      .map { r =>
        val cluster = r.getInt(r.fieldIndex("__cluster"))
        val mu = r.getSeq[Double](r.fieldIndex("mu"))
        val radius = r.getDouble(r.fieldIndex("radius"))
        val dot = qhat.zip(mu).map { case (a, b) => a * b }.sum
        (cluster, dot + radius + 1e-6)
      }
      .filter(_._2 >= tau).map(_._1).sorted
  }

  /** EXACT range search over a materialized IVF index: every vector
    * with round-6 cosine ≥ `tau`, scanning only the clusters whose
    * recorded bound ([[recordRangeStats]]) can reach `tau` — partition
    * pruning like [[ivfIndexTopK]], but LOSSLESS: the bound is a
    * per-cluster certificate, so range ≡ brute-force filter on any
    * data (spec-pinned). How much prunes is the data's clusteredness:
    * tight clusters (the 100 TB case IVF presumes) skip most files; on
    * uniform-random vectors the bounds stay near 1 + radius and
    * nothing prunes — correctness is unconditional, speed is not. */
  def ivfRangeSearch(spark: org.apache.spark.sql.SparkSession, path: String,
                     query: DataFrame, tau: Double,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val qvec = Search.probeVector(query)
    val probes = rangeProbeClusters(spark, path, qvec, tau)
    probedRows(spark, path, probes, idCol).drop("__cluster")
      .crossJoin(broadcast(query))
      .select(col(idCol),
        round(VectorOps.cosine(col(vecCol), col("qvec")), 6).as("sim"))
      .filter(col("sim") >= tau)
  }

  /** Embedding OUTLIERS — the k vectors farthest from their own
    * cluster centroid (lowest cosine to the assigned centroid, ties to
    * the lower id). The embedding-space noise gate of a curation
    * pipeline: mislabeled scrapes, garbled decodes, and
    * off-distribution content land far from every centroid, and
    * "far from the NEAREST one" is the assignment-consistent distance
    * the IVF machinery already computes. The same scalar underlies
    * [[assignmentDrift]] — this is its per-row form, surfaced worst-
    * first instead of averaged.
    *
    * Scale shape: one native argmax assignment per row (no join, the
    * [[assignCluster]] expression), one broadcast join against the
    * k-row centroid table for the score, and a TakeOrdered for the
    * bottom-k — no shuffle wider than the k-row merge. */
  def centroidOutliers(df: DataFrame, cents: Seq[Seq[Double]], k: Int,
                       idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    df.withColumn("__cluster", assignCluster(col(vecCol), cents))
      .join(broadcast(centroidFrame(df.sparkSession, cents)), Seq("__cluster"))
      .select(col(idCol), col("__cluster").cast("long").as("cluster"),
        VectorOps.cosine6(col(vecCol), col("centroid")).as("sim"))
      .orderBy(col("sim").asc, col(idCol).asc)
      .limit(k)
  }

  /** BATCH range search over a materialized IVF index — the
    * query-table form of [[ivfRangeSearch]], completing the batch
    * story for the certificate path: per-(qid, cluster) bounds
    * `q̂·mu + radius ≥ tau` compute DISTRIBUTED as a
    * (queries × broadcast k-row stats) join — no per-query driver
    * loop; the union of surviving clusters (≤ k ids, driver-bounded)
    * becomes the plan-time partition IN like every index probe, and
    * the per-qid probe table joins candidates so a cluster certified
    * out for one query still never reaches that query's filter.
    * LOSSLESS per qid, exactly like the single-query form (the same
    * +1e-6 certificate margin). Returns `(qid, id, sim)` rows with
    * round-6 `sim ≥ tau`. */
  def ivfRangeSearchBatch(spark: org.apache.spark.sql.SparkSession, path: String,
                          queries: DataFrame, tau: Double,
                          idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val stats = CorpusStore.load(spark, Sidecars.rstats(path))
    val qn = queries.select(col("qid"), col("qvec"),
      graft.functions.L2Normalize(col("qvec")).as("__qhat"))
    val probes = qn.crossJoin(broadcast(stats))
      .filter(VectorOps.dot(col("__qhat"), col("mu")) + col("radius") + lit(1e-6)
        >= tau)
      .select(col("qid"), col("__cluster"))
    val probed = probes.select(col("__cluster")).distinct()
      .collect().map(_.getInt(0)).toSeq
    probedRows(spark, path, probed, idCol)
      .join(broadcast(probes), Seq("__cluster")).drop("__cluster")
      .join(broadcast(queries), Seq("qid"))
      .select(col("qid"), col(idCol),
        round(VectorOps.cosine(col(vecCol), col("qvec")), 6).as("sim"))
      .filter(col("sim") >= tau)
  }

  /** Shuffle-partition count for a bucket-keyed partitioned WRITE with
    * `buckets` ≫ `spark.sql.shuffle.partitions`: hash-repartitioning
    * by the bucket column alone caps non-empty partitions at the
    * bucket count, and when several buckets land in one task the
    * dynamic-partition writer falls back to its SORT-based path — one
    * serially-opened-and-closed file per directory per task, which is
    * what made a 256-bucket LSH write ~2× slower than the same rows
    * through one-bucket-per-task (measured: 5.4 s vs 2.5 s at sf0.1,
    * PLANS.md round-17). One partition per bucket keeps every task on
    * the single-writer fast path; the 1024 cap bounds empty-task
    * scheduling overhead for very wide bucket spaces, and the
    * shuffle-partitions floor never REDUCES parallelism below the
    * session's setting. */
  private def bucketWriteParts(spark: org.apache.spark.sql.SparkSession,
                               buckets: Long): Int =
    math.max(spark.conf.get("spark.sql.shuffle.partitions", "200").toInt,
      math.min(buckets, 1024L).toInt)

  /** Write-task count for the LSH bucket space — `2^nbits` clamped
    * BEFORE the shift (round-17 advice: `1L << 63` wraps negative and
    * would feed a degenerate partition count into repartition).
    * [[bucketWriteParts]] caps at 1024 anyway, so any nbits ≥ 10
    * saturates there. */
  private def lshWriteParts(spark: org.apache.spark.sql.SparkSession,
                            nbits: Int): Int =
    bucketWriteParts(spark, if (nbits >= 10) 1024L else 1L << nbits)

  /** Deterministic seeded hyperplanes (unit-free; only the sign of the
    * projection matters). */
  def planes(dim: Int, nbits: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nbits)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-bit LSH bucket id of a vector column. */
  def lshBucket(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(VectorOps.dot(vec, typedlit(p)) > 0, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)

  /** LSH search: exact rerank inside the query's bucket and all
    * Hamming-1 neighbour buckets (multi-probe — recovers most recall
    * lost to boundary vectors at a (nbits+1)/2^nbits scan fraction). */
  def lshTopK(corpus: DataFrame, query: DataFrame, k: Int,
              planes: Seq[Seq[Double]],
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val nbits = planes.size
    val bucketed = corpus.withColumn("bucket", lshBucket(col(vecCol), planes))
    val qb = query.withColumn("qbucket", lshBucket(col("qvec"), planes))
    val probeBuckets = qb.select(
      explode(array(lit(0) +: (0 until nbits).map(i => lit(1 << i)): _*)).as("flip"),
      col("qbucket"))
      .select((col("qbucket").bitwiseXOR(col("flip"))).as("bucket"))
    val candidates = bucketed.join(broadcast(probeBuckets), Seq("bucket"), "left_semi")
    Search.knn(candidates.drop("bucket"), query, k, idCol, vecCol)
  }

  /** Query-DIRECTED multi-probe LSH (Lv et al. 2007): instead of
    * [[lshTopK]]'s blanket Hamming-1 ring (nbits+1 probes), flip only
    * the `t` bits whose hyperplane MARGIN |q·p_i| is smallest — the
    * boundaries the query actually sits near, where its true
    * neighbours fall on the other side. Recall concentrates in those
    * low-margin flips, so t ≪ nbits probes buy most of the ring's
    * recall at a fraction of its candidate scan. Margins round to 6
    * (bit-index ties ascending) so the probe SET replays exactly
    * cross-engine; probe selection is per-query driver-free column
    * arithmetic over the plane literals. */
  /** Materialize the LSH-bucketed corpus as an INDEX — the missing
    * sibling of [[buildIvfIndex]]: rows land in `partitionBy(__bucket)`
    * directories keyed by the sign-bit bucket of the FROZEN seeded
    * planes, so a probe prunes to the query's multi-probe ring at
    * PLAN time (driver-literal IN over ≤ nbits+1 buckets — file-level
    * skipping, the same contract every other index here honors).
    * The model is the plane set: seeded literals, no training, which
    * is LSH's whole appeal — append needs no retrain ever, only the
    * same frozen planes. */
  def buildLshIndex(corpus: DataFrame, planes: Seq[Seq[Double]], path: String,
                    vecCol: String = "embedding"): Unit = {
    Sidecars.reset(corpus.sparkSession, path)
    corpus.withColumn("__bucket", lshBucket(col(vecCol), planes))
      .repartition(lshWriteParts(corpus.sparkSession, planes.size),
        col("__bucket"))
      .write.partitionBy("__bucket").mode("overwrite").parquet(path)
  }

  /** Incremental append against the frozen planes — bucket assignment
    * is stateless, so append-then-probe ≡ rebuild-then-probe exactly
    * (no drift to watch, unlike the centroid indexes; pinned in
    * AnnSpec). One file per bucket per batch; compact with
    * [[graft.store.CorpusStore.compact]] on hot buckets. */
  def appendToLshIndex(delta: DataFrame, planes: Seq[Seq[Double]], path: String,
                       vecCol: String = "embedding"): Unit =
    delta.withColumn("__bucket", lshBucket(col(vecCol), planes))
      .repartition(lshWriteParts(delta.sparkSession, planes.size),
        col("__bucket"))
      .write.partitionBy("__bucket").mode("append").parquet(path)

  /** Probe the materialized LSH index: the query's bucket + its full
    * Hamming-1 ring as driver LITERALS (the probe math replays the
    * codegen dot's ascending accumulation, so driver and executor
    * agree on every sign), applied as a partition filter — only the
    * probed buckets' files open. Exact rerank inside the candidates;
    * tombstoned ids drop before ranking (the shared logical-delete
    * contract). */
  def lshIndexTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                   query: DataFrame, planes: Seq[Seq[Double]], k: Int,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val qv = Search.probeVector(query)
    def dotLocal(p: Seq[Double]): Double = {
      // ascending index fold — bit-identical to the DotProduct loop
      var s = 0.0; var i = 0
      while (i < math.min(p.size, qv.size)) { s += qv(i) * p(i); i += 1 }
      s
    }
    val qbucket = planes.zipWithIndex
      .map { case (p, i) => if (dotLocal(p) > 0) 1 << i else 0 }.sum
    val probes = qbucket +: planes.indices.map(i => qbucket ^ (1 << i))
    Search.knn(
      dropTombstones(
        CorpusStore.load(spark, path)
          .filter(col("__bucket").isin(probes: _*)), path, idCol)
        .drop("__bucket"),
      query, k, idCol, vecCol)
  }

  /** Tombstone-delete from the LSH index — the same sidecar contract
    * as [[deleteFromIvfIndex]] (logical append to `<path>.tombstones`,
    * probes anti-join, [[compactLshIndex]] applies physically;
    * idempotent on unknown ids). */
  def deleteFromLshIndex(ids: DataFrame, path: String,
                         idCol: String = "vec_id"): Unit =
    deleteFromIvfIndex(ids, path, idCol)

  /** Health report of a materialized LSH index — the maintenance
    * surface of the one index family with NO drift signal to watch:
    * the planes are frozen seeded literals with no trained state, so
    * bucket assignment can never decay the way centroid assignment
    * does ([[assignmentDrift]]) — LSH accumulates only MECHANICAL
    * debt: logical deletes awaiting [[compactLshIndex]] and the
    * one-file-per-bucket-per-append small-files tax. One row
    * `(n_rows, n_tombstones, n_buckets, n_files)`: raw stored rows
    * (build + appends — deletes not subtracted, exactly the debt
    * compaction clears), distinct tombstoned ids, live bucket
    * directories, and parquet data files (driver metadata listing,
    * the cost every probe's planning already pays). */
  def lshIndexHealth(spark: org.apache.spark.sql.SparkSession,
                     path: String): DataFrame = {
    import spark.implicits._
    // three independent eager reads + a driver listing — overlap
    val (nRows, nTombs, nFiles) = graft.io.Par.join3(
      CorpusStore.load(spark, path).count(),
      tombstoneIds(spark, path).map(_.count()).getOrElse(0L),
      graft.io.Fs.countDataFiles(spark, path))
    val nBuckets = graft.io.Fs.listDirNames(spark, path)
      .count(_.startsWith("__bucket=")).toLong
    Seq((nRows, nTombs, nBuckets, nFiles))
      .toDF("n_rows", "n_tombstones", "n_buckets", "n_files")
  }

  /** Compact an appended/deleted LSH index into a fresh layout:
    * tombstones applied, one bounded file set per bucket — the
    * [[compactIvfIndex]] shape on the plane buckets (assignment is
    * frozen, so compact never re-buckets). */
  def compactLshIndex(spark: org.apache.spark.sql.SparkSession,
                      srcPath: String, dstPath: String,
                      recordsPerFile: Long = 1L << 20,
                      idCol: String = "vec_id"): Unit = {
    require(srcPath != dstPath,
      "compact rewrites the layout: dstPath must differ from srcPath")
    Sidecars.reset(spark, dstPath)
    // bucket fan from the source layout (driver metadata listing —
    // the planes aren't a parameter here)
    val nBuckets = graft.io.Fs.listDirNames(spark, srcPath)
      .count(_.startsWith("__bucket=")).toLong
    dropTombstones(CorpusStore.load(spark, srcPath), srcPath, idCol)
      .repartition(bucketWriteParts(spark, math.max(1L, nBuckets)),
        col("__bucket"))
      .write.partitionBy("__bucket")
      .option("maxRecordsPerFile", recordsPerFile)
      .mode("overwrite").parquet(dstPath)
  }

  def lshTopKDirected(corpus: DataFrame, query: DataFrame, k: Int,
                      planes: Seq[Seq[Double]], t: Int,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    val nbits = planes.size
    require(t >= 0 && t <= nbits, s"t must be in [0, $nbits]")
    val bucketed = corpus.withColumn("bucket", lshBucket(col(vecCol), planes))
    val margins = array(planes.zipWithIndex.map { case (p, i) =>
      struct(round(abs(VectorOps.dot(col("qvec"), typedlit(p))), 6).as("m"),
        lit(1 << i).as("b"))
    }: _*)
    val qb = query.withColumn("qbucket", lshBucket(col("qvec"), planes))
      .withColumn("__flips",
        transform(slice(sort_array(margins), 1, t), f => f("b")))
    val probeBuckets = qb.select(col("qbucket"),
        explode(concat(array(lit(0)), col("__flips"))).as("flip"))
      .select((col("qbucket").bitwiseXOR(col("flip"))).as("bucket"))
      .distinct()
    val candidates = bucketed.join(broadcast(probeBuckets), Seq("bucket"), "left_semi")
    Search.knn(candidates.drop("bucket"), query, k, idCol, vecCol)
  }
}
