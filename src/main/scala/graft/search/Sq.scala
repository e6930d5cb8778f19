package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.store.Sidecars
import graft.vector.VectorOps

/** SQ8 (int8 scalar-quantized) materialized IVF index — the middle
  * rung of the compression ladder the engine already spans (float →
  * int8 → PQ → binary): 4× smaller scans than the float corpus at far
  * higher fidelity than PQ's 8-bytes-per-vector, which makes it the
  * standard first index choice when RAM allows (FAISS's `IVFx,SQ8`).
  *
  * Layout mirrors [[Pq.buildIvfPqIndex]]: a `codes/` side partitioned
  * by the coarse cluster (probe filters are plan-time partition
  * pruning — non-probed directories never open) holding
  * `array<tinyint>` codes, and a `vectors/` side keyed by id that
  * ONLY the exact-rerank shortlist touches. Scoring needs no
  * dequantization: the per-vector scale cancels in cosine, and
  * quantized integer dot products (≤ d·127² ≪ 2⁵³) are exact in
  * double — both engines rank identically with no rounding exposure
  * (the `knn_int8_recall` contract, indexed).
  *
  * Maintenance is at full parity with the IVF ([[Ann]]) and IVF-PQ
  * ([[Pq]]) siblings: [[appendToIvfSqIndex]] assigns against the
  * frozen centroids and quantizes with the (parameterless — per-row
  * max-abs scaling) SQ8 scheme, [[deleteFromIvfSqIndex]] tombstones
  * ids on the codes side, [[compactIvfSqIndex]] applies tombstones
  * physically to BOTH sides, [[retrainIvfSqIndex]] re-learns the
  * coarse centroids from the survivors, and
  * [[graft.store.Snapshots.syncIvfSqIndex]] drives the whole
  * lifecycle from a snapshot diff. A fresh build resets the store's
  * sidecars the way every fresh build does ([[graft.store.Sidecars]]).
  */
object Sq {

  /** Materialize the SQ8-IVF index at `path`: quantized codes
    * partitioned by nearest coarse centroid + the float vectors for
    * exact rerank. */
  def buildIvfSqIndex(corpus: DataFrame, cents: Seq[Seq[Double]], path: String,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): Unit = {
    Sidecars.reset(corpus.sparkSession, path)
    Sidecars.reset(corpus.sparkSession, s"$path/codes")
    // the two sides are independent writes — run them as concurrent
    // jobs (graft.io.Par: the build's cost at small scale is job
    // scheduling, not data)
    graft.io.Par.unit(
      () => corpus
        .withColumn("__cluster", Ann.assignCluster(col(vecCol), cents))
        .select(col(idCol), col("__cluster"),
          VectorOps.quantizeInt8(col(vecCol)).as("codes"))
        .repartition(col("__cluster"))
        .write.partitionBy("__cluster").mode("overwrite")
        .parquet(s"$path/codes"),
      () => corpus.select(col(idCol), col(vecCol))
        .repartitionByRange(col(idCol)).sortWithinPartitions(col(idCol))
        .write.mode("overwrite").parquet(s"$path/vectors"))
  }

  /** Probe the SQ8-IVF index: plan-time partition pruning to the
    * `nprobe` query-nearest clusters (driver-ranked like
    * [[Ann.ivfIndexTopK]]), approximate cosine over the int8 codes
    * against the int8-quantized QUERY (symmetric quantization — one
    * broadcast 1-row frame), a `shortlist`-sized TakeOrdered over
    * code scores, then exact float rerank over ONLY the shortlist
    * (id-keyed semi-join into `vectors/`). Returns `(id, sim)` with
    * the exact round-6 cosine, `(sim DESC, id ASC)`. */
  def ivfSqIndexTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                     query: DataFrame, cents: Seq[Seq[Double]],
                     k: Int, shortlist: Int, nprobe: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must cover k ($k)")
    val qvec = Search.probeVector(query)
    val probes = Ann.probeIds(cents, qvec, nprobe)
    val qq = query.select(
      transform(VectorOps.quantizeInt8(col("qvec")), _.cast("double"))
        .as("__qq"))
    val short = Ann.dropTombstones(
        spark.read.parquet(s"$path/codes")
          .filter(col("__cluster").isin(probes: _*)),
        s"$path/codes", idCol)
      .crossJoin(broadcast(qq))
      .select(col(idCol),
        VectorOps.cosine6(transform(col("codes"), _.cast("double")),
          col("__qq")).as("__asim"))
      .orderBy(col("__asim").desc, col(idCol).asc)
      .limit(shortlist)
    Search.knn(
      spark.read.parquet(s"$path/vectors")
        .join(short.select(col(idCol)), Seq(idCol), "left_semi"),
      query, k, idCol, vecCol)
  }

  /** The symmetric approximate score both the single and batch probes
    * rank the shortlist by: cosine between the stored int8 codes and
    * the int8-quantized query, widened to double (exact — ≤ d·127²
    * ≪ 2⁵³; the per-vector scale cancels in cosine). */
  private def sqSim(codes: Column, qvec: Column): Column =
    VectorOps.cosine6(transform(codes, _.cast("double")),
      transform(VectorOps.quantizeInt8(qvec), _.cast("double")))

  /** Incrementally add vectors to a materialized SQ8-IVF index — the
    * [[Ann.appendToIvfIndex]] / [[Pq.appendToIvfPqIndex]] contract on
    * the SQ rung: delta rows are assigned against the EXISTING
    * centroids (no retrain — assignment drifts until the next
    * rebuild; SQ8 quantization itself is parameterless per-row
    * max-abs scaling, so unlike PQ codebooks it never staleness-
    * drifts) and appended into the same `partitionBy(__cluster)`
    * codes layout plus the id-sorted vectors side. Repeated appends
    * leave one file per batch per cluster — remedy with
    * [[compactIvfSqIndex]]. Append-then-probe ≡ rebuild-with-the-
    * same-centroids-then-probe (spec-pinned in SqSpec). */
  def appendToIvfSqIndex(delta: DataFrame, cents: Seq[Seq[Double]], path: String,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): Unit = {
    Sidecars.appended(delta.sparkSession, path)
    Sidecars.appended(delta.sparkSession, s"$path/codes")
    // independent sides → concurrent append jobs (the build's shape)
    graft.io.Par.unit(
      () => delta
        .withColumn("__cluster", Ann.assignCluster(col(vecCol), cents))
        .select(col(idCol), col("__cluster"),
          VectorOps.quantizeInt8(col(vecCol)).as("codes"))
        .repartition(col("__cluster")) // one file per cluster per append
        .write.partitionBy("__cluster").mode("append")
        .parquet(s"$path/codes"),
      () => delta.select(col(idCol), col(vecCol))
        .repartitionByRange(col(idCol)).sortWithinPartitions(col(idCol))
        .write.mode("append").parquet(s"$path/vectors"))
  }

  /** Tombstone-delete vectors from a materialized SQ8-IVF index —
    * [[Ann.deleteFromIvfIndex]]'s contract; the codes side owns the
    * delete state (deleted ids never enter the shortlist, so the
    * rerank never sees them). [[compactIvfSqIndex]] applies the
    * tombstones physically to both sides. */
  def deleteFromIvfSqIndex(ids: DataFrame, path: String,
                           idCol: String = "vec_id"): Unit =
    Ann.deleteFromIvfIndex(ids, s"$path/codes", idCol)

  /** Apply tombstones PHYSICALLY to both sides of a materialized
    * SQ8-IVF index in one rewrite at `dstPath` — the
    * [[Pq.compactIvfPqIndex]] contract: codes keep their partition
    * layout minus tombstoned rows; the vectors side anti-joins the
    * SAME codes-side tombstones during its id-ordered rewrite (not
    * optional when a delete precedes a re-append of the same id — the
    * rerank's id filter would match both vector rows and emit
    * duplicates). `dstPath` starts tombstone-free. */
  def compactIvfSqIndex(spark: org.apache.spark.sql.SparkSession,
                        srcPath: String, dstPath: String,
                        recordsPerFile: Long = 1L << 20,
                        idCol: String = "vec_id"): Unit = {
    require(srcPath != dstPath,
      "compact rewrites the layout: dstPath must differ from srcPath")
    // the codes side resets and carries inside compactIvfIndex
    Sidecars.reset(spark, dstPath)
    Ann.compactIvfIndex(spark, s"$srcPath/codes", s"$dstPath/codes",
      recordsPerFile, idCol)
    Ann.dropTombstones(spark.read.parquet(s"$srcPath/vectors"),
        s"$srcPath/codes", idCol)
      .repartitionByRange(col(idCol)).sortWithinPartitions(col(idCol))
      .write.option("maxRecordsPerFile", recordsPerFile)
      .mode("overwrite").parquet(s"$dstPath/vectors")
    Sidecars.carry(spark, srcPath, dstPath)
  }

  /** Re-train an appended/deleted SQ8-IVF index from its CURRENT
    * survivors and rewrite it at `dstPath` — [[Ann.retrainIvfIndex]]'s
    * contract on the SQ rung. Only the coarse centroids re-learn
    * (deterministic Lloyd, init = the k lowest-id rows); the SQ8
    * scheme has no trainable state. Survivors come from the vectors
    * side anti-joined against the codes-side tombstones; retrained ≡
    * a from-scratch [[buildIvfSqIndex]] on the same surviving rows,
    * probe-for-probe (spec-pinned in SqSpec). A fresh drift baseline
    * is recorded over the retrained contents ([[recordIvfSqModel]],
    * the retrainIvfIndex convention — a retrain that kept the old
    * baseline would report phantom drift forever). Returns the fresh
    * centroids for subsequent probes. */
  def retrainIvfSqIndex(spark: org.apache.spark.sql.SparkSession,
                        srcPath: String, dstPath: String, k: Int, iters: Int,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): Seq[Seq[Double]] = {
    require(srcPath != dstPath,
      "retrain rewrites the layout: dstPath must differ from srcPath")
    val survivors = Ann.dropTombstones(
      spark.read.parquet(s"$srcPath/vectors"), s"$srcPath/codes", idCol)
    val cents = Ann.kmeansCentroids(survivors, idCol, vecCol, k, iters)
    buildIvfSqIndex(survivors, cents, dstPath, idCol, vecCol)
    recordIvfSqModel(spark, dstPath, cents, idCol, vecCol)
    cents
  }

  /** Record the SQ8 index's coarse model state — [[Ann.recordIvfModel]]
    * on the SQ8 layout: the centroid table at `<path>.model/` and the
    * current mean assigned-centroid similarity at `<path>.stats/`, the
    * [[ivfSqDrift]] BASELINE. The mean is computed over the FLOAT
    * vectors side (codes are a storage form; assignment quality is a
    * property of the vectors the coarse layer routes), tombstones
    * excluded. Call right after [[buildIvfSqIndex]] and after a
    * retrain ([[retrainIvfSqIndex]] does it itself). */
  def recordIvfSqModel(spark: org.apache.spark.sql.SparkSession, path: String,
                       cents: Seq[Seq[Double]],
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): Unit = {
    import spark.implicits._
    // model MUST land before stats (the crash-ordering contract
    // Sidecars.carry's independent guards rely on), but the baseline
    // SCAN is independent of the model write — it runs against the
    // caller-held centroids, never the sidecar — so overlap them and
    // write stats last
    val (_, m) = graft.io.Par.join2(
      cents.zipWithIndex.map { case (c, i) => (i, c) }
        .toDF("__cluster", "centroid")
        .coalesce(1) // model state: k × dim doubles, one file
        .write.mode("overwrite").parquet(Sidecars.model(path)),
      meanAssignSimWith(spark, path, cents, idCol, vecCol))
    Seq(m).toDF("mean_sim")
      .coalesce(1).write.mode("overwrite").parquet(Sidecars.stats(path))
  }

  /** Mean cosine between each surviving vector and its ASSIGNED coarse
    * centroid — [[Ann]]'s drift scalar on the SQ8 layout. The vectors
    * side carries no cluster column, so assignment re-derives from the
    * recorded model via the native argmax (identical to the stored
    * codes-side assignment: same centroids, same deterministic
    * argmax); one scan + a broadcast k-row model join. */
  /** The recorded coarse centroids of an SQ8 index, cluster-ordered —
    * the `<path>.model` sidecar read back as the probe-ready literal
    * form ([[recordIvfSqModel]] wrote it). k×dim doubles of model
    * state, a driver read by construction. */
  def readIvfSqModel(spark: org.apache.spark.sql.SparkSession,
                     path: String): Seq[Seq[Double]] =
    spark.read.parquet(Sidecars.model(path)).orderBy(col("__cluster")).collect()
      .map(_.getSeq[Double](1).toSeq).toSeq

  private def meanAssignSim(spark: org.apache.spark.sql.SparkSession, path: String,
                            idCol: String, vecCol: String): Double =
    meanAssignSimWith(spark, path, readIvfSqModel(spark, path), idCol, vecCol)

  /** [[meanAssignSim]] against CALLER-HELD centroids — the form
    * [[recordIvfSqModel]] needs so the baseline scan never reads the
    * very model sidecar it is being recorded next to (same doubles
    * either way: parquet round-trips them exactly). */
  private def meanAssignSimWith(spark: org.apache.spark.sql.SparkSession,
                                path: String, cents: Seq[Seq[Double]],
                                idCol: String, vecCol: String): Double = {
    import spark.implicits._
    val model = cents.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("__cluster", "centroid")
    Ann.dropTombstones(spark.read.parquet(s"$path/vectors"),
        s"$path/codes", idCol)
      .withColumn("__cluster", Ann.assignCluster(col(vecCol), cents))
      .join(broadcast(model), Seq("__cluster"))
      .agg(avg(VectorOps.cosine(col(vecCol), col("centroid"))).as("m"))
      .head().getDouble(0)
  }

  /** Assignment-quality drift of a maintained SQ8 index vs its
    * recorded build-time baseline — [[Ann.assignmentDrift]]'s contract
    * on the SQ rung (appends assign against the frozen coarse
    * centroids forever; the SQ8 quantization itself is parameterless
    * and never drifts, so the COARSE layer is the only trained state
    * to watch). One row `(build_mean_sim, current_mean_sim, drift)`
    * at round-6; drift > 0 → schedule [[retrainIvfSqIndex]]. */
  def ivfSqDrift(spark: org.apache.spark.sql.SparkSession, path: String,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    import spark.implicits._
    def r6(x: Double): Double = VectorOps.round6(x)
    // baseline + current mean are independent eager reads — overlap
    val (b6, c6) = graft.io.Par.join2(
      r6(spark.read.parquet(Sidecars.stats(path)).head().getDouble(0)),
      r6(meanAssignSim(spark, path, idCol, vecCol)))
    Seq((b6, c6, r6(b6 - c6)))
      .toDF("build_mean_sim", "current_mean_sim", "drift")
  }

  /** Tombstone-debt health report of a materialized SQ8 index — the
    * codes side owns the delete state, so this is
    * [[Ann.ivfIndexHealth]] on the codes layout: RAW rows (build +
    * appends — deletes not subtracted, exactly the debt
    * [[compactIvfSqIndex]] clears) and distinct tombstoned ids. */
  def ivfSqHealth(spark: org.apache.spark.sql.SparkSession,
                  path: String): DataFrame =
    Ann.ivfIndexHealth(spark, s"$path/codes")

  /** FILTERED probe of a materialized SQ8-IVF index —
    * [[Ann.ivfIndexTopKFiltered]]'s contract on the SQ rung: the
    * predicate (over codes-side columns) applies BEFORE the
    * approximate shortlist inside the probed partitions, so the
    * shortlist ranks only matching candidates; the exact-count
    * fallback widens to every cluster (still filtered) when the
    * probed ones hold fewer than `k` matches. Guarantee: min(k,
    * matching survivors) results, never silently fewer because of
    * cluster pruning. */
  def ivfSqIndexTopKFiltered(spark: org.apache.spark.sql.SparkSession, path: String,
                             query: DataFrame, cents: Seq[Seq[Double]],
                             predicate: Column, k: Int, shortlist: Int, nprobe: Int,
                             idCol: String = "vec_id",
                             vecCol: String = "embedding"): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must cover k ($k)")
    val qvec = Search.probeVector(query)
    val probes = Ann.probeIds(cents, qvec, nprobe)
    def survivors(df: DataFrame): DataFrame =
      Ann.dropTombstones(df, s"$path/codes", idCol)
        .filter(predicate).drop("__cluster")
    val probed = survivors(
      spark.read.parquet(s"$path/codes")
        .filter(col("__cluster").isin(probes: _*)))
    val cand =
      if (probed.limit(k).count() < k)
        survivors(spark.read.parquet(s"$path/codes"))
      else probed
    val short = cand.crossJoin(broadcast(query.select(col("qvec"))))
      .select(col(idCol), sqSim(col("codes"), col("qvec")).as("__asim"))
      .orderBy(col("__asim").desc, col(idCol).asc)
      .limit(shortlist)
    Search.knn(
      spark.read.parquet(s"$path/vectors")
        .join(short.select(col(idCol)), Seq(idCol), "left_semi"),
      query, k, idCol, vecCol)
  }

  /** BATCH probe of a materialized SQ8-IVF index — the
    * [[Pq.ivfPqIndexTopKBatch]] contract on the SQ rung. Everything
    * is a join, nothing loops per query on the driver: per-query
    * probe selection as (queries × broadcast centroids) + per-qid
    * window top-nprobe, the union of probed clusters a plan-time
    * literal IN (file skipping unchanged), the approximate int8
    * shortlist per qid as a window over the probed codes, exact float
    * rerank of shortlist rows only. Probe/shortlist frames broadcast
    * (Q·nprobe and Q·shortlist rows — bounded for interactive Q; flip
    * to shuffle joins for a huge query side, the shapes are already
    * keyed). Returns (qid, id, sim), k rows per qid. */
  def ivfSqIndexTopKBatch(spark: org.apache.spark.sql.SparkSession, path: String,
                          queries: DataFrame, cents: Seq[Seq[Double]],
                          k: Int, shortlist: Int, nprobe: Int,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    require(shortlist >= k, s"shortlist ($shortlist) must cover k ($k)")
    val centsDf = cents.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("__cluster", "centroid")
    val wProbe = Window.partitionBy(col("qid"))
      .orderBy(col("csim").desc, col("__cluster").asc)
    val probes = queries.crossJoin(broadcast(centsDf))
      .withColumn("csim", round(VectorOps.cosine(col("centroid"), col("qvec")), 6))
      .withColumn("__rn", row_number().over(wProbe))
      .filter(col("__rn") <= nprobe)
      .select(col("qid"), col("__cluster"))
    // union of probed clusters: bounded by numClusters — model state
    val probedClusters = probes.select(col("__cluster")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val codes = Ann.dropTombstones(
      spark.read.parquet(s"$path/codes")
        .filter(col("__cluster").isin(probedClusters: _*)),
      s"$path/codes", idCol)
    val cands = codes.join(broadcast(probes), Seq("__cluster")).drop("__cluster")
    val wTop = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col(idCol).asc)
    val short = cands.join(broadcast(queries), Seq("qid"))
      .select(col("qid"), col(idCol), sqSim(col("codes"), col("qvec")).as("sim"))
      .withColumn("__rn", row_number().over(wTop))
      .filter(col("__rn") <= shortlist)
      .select(col("qid"), col(idCol))
    spark.read.parquet(s"$path/vectors")
      .join(broadcast(short), Seq(idCol))
      .join(broadcast(queries), Seq("qid"))
      .select(col("qid"), col(idCol),
        VectorOps.cosine6(col(vecCol), col("qvec")).as("sim"))
      .withColumn("__rn", row_number().over(wTop))
      .filter(col("__rn") <= k)
      .select(col("qid"), col(idCol), col("sim"))
  }
}
