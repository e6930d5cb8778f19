package graft.search

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.store.{CorpusStore, Sidecars}

/** SQ8 (int8 scalar-quantized) materialized IVF index — the middle
  * rung of the compression ladder the engine already spans (float →
  * int8 → PQ → binary): 4× smaller scans than the float corpus at far
  * higher fidelity than PQ's 8-bytes-per-vector, which makes it the
  * standard first index choice when RAM allows (FAISS's `IVFx,SQ8`).
  *
  * The layout, the probes and the maintenance are [[CodedIvf]]'s, with
  * the SQ8 codec ([[CodedIvf.sq8]]): `array<tinyint>` codes partitioned
  * by coarse cluster, and an id-sorted `vectors/` side that only the
  * exact rerank reads. Scoring needs no dequantization: the per-vector
  * scale cancels in cosine, and quantized integer dot products
  * (≤ d·127² ≪ 2⁵³) are exact in double — both engines rank
  * identically with no rounding exposure (the `knn_int8_recall`
  * contract, indexed).
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
                      vecCol: String = "embedding"): Unit =
    CodedIvf.build(corpus, cents, CodedIvf.sq8, path, idCol, vecCol)

  /** Probe the SQ8-IVF index: plan-time partition pruning to the
    * `nprobe` query-nearest clusters (driver-ranked like
    * [[Ann.ivfIndexTopK]]), approximate cosine over the int8 codes
    * against the int8-quantized QUERY (symmetric quantization), a
    * `shortlist`-sized TakeOrdered over code scores, then exact float
    * rerank over ONLY the shortlist ids (a literal `IN` on the
    * id-sorted `vectors/`). Returns `(id, sim)` with the exact round-6
    * cosine, `(sim DESC, id ASC)`. */
  def ivfSqIndexTopK(spark: SparkSession, path: String,
                     query: DataFrame, cents: Seq[Seq[Double]],
                     k: Int, shortlist: Int, nprobe: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must cover k ($k)")
    CodedIvf.topK(spark, path, query, cents, CodedIvf.sq8, k, shortlist, nprobe, None,
      idCol, vecCol)
  }

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
                         vecCol: String = "embedding"): Unit =
    CodedIvf.append(delta, cents, CodedIvf.sq8, path, idCol, vecCol)

  /** Tombstone-delete vectors from a materialized SQ8-IVF index —
    * [[Ann.deleteFromIvfIndex]]'s contract; the codes side owns the
    * delete state (deleted ids never enter the shortlist, so the
    * rerank never sees them). [[compactIvfSqIndex]] applies the
    * tombstones physically to both sides. */
  def deleteFromIvfSqIndex(ids: DataFrame, path: String,
                           idCol: String = "vec_id"): Unit =
    CodedIvf.delete(ids, path, idCol)

  /** Apply tombstones PHYSICALLY to both sides of a materialized
    * SQ8-IVF index in one rewrite at `dstPath` ([[CodedIvf.compact]]):
    * codes keep their partition layout minus tombstoned rows, and the
    * vectors side drops the same ids during its id-ordered rewrite.
    * `dstPath` starts tombstone-free. */
  def compactIvfSqIndex(spark: SparkSession,
                        srcPath: String, dstPath: String,
                        recordsPerFile: Long = 1L << 20,
                        idCol: String = "vec_id"): Unit =
    CodedIvf.compact(spark, srcPath, dstPath, recordsPerFile, idCol)

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
  def retrainIvfSqIndex(spark: SparkSession,
                        srcPath: String, dstPath: String, k: Int, iters: Int,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): Seq[Seq[Double]] = {
    val cents = CodedIvf.retrain(spark, srcPath, dstPath, idCol, vecCol) { s =>
      val c = Ann.kmeansCentroids(s, idCol, vecCol, k, iters)
      (c, CodedIvf.sq8, c)
    }
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
  def recordIvfSqModel(spark: SparkSession, path: String,
                       cents: Seq[Seq[Double]],
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): Unit =
    Ann.recordModel(spark, path, cents)(meanAssignSim(spark, path, cents, idCol, vecCol))

  /** The recorded coarse centroids of an SQ8 index, cluster-ordered —
    * the `<path>.model` sidecar read back as the probe-ready literal
    * form ([[recordIvfSqModel]] wrote it). k×dim doubles of model
    * state, a driver read by construction. */
  def readIvfSqModel(spark: SparkSession, path: String): Seq[Seq[Double]] =
    CorpusStore.load(spark, Sidecars.model(path)).orderBy(col("__cluster")).collect()
      .map(_.getSeq[Double](1).toSeq).toSeq

  /** [[Ann]]'s mean assigned-centroid similarity over the surviving
    * vectors. The vectors side carries no cluster column, so the
    * assignment re-derives from `cents` via the native argmax — the
    * same centroids and the same deterministic argmax as the stored
    * codes-side assignment. */
  private def meanAssignSim(spark: SparkSession, path: String, cents: Seq[Seq[Double]],
                            idCol: String, vecCol: String): Double =
    Ann.meanAssignSim(
      CodedIvf.survivors(spark, path, idCol)
        .withColumn("__cluster", Ann.assignCluster(col(vecCol), cents)),
      Ann.centroidFrame(spark, cents), vecCol)

  /** Assignment-quality drift of a maintained SQ8 index vs its
    * recorded build-time baseline — [[Ann.assignmentDrift]]'s contract
    * on the SQ rung (appends assign against the frozen coarse
    * centroids forever; the SQ8 quantization itself is parameterless
    * and never drifts, so the COARSE layer is the only trained state
    * to watch). One row `(build_mean_sim, current_mean_sim, drift)`
    * at round-6; drift > 0 → schedule [[retrainIvfSqIndex]]. */
  def ivfSqDrift(spark: SparkSession, path: String,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame =
    Ann.drift(spark, path)(
      meanAssignSim(spark, path, readIvfSqModel(spark, path), idCol, vecCol))

  /** Tombstone-debt health report of a materialized SQ8 index — the
    * codes side owns the delete state, so this is
    * [[Ann.ivfIndexHealth]] on the codes layout: RAW rows (build +
    * appends — deletes not subtracted, exactly the debt
    * [[compactIvfSqIndex]] clears) and distinct tombstoned ids. */
  def ivfSqHealth(spark: SparkSession, path: String): DataFrame =
    Ann.ivfIndexHealth(spark, CodedIvf.codes(path))

  /** FILTERED probe of a materialized SQ8-IVF index —
    * [[Ann.ivfIndexTopKFiltered]]'s contract on the SQ rung: the
    * predicate (over codes-side columns) applies BEFORE the
    * approximate shortlist inside the probed partitions, so the
    * shortlist ranks only matching candidates; the exact-count
    * fallback widens to every cluster (still filtered) when the
    * probed ones hold fewer than `k` matches. Guarantee: min(k,
    * matching survivors) results, never silently fewer because of
    * cluster pruning. Returns `(id, sim)`. */
  def ivfSqIndexTopKFiltered(spark: SparkSession, path: String,
                             query: DataFrame, cents: Seq[Seq[Double]],
                             predicate: Column, k: Int, shortlist: Int, nprobe: Int,
                             idCol: String = "vec_id",
                             vecCol: String = "embedding"): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must cover k ($k)")
    CodedIvf.topK(spark, path, query, cents, CodedIvf.sq8, k, shortlist, nprobe,
      Some(predicate), idCol, vecCol)
  }

  /** BATCH probe of a materialized SQ8-IVF index — the
    * [[Pq.ivfPqIndexTopKBatch]] contract on the SQ rung
    * ([[CodedIvf.batchTopK]]): per-query probe selection as a join, the
    * union of probed clusters a plan-time literal IN, a per-qid int8
    * shortlist, exact float rerank of shortlist rows only. Returns
    * (qid, id, sim), k rows per qid. */
  def ivfSqIndexTopKBatch(spark: SparkSession, path: String,
                          queries: DataFrame, cents: Seq[Seq[Double]],
                          k: Int, shortlist: Int, nprobe: Int,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must cover k ($k)")
    CodedIvf.batchTopK(spark, path, queries, cents, CodedIvf.sq8, k, shortlist, nprobe, None,
      idCol, vecCol)
  }
}
