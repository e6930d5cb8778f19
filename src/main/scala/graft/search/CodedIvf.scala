package graft.search

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.store.{CorpusStore, Sidecars, Snapshots}
import graft.vector.VectorOps

/** The composed IVF index of the compressed families — SQ8-IVF ([[Sq]])
  * and IVF-PQ ([[Pq]]) — implemented once. This is the IVFADC design of
  * Jégou et al. ("Product Quantization for Nearest Neighbor Search",
  * TPAMI 2011): one inverted file with the codec plugged in. A store at
  * `p` has two sides:
  *
  *   `p/codes`   — (id, codes) rows written `partitionBy(__cluster)`,
  *                 the nearest coarse centroid, so a probe's cluster
  *                 filter skips directories at plan time. The codes
  *                 side owns the tombstones and the code-level sidecars.
  *   `p/vectors` — (id, vector) rows range-clustered and sorted on the
  *                 id, so the rerank's literal `IN` over the shortlist
  *                 ids prunes files and row groups by min/max stats.
  *
  * A [[Codec]] is all the two families differ in: how a vector becomes
  * codes, and the round-6 approximate score of codes against a query.
  * A probe ranks its clusters on the driver, shortlists the candidates
  * of those clusters by the approximate score, then reranks the
  * shortlist by the exact cosine over the vectors side. Every side is
  * read through [[graft.store.CorpusStore.load]], so a warm probe runs
  * no schema-inference job. No other file spells the two side paths.
  */
private[graft] object CodedIvf {

  /** How a vector is coded, and the round-6 approximate score of a
    * `codes` column against a query-vector column. */
  final case class Codec(encode: Column => Column, approx: (Column, Column) => Column)

  /** SQ8: per-row max-abs int8 codes, scored by the cosine against the
    * int8-quantized query, widened to double. That is exact (≤ d·127²
    * ≪ 2⁵³) and needs no dequantization: the per-vector scale cancels. */
  val sq8: Codec = Codec(VectorOps.quantizeInt8,
    (codes, q) => VectorOps.cosine6(transform(codes, _.cast("double")),
      transform(VectorOps.quantizeInt8(q), _.cast("double"))))

  /** PQ through codebooks `cb`: `m` byte codes, scored by ADC. */
  def pq(cb: Pq.Codebooks): Codec =
    Codec(Pq.encodeCol(_, cb), (codes, q) => round(Pq.adcSim(cb, codes, q), 6))

  def codes(p: String): String = s"$p/codes"
  def vectors(p: String): String = s"$p/vectors"

  /** Write `df` to both sides of `path`. The sides are independent, so
    * they run as concurrent jobs: at small scale a write costs job
    * scheduling, not data. */
  private def write(df: DataFrame, cents: Seq[Seq[Double]], codec: Codec, path: String,
                    mode: String, idCol: String, vecCol: String): Unit =
    graft.io.Par.unit(
      () => df.select(col(idCol), Ann.assignCluster(col(vecCol), cents).as("__cluster"),
          codec.encode(col(vecCol)).as("codes"))
        .repartition(col("__cluster")) // one task writes a cluster: one file per cluster per write
        .write.partitionBy("__cluster").mode(mode).parquet(codes(path)),
      () => writeVectors(df.select(col(idCol), col(vecCol)), path, mode, None, idCol))

  /** The id-ordered vectors side, with at most `recordsPerFile` rows
    * per file when given. */
  private def writeVectors(df: DataFrame, path: String, mode: String,
                           recordsPerFile: Option[Long], idCol: String): Unit = {
    val w = df.repartitionByRange(col(idCol)).sortWithinPartitions(col(idCol)).write.mode(mode)
    recordsPerFile.foreach(w.option("maxRecordsPerFile", _))
    w.parquet(vectors(path))
  }

  /** Build: reset the store's sidecars, then write both sides. */
  def build(corpus: DataFrame, cents: Seq[Seq[Double]], codec: Codec, path: String,
            idCol: String, vecCol: String): Unit = {
    Sidecars.reset(corpus.sparkSession, path)
    Sidecars.reset(corpus.sparkSession, codes(path))
    write(corpus, cents, codec, path, "overwrite", idCol, vecCol)
  }

  /** Append against the frozen centroids and codec: one file per
    * cluster per append on the codes side, one id-sorted file set on
    * the vectors side. */
  def append(delta: DataFrame, cents: Seq[Seq[Double]], codec: Codec, path: String,
             idCol: String, vecCol: String): Unit = {
    Sidecars.appended(delta.sparkSession, path)
    Sidecars.appended(delta.sparkSession, codes(path))
    write(delta, cents, codec, path, "append", idCol, vecCol)
  }

  /** Tombstone-delete on the codes side: a deleted id never enters a
    * shortlist, so the rerank never reads its vector. */
  def delete(ids: DataFrame, path: String, idCol: String): Unit =
    Ann.deleteFromIvfIndex(ids, codes(path), idCol)

  /** The surviving vectors: the vectors side minus the codes side's
    * tombstones. */
  def survivors(spark: SparkSession, path: String, idCol: String): DataFrame =
    Ann.dropTombstones(CorpusStore.load(spark, vectors(path)), codes(path), idCol)

  /** The surviving codes rows joined to their vectors. */
  def rows(spark: SparkSession, path: String, idCol: String): DataFrame =
    Ann.dropTombstones(CorpusStore.load(spark, codes(path)), codes(path), idCol)
      .join(CorpusStore.load(spark, vectors(path)), Seq(idCol))

  /** Apply the tombstones physically to both sides in one rewrite at
    * `dst`. The vectors side must drop them too: after a delete and a
    * re-append of the same id, the rerank's id filter would match both
    * vector rows and emit duplicates. `dst` starts tombstone-free and
    * carries the source's model sidecars. */
  def compact(spark: SparkSession, src: String, dst: String, recordsPerFile: Long,
              idCol: String): Unit = {
    require(src != dst, "compact rewrites the layout: dstPath must differ from srcPath")
    // the codes side resets and carries inside compactIvfIndex
    Sidecars.reset(spark, dst)
    Ann.compactIvfIndex(spark, codes(src), codes(dst), recordsPerFile, idCol)
    writeVectors(survivors(spark, src, idCol), dst, "overwrite", Some(recordsPerFile), idCol)
    Sidecars.carry(spark, src, dst)
  }

  /** Re-sort the vectors side of `src` into one id-ordered layout at
    * `dst`, deleted rows kept; the codes side is not touched. */
  def compactVectors(spark: SparkSession, src: String, dst: String, recordsPerFile: Long,
                     idCol: String): Unit =
    writeVectors(CorpusStore.load(spark, vectors(src)), dst, "overwrite", Some(recordsPerFile),
      idCol)

  /** Retrain: `fit` learns fresh centroids and a codec from the
    * survivors of `src`, which are built at `dst`. Returns what `fit`
    * hands back for later probes. */
  def retrain[M](spark: SparkSession, src: String, dst: String, idCol: String, vecCol: String)
                (fit: DataFrame => (Seq[Seq[Double]], Codec, M)): M = {
    require(src != dst, "retrain rewrites the layout: dstPath must differ from srcPath")
    val s = survivors(spark, src, idCol)
    val (cents, codec, model) = fit(s)
    build(s, cents, codec, dst, idCol, vecCol)
    model
  }

  /** The approximate shortlist of a single probe: the candidates of the
    * `probes` clusters ([[Ann.probeCandidates]], with its filtered
    * fallback when a predicate is given), the best `n` by the codec's
    * score against the 1-row `query`, as (id, sim). */
  def shortlist(spark: SparkSession, path: String, query: DataFrame, probes: Seq[Int],
                codec: Codec, n: Int, predicate: Option[Column], k: Int,
                idCol: String): DataFrame =
    Ann.probeCandidates(spark, codes(path), probes, predicate, k, idCol)
      .crossJoin(broadcast(query.select(col("qvec"))))
      .select(col(idCol), codec.approx(col("codes"), col("qvec")).as("sim"))
      .orderBy(col("sim").desc, col(idCol).asc)
      .limit(n)

  /** The single probe: probes ranked on the driver ([[Ann.probeIds]]),
    * the approximate shortlist, then the exact rerank of the shortlist
    * ids — a literal `IN` pushed into the id-sorted vectors scan.
    * Returns `(id, sim)` with the exact round-6 cosine, `(sim DESC,
    * id ASC)`. */
  def topK(spark: SparkSession, path: String, query: DataFrame, cents: Seq[Seq[Double]],
           codec: Codec, k: Int, shortlist: Int, nprobe: Int, predicate: Option[Column],
           idCol: String, vecCol: String): DataFrame = {
    val q = Search.queryVector(query)
    val probes = Ann.probeIds(cents, q.fold(Seq.empty[Double])(_.toSeq), nprobe)
    val ids = this.shortlist(spark, path, query, probes, codec, shortlist, predicate, k, idCol)
      .select(col(idCol)).collect().map(_.get(0)).toSeq
    Search.knnScan(CorpusStore.load(spark, vectors(path)).filter(col(idCol).isin(ids: _*)),
        q.getOrElse(Array.empty[Double]), if (q.isEmpty) 0 else k, idCol, vecCol)
      .select(col(idCol), col("sim"))
  }

  /** The batch probe over `queries` (qid, qvec): each query's probed
    * candidates ([[Ann.batchCandidates]]), a per-qid approximate
    * shortlist, then the exact per-qid rerank of the shortlist rows.
    * Nothing loops per query on the driver. Returns (qid, id, sim),
    * k rows per qid. */
  def batchTopK(spark: SparkSession, path: String, queries: DataFrame,
                cents: Seq[Seq[Double]], codec: Codec, k: Int, shortlist: Int, nprobe: Int,
                predicate: Option[Column], idCol: String, vecCol: String): DataFrame = {
    val short = Ann.perQidTop(
      Ann.batchCandidates(spark, codes(path), queries, cents, nprobe, predicate, k, idCol)
        .join(broadcast(queries), Seq("qid"))
        .select(col("qid"), col(idCol), codec.approx(col("codes"), col("qvec")).as("sim")),
      shortlist, idCol).select(col("qid"), col(idCol))
    Ann.batchExactTop(CorpusStore.load(spark, vectors(path)).join(broadcast(short), Seq(idCol)),
      queries, k, idCol, vecCol)
  }

  /** Sync the store at `src` from snapshot `from` to `to` of the
    * snapshot store `snaps`, landing it at `dst`: the diff's removed and
    * changed ids are tombstoned, both sides are compacted (so a changed
    * id keeps one vector row), then the added and changed rows append
    * against the existing centroids and codec. */
  def sync(spark: SparkSession, snaps: String, from: String, to: String,
           idCol: String, vecCol: String, cents: Seq[Seq[Double]], codec: Codec,
           src: String, dst: String): Unit = {
    val d = Snapshots.diffBy(spark, snaps, from, to, idCol, vecCol, _.cast("string"))
    delete(d.filter(col("status").isin("removed", "changed")).select(col(idCol)), src, idCol)
    compact(spark, src, dst, 1L << 20, idCol)
    append(Snapshots.read(spark, snaps, to).join(
        d.filter(col("status").isin("added", "changed")).select(col(idCol)),
        Seq(idCol), "left_semi"),
      cents, codec, dst, idCol, vecCol)
  }
}
