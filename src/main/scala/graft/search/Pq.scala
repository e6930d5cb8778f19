package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.store.{CorpusStore, Sidecars}
import graft.vector.VectorOps

/** Product quantization (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", PAMI 2011 — public): split each d-dim
  * vector into `m` contiguous subspaces, k-means each subspace
  * independently (`ksub` centroids, squared-L2 assignment), and store
  * each vector as `m` byte codes. At d=64/m=4 that is 4 bytes per
  * vector vs 256 for the float column — a 64× index compression, the
  * step beyond int8 ([[graft.functions.QuantizeInt8]]) when the corpus
  * must fit cluster RAM at 100 TB.
  *
  * Scoring is ADC (asymmetric distance computation): the query stays
  * exact, each corpus vector is represented by its per-subspace
  * reconstruction, and
  * `cos ≈ Σ_m dot(q_m, c_m[code_m]) / (‖q‖ · sqrt(Σ_m ‖c_m[code_m]‖²))`.
  * Codebooks are driver-side model state (m·ksub·sub doubles —
  * kilobytes, the documented model-state exception); corpus data never
  * collects.
  *
  * Scale shape: training fuses ALL subspaces into one scan + one keyed
  * shuffle per Lloyd iteration (explode to (subspace, cluster) keyed
  * rows, `VectorAvg` partial+final); assignment/encoding is one native
  * [[graft.functions.NearestCentroidL2]] node per subspace — plan size
  * O(m), independent of ksub. Scoring is a per-row expression over the
  * byte codes + a broadcast 1-row query; top-k is
  * `TakeOrderedAndProject`.
  *
  * The materialized IVF-PQ index (build, append, delete, compact,
  * retrain and every probe of `<path>/codes` + `<path>/vectors`) is
  * [[CodedIvf]] with the PQ codec ([[CodedIvf.pq]]); the functions here
  * are its wrappers.
  */
object Pq {

  /** `books(mi)(c)` = centroid `c` of subspace `mi`, each of length
    * `sub` (= d / m). */
  final case class Codebooks(sub: Int, books: Seq[Seq[Seq[Double]]]) {
    def m: Int = books.size
    def ksub: Int = books.head.size
  }

  /** The mi-th subvector, elements cast to double (1-based slice). */
  private def subCol(vecCol: Column, mi: Int, sub: Int): Column =
    transform(slice(vecCol, lit(mi * sub + 1), lit(sub)), x => x.cast("double"))

  /** Train per-subspace codebooks with Lloyd's algorithm: init =
    * sub-slices of the `ksub` lowest-id vectors (deterministic, the
    * same convention as [[Ann.kmeansCentroids]]), squared-L2
    * assignment with lowest-cid ties, per-dimension mean
    * re-estimation, empty clusters carry the previous centroid.
    *
    * Determinism exposure (documented, accepted): the `pq_codes`
    * oracle pins every integer code cross-engine, which rides on
    * bit-identical per-dimension averages between VectorAvg's
    * partial/final merge order and the oracle's sequential avg feeding
    * an UNROUNDED L2 argmin — a last-ulp centroid difference on
    * near-equidistant vectors would flip a code. This holds on the
    * test corpus (verified every round) but is stricter than the
    * round-6 score contract; if a future corpus/partitioning breaks
    * it, verify codes via reconstruction error or recall instead of
    * exact equality — the retrieval-quality oracles (`pq_recall*`,
    * `ivfpq_*`) already do. */
  /** Deterministic OPQ-lite rotation (Ge et al. 2013's optimized
    * product quantization, reduced to its deterministic core): PQ's
    * one blind spot is energy concentrated in a few dims of one
    * subspace — a fixed ORTHOGONAL rotation spreads it across
    * subspaces before the codebooks train. Here R = H(v₂)·H(v₁), two
    * Householder reflections over seeded unit vectors: orthogonal by
    * construction, applied as x → x − 2·v·(v·x) per reflection — no
    * d×d matrix anywhere, O(d) per reflection. The projection dot is
    * round-6 (the [[graft.vector.VectorOps.dot]] ↔ `list_dot_product`
    * contract); every other op is a single IEEE arithmetic op, so the
    * rotated values replay bit-for-bit cross-engine and the whole
    * downstream PQ chain stays hash-exact. Encode and query must
    * rotate with the SAME vectors — cosine is preserved (orthogonal),
    * so exact-vs-ADC recall gates compose unchanged. */
  def rotationVectors(dim: Int, seed: Long = 7L): (Seq[Double], Seq[Double]) = {
    val rnd = new scala.util.Random(seed)
    def unit(): Seq[Double] = {
      val v = Seq.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    (unit(), unit())
  }

  /** DATA-DRIVEN OPQ rotation (Ge et al. 2013's eigenvalue-allocation
    * idea, reduced to this engine's deterministic Householder form):
    * given the corpus's top two principal directions u₁, u₂ (from
    * [[graft.analysis.Spectral]]'s decimal-exact power iteration —
    * bounded driver model state, like the k-means centroids), build
    * the reflection pair that maps u₁ onto the UNIFORM unit vector
    * and (the reflected) u₂ onto the alternating-sign unit vector.
    * Both targets spread their energy equally across every PQ
    * subspace — exactly the failure mode a data-BLIND seeded rotation
    * ([[rotationVectors]]) cannot fix: if the corpus concentrates its
    * variance in a few dimensions of one subspace, that subspace's
    * codebook eats all the quantization error and ADC recall
    * collapses. H(v) maps a → b (unit norms) when v = (a−b)/‖a−b‖;
    * the second vector aims H(v₁)·u₂ (u₂ is orthogonal to u₁, hence
    * its image is orthogonal to the first target and the second
    * reflection leaves it fixed up to float noise). All driver-side
    * folds run in ascending-dimension order — deterministic, so the
    * resulting literals inline into the oracle SQL byte-for-byte
    * (the `NearDupPlanes` convention). */
  def pcaRotationVectors(u1: Seq[Double], u2: Seq[Double]): (Seq[Double], Seq[Double]) = {
    val d = u1.length
    require(d % 2 == 0 && u2.length == d, "even dim, matching lengths")
    val s = 1.0 / math.sqrt(d.toDouble)
    val t1 = Seq.fill(d)(s)
    val t2 = (0 until d).map(i => if (i % 2 == 0) s else -s)
    // x / sqrt(Σx²) with a sequential ascending-index square fold —
    // op-for-op the SQL replay's list_reduce/list_transform normalize
    // (a reciprocal-multiply would differ in the last ulp)
    def normalize(v: Seq[Double]): Seq[Double] = {
      var n = 0.0; var i = 0
      while (i < v.length) { n += v(i) * v(i); i += 1 }
      require(n > 1e-24, "degenerate rotation: direction equals its target")
      val s = math.sqrt(n)
      v.map(_ / s)
    }
    def reflect(y: Seq[Double], v: Seq[Double]): Seq[Double] = {
      var dot = 0.0; var i = 0
      while (i < y.length) { dot += y(i) * v(i); i += 1 }
      y.zip(v).map { case (yi, vi) => yi - 2.0 * vi * dot }
    }
    val v1 = normalize(u1.zip(t1).map { case (a, b) => a - b })
    val v2 = normalize(reflect(u2, v1).zip(t2).map { case (a, b) => a - b })
    (v1, v2)
  }

  /** Apply the OPQ rotation: two Householder reflections in sequence
    * (see [[rotationVectors]]). ONE-ROW / query-vector use only — the
    * lambda captures the projection dot as a subexpression, and the
    * evaluator re-computes a captured non-trivial expression PER
    * ELEMENT (d · d per reflection, squared across the nesting:
    * measured 240 s on a 5000-row corpus). Corpus-side, use
    * [[rotateCorpus]] — staged projections hold each dot in a named
    * column, which `CollapseProject` refuses to inline into the
    * lambdas precisely because it is not cheap. */
  def rotate(x: Column, v1: Seq[Double], v2: Seq[Double]): Column = {
    def refl(y: Column, v: Seq[Double]): Column = {
      val d = round(graft.vector.VectorOps.dot(y, typedlit(v)), 6)
      zip_with(transform(y, e => e.cast("double")), typedlit(v),
        (yi, vi) => yi - lit(2.0) * vi * d)
    }
    refl(refl(x, v1), v2)
  }

  /** Corpus-side OPQ rotation: same arithmetic as [[rotate]], staged
    * so each reflection's projection dot is computed ONCE per row
    * (its own projection stage) instead of once per element inside
    * the rewrite lambda. Returns `df` with `out` added. */
  def rotateCorpus(df: DataFrame, vecCol: String, out: String,
                   v1: Seq[Double], v2: Seq[Double]): DataFrame = {
    def refl(src: DataFrame, xcol: String, v: Seq[Double], dcol: String,
             ycol: String): DataFrame =
      src
        .withColumn(dcol,
          round(graft.vector.VectorOps.dot(col(xcol), typedlit(v)), 6))
        .withColumn(ycol,
          zip_with(transform(col(xcol), e => e.cast("double")), typedlit(v),
            (yi, vi) => yi - lit(2.0) * vi * col(dcol)))
    refl(refl(df, vecCol, v1, "__opq_d1", "__opq_x1"),
      "__opq_x1", v2, "__opq_d2", out)
      .drop("__opq_d1", "__opq_x1", "__opq_d2")
  }

  /** DuckDB twin of [[rotate]] as CTEs (the Hilbert `hSqlCte`
    * convention — kept beside the Scala so the two can't drift).
    * Emits `<out>` exposing (vec_id, rvec DOUBLE[]). Scala's
    * Double.toString literals are shortest-round-trip, so the SQL
    * parses back to bit-identical doubles. */
  def rotateSqlCtes(table: String, idCol: String, vecCol: String,
                    dim: Int, v1: Seq[Double], v2: Seq[Double],
                    out: String = "rv"): String = {
    def lits(v: Seq[Double]) = s"[${v.mkString(",")}]::DOUBLE[]"
    // the final relation is MATERIALIZED: a PQ-training replay
    // references it once per subspace per iteration, and each plain-
    // CTE reference would inline (and re-run) the whole chain
    def stage(src: String, xcol: String, v: Seq[Double], dst: String,
              ycol: String, mat: Boolean): String =
      s"""${dst}_d AS (
         |  SELECT vec_id, $xcol AS x,
         |         round(list_dot_product($xcol::DOUBLE[], ${lits(v)}), 6) AS d
         |  FROM $src),
         |$dst AS ${if (mat) "MATERIALIZED " else ""}(
         |  SELECT vec_id,
         |         list_transform(range(1, ${dim + 1}),
         |           i -> (x::DOUBLE[])[i] - 2.0 * (${lits(v)})[i] * d)
         |           AS $ycol
         |  FROM ${dst}_d)""".stripMargin
    s"""${out}0 AS (SELECT $idCol AS vec_id, $vecCol FROM $table),
       |${stage(s"${out}0", vecCol, v1, s"${out}1", "x1", mat = false)},
       |${stage(s"${out}1", "x1", v2, out, "rvec", mat = true)}""".stripMargin
  }

  /** [[rotateSqlCtes]] with the reflection vectors taken from 1-row
    * CTE RELATIONS (each exposing a `v` DOUBLE[] column) instead of
    * inlined literals — the form the DATA-DRIVEN rotation's oracle
    * needs: `oracleSql` is built without a SparkSession, so vectors
    * derived from the corpus ([[pcaRotationVectors]] over the
    * Spectral chains) must be re-derived inside the SQL itself and
    * fed through here. Same staged arithmetic as [[rotateSqlCtes]]
    * (round-6 projection dot, per-element Householder update). */
  def rotateSqlCtesFromRel(table: String, idCol: String, vecCol: String,
                           dim: Int, v1Rel: String, v2Rel: String,
                           out: String = "rv"): String = {
    def stage(src: String, xcol: String, vRel: String, dst: String,
              ycol: String, mat: Boolean): String =
      s"""${dst}_d AS (
         |  SELECT e.vec_id, e.$xcol AS x,
         |         round(list_dot_product(e.$xcol::DOUBLE[], $vRel.v), 6) AS d
         |  FROM $src e, $vRel),
         |$dst AS ${if (mat) "MATERIALIZED " else ""}(
         |  SELECT e.vec_id,
         |         list_transform(range(1, ${dim + 1}),
         |           i -> (e.x::DOUBLE[])[i] - 2.0 * $vRel.v[i::INT] * e.d)
         |           AS $ycol
         |  FROM ${dst}_d e, $vRel)""".stripMargin
    s"""${out}0 AS (SELECT $idCol AS vec_id, $vecCol FROM $table),
       |${stage(s"${out}0", vecCol, v1Rel, s"${out}1", "x1", mat = false)},
       |${stage(s"${out}1", "x1", v2Rel, out, "rvec", mat = true)}""".stripMargin
  }

  def train(corpus: DataFrame, idCol: String, vecCol: String,
            dim: Int, m: Int, ksub: Int, iters: Int): Codebooks = {
    require(m >= 1 && dim % m == 0, s"m ($m) must divide dim ($dim)")
    require(ksub >= 2 && ksub <= 128, "2 <= ksub <= 128 (codes are bytes)")
    val sub = dim / m
    val init: Seq[Seq[Double]] = corpus.orderBy(col(idCol)).limit(ksub)
      .select(transform(col(vecCol), x => x.cast("double")).as("v"))
      .collect().map(_.getSeq[Double](0).toSeq).toSeq
    require(init.size == ksub, s"corpus has < $ksub rows")
    val books = Array.tabulate(m)(mi =>
      init.map(v => v.slice(mi * sub, (mi + 1) * sub)))
    (0 until iters).foreach { _ =>
      // one scan + one (subspace, cluster)-keyed shuffle re-estimates
      // every subspace's centroids together
      val updated = corpus.select(
          explode(array((0 until m).map(mi =>
            struct(lit(mi).as("m"),
              graft.functions.NearestCentroidL2(
                subCol(col(vecCol), mi, sub), books(mi).toSeq).as("c"),
              subCol(col(vecCol), mi, sub).as("v"))): _*)).as("e"))
        .select(col("e.m").as("m"), col("e.c").as("c"), col("e.v").as("v"))
        // dim-mismatched/null-element rows assign to NULL — excluded
        // from re-estimation rather than polluting a cluster's mean
        .filter(col("c").isNotNull)
        .groupBy(col("m"), col("c"))
        .agg(graft.functions.VectorAvg(col("v")).as("cent"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toSeq)
        .toMap
      (0 until m).foreach { mi =>
        books(mi) = books(mi).indices
          .map(c => updated.getOrElse((mi, c), books(mi)(c)))
      }
    }
    Codebooks(sub, books.toSeq.map(_.toSeq))
  }

  /** PQ codes as one `array<tinyint>` of length m. */
  def encodeCol(vecCol: Column, cb: Codebooks): Column =
    array((0 until cb.m).map(mi =>
      graft.functions.NearestCentroidL2(
        subCol(vecCol, mi, cb.sub), cb.books(mi)).cast("byte")): _*)

  /** Raw (unrounded) ADC cosine of the exact query vector `qvec`
    * against the PQ reconstruction encoded in `codes`. Per-subspace
    * dots/norms sum left-to-right in subspace order, matching the
    * oracle's left-associated `d0+d1+…` exactly. */
  private[search] def adcSim(cb: Codebooks, codes: Column, qvec: Column): Column = {
    def entry(mi: Int): Column =
      element_at(typedlit(cb.books(mi)), element_at(codes, mi + 1).cast("int") + 1)
    val dotSum = (0 until cb.m).map(mi =>
      VectorOps.dot(subCol(qvec, mi, cb.sub), entry(mi))).reduce(_ + _)
    val normSum = (0 until cb.m).map(mi =>
      VectorOps.dot(entry(mi), entry(mi))).reduce(_ + _)
    val qn = VectorOps.l2Norm(qvec)
    when(qn === lit(0.0) || normSum === lit(0.0), lit(0.0))
      .otherwise(dotSum / (qn * sqrt(normSum)))
  }

  /** ADC cosine top-k over a frame that ALREADY carries a `codes`
    * column (a materialized index scan, or on-the-fly encoding).
    * `query` is a 1-row frame with column `qvec` (broadcast). */
  def adcTopKCoded(coded: DataFrame, query: DataFrame, k: Int, cb: Codebooks,
                   idCol: String = "vec_id"): DataFrame =
    coded.crossJoin(broadcast(query))
      .select(col(idCol), round(adcSim(cb, col("codes"), col("qvec")), 6).as("sim"))
      .orderBy(col("sim").desc, col(idCol).asc).limit(k)

  /** ADC cosine top-k: exact query vs PQ codes encoded on the fly. */
  def adcTopK(corpus: DataFrame, query: DataFrame, k: Int, cb: Codebooks,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    adcTopKCoded(
      corpus.select(col(idCol), encodeCol(col(vecCol), cb).as("codes")),
      query, k, cb, idCol)

  /** The residual of a vector against its assigned coarse centroid,
    * given the assignment column (double array out). */
  private def residualOf(vecCol: Column, cents: Seq[Seq[Double]],
                         cluster: Column): Column =
    zip_with(transform(vecCol, x => x.cast("double")),
      element_at(typedlit(cents), cluster + 1), (a, b) => a - b)

  /** `x − mu_assigned(x)`: the residual encoding input of true IVFADC
    * (Jégou et al. 2011 §IV) — see [[trainResidual]]. */
  def residualCol(vecCol: Column, cents: Seq[Seq[Double]]): Column =
    residualOf(vecCol, cents, Ann.assignCluster(vecCol, cents))

  /** Train PQ codebooks on coarse-assignment RESIDUALS — the encoding
    * FAISS's IVFADC actually uses: `x ≈ mu_c + PQ(x − mu_c)`. Residuals
    * concentrate near the origin with far less variance than raw
    * vectors (the coarse quantizer has already explained the
    * between-cluster spread), so the same codebook budget quantizes
    * them more finely and ADC recall rises over [[train]]'s vanilla
    * whole-vector codes at identical code size. Delegates to [[train]]
    * over the materialized residual column — one extra map stage, same
    * Lloyd determinism contract. */
  def trainResidual(corpus: DataFrame, idCol: String, vecCol: String,
                    cents: Seq[Seq[Double]], dim: Int, m: Int, ksub: Int,
                    iters: Int): Codebooks =
    train(corpus.select(col(idCol),
        residualCol(col(vecCol), cents).as("rv")),
      idCol, "rv", dim, m, ksub, iters)

  /** ADC cosine of the exact query against the RESIDUAL reconstruction
    * `mu + r̂`: dot = q·mu + Σ_mi q_mi·r̂_mi, ‖mu+r̂‖² expanded as
    * mu·mu + 2·Σ mu_mi·r̂_mi + Σ r̂_mi·r̂_mi — every term a driver-
    * literal lookup (centroids + codebooks as reference objects), so
    * scoring stays a map-only pass over (cluster, codes) rows with the
    * float vectors untouched. Term association mirrors the oracle SQL
    * exactly (left-folded subspace sums). */
  private def adcResidualSim(cb: Codebooks, cents: Seq[Seq[Double]],
                             cluster: Column, codes: Column,
                             qvec: Column): Column = {
    def entry(mi: Int): Column =
      element_at(typedlit(cb.books(mi)), element_at(codes, mi + 1).cast("int") + 1)
    val mu = element_at(typedlit(cents), cluster + 1)
    def muSub(mi: Int): Column = slice(mu, mi * cb.sub + 1, cb.sub)
    val dotSum = VectorOps.dot(transform(qvec, x => x.cast("double")), mu) +
      (0 until cb.m).map(mi =>
        VectorOps.dot(subCol(qvec, mi, cb.sub), entry(mi))).reduce(_ + _)
    val muDotR = (0 until cb.m).map(mi =>
      VectorOps.dot(muSub(mi), entry(mi))).reduce(_ + _)
    val rNorm2 = (0 until cb.m).map(mi =>
      VectorOps.dot(entry(mi), entry(mi))).reduce(_ + _)
    val norm2 = VectorOps.dot(mu, mu) + lit(2.0) * muDotR + rNorm2
    val qn = VectorOps.l2Norm(transform(qvec, x => x.cast("double")))
    when(qn === lit(0.0) || norm2 <= lit(0.0), lit(0.0))
      .otherwise(dotSum / (qn * sqrt(norm2)))
  }

  /** Residual-encoded IVF-PQ retrieval (true IVFADC): probe the top
    * `nprobe` coarse clusters, ADC-score the probed rows' RESIDUAL
    * codes against the exact query, return the top k — no float-vector
    * rerank, so the number measures the residual encoding itself
    * (compare `pq_recall`, the vanilla whole-vector ADC). Same probe /
    * candidate plan shape as [[ivfPqTopK]] with caller-supplied coarse
    * centroids. */
  def ivfPqResidualTopK(corpus: DataFrame, query: DataFrame, k: Int,
                        nprobe: Int, cents: Seq[Seq[Double]], cb: Codebooks,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    val probes = Ann.probeIds(cents, Search.probeVector(query), nprobe)
    corpus
      .withColumn("__cluster", Ann.assignCluster(col(vecCol), cents))
      .filter(col("__cluster").isin(probes: _*))
      .select(col(idCol), col("__cluster"),
        encodeCol(residualOf(col(vecCol), cents, col("__cluster")), cb).as("codes"))
      .crossJoin(broadcast(query))
      .select(col(idCol),
        round(adcResidualSim(cb, cents, col("__cluster"), col("codes"),
          col("qvec")), 6).as("sim"))
      .orderBy(col("sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** The composed modern vector index — the FAISS-IVFPQ shape: IVF
    * coarse clustering prunes the corpus to `nprobe` probed clusters
    * (partition pruning when the index is written `partitionBy`
    * cluster, see [[Ann.buildIvfIndex]]), PQ codes stand in for the
    * float vectors inside the probed set (ADC shortlist), and only the
    * shortlist re-reads exact vectors for the final rerank. At 100 TB:
    * scan nprobe/k of the corpus, as 8-byte codes, touching float
    * vectors only for `shortlist` rows. */
  def ivfPqTopK(corpus: DataFrame, query: DataFrame, k: Int, nprobe: Int,
                numClusters: Int, ivfIters: Int, shortlist: Int, cb: Codebooks,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cents = Ann.kmeansCentroids(corpus, idCol, vecCol, numClusters, ivfIters)
    val probes = Ann.probeIds(cents, Search.probeVector(query), nprobe)
    val cands = corpus.filter(Ann.assignCluster(col(vecCol), cents).isin(probes: _*))
    adcTopKReranked(cands, query, k, shortlist, cb, idCol, vecCol)
  }

  /** Materialize the IVF-PQ index as [[CodedIvf]]'s physical layout:
    * PQ codes partitioned by coarse cluster (directories prunable at
    * PLAN time), and the float vectors range-clustered and sorted on
    * the id (parquet footer min/max stats make an id filter prune
    * files AND row groups).
    *
    * A probe then (1) opens ONLY the probed clusters' code files —
    * file skipping, asserted via scan metrics in PqSpec — (2) ADC-
    * shortlists over codes without ever reading a float vector, and
    * (3) re-reads exact vectors for the shortlist ids via a pushed
    * literal-IN filter over the id-clustered layout. At 100 TB the
    * query-path bytes are nprobe/k of the corpus × 1/32 of the column
    * width, plus the row groups containing the `shortlist` float rows. */
  def buildIvfPqIndex(corpus: DataFrame, cents: Seq[Seq[Double]], cb: Codebooks,
                      path: String, idCol: String = "vec_id",
                      vecCol: String = "embedding"): Unit =
    CodedIvf.build(corpus, cents, CodedIvf.pq(cb), path, idCol, vecCol)

  /** Incrementally add vectors to a materialized IVF-PQ index — the
    * reference's core write path is incremental add
    * (`/root/reference/services/vectorDb.ts:7-9`, called per embedded
    * batch `App.tsx:79`); this is that operation composed with the
    * index. Delta rows are assigned against the EXISTING centroids and
    * codebooks (no retrain — the standard IVF maintenance trade: the
    * index drifts from the data distribution until the next rebuild)
    * and appended into the same `partitionBy(__cluster)` layout, so
    * plan-time pruning keeps working unchanged. Repeated small appends
    * leave one file per batch per cluster; remedy with
    * [[compactIvfPqIndex]], or [[compactIvfPqVectors]] for the vectors
    * side alone. */
  def appendToIvfPqIndex(delta: DataFrame, cents: Seq[Seq[Double]], cb: Codebooks,
                         path: String, idCol: String = "vec_id",
                         vecCol: String = "embedding"): Unit =
    CodedIvf.append(delta, cents, CodedIvf.pq(cb), path, idCol, vecCol)

  /** Tombstone-delete vectors from a materialized IVF-PQ index —
    * [[Ann.deleteFromIvfIndex]]'s contract on the composed index. The
    * anti-join happens on the CODES side only: the rerank reads
    * vectors by shortlist ids, and deleted ids can never enter the
    * shortlist. [[compactIvfPqIndex]] applies deletes physically. */
  def deleteFromIvfPqIndex(ids: DataFrame, path: String,
                           idCol: String = "vec_id"): Unit =
    CodedIvf.delete(ids, path, idCol)

  /** Re-train an appended/deleted IVF-PQ index from its CURRENT
    * survivors and rewrite it at `dstPath` — [[Ann.retrainIvfIndex]]'s
    * contract on the composed index, closing the drift loop BOTH
    * append paths leave open (coarse centroids AND PQ codebooks are
    * frozen at build; under distribution drift the cluster assignment
    * skews and the ADC quantization error grows together). Survivors
    * come from the VECTORS side anti-joined against the codes-side
    * tombstones (the codes side owns delete state —
    * [[deleteFromIvfPqIndex]]); both trainers are deterministic
    * (init = lowest-id rows), so retrained ≡ a from-scratch
    * [[buildIvfPqIndex]] on the same surviving rows, probe-for-probe
    * (spec-pinned in PqSpec). `dstPath` must differ from `srcPath`;
    * returns the fresh models for subsequent probes. */
  def retrainIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                        srcPath: String, dstPath: String,
                        numClusters: Int, ivfIters: Int,
                        dim: Int, m: Int, ksub: Int, pqIters: Int,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): (Seq[Seq[Double]], Codebooks) =
    CodedIvf.retrain(spark, srcPath, dstPath, idCol, vecCol) { s =>
      val cents = Ann.kmeansCentroids(s, idCol, vecCol, numClusters, ivfIters)
      val cb = train(s, idCol, vecCol, dim, m, ksub, pqIters)
      (cents, CodedIvf.pq(cb), (cents, cb))
    }

  /** Re-sort an appended index's VECTORS side into one id-ordered
    * layout at `dstPath` — the layout-only half of
    * [[compactIvfPqIndex]]. Each append writes its own id-sorted
    * files, so after many appends every file's id range overlaps every
    * other's and the rerank's shortlist-IN filter stops skipping row
    * groups; one range-shuffle rewrite restores global id order (and
    * min/max-pruned scans) without touching the codes or the probe
    * path. Deleted rows are kept. Results are unchanged — the layout
    * moves, the rows don't (pinned in PqSpec). */
  def compactIvfPqVectors(spark: org.apache.spark.sql.SparkSession,
                          srcPath: String, dstPath: String,
                          recordsPerFile: Long = 1L << 20,
                          idCol: String = "vec_id"): Unit =
    CodedIvf.compactVectors(spark, srcPath, dstPath, recordsPerFile, idCol)

  /** Apply tombstones PHYSICALLY to both sides of a materialized
    * IVF-PQ index in one rewrite at `dstPath` ([[CodedIvf.compact]]):
    * codes via [[Ann.compactIvfIndex]] (partition layout kept,
    * tombstoned rows dropped), and the vectors side anti-joined against
    * the SAME codes-side tombstones during its id-ordered rewrite. The
    * vectors half is not optional when a delete precedes a re-append of
    * the same id (the update path): the rerank's id filter would match
    * BOTH vector rows and emit duplicates — [[compactIvfPqVectors]]
    * alone keeps deleted rows by design. `dstPath` starts
    * tombstone-free. */
  def compactIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                        srcPath: String, dstPath: String,
                        recordsPerFile: Long = 1L << 20,
                        idCol: String = "vec_id"): Unit =
    CodedIvf.compact(spark, srcPath, dstPath, recordsPerFile, idCol)

  /** The pruned-codes ADC shortlist of a materialized index probe —
    * the codes-only half of [[ivfPqIndexTopK]], exposed so scan-metric
    * tests can assert file skipping on the codes scan directly.
    * Returns `(id, sim)` with the round-6 ADC score. */
  def ivfPqIndexShortlist(spark: org.apache.spark.sql.SparkSession, path: String,
                          query: DataFrame, cents: Seq[Seq[Double]], cb: Codebooks,
                          nprobe: Int, shortlist: Int,
                          idCol: String = "vec_id"): DataFrame =
    CodedIvf.shortlist(spark, path, query,
      Ann.probeIds(cents, Search.probeVector(query), nprobe), CodedIvf.pq(cb), shortlist,
      None, 0, idCol)

  /** Probe a materialized IVF-PQ index (see [[buildIvfPqIndex]]):
    * driver-ranked probes become a literal IN filter on the partition
    * column (plan-time pruning, same contract as [[Ann.ivfIndexTopK]]),
    * ADC shortlist over the stored codes, exact rerank from the
    * vectors table. The shortlist ids (≤ `shortlist` rows — bounded
    * driver state, like the probe ranking) also become a literal IN
    * filter, so the vectors scan prunes row groups via the sorted
    * layout's min/max stats instead of reading every float row.
    * [[appendToIvfPqIndex]] appends break that sorted layout one file
    * per batch — restore it with [[compactIvfPqVectors]]. */
  def ivfPqIndexTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                     query: DataFrame, cents: Seq[Seq[Double]], cb: Codebooks,
                     k: Int, nprobe: Int, shortlist: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    CodedIvf.topK(spark, path, query, cents, CodedIvf.pq(cb), k, shortlist, nprobe, None,
      idCol, vecCol)

  /** FILTERED probe of a materialized IVF-PQ index —
    * [[Ann.ivfIndexTopKFiltered]]'s contract on the composed index:
    * the predicate (over the CODES side's columns — the id; encode
    * routable attributes into the id space or keep them as codes-side
    * columns) applies BEFORE the ADC shortlist inside the probed
    * partitions, so the shortlist ranks only matching candidates and
    * needs no over-fetch of its own; the exact-count fallback widens
    * to every cluster (still filtered) when the probed ones hold fewer
    * than `k` matches. Guarantee: min(k, matching survivors) results,
    * never silently fewer because of cluster pruning. */
  def ivfPqIndexTopKFiltered(spark: org.apache.spark.sql.SparkSession, path: String,
                             query: DataFrame, cents: Seq[Seq[Double]], cb: Codebooks,
                             predicate: Column, k: Int, nprobe: Int, shortlist: Int,
                             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    CodedIvf.topK(spark, path, query, cents, CodedIvf.pq(cb), k, shortlist, nprobe,
      Some(predicate), idCol, vecCol)

  /** Batch IVF-PQ retrieval — the multi-query production shape (the
    * reference's real workload is a stream of questions, one search per
    * `handleSendMessage`, `/root/reference/App.tsx:180-224`; a training
    * pipeline evaluates thousands of queries at once). Everything is a
    * JOIN, nothing loops per query on the driver:
    *
    *   1. probe selection: (queries × broadcast centroids) + per-qid
    *      window top-nprobe ([[Ann.batchProbes]]) — Q·k scored rows,
    *      Q·nprobe probe rows;
    *   2. candidates: probe rows equi-join corpus codes on the cluster
    *      id (with the index materialized this is the partition key);
    *   3. ADC shortlist per qid (window over the probed codes);
    *   4. exact rerank of shortlist rows only, per-qid window top-k.
    *
    * `queries` carries (qid, qvec). Probe/shortlist frames broadcast
    * here (Q·nprobe and Q·shortlist rows — small for interactive Q);
    * for a huge query side flip the broadcasts to shuffle joins — the
    * shapes are already keyed. Returns (qid, id, sim), k rows per qid. */
  def ivfPqTopKBatch(corpus: DataFrame, queries: DataFrame, k: Int, nprobe: Int,
                     cents: Seq[Seq[Double]], shortlist: Int, cb: Codebooks,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (probes, probed) = Ann.batchProbes(queries, cents, nprobe)
    val cands = corpus
      .select(col(idCol), Ann.assignCluster(col(vecCol), cents).as("__cluster"),
        encodeCol(col(vecCol), cb).as("codes"))
      .filter(col("__cluster").isin(probed: _*))
      .join(broadcast(probes), Seq("__cluster")).drop("__cluster")
    val short = Ann.perQidTop(
      cands.join(broadcast(queries), Seq("qid"))
        .select(col("qid"), col(idCol),
          round(adcSim(cb, col("codes"), col("qvec")), 6).as("sim")),
      shortlist, idCol).select(col("qid"), col(idCol))
    Ann.batchExactTop(corpus.select(col(idCol), col(vecCol)).join(broadcast(short), Seq(idCol)),
      queries, k, idCol, vecCol)
  }

  /** Batch probe of a MATERIALIZED IVF-PQ index
    * ([[CodedIvf.batchTopK]]): per-query probe selection as a join (as
    * [[ivfPqTopKBatch]]), then the union of all probed clusters becomes
    * a literal IN on the partition column — ≤ numClusters ints of
    * driver state — so file skipping still happens at plan time;
    * per-query restriction to each query's own probes is the
    * (qid, __cluster) equi-join on the pruned scan. */
  def ivfPqIndexTopKBatch(spark: org.apache.spark.sql.SparkSession, path: String,
                          queries: DataFrame, cents: Seq[Seq[Double]], cb: Codebooks,
                          k: Int, nprobe: Int, shortlist: Int,
                          idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    CodedIvf.batchTopK(spark, path, queries, cents, CodedIvf.pq(cb), k, shortlist, nprobe,
      None, idCol, vecCol)

  /** The PQ reconstruction of a codes column — per-subspace codebook
    * entries concatenated back into one `array<double>` of length
    * m·sub. */
  private def reconstructCol(codes: Column, cb: Codebooks): Column =
    concat((0 until cb.m).map(mi =>
      element_at(typedlit(cb.books(mi)),
        element_at(codes, mi + 1).cast("int") + 1)): _*)

  /** Per-row reconstruction error `‖v − PQ(v)‖` of `v` through `cb` —
    * encode + decode + L2 in one expression (raw, unnormalized: the
    * codebook-quality metric; [[reconstructionDrift]] uses the
    * normalized form for RANKING-impact monitoring). For residual
    * codebooks pass the residual column: `‖r − r̂‖` IS the full
    * reconstruction error of `mu + r̂` against `x`. */
  def reconErrorCol(vec: Column, cb: Codebooks): Column =
    // fused √Σ(x−y)² kernel — same double widenings, per-element op,
    // and accumulation order as the composed sqrt(dot(diff, diff))
    graft.functions.EuclideanDistance(vec,
      reconstructCol(encodeCol(vec, cb), cb))

  /** Record RANGE-pruning stats for a materialized IVF-PQ index at
    * `<path>/codes.rstats` — [[Ann.recordRangeStats]]'s per-cluster
    * `(mu, radius)` certificate (over the normalized TRUE vectors,
    * joined from the vectors side) plus one PQ-specific column:
    * `qerr`, the cluster's max `‖x̂ − r̂‖` between each normalized
    * vector and its normalized PQ reconstruction. Cauchy–Schwarz gives
    * `|cos(q, x) − adc(q, x)| = |q̂·(x̂ − r̂)| ≤ ‖x̂ − r̂‖ ≤ qerr`
    * independent of the query, so `adc + qerr` is a per-row UPPER
    * BOUND on the true cosine — the certificate that lets the range
    * search filter on the 8-byte codes without ever losing a true
    * answer. Same lifecycle as the IVF stats: a build or an append
    * deletes them ([[graft.store.Sidecars]]). */
  def recordIvfPqRangeStats(spark: org.apache.spark.sql.SparkSession, path: String,
                            cb: Codebooks, idCol: String = "vec_id",
                            vecCol: String = "embedding"): Unit = {
    val rows = CodedIvf.rows(spark, path, idCol)
    def dist(a: Column, b: Column): Column =
      graft.functions.EuclideanDistance(a, b)
    val normed = rows.select(col("__cluster"),
      graft.functions.L2Normalize(col(vecCol)).as("__nv"),
      graft.functions.L2Normalize(reconstructCol(col("codes"), cb)).as("__rv"))
    val mu = normed.groupBy(col("__cluster"))
      .agg(graft.functions.VectorAvg(col("__nv")).as("mu"))
    normed.join(broadcast(mu), Seq("__cluster"))
      .select(col("__cluster"), col("mu"),
        dist(col("__nv"), col("mu")).as("__d"),
        dist(col("__nv"), col("__rv")).as("__e"))
      .groupBy(col("__cluster"))
      .agg(first(col("mu")).as("mu"), max(col("__d")).as("radius"),
        max(col("__e")).as("qerr"))
      .coalesce(1) // model state: k rows
      .write.mode("overwrite").parquet(Sidecars.rstats(CodedIvf.codes(path)))
  }

  /** EXACT range search over a materialized IVF-PQ index — every
    * vector with round-6 cosine ≥ `tau`, LOSSLESS like
    * [[Ann.ivfRangeSearch]] but pruning at BOTH index levels:
    *
    *   1. clusters certify out by the recorded `q̂·mu + radius` bound
    *      (partition pruning — non-probed directories never open);
    *   2. inside the probed clusters the CODES alone pre-filter:
    *      a row survives only if `adc + qerr_cluster` can reach
    *      `tau` — the ADC-bound filter touches no float vectors;
    *   3. only the survivors re-read exact vectors for the final
    *      `round-6 cos ≥ tau` filter.
    *
    * The 1e-6 margins cover the round-6 result rounding and driver
    * float error (the [[Ann.rangeProbeClusters]] convention). At 100
    * TB the query path reads probed clusters' 8-byte codes plus float
    * rows for the ADC survivors only. Pruning power is the data's
    * clusteredness times the codebook's fidelity (loose codebooks →
    * large qerr → weak in-cluster pruning); correctness is
    * unconditional. Fails loudly on missing stats
    * ([[recordIvfPqRangeStats]]). */
  def ivfPqRangeSearch(spark: org.apache.spark.sql.SparkSession, path: String,
                       query: DataFrame, tau: Double, cb: Codebooks,
                       idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val qvec = Search.probeVector(query)
    val codes = CodedIvf.codes(path)
    val probes = Ann.rangeProbeClusters(spark, codes, qvec, tau)
    // per-cluster qerr for the probed set — k rows of model state
    val qerrs = CorpusStore.load(spark, Sidecars.rstats(codes))
      .filter(col("__cluster").isin(probes: _*))
      .select(col("__cluster"), col("qerr"))
    val cand = Ann.probedRows(spark, codes, probes, idCol)
      .join(broadcast(qerrs), Seq("__cluster"))
      .crossJoin(broadcast(query))
      .filter(adcSim(cb, col("codes"), col("qvec")) + col("qerr") + lit(1e-6) >= tau)
      .select(col(idCol))
    CorpusStore.load(spark, CodedIvf.vectors(path))
      .join(broadcast(cand), Seq(idCol), "left_semi")
      .crossJoin(broadcast(query))
      .select(col(idCol),
        round(VectorOps.cosine(col(vecCol), col("qvec")), 6).as("sim"))
      .filter(col("sim") >= tau)
  }

  /** Mean normalized reconstruction error of the index's current
    * survivors: avg over rows of `‖x̂ − r̂‖` (normalized vector vs its
    * normalized PQ reconstruction) — one codes ⋈ vectors scan. */
  private def meanReconError(spark: org.apache.spark.sql.SparkSession, path: String,
                             cb: Codebooks, idCol: String, vecCol: String): Double =
    CodedIvf.rows(spark, path, idCol)
      .select(graft.functions.EuclideanDistance(
        graft.functions.L2Normalize(col(vecCol)),
        graft.functions.L2Normalize(reconstructCol(col("codes"), cb)))
        .as("__e"))
      .agg(avg(col("__e"))).head().getDouble(0)

  /** Record the reconstruction-error BASELINE at `<path>/codes.qstats`
    * — the PQ half of the drift story [[Ann.recordIvfModel]] covers
    * for the coarse quantizer: appends encode through the FROZEN
    * codebooks forever, so under distribution drift the quantization
    * error grows while ADC rankings silently degrade. Call right after
    * [[buildIvfPqIndex]] (which deletes a stale baseline) and after a
    * retrain. */
  def recordIvfPqModel(spark: org.apache.spark.sql.SparkSession, path: String,
                       cb: Codebooks, idCol: String = "vec_id",
                       vecCol: String = "embedding"): Unit = {
    import spark.implicits._
    Seq(meanReconError(spark, path, cb, idCol, vecCol)).toDF("mean_err")
      .coalesce(1).write.mode("overwrite").parquet(Sidecars.qstats(CodedIvf.codes(path)))
  }

  /** Codebook-staleness drift vs the recorded baseline — the
    * "retrain the PQ side now?" scalar, [[Ann.assignmentDrift]]'s
    * twin for the quantization error: one row `(build_mean_err,
    * current_mean_err, drift)` (round-6), drift > 0 means the current
    * contents reconstruct WORSE through the frozen codebooks than the
    * build corpus did — schedule [[retrainIvfPqIndex]] when it
    * crosses the deployment's threshold. */
  def reconstructionDrift(spark: org.apache.spark.sql.SparkSession, path: String,
                          cb: Codebooks, idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame = {
    import spark.implicits._
    def r6(x: Double): Double = VectorOps.round6(x)
    // baseline + current error are independent eager reads — overlap
    val (b6, c6) = graft.io.Par.join2(
      r6(CorpusStore.load(spark, Sidecars.qstats(CodedIvf.codes(path))).head().getDouble(0)),
      r6(meanReconError(spark, path, cb, idCol, vecCol)))
    Seq((b6, c6, r6(c6 - b6)))
      .toDF("build_mean_err", "current_mean_err", "drift")
  }

  /** BATCH filtered probe of a materialized IVF-PQ index — the
    * query-table form of [[ivfPqIndexTopKFiltered]] on the
    * [[ivfPqIndexTopKBatch]] pattern: per-query probe selection as a
    * join + per-qid window, the union of probed clusters a plan-time
    * literal IN, the predicate applied INSIDE the probed partitions
    * (before the ADC shortlist, so it ranks only matching candidates),
    * and NO per-query driver loop. The per-query exact-count fallback
    * becomes one bounded aggregate (matching-candidate counts per qid —
    * Q rows of driver state, the probe-ranking precedent); short qids
    * re-candidate against the full — still filtered — index via a
    * broadcast of just those qids, and every qid still gets
    * min(k, matching survivors) rows. Returns (qid, id, sim), k rows
    * per qid. */
  def ivfPqIndexTopKFilteredBatch(spark: org.apache.spark.sql.SparkSession, path: String,
                                  queries: DataFrame, cents: Seq[Seq[Double]], cb: Codebooks,
                                  predicate: Column, k: Int, nprobe: Int, shortlist: Int,
                                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    CodedIvf.batchTopK(spark, path, queries, cents, CodedIvf.pq(cb), k, shortlist, nprobe,
      Some(predicate), idCol, vecCol)

  /** The production PQ pipeline: ADC shortlists `shortlist` candidates
    * from the compressed codes, then ONLY those rows re-read their
    * exact vectors for a float-cosine rerank to top-k. At scale the
    * shortlist join is a broadcast semi-join (k·shortlist ids), so the
    * exact vectors of the 99.9% non-candidates are never touched —
    * recall of the exact scan at a fraction of its memory traffic. */
  def adcTopKReranked(corpus: DataFrame, query: DataFrame, k: Int, shortlist: Int,
                      cb: Codebooks, idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    val cands = adcTopK(corpus, query, shortlist, cb, idCol, vecCol)
      .select(col(idCol))
    corpus.join(broadcast(cands), Seq(idCol), "left_semi")
      .crossJoin(broadcast(query))
      .select(col(idCol),
        round(VectorOps.cosine(col(vecCol), col("qvec")), 6).as("sim"))
      .orderBy(col("sim").desc, col(idCol).asc).limit(k)
  }
}
