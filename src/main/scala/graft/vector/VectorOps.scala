package graft.vector

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math as pure Column builders — builtin higher-order functions,
  * fully whole-stage-codegen'd, no UDFs on the hot path.
  *
  * Semantics replicate the reference cosine kernel
  * (`/root/reference/services/vectorDb.ts:26-52`):
  *   - dimension mismatch  → -1.0 (logged-not-thrown there; a value here)
  *   - either zero norm    →  0.0 (`vectorDb.ts:47-49`)
  *   - accumulation in doubles (JS numbers are doubles)
  *
  * Scale note: each expression is O(d) per row inside codegen — no
  * shuffle, no driver involvement; on a cluster this vectorizes across
  * all partitions.
  */
object VectorOps {

  /** DRIVER-side cosine over model state (probe ranking, MMR greedy):
    * the same edge semantics and index-order double accumulation as
    * the Column kernel, so driver scores replay in SQL exactly. ONE
    * definition — every driver-side scorer must share it, or a change
    * to accumulation order desynchronizes some scorer from the oracle
    * with no test to catch it. */
  def cosineLocal(a: Seq[Double], b: Seq[Double]): Double = {
    if (a.size != b.size) return -1.0
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.size) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** DRIVER-side round-6, HALF_UP — the arithmetic of SQL `round(x, 6)`
    * in both engines (rint would be half-even); NaN and ±Infinity pass
    * through unchanged, as in Spark's `round`. Shared for the same
    * one-definition reason as [[cosineLocal]]. */
  def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Σ a_i·b_i accumulated in DoubleType, sequential order (parity with
    * DuckDB's `list_dot_product` over `DOUBLE[]`). Backed by the fused
    * codegen kernel [[graft.functions.SumProduct]] — one
    * allocation-free loop per row instead of the CodegenFallback
    * `aggregate(zip_with(...))` pair; [[dotHof]] is the executable
    * specification it is tested against (bit-identical, including the
    * null-on-mismatch/null-element semantics). */
  def dot(a: Column, b: Column): Column = graft.functions.SumProduct(a, b)

  /** Builtin-HOF formulation of [[dot]] — executable specification
    * only (the [[cosineHof]] convention). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  /** L2 norm, double accumulation. */
  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity with the reference's edge semantics
    * (`vectorDb.ts:27-49`): dim mismatch → -1, zero vector → 0.
    * Backed by the fused codegen kernel
    * [[graft.functions.CosineSimilarity]] — one allocation-free loop
    * per row; bit-identical to [[cosineHof]] (asserted in tests). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity(a, b)

  /** Builtin-HOF formulation of [[cosine]] — three array traversals and
    * a zip allocation per row; kept as the executable specification the
    * fused kernel is tested against. */
  def cosineHof(a: Column, b: Column): Column = {
    val na = l2Norm(a)
    val nb = l2Norm(b)
    when(size(a) =!= size(b), lit(-1.0))
      .when(na === lit(0.0) || nb === lit(0.0), lit(0.0))
      .otherwise(dot(a, b) / (na * nb))
  }

  /** Cosine rounded to 6 places — the project-wide float-determinism
    * contract (SURVEY §5: absorbs last-ulp reduction-order drift vs the
    * DuckDB oracle). */
  def cosine6(a: Column, b: Column): Column = round(cosine(a, b), 6)

  /** L2-normalize a vector in double space; zero vector maps to itself
    * (so downstream dot-products yield 0, matching `vectorDb.ts:47-49`).
    * Pre-normalizing the corpus at ingest turns cosine into a plain dot
    * product — the scale optimization the reference misses
    * (`vectorDb.ts:38-44` recomputes the query magnitude per row).
    * Backed by the fused O(d) kernel [[graft.functions.L2Normalize]];
    * [[l2NormalizeHof]] is the executable spec it is tested against. */
  def l2Normalize(a: Column): Column = graft.functions.L2Normalize(a)

  /** Symmetric per-vector int8 quantization — `⌊x/(max|x|/127) + ½⌋`,
    * `array<tinyint>` output (4× smaller than the float corpus column;
    * the 100 TB index-fits-in-RAM lever). Cosine over quantized
    * vectors needs no dequantization (the scale cancels) and integer
    * dots ≤ d·127² are exact in double, so quantized scores reproduce
    * bit-for-bit cross-engine. Fused O(d) kernel
    * [[graft.functions.QuantizeInt8]]; [[quantizeInt8Hof]] is the
    * executable spec it is tested against. */
  def quantizeInt8(a: Column): Column = graft.functions.QuantizeInt8(a)

  /** Composed-builtin form of [[quantizeInt8]] — executable
    * specification only: the `m` subtree re-evaluates per element
    * (same non-hoisting trap as [[l2NormalizeHof]]). */
  def quantizeInt8Hof(a: Column): Column = {
    val m = array_max(transform(a, x => abs(x.cast("double"))))
    when(m === lit(0.0), transform(a, _ => lit(0).cast("byte")))
      .otherwise(transform(a,
        x => floor(x.cast("double") / (m / lit(127.0)) + lit(0.5)).cast("byte")))
  }

  /** Composed-builtin form of [[l2Normalize]] — kept as the executable
    * specification only. Catalyst does NOT hoist the loop-invariant norm
    * out of the `transform` lambda, so this evaluates the full
    * `sqrt(aggregate(...))` tree per ELEMENT — O(d²) per row. Never put
    * it on a hot path. */
  def l2NormalizeHof(a: Column): Column = {
    val n = l2Norm(a)
    when(n === lit(0.0), transform(a, x => x.cast("double")))
      .otherwise(transform(a, x => x.cast("double") / n))
  }

  /** 1-BIT (binary) quantization: the sign bits of dimensions
    * [from, until) packed into one BIGINT — 64× smaller than the float
    * column, scored by Hamming distance (`bit_count(a XOR b)`), the
    * coarsest point on the float→int8→PQ→binary compression ladder
    * (public binary-embedding practice). Pack ≤ 32 dims per word (two
    * words for d = 64): bit 63 would need 2^63, which overflows BIGINT
    * in the oracle engine — and integer-only packing + popcount means
    * the ranking reproduces EXACTLY cross-engine, no rounding contract
    * needed. */
  def signBits(a: Column, from: Int, until: Int): Column = {
    require(from >= 0 && until > from && until - from <= 32,
      "pack at most 32 sign bits per word")
    (from until until).map(i =>
      when(element_at(a, i + 1) > 0, lit(1L << (i - from))).otherwise(lit(0L)))
      .reduce(_ + _)
  }

  /** Hamming distance between two packed sign-bit words. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Deterministic ±1 random-projection sign matrix (`outDim × inDim`).
    * Dense Rademacher projection (Achlioptas 2003: ±1 entries satisfy
    * the Johnson–Lindenstrauss bound; no Gaussian sampling needed) with
    * entries drawn from the engine's portable polynomial hash
    * ([[graft.functions.KmvSketch.hash]] seed family) on the flattened
    * index `i·inDim + j` — every engine, and the SQL oracle, rebuilds
    * the SAME matrix from the two dims alone; nothing is stored. */
  def rpSigns(inDim: Int, outDim: Int): Seq[Seq[Double]] =
    (0 until outDim).map { i =>
      (0 until inDim).map { j =>
        if (graft.functions.KmvSketch.hash(i.toLong * inDim + j) % 2 == 0) 1.0
        else -1.0
      }
    }

  /** Project a vector through [[rpSigns]]: `p_i = Σ_j v_j·s_ij`, double
    * accumulation in index order (parity with `list_dot_product`).
    * Backed by the fused codegen kernel
    * [[graft.functions.RandomProject]] — the matrix rides as one
    * reference object and the projection is a single allocation-free
    * loop; a map-only pass, no shuffle, no model table to join; the
    * standard pre-ANN compression step (4× fewer multiply-adds per
    * cosine at 64→16). Bit-identical to [[randomProjectHof]]
    * (asserted in tests). */
  def randomProject(vec: Column, signs: Seq[Seq[Double]]): Column =
    graft.functions.RandomProject(vec, signs)

  /** Builtin-HOF formulation of [[randomProject]] — outDim zip
    * allocations per row; kept as the executable specification the
    * fused kernel is tested against. */
  def randomProjectHof(vec: Column, signs: Seq[Seq[Double]]): Column =
    transform(typedlit(signs), row => dot(vec, row))
}
