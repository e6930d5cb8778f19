package graft.embed

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic local featurizer — the zero-egress substitution for the
  * reference's remote Gemini embedding calls
  * (`/root/reference/services/geminiService.ts:27-77`): same operator
  * signature (`string → float[dim]`, batched over rows), but a seeded
  * hashing-trick term-frequency vector instead of a network call. The
  * dimension is a config parameter mirroring the model constant
  * (`constants.ts:6`, 768 for embedding-001; 64 matches the test data).
  *
  * The token hash is an engine-portable polynomial
  * (`h = fold(h*31 + charCode) mod 1e9+7`, h0 = 7) so the DuckDB oracle
  * can replicate buckets exactly — deliberately NOT Spark's Murmur3
  * `hash()`, which no other engine reproduces.
  *
  * Scale: `featurize` is a scalar map — no shuffle, embarrassingly
  * parallel; the reference's batch-of-50 + 1 s sleep rate limiting
  * (`App.tsx:17-18,88-90`) is an API artifact with no analogue once the
  * model is in-process.
  */
object Featurizer {

  val DefaultDim = 64
  val HashMod: Long = 1000000007L
  val HashSeed: Long = 7L

  /** Portable polynomial hash of a token, folded over Unicode CODE
    * POINTS (not UTF-16 units) — parity with SQL `ascii()`/`ord()`,
    * which yield codepoints, including for supplementary-plane chars. */
  def tokenHash(s: String): Long = {
    var h = HashSeed
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * 31 + cp) % HashMod
      i += Character.charCount(cp)
    }
    h
  }

  /** Single-text featurize (A6, query path `geminiService.ts:27-48`):
    * lowercase, split on spaces, hash each token into one of `dim`
    * buckets, L2-normalize the counts. Empty text → zero vector. */
  def featurizeText(text: String, dim: Int = DefaultDim): Array[Double] = {
    val v = new Array[Double](dim)
    text.toLowerCase(java.util.Locale.ROOT).split(" ").foreach { t =>
      if (t.nonEmpty) v((tokenHash(t) % dim).toInt) += 1.0
    }
    val norm = math.sqrt(v.map(x => x * x).sum)
    if (norm == 0.0) v else v.map(_ / norm)
  }

  /** Column form (A5, document path `geminiService.ts:57-77`): the
    * native Catalyst expression [[graft.functions.FeaturizeCounts]] —
    * one fused O(tokens + dim) pass per row inside whole-stage codegen,
    * no UDF serialization on the ingest hot path. Null text propagates
    * null (standard expression semantics). */
  def featurize(dim: Int = DefaultDim): Column => Column =
    c => graft.functions.FeaturizeCounts(c, dim, normalize = true)

  /** Un-normalized bucket counts. Cosine is scale-invariant, so ranking
    * and similarity match the normalized form — but integer counts make
    * every dot/norm sum an EXACT double (no rounding at any add), giving
    * bit-exact parity with a SQL oracle that sums buckets in any order. */
  def featurizeCountsText(text: String, dim: Int = DefaultDim): Array[Double] = {
    val v = new Array[Double](dim)
    text.toLowerCase(java.util.Locale.ROOT).split(" ").foreach { t =>
      if (t.nonEmpty) v((tokenHash(t) % dim).toInt) += 1.0
    }
    v
  }

  def featurizeCounts(dim: Int = DefaultDim): Column => Column =
    c => graft.functions.FeaturizeCounts(c, dim, normalize = false)
}
