package graft.analysis

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.embed.Featurizer

/** Deduplication operators for the training-data-pipeline north star:
  * exact (hash group-by), n-gram Jaccard near-dup, MinHash+LSH
  * candidates, SimHash fingerprints, embedding-cosine near-dup.
  *
  * Scale notes:
  *  - exact dedup is one shuffle on a 128-bit text hash (not the text
  *    itself) — at 100 TB you shuffle 16-byte keys, not documents.
  *  - n-gram Jaccard pair joins never broadcast a corpus side and never
  *    enumerate all pairs of any block: the group-blocked form is the
  *    count-form set-similarity join (equi-join shingle occurrences,
  *    count shared shingles per pair), the global form prefilters with
  *    MinHash+LSH bands and reranks with the exact fused merge-intersect.
  *  - MinHash signatures are fixed-width (numHashes longs) regardless of
  *    document size; the LSH band join shuffles only (band, bandHash)
  *    pairs, never O(N²).
  *  - SimHash pairs use pigeonhole bit-banding: exact all-pairs
  *    Hamming-≤-k semantics from k+1 per-band equi-joins.
  */
object Dedup {

  /** Repartition by `key` with an EXPLICIT partition count (the session's
    * `spark.sql.shuffle.partitions`). A bare `repartition(col)` emits
    * `REPARTITION_BY_COL`, which AQE is free to coalesce back down when
    * the *input bytes* are small — but these exchanges spread downstream
    * COMPUTE (shingle hashing, fingerprints, and most critically the
    * pair join+aggregate that rides this partitioning), which AQE's
    * size-based heuristic cannot see. Measured at sf0.1: the
    * ngramJaccardPairs join ran on AQE-coalesced partitions at 23.8 s vs
    * 2.0 s with the count pinned. */
  private def spread(df: DataFrame, key: Column): DataFrame = {
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
    df.repartition(n, key)
  }

  /** Character shingles (k-grams) of `text`, distinct. Short texts
    * (< k chars) yield their single truncated prefix shingle. */
  def shingles(text: Column, k: Int): Column =
    array_distinct(transform(
      sequence(lit(0), greatest(length(text) - k, lit(0))),
      i => substring(text, i + lit(1), lit(k))))

  /** Exact dedup: group by md5(text), keep the minimum id as the
    * representative, count members. One row per distinct text. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(encode(col(textCol), "UTF-8")).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** The rows exact-dedup would drop — left-anti join of the corpus
    * against its representatives (SURVEY §2: semi/anti join `[EXT]`). */
  def exactDropped(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = exact(df, idCol, textCol).select(col("keep_id").as(idCol))
    df.join(keep, Seq(idCol), "left_anti")
  }

  /** n-gram Jaccard near-duplicate pairs within a blocking group.
    * Distinct k-shingles per doc; Jaccard = |∩| / |∪| over the hashed
    * shingle sets (the MinHash-literature convention — the portable
    * polynomial hash makes the oracle reproduce identical sets,
    * collisions included); pairs with jaccard ≥ threshold, (id_a < id_b).
    *
    * Shape: PPJoin-style prefix filtering (Xiao et al., WWW'08).
    * Fix a global total order on each group's shingles and generate
    * candidate pairs ONLY from each doc's first ⌈(1−t)·|s|⌉+1 shingles
    * under that order (its "prefix"); survivors are verified with the
    * exact fused merge-intersect over the full sorted hash arrays.
    *
    * Exactness holds for ANY fixed global order: for a pair with
    * jaccard ≥ t, the order-smallest shared shingle c sits inside BOTH
    * prefixes — if c fell outside A's prefix, the > (1−t)·|A| shingles
    * before it would all be non-shared, leaving |A∩B| < t·|A| ≤
    * t·|A∪B|, contradicting jaccard ≥ t. So the prefix-to-prefix
    * equi-join has full recall, and the merge verification makes every
    * emitted score exact.
    *
    * The order used is rarity-BANDED: shingles with in-group document
    * frequency ≤ `hotCap` ("rare", ordered by hash) precede the "hot"
    * tail (ordered by hash). Banding instead of fully df-sorted rarity
    * is the Spark-shaped trade: a full rarity sort needs a per-element
    * df join plus a per-doc re-sort of the whole occurrence stream
    * (measured 2× the entire query's runtime), while the band order is
    * computable with in-row array ops against one tiny hot-list —
    * `array_except`/`array_intersect` on the ALREADY hash-sorted
    * arrays — and captures the entire scale argument: a near-universal
    * stop-shingle ("`the `") is hot, so it enters a prefix only for
    * degenerate docs with fewer than ⌈(1−t)·|s|⌉+1 rare shingles, and
    * every rare prefix key fans out at most C(hotCap, 2) — the
    * hot-shingle C(df,2) blow-up of the plain count-form join (the
    * round-3 scale defect) is structurally gone.
    *
    * Every stage is a keyed shuffle of fixed-width rows; shingle ARRAYS
    * travel only to verify surviving candidates. The hot-list is one
    * row per group (heavy-tail small — Σdf/hotCap entries at most) and
    * joins broadcast; candidates also pass the PPJoin length filter
    * (jaccard ≥ t forces t·|B| ≤ |A|). On heavy-tailed real corpora
    * [[minhashJaccardPairs]] remains the recall-tunable alternative
    * (LSH S-curve candidates, same exact rerank). */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        groupCol: String, k: Int, threshold: Double,
                        hotCap: Int = 128): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold in (0,1]: $threshold (prefix filtering needs t > 0)")
    // spread: the rarity aggregate, prefix join and rerank joins all
    // ride this pinned partitioning — AQE would coalesce a bare by-col
    // repartition of small input bytes and serialize the downstream
    // compute (see `spread`).
    val sets = spread(df, col(idCol))
      .select(col(idCol).as("id"), col(groupCol).as("grp"),
        shinglesHashes(col(textCol), k).as("ss")) // distinct, sorted per doc
      // pinned: consumed FOUR times (df aggregate, prefix build, both
      // rerank sides) — without the pin each consumer re-shingles the
      // corpus (the Winnow.keptFps lesson); the pinned frame is one
      // (id, grp, hashes) row per doc
      .localCheckpoint()
    val toks = sets.select(col("id"), col("grp"), explode(col("ss")).as("h"))
    // in-group document frequency, map-side combined; only the hot tail
    // (df > hotCap) survives, aggregated to one small array per group
    val hotArr = toks.groupBy(col("grp"), col("h"))
      .agg(count(lit(1)).as("dfreq"))
      .filter(col("dfreq") > hotCap)
      .groupBy(col("grp"))
      .agg(sort_array(collect_list(col("h"))).as("hot"))
    // per-doc prefix under the (rare-by-hash, then hot-by-hash) order:
    // pure array ops on the already-sorted ss — no df join, no re-sort
    val prefix = sets.join(hotArr, Seq("grp"), "left")
      .withColumn("hot", coalesce(col("hot"), array().cast("array<long>")))
      .withColumn("n", size(col("ss")))
      .withColumn("pref", slice(
        concat(array_except(col("ss"), col("hot")),
          array_intersect(col("ss"), col("hot"))),
        lit(1), (ceil((lit(1.0) - threshold) * col("n")) + 1).cast("int")))
      .select(col("id"), col("grp"), col("n"), explode(col("pref")).as("h"))
    // candidate pairs from prefix collisions, with the PPJoin length
    // filter (J ≥ t ⟹ t·|B| ≤ |A| — a size-ratio cut, free in the join)
    val cands = prefix.as("a").join(prefix.as("b"),
        col("a.grp") === col("b.grp") && col("a.h") === col("b.h") &&
          col("a.id") < col("b.id") &&
          col("a.n") >= lit(threshold) * col("b.n") &&
          col("b.n") >= lit(threshold) * col("a.n"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cands
      .join(sets.select(col("id").as("id_a"), col("ss").as("sa")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("ss").as("sb")), Seq("id_b"))
      .withColumn("jaccard",
        round(graft.functions.SortedJaccard(col("sa"), col("sb")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Scale-first n-gram Jaccard near-dup pairs: MinHash+LSH band
    * candidates ([[minhashCandidates]] — shuffles only (band, sub-sig)
    * keys, never a coarse-block pair explosion), reranked with the exact
    * fused merge-intersect Jaccard over the candidates' shingle sets.
    * No blocking column, no broadcast of any corpus side; recall follows
    * the LSH S-curve (jaccard^rowsPerBand per band), and every surviving
    * pair's score is EXACT. */
  def minhashJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                          k: Int, numHashes: Int, rowsPerBand: Int,
                          threshold: Double): DataFrame = {
    val cands = minhashCandidates(df, idCol, textCol, k, numHashes, rowsPerBand)
    val sets = df.select(col(idCol).as("id"), shinglesHashes(col(textCol), k).as("ss"))
    cands
      .join(sets.select(col("id").as("id_a"), col("ss").as("sa")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("ss").as("sb")), Seq("id_b"))
      .withColumn("jaccard",
        round(graft.functions.SortedJaccard(col("sa"), col("sb")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** MinHash signature column: for seed i, min over shingles of
    * (h·(2i+1) + b_i) mod p over the portable polynomial shingle hashes.
    * One fused codegen pass per row (graft.functions.MinHashSignature) —
    * no explode, no shuffle. Null for docs with no shingles. */
  def minhashSignature(text: Column, k: Int, numHashes: Int): Column =
    graft.functions.MinHashSignature(shinglesHashes(text, k), numHashes)

  /** Portable polynomial hashes of the distinct k-shingles, sorted —
    * single-pass native expression (see
    * [[graft.functions.SortedShingleHashes]]); `shinglesHashesHof` is
    * the composed-builtin executable specification it is tested against. */
  def shinglesHashes(text: Column, k: Int): Column =
    graft.functions.SortedShingleHashes(text, k)

  def shinglesHashesHof(text: Column, k: Int): Column =
    sort_array(array_distinct(transform(
      sequence(lit(0), greatest(length(text) - k, lit(0))),
      i => polyHash(substring(text, i + lit(1), lit(k))))))

  /** HOF form of [[Featurizer.tokenHash]]: fold (h*31+code) mod 1e9+7. */
  def polyHash(s: Column): Column =
    aggregate(split(s, ""), lit(Featurizer.HashSeed),
      (h, c) => (h * 31 + ascii(c)) % Featurizer.HashMod)

  /** HOF form of the second polynomial (simhash64's high half):
    * fold (h*37+code) mod 998244353, seed 13. */
  def polyHashB(s: Column): Column =
    aggregate(split(s, ""), lit(graft.functions.SimHash64.SeedB),
      (h, c) => (h * graft.functions.SimHash64.MultB + ascii(c)) %
        graft.functions.SimHash64.ModB)

  /** MinHash + LSH candidate pairs: split the signature into bands of
    * `rowsPerBand`, join docs sharing any identical band sub-signature,
    * emit distinct (id_a < id_b) candidates. The band join shuffles by
    * (band, sub-signature) — never an O(N²) stage; two docs collide with
    * probability jaccard^rowsPerBand per band, the LSH S-curve. */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        k: Int, numHashes: Int, rowsPerBand: Int): DataFrame = {
    val banded = bandedSignatures(df, idCol, textCol, k, numHashes, rowsPerBand)
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bandsig") === col("b.bandsig") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** LSH band rows of a corpus: `(id, band, bandsig)` — the signature
    * split into `numHashes / rowsPerBand` sub-signatures. Two docs
    * share a `(band, bandsig)` key with probability
    * jaccard^rowsPerBand per band (the LSH S-curve); every candidate
    * join in this family is an equi-join on this key.
    *
    * No explicit isNotNull filter on sig: a null signature (null text)
    * is dropped by the non-outer Generate below, and a filter here gets
    * predicate-pushed BELOW the projection, recomputing the whole
    * signature per row just to null-check it. `spread` spreads the
    * signature computation across cores (the doc scan is one split at
    * small scale) with a pinned partition count AQE can't coalesce. */
  def bandedSignatures(df: DataFrame, idCol: String, textCol: String,
                       k: Int, numHashes: Int, rowsPerBand: Int): DataFrame = {
    require(rowsPerBand >= 1 && numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must be a positive multiple of rowsPerBand ($rowsPerBand)")
    val sig = spread(df, col(idCol))
      .select(col(idCol).as("id"),
        minhashSignature(col(textCol), k, numHashes).as("sig"))
    val numBands = numHashes / rowsPerBand
    sig.select(col("id"),
        posexplode(transform(sequence(lit(0), lit(numBands - 1)),
          b => slice(col("sig"), b * rowsPerBand + lit(1), lit(rowsPerBand)))))
      .select(col("id"), col("pos").as("band"), col("col").as("bandsig"))
  }

  /** Edit-distance rerank over candidate pairs — the exact-verify
    * stage of fuzzy (typo-level) dedup. Candidates come from a
    * blocking stage (MinHash LSH here: [[minhashCandidates]]); this
    * joins the texts back and keeps pairs whose Levenshtein distance
    * on the first `prefixLen` chars is ≤ `maxDist`.
    *
    * Scale shape: the DP cost is bounded to O(prefixLen²) PER PAIR
    * regardless of document length, and Spark's thresholded
    * `levenshtein(l, r, k)` early-exits the DP (banded) once the
    * distance provably exceeds k — returning -1, which the filter
    * drops; the DuckDB oracle computes the full distance and filters
    * `<= maxDist`, an identical survivor set. Both text joins are
    * keyed equi-joins shuffling (id, prefix) rows only. */
  def editRerank(pairs: DataFrame, docs: DataFrame, idCol: String, textCol: String,
                 prefixLen: Int, maxDist: Int): DataFrame = {
    val a = docs.select(col(idCol).as("id_a"),
      substring(col(textCol), 1, prefixLen).as("__ta"))
    val b = docs.select(col(idCol).as("id_b"),
      substring(col(textCol), 1, prefixLen).as("__tb"))
    pairs.join(a, Seq("id_a")).join(b, Seq("id_b"))
      .withColumn("dist", levenshtein(col("__ta"), col("__tb"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
  }

  /** 64-bit SimHash over whitespace tokens: per bit j, sum ±1 over
    * tokens by bit j of the token's bit source (j<32: the portable
    * polynomial hash; j≥32: a second independent polynomial — one
    * 30-bit hash alone cannot feed 64 fingerprint bits, see
    * [[graft.functions.SimHash64]]); fingerprint bit j is 1 iff the sum
    * is positive. Single-pass native expression; `simhash64Hof` is the
    * executable spec it's tested against. */
  def simhash64(text: Column): Column = graft.functions.SimHash64(text)

  def simhash64Hof(text: Column): Column = {
    val toks = graft.text.TextAnalysis.tokens(text)
    val hashes = transform(toks, t => polyHash(t))
    val hashesB = transform(toks, t => polyHashB(t))
    val bits = (0 until 64).map { j =>
      val hs = if (j < 32) hashes else hashesB
      val jj = if (j < 32) j else j - 32
      val s = aggregate(hs, lit(0L),
        (acc, h) => acc + when(shiftright(h, jj).bitwiseAND(1) === 1, 1L).otherwise(-1L))
      when(s > 0, lit(1L) * (1L << j)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** SimHash near-duplicate pairs over the WHOLE corpus — EXACT
    * semantics (every pair with Hamming distance ≤ maxHamming, no
    * blocking column), generated scale-safely via pigeonhole banding
    * (Manku et al., WWW'07): split the 64-bit fingerprint into
    * maxHamming+1 bit-bands; any pair within distance maxHamming agrees
    * EXACTLY on at least one band, so the union of per-band equi-joins
    * has full recall. The join shuffles 8-byte (band, band-value) keys —
    * never O(N²) — and candidates dedup after the Hamming filter.
    * At maxHamming=2 each band key spans 21-22 bits (≥19 live after the
    * 4 structurally-dead modulus bits) — ~2M+ distinct values, versus
    * the 32-bit fingerprint's ≤2^11 that made band buckets quadratic at
    * corpus scale (the round-3 defect). */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, s"maxHamming in [0,64): $maxHamming")
    val bands = maxHamming + 1
    val cuts = (0 to bands).map(i => i * 64 / bands)
    // spread before the fingerprint so the single-split small-sf scan
    // doesn't serialize the SimHash computation (pinned count — AQE
    // would coalesce a bare by-col repartition of small input bytes).
    // Single-fingerprint-pass note (measured, round 12): at bench
    // scale Spark plans the band self-join as a broadcast hash join,
    // executing the SimHash subtree once per side — two CHEAP passes
    // (~0.15 s each at sf0.1). Forcing one pass via localCheckpoint
    // was tried and is SLOWER here (eager 0.55-0.61 s, lazy 0.62 s vs
    // 0.52 s without: the materialization job costs more than the
    // second pass). At corpus scale the join exceeds the broadcast
    // threshold, both sides become identical shuffle stages, and
    // AQE's stage reuse runs the fingerprint computation once — so
    // the no-checkpoint form is the right plan at BOTH ends.
    val fp = spread(df, col(idCol))
      .select(col(idCol).as("id"), simhash64(col(textCol)).as("fp"))
    val bandVals = (0 until bands).map { i =>
      val width = cuts(i + 1) - cuts(i)
      val mask = if (width >= 64) -1L else (1L << width) - 1 // 1L<<64 wraps to 1
      shiftright(col("fp"), cuts(i)).bitwiseAND(lit(mask))
    }
    val banded = fp.select(col("id"), col("fp"),
      posexplode(array(bandVals: _*)).as(Seq("band", "bval")))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct() // a pair can agree on several bands; dedup post-filter
  }

  /** Connected components over a near-duplicate pair set: every id maps
    * to the MINIMUM id reachable through pairs (its component
    * representative) — the step a real dedup pipeline runs after pair
    * generation, so "A≈B, B≈C" collapses to one kept document even when
    * A and C never paired directly.
    *
    * Algorithm: min-label propagation with a pointer-jumping step each
    * round (the DataFrame rendition of the MapReduce connected-
    * components family, cf. Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14): per round, every node takes the
    * min of its own label and its neighbours' (one keyed join + agg),
    * then short-circuits to its representative's label (one self-join)
    * — the jump halves chain depth, so rounds needed are
    * O(log diameter), not O(diameter). Each round is two keyed shuffles
    * of (id, label) pairs; nothing is collected driver-side except the
    * per-round convergence count (one scalar — the same model-state
    * exception as k-means centroids). Labels are eagerly
    * `localCheckpoint`ed each round: iterative self-joins otherwise
    * DOUBLE the logical plan per round (2^rounds nodes — the classic
    * iterative-Spark OOM), and checkpointing truncates the lineage so
    * every round plans against materialized blocks. Iterates to a
    * fixpoint; throws if `maxIters` rounds don't converge (2^maxIters ≥
    * any real diameter — the default covers components a million hops
    * deep).
    *
    * Input pairs are undirected ((a, b) once is enough, either order);
    * ids not appearing in any pair are absent from the output (they
    * represent themselves — join back with a coalesce, see the
    * `dedup_components` query). */
  /** EXACT shared-token-span detection (the distributed shape of Lee
    * et al. 2021's "Deduplicating Training Data Makes Language Models
    * Better" exact-substring dedup — their suffix array is a
    * single-machine structure; the Spark-native equivalent is a gram
    * seed-and-extend): for every document pair sharing at least one
    * n-token gram, the length in TOKENS of their longest shared
    * contiguous run. A run of `L` consecutive shared grams on one
    * alignment diagonal is a shared span of exactly `L + n − 1`
    * tokens (the classic diagonal identity), and runs resolve with
    * gaps-and-islands: positions on a (pair, diagonal) group with
    * `pos − row_number()` constant iff consecutive.
    *
    * Scale shape: positional gram rows are one fused pass per doc
    * ([[graft.functions.TokenShingleHashes]] + posexplode); grams
    * present in more than `maxDf` docs are dropped BEFORE the pair
    * join (boilerplate n-grams would otherwise quadratically link the
    * corpus — the PPJoin prefix-filter lesson, same as [[graft.text
    * .Winnow]]); the join shuffles on the gram key; the island windows
    * partition by (pair, diagonal) — per-partition state bounded by
    * one pair's shared-gram count. No all-pairs step anywhere.
    *
    * Returns `(id_a, id_b, max_span)` for pairs whose longest shared
    * run is at least `minSpan` tokens, `id_a < id_b`. */
  def sharedSpans(df: DataFrame, idCol: String, textCol: String,
                  n: Int, maxDf: Int, minSpan: Int): DataFrame = {
    require(n >= 1 && minSpan >= n,
      s"minSpan ($minSpan) must cover the seed gram ($n)")
    val grams = positionalGrams(df, idCol, textCol, n)
    val rare = grams.groupBy(col("gram"))
      .agg(countDistinct(col("__id")).as("__df"))
      .filter(col("__df") <= maxDf)
      .select(col("gram"))
    val kept = grams.join(rare, Seq("gram"))
    val pairs = kept.as("a").join(kept.as("b"),
        col("a.gram") === col("b.gram") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"),
        col("a.pos").as("pa"), col("b.pos").as("pb"))
      .distinct()
    maxSpanPerPair(pairs, n).filter(col("max_span") >= minSpan)
  }

  /** Positional n-gram rows `(__id, pos, gram)` — one fused pass per
    * document, 0-based positions. */
  private def positionalGrams(df: DataFrame, idCol: String,
                              textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("__id"),
        posexplode(graft.functions.TokenShingleHashes(col(textCol), n)))
      .select(col("__id"), col("pos"), col("col").as("gram"))

  /** Gaps-and-islands reduction of shared-gram position pairs
    * `(id_a, id_b, pa, pb)` to the per-pair longest run:
    * `(id_a, id_b, max_span)` with span = run + n − 1. */
  private def maxSpanPerPair(pairs: DataFrame, n: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id_a"), col("id_b"), col("d")).orderBy(col("pa"))
    pairs
      .withColumn("d", col("pa") - col("pb"))
      .withColumn("__grp", col("pa") - row_number().over(w))
      .groupBy(col("id_a"), col("id_b"), col("d"), col("__grp"))
      .agg((count(lit(1)) + lit(n - 1)).as("span"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("span")).as("max_span"))
  }

  /** Every qualifying shared run of [[sharedSpans]] WITH its token
    * positions — `(id_a, id_b, pa, pb, span)`: the run starts at
    * 0-based token `pa` in doc a / `pb` in doc b and covers `span`
    * tokens on both sides. The evidence/apply form ([[sharedSpans]]
    * reduces this to the per-pair max). */
  def sharedSpanRanges(df: DataFrame, idCol: String, textCol: String,
                       n: Int, maxDf: Int, minSpan: Int): DataFrame = {
    require(n >= 1 && minSpan >= n,
      s"minSpan ($minSpan) must cover the seed gram ($n)")
    val grams = positionalGrams(df, idCol, textCol, n)
    val rare = grams.groupBy(col("gram"))
      .agg(countDistinct(col("__id")).as("__df"))
      .filter(col("__df") <= maxDf)
      .select(col("gram"))
    val kept = grams.join(rare, Seq("gram"))
    val pairs = kept.as("a").join(kept.as("b"),
        col("a.gram") === col("b.gram") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"),
        col("a.pos").as("pa"), col("b.pos").as("pb"))
      .distinct()
      .withColumn("d", col("pa") - col("pb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id_a"), col("id_b"), col("d")).orderBy(col("pa"))
    pairs
      .withColumn("__grp", col("pa") - row_number().over(w))
      .groupBy(col("id_a"), col("id_b"), col("d"), col("__grp"))
      .agg(min(col("pa")).as("pa"), min(col("pb")).as("pb"),
        (count(lit(1)) + lit(n - 1)).as("span"))
      .filter(col("span") >= minSpan)
      .select(col("id_a"), col("id_b"), col("pa"), col("pb"), col("span"))
  }

  /** PERSISTED positional-gram store — the incremental form of
    * [[sharedSpans]] (the [[writeSignatureStore]] pattern on the
    * exact-substring path): the corpus shingles ONCE into a
    * bucket-partitioned gram table, and every arriving batch finds
    * its shared spans against the corpus by probing only its own
    * grams' bucket partitions — the corpus is never re-shingled.
    *
    * Layout:
    *   - `grams/`: `(id, pos, gram)` partitioned by
    *     `__gb = pmod(hash(gram), buckets)` (plan-time pruning for
    *     delta probes; Murmur3 is physical layout only — build and
    *     probe derive it with the same expression);
    *   - `df/`: per-write `(gram, cnt)` distinct-doc counts in the
    *     same bucket layout (ids are unique across writes, so
    *     summing the rows IS the store-wide document frequency —
    *     the probe's boilerplate filter needs it without a
    *     corpus-wide aggregate);
    *   - `stats/`: config rows `(n, buckets)`; reads assert they
    *     agree. */
  def writeGramStore(df: DataFrame, idCol: String, textCol: String,
                     n: Int, path: String, buckets: Int = 64): Unit = {
    require(n >= 1 && buckets >= 1, s"need n >= 1, buckets >= 1")
    val grams = positionalGrams(df, idCol, textCol, n)
      .withColumn("__gb", pmod(hash(col("gram")), lit(buckets)))
    grams.repartition(col("__gb"))
      .write.partitionBy("__gb").mode("overwrite").parquet(s"$path/grams")
    grams.groupBy(col("__gb"), col("gram"))
      .agg(countDistinct(col("__id")).as("cnt"))
      .repartition(col("__gb"))
      .write.partitionBy("__gb").mode("overwrite").parquet(s"$path/df")
    df.sparkSession.range(1)
      .select(lit(n.toLong).as("n"), lit(buckets.toLong).as("buckets"))
      .write.mode("overwrite").parquet(s"$path/stats")
  }

  private def gramStoreConfig(spark: org.apache.spark.sql.SparkSession,
                              path: String): (Int, Int) = {
    val stats =
      try spark.read.parquet(s"$path/stats")
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalStateException(
            s"gram store at $path has no stats/ — not a store built by " +
              s"writeGramStore", e)
      }
    val agg = stats.agg(
      countDistinct(col("n"), col("buckets")).as("variants"),
      max(col("n")), max(col("buckets"))).head()
    require(agg.getLong(0) == 1L,
      s"gram store at $path has ${agg.getLong(0)} conflicting config rows — " +
        s"appends must use the builder's (n, buckets)")
    (agg.getLong(1).toInt, agg.getLong(2).toInt)
  }

  /** Incrementally add NEW documents' grams to a gram store (config
    * from stats/ — bucketing cannot drift; ids must be new). */
  def appendToGramStore(delta: DataFrame, idCol: String, textCol: String,
                        path: String): Unit = {
    val (n, buckets) = gramStoreConfig(delta.sparkSession, path)
    val grams = positionalGrams(delta, idCol, textCol, n)
      .withColumn("__gb", pmod(hash(col("gram")), lit(buckets)))
    grams.repartition(col("__gb"))
      .write.partitionBy("__gb").mode("append").parquet(s"$path/grams")
    grams.groupBy(col("__gb"), col("gram"))
      .agg(countDistinct(col("__id")).as("cnt"))
      .repartition(col("__gb"))
      .write.partitionBy("__gb").mode("append").parquet(s"$path/df")
    delta.sparkSession.range(1)
      .select(lit(n.toLong).as("n"), lit(buckets.toLong).as("buckets"))
      .write.mode("append").parquet(s"$path/stats")
  }

  /** Shared spans of a DELTA against a gram store ∪ itself —
    * [[sharedSpans]] over (store ∪ delta) restricted to pairs
    * involving a delta doc, WITHOUT re-shingling the store (the
    * [[deltaDupPairs]] contract on the exact-substring path,
    * spec-pinned). The document-frequency boilerplate filter counts
    * store df (summed from the mergeable `df/` rows) PLUS delta df,
    * exactly as the batch chain would over the union. Returns
    * `(id_a, id_b, max_span)`, `id_a < id_b`, spans ≥ `minSpan`.
    *
    * Scale shape: the store's grams and df scans read only the
    * delta's gram-bucket partitions (plan-time pruning; the driver
    * collects ≤ buckets literals); both pair joins shuffle on the
    * gram key; island windows partition per (pair, diagonal). The
    * delta's gram rows materialize once (localCheckpoint). */
  def deltaSharedSpans(delta: DataFrame, idCol: String, textCol: String,
                       path: String, maxDf: Int, minSpan: Int): DataFrame = {
    val spark = delta.sparkSession
    val (n, buckets) = gramStoreConfig(spark, path)
    require(minSpan >= n, s"minSpan ($minSpan) must cover the seed gram ($n)")
    val dGrams = positionalGrams(delta, idCol, textCol, n)
      .withColumn("__gb", pmod(hash(col("gram")), lit(buckets)))
      .localCheckpoint(true)
    val dBuckets = dGrams.select(col("__gb")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val dGramSet = dGrams.select(col("gram")).distinct()
    val storeGrams = spark.read.parquet(s"$path/grams")
      .filter(col("__gb").isin(dBuckets: _*)) // partition pruning
      .join(dGramSet, Seq("gram"), "left_semi")
    val storeDf = spark.read.parquet(s"$path/df")
      .filter(col("__gb").isin(dBuckets: _*))
      .join(dGramSet, Seq("gram"), "left_semi")
      .groupBy(col("gram")).agg(sum(col("cnt")).as("sdf"))
    val deltaDf = dGrams.groupBy(col("gram"))
      .agg(countDistinct(col("__id")).as("ddf"))
    // df over store ∪ delta, exactly as the batch chain counts it
    val rare = deltaDf.join(storeDf, Seq("gram"), "left_outer")
      .filter(coalesce(col("sdf"), lit(0L)) + col("ddf") <= maxDf)
      .select(col("gram"))
    val dKept = dGrams.join(rare, Seq("gram"))
    val sKept = storeGrams.join(rare, Seq("gram"))
    val cross = dKept.as("d").join(sKept.as("s"), Seq("gram"))
      .select(
        least(col("d.__id"), col("s.__id")).as("id_a"),
        greatest(col("d.__id"), col("s.__id")).as("id_b"),
        when(col("d.__id") < col("s.__id"), col("d.pos"))
          .otherwise(col("s.pos")).as("pa"),
        when(col("d.__id") < col("s.__id"), col("s.pos"))
          .otherwise(col("d.pos")).as("pb"))
      .distinct()
    val internal = dKept.as("a").join(dKept.as("b"),
        col("a.gram") === col("b.gram") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"),
        col("a.pos").as("pa"), col("b.pos").as("pb"))
      .distinct()
    maxSpanPerPair(cross.unionByName(internal), n)
      .filter(col("max_span") >= minSpan)
  }

  /** APPLY Lee 2021's exact-substring dedup: rewrite each document
    * with every qualifying shared span CUT OUT OF THE HIGHER-ID COPY
    * (min-id-wins, the [[exact]] convention — one copy of every long
    * shared run survives, in the document that carried it first).
    * Span ranges come from [[sharedSpanRanges]]; a document's cut
    * ranges merge where they overlap (running-max gaps-and-islands —
    * two overlapping cuts must not double-free the overlap), then the
    * text rebuilds from the surviving token positions in order.
    *
    * Returns one row per input document: `(idCol, cleaned,
    * n_removed)` — untouched documents pass through verbatim-joined
    * (token re-join normalizes whitespace runs; `n_removed` 0).
    *
    * Scale shape: the range frame is pair-evidence-sized (not
    * corpus-sized); the merge windows partition per doc; the cut is
    * one range anti-join of (doc, pos) token rows against ≤
    * ranges-per-doc merged intervals; reconstruction is one keyed
    * sort-agg with order carried inside the collected structs. */
  def removeSharedSpans(df: DataFrame, idCol: String, textCol: String,
                        n: Int, maxDf: Int, minSpan: Int): DataFrame = {
    val ranges = sharedSpanRanges(df, idCol, textCol, n, maxDf, minSpan)
      .select(col("id_b").as("__id"), col("pb").as("start"),
        (col("pb") + col("span")).as("end"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__id")).orderBy(col("start"), col("end"))
    val wPrev = w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val merged = ranges
      .withColumn("__newIsland",
        when(col("start") > coalesce(max(col("end")).over(wPrev), lit(-1L)), 1)
          .otherwise(0))
      .withColumn("__island", sum(col("__newIsland")).over(w))
      .groupBy(col("__id"), col("__island"))
      .agg(min(col("start")).as("start"), max(col("end")).as("end"))
    // positions must align with TokenShingleHashes' tokenization:
    // drop empty tokens BEFORE positions are assigned (double spaces
    // would otherwise shift every later cut)
    val toks = df.select(col(idCol).as("__id"),
        posexplode(filter(split(col(textCol), " "), t => length(t) > 0)))
      .select(col("__id"), col("pos"), col("col").as("tok"))
    val kept = toks.join(merged,
      toks("__id") === merged("__id") &&
        toks("pos") >= merged("start") && toks("pos") < merged("end"),
      "left_anti")
    val rebuilt = kept.groupBy(col("__id"))
      .agg(
        array_join(transform(
          sort_array(collect_list(struct(col("pos"), col("tok")))),
          r => r.getField("tok")), " ").as("cleaned"),
        count(lit(1)).as("__kept"))
    df.select(col(idCol), col(textCol))
      .withColumn("__n", size(filter(split(col(textCol), " "), t => length(t) > 0)))
      .join(rebuilt.withColumnRenamed("__id", idCol), Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("cleaned"), lit("")).as("cleaned"),
        (col("__n") - coalesce(col("__kept"), lit(0L))).cast("long").as("n_removed"))
  }

  def components(pairs: DataFrame, aCol: String, bCol: String,
                 maxIters: Int = 20): DataFrame = {
    // both directions PLUS self-loops in one explode (no self-union of
    // the pair scan): the self-loop makes "min over neighbours" include
    // the node's own label, so the loop needs no union either
    val edges = pairs.select(explode(array(
        struct(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst")),
        struct(col(bCol).cast("long").as("src"), col(aCol).cast("long").as("dst")),
        struct(col(aCol).cast("long").as("src"), col(aCol).cast("long").as("dst")),
        struct(col(bCol).cast("long").as("src"), col(bCol).cast("long").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
      .persist()
    // init = the first propagation round for free: with identity labels,
    // min over self+neighbours' labels is just min(dst) per src (self-
    // loops included) — no join needed
    var labels = edges.groupBy(col("src").as("id")).agg(min(col("dst")).as("comp"))
      .localCheckpoint(true)
    var iters = 0
    var changed = 1L
    while (changed > 0 && iters < maxIters) {
      // min over self + neighbours' labels (self-loops included)
      val prop = edges
        .join(labels.select(col("id").as("dst"), col("comp").as("comp")), Seq("dst"))
        .groupBy(col("src").as("id")).agg(min(col("comp")).as("comp"))
      // pointer jump: follow the representative's own label
      val jumped = prop.as("l")
        .join(prop.select(col("id").as("comp"), col("comp").as("comp2")).as("r"),
          Seq("comp"), "left")
        .select(col("id"), least(col("comp"), coalesce(col("comp2"), col("comp"))).as("comp"))
        .localCheckpoint(true)
      changed = jumped.as("n")
        .join(labels.select(col("id").as("id"), col("comp").as("old")), Seq("id"))
        .filter(col("comp") =!= col("old")).count()
      labels = jumped
      iters += 1
    }
    edges.unpersist()
    require(changed == 0,
      s"components did not converge in $maxIters rounds — raise maxIters")
    labels
  }

  /** Duplicate-aware sampling weights — the SOFT alternative to
    * dropping duplicates (the "keep one copy" policies above): every
    * document stays in the corpus but carries weight 1/|its near-dup
    * component|, so a downstream weighted sampler (or a loss-weighting
    * trainer) sees each duplicated CONTENT with total mass 1 regardless
    * of how many copies exist. This is the published middle ground when
    * hard dedup is too aggressive (e.g. boilerplate-heavy but distinct
    * docs) — deduplication as reweighting rather than removal.
    *
    * `pairs` is any undirected near-dup pair frame (LSH/Jaccard/SimHash
    * — same input as [[components]]); singleton docs get comp = own id,
    * n_dup = 1, weight = 1. Weight rounds to 6 so the boundary
    * arithmetic replays cross-engine. Scale shape: the [[components]]
    * label propagation plus ONE comp-keyed count join — no global
    * window, no pair re-enumeration; weights ride the same comp key the
    * labels already shuffled on. */
  def componentWeights(docs: DataFrame, pairs: DataFrame, idCol: String,
                       aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val comp = components(pairs, aCol, bCol)
      .withColumnRenamed("id", idCol)
    val labeled = docs.select(col(idCol))
      .join(comp, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("comp"), col(idCol)).as("comp"))
    val sizes = labeled.groupBy(col("comp")).agg(count(lit(1)).as("n_dup"))
    labeled.join(sizes, Seq("comp"))
      .select(col(idCol), col("comp"), col("n_dup"),
        round(lit(1.0) / col("n_dup"), 6).as("weight"))
  }

  /** Embedding-cosine near-duplicate pairs inside a blocking key
    * (`blockKey` — typically an LSH bucket, [[graft.search.Ann.lshBucket]],
    * or an IVF cluster id; fine-grained keys keep the per-block pair
    * join small and spread): pairs with cosine ≥ threshold. The block
    * join shuffles by key, never crossing the full corpus. */
  /** Persisted MinHash/LSH signature store — the INCREMENTAL form of
    * near-dup dedup. Every other dedup op here is a whole-corpus batch
    * job; the production arrival shape is "dedup this batch against the
    * existing corpus", which must not re-shingle 100 TB per batch. The
    * store materializes exactly what the batch pipeline derives from
    * the corpus (reference analogue: per-upload `add`, vectorDb.ts:7-9;
    * the lexical/vector twins are `Lexical.buildBm25Index` and
    * `Ann.appendToIvfIndex`):
    *
    *   - `bands/`: `(id, band, bandsig)` rows partitioned by
    *     `__bb = pmod(hash(band, bandsig), bandBuckets)` — a probe
    *     collects its delta's ≤ `bandBuckets` bucket ids driver-side
    *     (bounded by the BUCKET SPACE, never the corpus or the delta)
    *     and prunes unprobed partitions at PLAN time, the
    *     `Lexical.bm25IndexTopKBatch` trick. `hash()` here is Spark's
    *     Murmur3 — physical layout only, never replayed by an oracle,
    *     so portability is not required (build and probe derive it
    *     with the same expression and cannot drift).
    *   - `sets/`: `(id, ss)` sorted shingle hashes, the exact-rerank
    *     input, so candidate scoring never touches document text.
    *   - `stats/`: one config row per write/append carrying
    *     `(k, num_hashes, rows_per_band, band_buckets)`; reads
    *     assert the config columns AGREE across rows (an inconsistent
    *     store must fail loudly, not silently mis-bucket a probe).
    */
  def writeSignatureStore(df: DataFrame, idCol: String, textCol: String,
                          k: Int, numHashes: Int, rowsPerBand: Int,
                          path: String, bandBuckets: Int = 64): Unit = {
    require(bandBuckets >= 1, s"bandBuckets >= 1: $bandBuckets")
    graft.store.Sidecars.reset(df.sparkSession, path)
    bandedSignatures(df, idCol, textCol, k, numHashes, rowsPerBand)
      .withColumn("__bb", pmod(hash(col("band"), col("bandsig")), lit(bandBuckets)))
      .repartition(col("__bb")) // cluster: one task (not every task) writes a bucket
      .write.partitionBy("__bb").mode("overwrite").parquet(s"$path/bands")
    df.select(col(idCol).as("id"), shinglesHashes(col(textCol), k).as("ss"))
      .write.mode("overwrite").parquet(s"$path/sets")
    df.sparkSession.range(1).select(
        lit(k.toLong).as("k"), lit(numHashes.toLong).as("num_hashes"),
        lit(rowsPerBand.toLong).as("rows_per_band"),
        lit(bandBuckets.toLong).as("band_buckets"))
      .write.mode("overwrite").parquet(s"$path/stats")
  }

  /** Read the store's config row, asserting the stats rows agree — the
    * consistency guard an append/probe needs before trusting the
    * layout. Fails with a clear message on a missing or mixed store. */
  private def signatureStoreConfig(
      spark: org.apache.spark.sql.SparkSession, path: String): (Int, Int, Int, Int) = {
    val stats =
      try spark.read.parquet(s"$path/stats")
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalStateException(
            s"signature store at $path has no stats/ — not a store built by " +
              s"writeSignatureStore", e)
      }
    val agg = stats.agg(
      countDistinct(col("k"), col("num_hashes"), col("rows_per_band"),
        col("band_buckets")).as("variants"),
      max(col("k")), max(col("num_hashes")), max(col("rows_per_band")),
      max(col("band_buckets"))).head()
    require(agg.getLong(0) == 1L,
      s"signature store at $path has ${agg.getLong(0)} conflicting config rows " +
        s"in stats/ — appends must use the builder's (k, numHashes, rowsPerBand, " +
        s"bandBuckets)")
    (agg.getLong(1).toInt, agg.getLong(2).toInt, agg.getLong(3).toInt,
      agg.getLong(4).toInt)
  }

  /** Incrementally add NEW documents to a signature store. Bands append
    * into the same bucket layout (config read from stats/, so
    * build/append bucketing cannot drift); stats append a mergeable
    * row. Ids must be new — a re-ingested id would pair with itself at
    * jaccard 1.0 on the next probe. Repeated small appends leave a file
    * per batch per bucket: compact with
    * [[graft.store.CorpusStore.compact]] on the bucket directories. */
  def appendToSignatureStore(delta: DataFrame, idCol: String, textCol: String,
                             path: String): Unit = {
    val (k, numHashes, rowsPerBand, bandBuckets) =
      signatureStoreConfig(delta.sparkSession, path)
    bandedSignatures(delta, idCol, textCol, k, numHashes, rowsPerBand)
      .withColumn("__bb", pmod(hash(col("band"), col("bandsig")), lit(bandBuckets)))
      .repartition(col("__bb")) // one file per bucket per append
      .write.partitionBy("__bb").mode("append").parquet(s"$path/bands")
    delta.select(col(idCol).as("id"), shinglesHashes(col(textCol), k).as("ss"))
      .write.mode("append").parquet(s"$path/sets")
    // config row only — no per-delta count job: unlike the BM25 index,
    // no reader derives anything from a store row count
    delta.sparkSession.range(1).select(
        lit(k.toLong).as("k"), lit(numHashes.toLong).as("num_hashes"),
        lit(rowsPerBand.toLong).as("rows_per_band"),
        lit(bandBuckets.toLong).as("band_buckets"))
      .write.mode("append").parquet(s"$path/stats")
  }

  /** Near-dup pairs of a DELTA against a signature store ∪ itself —
    * [[minhashJaccardPairs]] over (store ∪ delta) restricted to pairs
    * that involve at least one delta doc, WITHOUT touching the store's
    * documents (the spec pins this equivalence). Emits
    * `(id_a, id_b, jaccard)`, `id_a < id_b`, exact scores.
    *
    * Scale shape: the store scan reads only the delta's band-bucket
    * partitions (plan-time pruning; the driver collects ≤ bandBuckets
    * literals); both candidate joins shuffle on (band, bandsig) LSH
    * keys; reranks join shingle sets by id — keyed shuffles all the
    * way, no broadcast of either corpus side, no pair explosion beyond
    * the LSH S-curve. The delta's band rows and shingle sets are each
    * MATERIALIZED ONCE (localCheckpoint) — the bucket collect, the
    * store probe, the internal self-join, and both reranks all reuse
    * them instead of re-hashing the delta per consumer. */
  def deltaDupPairs(delta: DataFrame, idCol: String, textCol: String,
                    path: String, threshold: Double): DataFrame = {
    val spark = delta.sparkSession
    val (k, numHashes, rowsPerBand, bandBuckets) =
      signatureStoreConfig(spark, path)
    val dBanded = bandedSignatures(delta, idCol, textCol, k, numHashes, rowsPerBand)
      .withColumn("__bb", pmod(hash(col("band"), col("bandsig")), lit(bandBuckets)))
      .localCheckpoint(true)
    val dBuckets = dBanded.select(col("__bb")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val storeBands = spark.read.parquet(s"$path/bands")
      .filter(col("__bb").isin(dBuckets: _*)) // partition pruning
    val storeCands = dBanded.as("d").join(storeBands.as("s"),
        col("d.band") === col("s.band") && col("d.bandsig") === col("s.bandsig"))
      .select(col("d.id").as("did"), col("s.id").as("sid"))
      .distinct()
    val internalCands = dBanded.as("a").join(dBanded.as("b"),
        col("a.band") === col("b.band") && col("a.bandsig") === col("b.bandsig") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("did"), col("b.id").as("sid"))
      .distinct()
    val dSets = delta.select(col(idCol).as("id"), shinglesHashes(col(textCol), k).as("ss"))
      .localCheckpoint(true)
    val storeSets = spark.read.parquet(s"$path/sets")
    def rerank(cands: DataFrame, otherSets: DataFrame): DataFrame = cands
      .join(dSets.select(col("id").as("did"), col("ss").as("sa")), Seq("did"))
      .join(otherSets.select(col("id").as("sid"), col("ss").as("sb")), Seq("sid"))
      .withColumn("jaccard",
        round(graft.functions.SortedJaccard(col("sa"), col("sb")), 6))
      .filter(col("jaccard") >= threshold)
      .select(least(col("did"), col("sid")).as("id_a"),
        greatest(col("did"), col("sid")).as("id_b"), col("jaccard"))
    rerank(storeCands, storeSets).unionAll(rerank(internalCands, dSets))
  }

  /** Keep/drop decision for a delta batch against a signature store:
    * one row per delta doc with `dup_of` = the SMALLEST qualifying
    * near-dup partner (null → `keep`). A partner qualifies if it is a
    * store doc (the corpus always wins — it was ingested first) or a
    * smaller-id delta doc (min-id-wins inside the batch, the
    * [[exact]] convention). Pair-level, deliberately: transitive
    * closure across the store is [[components]]' job on the batch
    * pipeline; an ingest gate wants the direct-evidence decision. */
  def dedupDelta(delta: DataFrame, idCol: String, textCol: String,
                 path: String, threshold: Double): DataFrame = {
    val pairs = deltaDupPairs(delta, idCol, textCol, path, threshold)
    val deltaIds = delta.select(col(idCol).as("id"))
    val directed = pairs.select(col("id_a").as("id"), col("id_b").as("other"))
      .unionAll(pairs.select(col("id_b").as("id"), col("id_a").as("other")))
      .join(deltaIds, Seq("id"), "left_semi")
    val qualifying = directed
      .join(deltaIds.select(col("id").as("other"), lit(true).as("__isd")),
        Seq("other"), "left")
      .filter(!coalesce(col("__isd"), lit(false)) || col("other") < col("id"))
    deltaIds
      .join(qualifying.groupBy(col("id")).agg(min(col("other")).as("dup_of")),
        Seq("id"), "left")
      .select(col("id").as(idCol), col("dup_of"), col("dup_of").isNull.as("keep"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup at
    * corpus scale by bounding the pairwise term to k-means clusters.
    * Embeddings are clustered (the [[graft.search.Ann.kmeansCentroids]]
    * Lloyd build — centroids are kilobytes of driver-side model state),
    * cosine pairs are computed only WITHIN a cluster, and every row
    * with a smaller-id same-cluster neighbor at `threshold`-or-above
    * similarity is dropped — the same greedy lowest-id-wins convention
    * as [[exact]] and [[dedupDelta]], so `dup_of` composes with the
    * rest of the dedup family.
    *
    * Output: one row per input id — (idCol, `dup_of` = smallest
    * qualifying neighbor or -1, `keep`).
    *
    * Scale shape: cluster assignment is one fused-expression pass (no
    * shuffle, no join — [[graft.search.Ann.assignCluster]] carries the
    * centroid matrix as a literal); the pair join shuffles on the
    * cluster id only, so the quadratic term is bounded by the largest
    * cluster. k is the published algorithm's knob: at 100 TB you raise
    * k until N/k rows fit a partition's pair budget, and the Lloyd
    * build cost stays one scan per iteration. */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
               k: Int, iters: Int, threshold: Double): DataFrame = {
    val cents = graft.search.Ann.kmeansCentroids(df, idCol, vecCol, k, iters)
    val pairs = embeddingNearDup(df, idCol, vecCol,
      graft.search.Ann.assignCluster(col(vecCol), cents), threshold)
    df.select(col(idCol))
      .join(pairs.groupBy(col("id_b")).agg(min(col("id_a")).as("dup_of")),
        col(idCol) === col("id_b"), "left")
      .select(col(idCol), coalesce(col("dup_of"), lit(-1L)).as("dup_of"),
        col("dup_of").isNull.as("keep"))
  }

  /** Planted-duplicate EVAL of the MinHash+LSH near-dup pipeline —
    * the dedup family's recall gate, mirroring the ANN recall oracles
    * and the retrieval MRR/nDCG gates: the lowest-id documents are
    * re-injected under `id + idOffset` with a deterministic
    * perturbation (every `dropEvery`-th whitespace piece removed —
    * content-derived, no randomness, cross-engine identical), the
    * full [[minhashJaccardPairs]] pipeline runs on the augmented
    * corpus, and the report says how many planted (original, copy)
    * pairs the configured (k, numHashes, rowsPerBand, threshold)
    * actually recovered. Recall below expectation means the LSH
    * S-curve or the threshold is mistuned for the duplicate class you
    * care about — measured, not assumed. `min_jaccard` (order-free,
    * unlike a mean) reports the weakest recovered pair; −1 when none.
    *
    * Scale shape: adds one filtered scan (the planted slice) to the
    * pipeline it evaluates; the band join dominates as before. */
  def plantedDupEval(docs: DataFrame, idCol: String, textCol: String,
                     nPlants: Long, dropEvery: Int, idOffset: Long,
                     k: Int, numHashes: Int, rowsPerBand: Int,
                     threshold: Double): DataFrame = {
    require(nPlants >= 1 && dropEvery >= 2 && idOffset > 0,
      s"nPlants >= 1, dropEvery >= 2, idOffset > 0")
    val base = docs.select(col(idCol).as("id"), col(textCol).as("text"))
    val sel = base.filter(col("id") < nPlants)
    // drop every dropEvery-th whitespace piece, 1-based — raw split
    // (empties kept), no case folding, so the perturbation is purely
    // subtractive on the character shingles
    val planted = sel.select((col("id") + idOffset).as("id"),
      array_join(filter(split(col("text"), " "),
        (_, i) => (i + lit(1)) % dropEvery =!= 0), " ").as("text"))
    val nPlanted = sel.agg(count(lit(1)).as("__np"))
    val pairs = minhashJaccardPairs(base.unionByName(planted),
      "id", "text", k, numHashes, rowsPerBand, threshold)
    pairs
      .filter(col("id_b") === col("id_a") + idOffset && col("id_a") < nPlants)
      .agg(count(lit(1)).as("n_recovered"),
        min(col("jaccard")).as("__minj"))
      .crossJoin(broadcast(nPlanted))
      .select(col("__np").as("n_planted"), col("n_recovered"),
        round(col("n_recovered").cast("double") / col("__np"), 6).as("recall"),
        coalesce(col("__minj"), lit(-1.0)).as("min_jaccard"))
  }

  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
                       blockKey: Column, threshold: Double): DataFrame = {
    val keyed = df.withColumn("grp", blockKey)
    val a = keyed.select(col(idCol).as("id_a"), col(vecCol).as("va"), col("grp"))
    val b = keyed.select(col(idCol).as("id_b"), col(vecCol).as("vb"), col("grp"))
    a.join(b, Seq("grp"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", graft.vector.VectorOps.cosine6(col("va"), col("vb")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** Per-document DUPLICATED-n-GRAM fraction (Lee et al. 2022,
    * "Deduplicating training data makes language models better", the
    * coverage metric behind exact-substring dedup): the share of a
    * document's DISTINCT token n-grams that also occur in at least one
    * OTHER document. Pair-based dedup answers "which documents are
    * near-twins"; this answers "how much of THIS document is recycled
    * text" — the per-row signal a curation gate thresholds directly,
    * and it catches partial recycling (a pasted paragraph) that
    * whole-document resemblance dilutes away.
    *
    * Grams are the portable positional shingle hashes
    * ([[graft.functions.TokenShingleHashes]]) — a deterministic mod-p
    * collision costs both engines the same count. Scale shape: one
    * (doc, gram)-distinct reduce, a gram-keyed doc-frequency reduce
    * (map-side combined), one gram-keyed join back, one doc-keyed
    * fraction — no pair join anywhere, so cost is corpus-linear where
    * the pair family is candidate-bounded.
    *
    * @return `(doc_id, n_grams, n_dup, dup_frac)` — docs with fewer
    *         than n tokens carry their single truncated shingle
    */
  def dupNgramFrac(docs: DataFrame, idCol: String, textCol: String,
                   n: Int): DataFrame = {
    val grams = docs.select(col(idCol).as("doc_id"),
        explode(graft.functions.TokenShingleHashes(col(textCol), n)).as("g"))
      .distinct()
    val df = grams.groupBy(col("g")).agg(count(lit(1)).as("__df"))
    grams.join(df, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__df") >= 2L, 1L).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_grams"), col("n_dup"),
        round(col("n_dup").cast("double") / col("n_grams").cast("double"), 6)
          .as("dup_frac"))
  }
}
