package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The TOKENIZER as a maintained store — the seventh family in the
  * maintenance registry, because at 100 TB the trained vocabulary is
  * model state exactly like an IVF centroid table: the corpus mixture
  * drifts (a new domain fragments into more pieces per token, a new
  * script falls off the trained alphabet entirely), serving quality
  * decays silently (every downstream token budget and context window
  * pays the extra fertility), and the remedy is a retrain from the
  * observed stream. This file gives the [[Unigram]] trainer the same
  * lifecycle every index store has: build → observe → drift → retrain,
  * with the policy loop (signals → order book → budgeted drain →
  * acknowledgment) supplied by [[graft.store.Maintenance]] and
  * [[graft.streaming.StreamIngest.tokenizerPolicyDrainSink]].
  *
  * Layout: trained vocab `(piece, cnt, logp)` at `<path>`; the drift
  * BASELINE (training-corpus fertility) at `<path>.stats`; the build
  * parameters at `<path>.conf` (the relayer convention — a retrain
  * rebuilds the way the operator chose, not a guessed configuration);
  * the OBSERVED corpus at `<path>.seen` (`__batch` = -1 for the build
  * corpus, the stream's batch id after; `__w` = row weight — 1 for
  * raw rows, token multiplicity once [[compactSeen]] has collapsed an
  * old tail to its weighted dictionary under `__batch` = −2) — what a
  * retrain trains on.
  *
  * Scale shape: the per-batch health is one token count plus a
  * DICTIONARY-scale segmentation (each distinct word segments once —
  * Heaps-bounded, never corpus-row work), and the retrain is the
  * [[Unigram.trainUnigram]] cost class (one corpus pass for the word
  * dict, then vocabulary-scale EM). Driver state is the one-row stats
  * frame and the vocabulary itself.
  */
object Tokenizer {

  /** Fertility + OOV of `docs` under `vocab` — one row `(n_tokens,
    * n_pieces, n_unk, fertility, oov_rate)`. Fertility = pieces per
    * whitespace token (the [[Unigram]] fertility convention: words
    * over `maxWordLen` drop from the piece count, every token counts
    * in the denominator); OOV = `<unk>` fallback pieces over all
    * pieces (chars outside the trained alphabet — the
    * new-script/new-symbol signal fertility alone can miss). Each
    * DISTINCT word segments once; totals re-weight by occurrence. A
    * `__w` column on `docs` weights every total (the [[Unigram
    * .wordDict]] compacted-corpus convention), so a compacted `.seen`
    * yields the identical baseline. */
  def fertilityStats(docs: DataFrame, textCol: String, vocab: DataFrame,
                     maxPieceLen: Int = 4, maxWordLen: Int = 16): DataFrame = {
    // coalesce: legacy rows without __w weigh 1, not null-dropped
    val w0 = if (docs.columns.contains("__w")) coalesce(col("__w"), lit(1L))
      else lit(1L)
    val toks = docs.select(explode(TextAnalysis.tokens(col(textCol))).as("w"),
        w0.cast("long").as("__w"))
      .localCheckpoint() // referenced twice (token total + word dict)
    val wd = toks.filter(length(col("w")) <= maxWordLen)
      .groupBy("w").agg(sum(col("__w")).as("wc"))
    val segs = Unigram.segmented(wd, Unigram.logProbs(vocab), maxPieceLen,
      unkFallback = true)
    segs.agg(
        sum(col("wc") * size(col("pieces"))).as("n_pieces"),
        sum(col("wc") * size(filter(col("pieces"),
          p => p === lit(Unigram.UnkPiece)))).as("n_unk"))
      .crossJoin(broadcast(toks.agg(sum(col("__w")).as("n_tokens"))))
      .select(col("n_tokens"), col("n_pieces"), col("n_unk"),
        round(col("n_pieces").cast("double") / col("n_tokens"), 6)
          .as("fertility"),
        round(col("n_unk").cast("double") / col("n_pieces"), 6)
          .as("oov_rate"))
  }

  /** Train and persist a tokenizer store: vocab at `path`, the
    * training-corpus fertility baseline at `.stats`, the build
    * parameters at `.conf`, the corpus itself at `.seen` (batch -1). */
  def writeTokenizer(docs: DataFrame, textCol: String, path: String,
                     vocabSize: Int = 120, maxPieceLen: Int = 4,
                     maxWordLen: Int = 16, seedSize: Int = 400,
                     rounds: Int = 2, idCol: String = "doc_id"): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    val vocab = Unigram.trainUnigram(docs, textCol, vocabSize, maxPieceLen,
      maxWordLen, seedSize, rounds).localCheckpoint()
    // crash ordering (the recordIvfModel primary-before-derived
    // convention): the SERVING side — the vocab — lands first,
    // sequentially. On an in-place rebuild a failure mid-fan must not
    // leave fresh .stats/.conf (a fertility baseline of a vocabulary
    // that was never installed) paired with the OLD vocab: a vocab
    // failure now leaves the store fully old, a sidecar failure leaves
    // the new vocab with stale sidecars — both detectable, neither
    // silently inconsistent.
    vocab.coalesce(1).write.mode("overwrite").parquet(path)
    // the three sidecars are independent once the vocab frame is
    // pinned (the baseline reads the FRAME, not the written file) —
    // concurrent jobs (graft.io.Par, the writeGraphIndex convention)
    graft.io.Par.unit(
      () => docs.select(col(idCol).cast("long").as("doc_id"),
          col(textCol).as("text"), lit(-1L).as("__batch"),
          lit(1L).as("__w"))
        .write.mode("overwrite").parquet(s"$path.seen"),
      () => fertilityStats(docs, textCol, vocab, maxPieceLen, maxWordLen)
        .select(col("fertility"))
        .coalesce(1).write.mode("overwrite").parquet(graft.store.Sidecars.stats(path)),
      () => Seq((vocabSize, maxPieceLen, maxWordLen, seedSize, rounds))
        .toDF("vocab_size", "max_piece_len", "max_word_len", "seed_size",
          "rounds")
        .coalesce(1).write.mode("overwrite").parquet(s"$path.conf"))
  }

  /** Observe a batch: append it to `.seen` under its stream batch id.
    * Observation is the tokenizer's whole "apply" step — the vocab is
    * read-only at serving time; what accumulates is the evidence a
    * retrain trains on. */
  def observeBatch(batch: DataFrame, textCol: String, path: String,
                   batchId: Long, idCol: String = "doc_id"): Unit =
    batch.select(col(idCol).cast("long").as("doc_id"),
        col(textCol).as("text"), lit(batchId).as("__batch"),
        lit(1L).as("__w"))
      .write.mode("append").parquet(s"$path.seen")

  /** Batch-scoped drift report: the batch's fertility and OOV under
    * the CURRENT vocab vs the recorded baseline — one row
    * `(build_fertility, batch_fertility, drift, oov_rate)` (round-6,
    * the float-determinism contract). Like every micro-batch health
    * here, per-batch thresholds are policy: a small batch measures its
    * own mixture, not the corpus average. */
  def tokenizerDrift(spark: SparkSession, path: String, batch: DataFrame,
                     textCol: String): DataFrame = {
    // three independent eager reads of tiny store sides — overlap
    val (conf, b6, vocab) = graft.io.Par.join3(
      spark.read.parquet(s"$path.conf").head(),
      spark.read.parquet(graft.store.Sidecars.stats(path)).head().getDouble(0),
      spark.read.parquet(path).localCheckpoint())
    fertilityStats(batch, textCol, vocab,
        conf.getAs[Int]("max_piece_len"), conf.getAs[Int]("max_word_len"))
      .select(lit(b6).as("build_fertility"),
        col("fertility").as("batch_fertility"),
        round(col("fertility") - lit(b6), 6).as("drift"),
        col("oov_rate"))
  }

  /** Retrain from everything observed: a fresh generation at
    * `dstPath` trained on ALL of `.seen` under the recorded conf —
    * new vocab, new baseline (over the full seen corpus), conf and
    * seen carried. `dstPath != srcPath` (immutable-layout rewrite,
    * the compact/retrain convention everywhere in this repo). */
  def retrainTokenizer(spark: SparkSession, srcPath: String,
                       dstPath: String): Unit = {
    require(srcPath != dstPath,
      "retrain rewrites the layout: dstPath must differ from srcPath")
    val conf = spark.read.parquet(s"$srcPath.conf").head()
    val seen = spark.read.parquet(s"$srcPath.seen").localCheckpoint()
    val vocab = Unigram.trainUnigram(seen, "text",
      conf.getAs[Int]("vocab_size"), conf.getAs[Int]("max_piece_len"),
      conf.getAs[Int]("max_word_len"), conf.getAs[Int]("seed_size"),
      conf.getAs[Int]("rounds")).localCheckpoint()
    // independent store sides — concurrent jobs (writeTokenizer's shape)
    graft.io.Par.unit(
      () => vocab.coalesce(1).write.mode("overwrite").parquet(dstPath),
      () => seen.write.mode("overwrite").parquet(s"$dstPath.seen"),
      () => fertilityStats(seen, "text", vocab,
          conf.getAs[Int]("max_piece_len"), conf.getAs[Int]("max_word_len"))
        .select(col("fertility"))
        .coalesce(1).write.mode("overwrite").parquet(graft.store.Sidecars.stats(dstPath)),
      () => spark.read.parquet(s"$srcPath.conf")
        .coalesce(1).write.mode("overwrite").parquet(s"$dstPath.conf"))
  }

  /** COMPACT the observed stream — the retention policy that bounds
    * `.seen` (round-19 advice: [[observeBatch]] appends every batch
    * forever and a retrain reads all of it, so retrain cost and
    * storage grew monotonically with stream lifetime): batches BELOW
    * `keepFrom` collapse to ONE WEIGHTED ROW PER DISTINCT TOKEN
    * (`__w` = the token's occurrence count across the compacted
    * tail, `__batch` = −2, synthetic negative doc ids), batches at or
    * above it stay raw. LOSSLESS for every consumer by construction:
    * training and the fertility baseline read only the TOKEN MULTISET
    * (the [[Unigram.wordDict]] / [[fertilityStats]] weighted paths
    * reproduce identical counts — TokenizerSpec pins retrain ≡ the
    * uncompacted retrain, vocabulary row for row), and the per-batch
    * consumers ([[lastSeenBatch]], [[tokenizerDrift]]) read only the
    * RAW retained batches — keep at least the most recent batch raw
    * (`keepFrom` ≤ its id) so the drift evidence survives. At 100 TB
    * the compacted tail is Heaps-law bounded (the dictionary, not the
    * stream), so a long-lived store's retrain cost converges to
    * dictionary scale + the raw retention window. Idempotent: the
    * tail marker −2 sits below `keepFrom`, so re-compacting
    * re-aggregates the same multiset. */
  def compactSeen(spark: SparkSession, path: String,
                  keepFrom: Long): Unit = {
    val seen = spark.read.parquet(s"$path.seen")
    // coalesce: legacy rows without __w weigh 1, not null-dropped
    val w = if (seen.columns.contains("__w"))
      coalesce(col("__w").cast("long"), lit(1L))
    else lit(1L)
    val recent = seen.filter(col("__batch") >= keepFrom)
      .select(col("doc_id"), col("text"), col("__batch"), w.as("__w"))
    // dictionary-bounded: one row per distinct token. The minted ids
    // are the NEGATED dense rank of the token in text-ASC order —
    // assigned by the repo's two-level distributed prefix sum
    // (Chunker.withOrdinalIds / SeqPack), NOT a global
    // row_number().over(Window.orderBy(...)): training reads only the
    // (text, __w) multiset, but at 100 TB multilingual the dictionary
    // is ~10⁸ rows and an unpartitioned window is a single-task sort —
    // exactly the hazard the prefix-sum pattern exists to avoid
    // (round-20 verdict item 3). Same ids, no single-partition stage:
    // a range exchange on text gives partition p a contiguous text
    // range, so global rank = (earlier partitions' row counts) +
    // (rank within the partition).
    val dict = seen.filter(col("__batch") < keepFrom)
      .select(explode(TextAnalysis.tokens(col("text"))).as("text"),
        w.as("__w"))
      .groupBy(col("text")).agg(sum(col("__w")).as("__w"))
    val p = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val wLocal = Window.partitionBy(col("__pid")).orderBy(col("text"))
    // persist pin (the Chunker.withOrdinalIds rationale):
    // spark_partition_id() over a sampled range exchange is
    // nondeterministic across executions, and the stamped frame feeds
    // both the subtotal branch and the final rows
    val local = dict.repartitionByRange(p, col("text"))
      .withColumn("__pid", spark_partition_id())
      .withColumn("__r", row_number().over(wLocal))
      .persist()
    val sub = local.groupBy(col("__pid")).agg(count(lit(1)).as("__pn"))
    val offsets = sub.as("a")
      .join(broadcast(sub.as("b")), col("b.__pid") < col("a.__pid"), "left")
      .groupBy(col("a.__pid").as("__pid"))
      .agg(coalesce(sum(col("b.__pn")), lit(0L)).as("__poff"))
    val tail = local.join(broadcast(offsets), Seq("__pid"))
      .select((-(col("__poff") + col("__r"))).cast("long").as("doc_id"),
        col("text"), lit(-2L).as("__batch"), col("__w"))
    val out = tail.unionByName(recent).localCheckpoint()
    local.unpersist()
    out.write.mode("overwrite").parquet(s"$path.seen")
  }

  /** The LAST observed batch of a store — what a post-retrain
    * verification re-evaluates: the drifted data itself, under the
    * fresh generation's vocab. */
  def lastSeenBatch(spark: SparkSession, path: String): DataFrame = {
    val seen = spark.read.parquet(s"$path.seen")
    val last = seen.agg(max(col("__batch"))).head().getLong(0)
    seen.filter(col("__batch") === last)
  }

  /** Vocabulary ALIGNMENT across a retrain — the migration bill a
    * fresh generation hands every downstream consumer keyed by piece
    * (embedding matrices, learned routing tables, cached encodings):
    * full outer join of the two vocabularies classifies each piece as
    * `kept` (re-embeddable by id copy), `dropped` (its rows must
    * re-encode), or `new` (needs initialization), with the piece
    * count and each side's probability MASS per class — the mass of
    * `dropped` is the fraction of the OLD model's probability the
    * migration must re-route, a better cost signal than the raw
    * count. One vocabulary-scale join: bounded model-state work,
    * never corpus rows.
    *
    * Determinism: per-piece shares QUANTIZE to micro-unit longs
    * (`floor(share·10⁶ + 0.5)` — floor is IEEE-exact) BEFORE the
    * class sum, so the distributed aggregation sums integers
    * (partial-order-free) and one exact division lands the round-6
    * mass — the [[Unigram.softUsage]] contract; summing raw doubles
    * across Spark partitions left the accumulation order unpinned,
    * and a class mass near a 5e-7 boundary could round differently
    * from the oracle's single-threaded sum. */
  /** Persist an ENCODED-CORPUS store — the canonical piece-keyed
    * DEPENDENT of a tokenizer store (the downstream state
    * [[vocabAlignment]] prices the migration bill for): documents
    * encoded under the tokenizer's CURRENT vocabulary, `(doc_id,
    * wpos, ppos, piece)` at `path`, the source documents at
    * `<path>.docs` (what a re-encode re-reads — the store owns its
    * corpus, the re-encode convention every rewrite here follows).
    * Encode parameters come from the tokenizer store's `.conf`, so a
    * re-encode segments the way the tokenizer was built. */
  def writeEncodedStore(spark: SparkSession, docs: DataFrame,
                        textCol: String, tokPath: String, path: String,
                        idCol: String = "doc_id"): Unit = {
    // pin one evaluation of the normalized corpus: the encode and the
    // .docs side then run as concurrent INDEPENDENT writes over the
    // same rows (the encode used to wait for the .docs write and
    // re-read it)
    val d = docs.select(col(idCol).cast("long").as("doc_id"),
        col(textCol).as("text"))
      .localCheckpoint()
    graft.io.Par.unit(
      () => d.write.mode("overwrite").parquet(s"$path.docs"),
      () => {
        val conf = spark.read.parquet(s"$tokPath.conf").head()
        Unigram.encode(d, "text",
            spark.read.parquet(tokPath), conf.getAs[Int]("max_piece_len"),
            "doc_id", conf.getAs[Int]("max_word_len"))
          .write.mode("overwrite").parquet(path)
      })
  }

  /** RE-ENCODE an encoded store under the (possibly retrained)
    * tokenizer generation at `tokPath` — the `reencode` remedy: a
    * fresh generation at `dstPath` (immutable-layout rewrite, src ≠
    * dst), source docs carried. One corpus-scale encode; the verified
    * [[Unigram.encode]] plan (each DISTINCT word segments once). */
  def reencodeStore(spark: SparkSession, srcPath: String, dstPath: String,
                    tokPath: String): Unit = {
    require(srcPath != dstPath,
      "reencode rewrites the layout: dstPath must differ from srcPath")
    // the re-encode and the corpus copy are independent writes —
    // concurrent jobs (the writeGraphIndex convention)
    graft.io.Par.unit(
      () => reencodeInto(spark, s"$srcPath.docs", tokPath, dstPath),
      () => spark.read.parquet(s"$srcPath.docs")
        .write.mode("overwrite").parquet(s"$dstPath.docs"))
  }

  private def reencodeInto(spark: SparkSession, docsPath: String,
                           tokPath: String, dstPath: String): Unit = {
    val conf = spark.read.parquet(s"$tokPath.conf").head()
    Unigram.encode(spark.read.parquet(docsPath), "text",
        spark.read.parquet(tokPath), conf.getAs[Int]("max_piece_len"),
        "doc_id", conf.getAs[Int]("max_word_len"))
      .write.mode("overwrite").parquet(dstPath)
  }

  /** STALENESS of an encoded store against the tokenizer generation at
    * `tokPath` — the dependent's health signal: the fraction of
    * encoded piece OCCURRENCES the serving vocabulary no longer
    * carries (dropped pieces, plus `<unk>` fallbacks — an encode the
    * current model couldn't reproduce either way). One row `(n_rows,
    * n_stale, stale_ratio)`, round-6. Scale shape: one pass over the
    * encoded rows against the broadcast vocabulary — partial
    * aggregation, no shuffle. */
  def encodedStaleness(spark: SparkSession, path: String,
                       tokPath: String): DataFrame =
    spark.read.parquet(path)
      .join(broadcast(spark.read.parquet(tokPath)
        .select(col("piece"), lit(1).as("__in"))), Seq("piece"), "left")
      .agg(count(lit(1)).as("n_rows"),
        coalesce(sum(when(col("__in").isNull, 1L).otherwise(0L)), lit(0L))
          .as("n_stale"))
      .select(col("n_rows"), col("n_stale"),
        round(col("n_stale").cast("double") / col("n_rows"), 6)
          .as("stale_ratio"))

  def vocabAlignment(oldVocab: DataFrame, newVocab: DataFrame): DataFrame = {
    def withShare(v: DataFrame, shareCol: String): DataFrame = {
      val total = v.agg(sum(col("cnt"))).head().getLong(0)
      v.select(col("piece"),
        floor(col("cnt").cast("double") / total.toDouble
          * lit(1000000.0) + lit(0.5)).as(shareCol))
    }
    withShare(oldVocab, "__so")
      .join(withShare(newVocab, "__sn"), Seq("piece"), "full_outer")
      .select(
        when(col("__so").isNotNull && col("__sn").isNotNull, lit("kept"))
          .when(col("__sn").isNull, lit("dropped"))
          .otherwise(lit("new")).as("piece_class"),
        col("__so"), col("__sn"))
      .groupBy(col("piece_class"))
      .agg(count(lit(1)).as("n_pieces"),
        round(coalesce(sum(col("__so")), lit(0L)).cast("double")
          / lit(1000000.0), 6).as("old_mass"),
        round(coalesce(sum(col("__sn")), lit(0L)).cast("double")
          / lit(1000000.0), 6).as("new_mass"))
  }
}
