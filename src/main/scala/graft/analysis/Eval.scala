package graft.analysis

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.search.Search
import graft.vector.VectorOps

/** Retrieval-quality evaluation over a labeled query batch — the
  * offline eval loop every retrieval stack runs after an index or
  * embedding change (reference analogue: eyeballing the top-k list,
  * `/root/reference/App.tsx:181-195`; this is its measurable form).
  *
  * Relevance is binary: a corpus row is relevant to a query iff their
  * labels match. Metrics:
  *   - MRR@k  = mean over queries of 1/rank of the FIRST relevant hit
  *     (0 when no relevant row reaches the top-k);
  *   - nDCG@k = mean over queries of DCG@k / IDCG@k, with
  *     DCG = Σ rel_i / log2(i+1) over ranks i = 1..k and IDCG the same
  *     sum truncated at min(#relevant-in-corpus, k). Queries whose
  *     label has no relevant corpus row contribute 0 (never NULL — a
  *     NULL cell would NaN-mismatch the oracle hash compare).
  *
  * Scale shape: one batch top-k ([[Search.similarityJoin]] — the
  * serving snapshot for a small store, else broadcast queries × corpus
  * scan + per-qid window, the `simjoin_top3` path;
  * swap in [[Search.similarityJoinBlocked]] when the query batch
  * outgrows a broadcast), then per-query aggregates over ≤ k rows each
  * and one label-keyed count join. Nothing here scans pairs beyond the
  * top-k join; the metric reduction is O(queries · k).
  */
object Eval {

  /** One-row frame: `n_queries`, `mrr_at_<k>`, `ndcg_at_<k>` (both
    * rounded to 6). `queries` must carry `qid`, `qvec`, `qlabel`;
    * `corpus` carries `idCol`, `vecCol`, `labelCol`. Rank order is the
    * engine-wide retrieval total order: round-6 cosine DESC, id ASC.
    * The metric arithmetic is [[rankedEval]]'s — the vector path is
    * just that gate fed by the batch similarity join. */
  def retrievalEval(corpus: DataFrame, queries: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame =
    rankedEval(
      Search.similarityJoin(corpus, queries, k, idCol, vecCol)
        .select(col("qid"), col(idCol), col("sim")),
      "sim", queries.select(col("qid"), col("qlabel")), corpus, k,
      idCol, labelCol)

  /** The retrieval-quality gate over ANY ranked result frame — the
    * generalization that lets the LEXICAL and HYBRID stacks (BM25,
    * RRF, RM3 — anything emitting `(qid, id, <ordering column>)`)
    * score under the same MRR@k / nDCG@k definitions as the vector
    * path, so an index or weighting change on either side gates
    * identically. `results` rows rank per qid by
    * `(orderCol DESC, id ASC)` (the engine total order) truncated at
    * `k`; `queries` carries `(qid, qlabel)`; `corpus` supplies the
    * binary relevance labels and the per-label relevant counts for
    * the IDCG truncation.
    *
    * Differences from a naive join, both load-bearing: a query with
    * NO result rows at all (a term set matching nothing — impossible
    * for cosine, routine for keyword retrieval) still counts, with
    * rr = dcg = 0, via the left join back onto the query batch; and a
    * result id absent from the corpus contributes rel = 0, never a
    * null that would poison the per-query sums. Scale shape: one
    * window over ≤ the results frame, one label-keyed count join —
    * the reduction is O(queries · k). */
  def rankedEval(results: DataFrame, orderCol: String, queries: DataFrame,
                 corpus: DataFrame, k: Int,
                 idCol: String = "vec_id", labelCol: String = "label"): DataFrame = {
    val w = Window.partitionBy(col("qid"))
      .orderBy(col(orderCol).desc, col(idCol).asc)
    val top = results.select(col("qid"), col(idCol), col(orderCol))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .join(corpus.select(col(idCol), col(labelCol)), Seq(idCol), "left")
      .join(broadcast(queries.select(col("qid"), col("qlabel"))), Seq("qid"))
      .withColumn("rel",
        coalesce((col(labelCol) === col("qlabel")).cast("int"), lit(0)))
    val perQuery = top.groupBy(col("qid"), col("qlabel")).agg(
      coalesce(lit(1.0) / min(when(col("rel") === 1, col("rank"))), lit(0.0))
        .as("rr"),
      sum(when(col("rel") === 1, lit(1.0) / log2(col("rank") + lit(1)))
        .otherwise(lit(0.0))).as("dcg"))
    val perAll = queries.select(col("qid"), col("qlabel"))
      .join(perQuery, Seq("qid", "qlabel"), "left")
      .withColumn("rr", coalesce(col("rr"), lit(0.0)))
      .withColumn("dcg", coalesce(col("dcg"), lit(0.0)))
    // #relevant per label — the IDCG truncation point. Labels absent
    // from the corpus coalesce to 0 so the ideal gain is 0, not NULL.
    val relCounts = corpus.groupBy(col(labelCol).as("qlabel"))
      .agg(count(lit(1)).as("n_rel"))
    perAll.join(relCounts, Seq("qlabel"), "left")
      .withColumn("n_rel", coalesce(col("n_rel"), lit(0L)))
      .withColumn("idcg",
        when(col("n_rel") >= 1,
          aggregate(sequence(lit(1), least(col("n_rel"), lit(k.toLong)).cast("int")),
            lit(0.0),
            (acc, i) => acc + lit(1.0) / log2(i.cast("double") + lit(1.0))))
          .otherwise(lit(0.0)))
      .agg(
        count(lit(1)).as("n_queries"),
        round(avg(col("rr")), 6).as(s"mrr_at_$k"),
        round(avg(when(col("idcg") > 0, col("dcg") / col("idcg"))
          .otherwise(lit(0.0))), 6).as(s"ndcg_at_$k"))
  }

  /** The multi-depth form of [[rankedEval]] — one row per cutoff k in
    * `ks`, each carrying `n_queries`, `mrr`, `ndcg`, and `recall`
    * (recall@k = #relevant retrieved in the top-k / #relevant in the
    * corpus; 0 when the label has no relevant row). This is the eval
    * CURVE a retrieval change is actually judged on — a reranker that
    * helps at k=10 and hurts at k=1 is invisible to any single-k gate.
    *
    * One pass: a single window at max(ks) ranks the results once; the
    * per-k truncation is an explode over the (bounded, tiny) `ks`
    * literal array, so the result frame grows by |ks| — never a second
    * window or a re-scan per cutoff. Metric definitions are exactly
    * [[rankedEval]]'s at each k (including zero-hit queries counting 0
    * via the (k × queries) left join, and unknown result ids scoring
    * rel 0). */
  def rankedEvalCurve(results: DataFrame, orderCol: String, queries: DataFrame,
                      corpus: DataFrame, ks: Seq[Int],
                      idCol: String = "vec_id", labelCol: String = "label"): DataFrame = {
    require(ks.nonEmpty, "ks must be non-empty")
    val kMax = ks.max
    val kArr = array(ks.map(k => lit(k)): _*)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col(orderCol).desc, col(idCol).asc)
    val top = results.select(col("qid"), col(idCol), col(orderCol))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= kMax)
      .join(corpus.select(col(idCol), col(labelCol)), Seq(idCol), "left")
      .join(broadcast(queries.select(col("qid"), col("qlabel"))), Seq("qid"))
      .withColumn("rel",
        coalesce((col(labelCol) === col("qlabel")).cast("int"), lit(0)))
    val perQuery = top.withColumn("k", explode(kArr))
      .filter(col("rank") <= col("k"))
      .groupBy(col("k"), col("qid"), col("qlabel")).agg(
        coalesce(lit(1.0) / min(when(col("rel") === 1, col("rank"))), lit(0.0))
          .as("rr"),
        sum(when(col("rel") === 1, lit(1.0) / log2(col("rank") + lit(1)))
          .otherwise(lit(0.0))).as("dcg"),
        sum(col("rel")).cast("long").as("hits"))
    val qK = queries.select(col("qid"), col("qlabel"))
      .withColumn("k", explode(kArr))
    val relCounts = corpus.groupBy(col(labelCol).as("qlabel"))
      .agg(count(lit(1)).as("n_rel"))
    qK.join(perQuery, Seq("k", "qid", "qlabel"), "left")
      .withColumn("rr", coalesce(col("rr"), lit(0.0)))
      .withColumn("dcg", coalesce(col("dcg"), lit(0.0)))
      .withColumn("hits", coalesce(col("hits"), lit(0L)))
      .join(relCounts, Seq("qlabel"), "left")
      .withColumn("n_rel", coalesce(col("n_rel"), lit(0L)))
      .withColumn("idcg",
        when(col("n_rel") >= 1,
          aggregate(
            sequence(lit(1), least(col("n_rel"), col("k").cast("long")).cast("int")),
            lit(0.0),
            (acc, i) => acc + lit(1.0) / log2(i.cast("double") + lit(1.0))))
          .otherwise(lit(0.0)))
      .groupBy(col("k")).agg(
        count(lit(1)).as("n_queries"),
        round(avg(col("rr")), 6).as("mrr"),
        round(avg(when(col("idcg") > 0, col("dcg") / col("idcg"))
          .otherwise(lit(0.0))), 6).as("ndcg"),
        round(avg(when(col("n_rel") >= 1,
            col("hits").cast("double") / col("n_rel"))
          .otherwise(lit(0.0))), 6).as("recall"))
      .select(col("k").cast("long").as("k"), col("n_queries"),
        col("mrr"), col("ndcg"), col("recall"))
  }

  /** Hard-negative mining for contrastive retriever training: per
    * query, the k highest-cosine corpus rows whose label does NOT
    * match — the near-misses that make the strongest training
    * negatives. The rank is computed over the non-relevant subset
    * (filter BEFORE the window, so a relevant row never occupies a
    * negative's rank slot). Same scale shape as the eval top-k: one
    * broadcast-query scored scan + a per-qid window over the filtered
    * rows; the filter is codegen'd into the scan side of the join. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame = {
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col(idCol).asc)
    corpus.crossJoin(broadcast(queries))
      .filter(col(labelCol) =!= col("qlabel"))
      .withColumn("sim", VectorOps.cosine6(col(vecCol), col("qvec")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col(idCol), col(labelCol), col("sim"))
  }

  /** Deterministic UNIFORM negative sampling over interaction data —
    * the other half of contrastive training-pair prep
    * ([[hardNegatives]] mines near-misses from embeddings; implicit-
    * feedback recommenders also need plain uniform negatives, and
    * `rand()` negatives are unreproducible across runs/engines).
    *
    * Per user, candidate items derive from the Knuth bucket of
    * `user·1024 + i` (i < k·oversample ≤ 1024) modulo `nItems` — the
    * same portable hash family as every sampler here, so the exact
    * negative set replays cross-engine. Candidates that collide with a
    * TRUE interaction are rejected by an anti-join (a "negative" the
    * user actually touched would poison the loss); duplicate candidate
    * items keep their smallest i. The first k survivors in i-order win.
    * `oversample` bounds the rejection head-room: with interaction
    * density d, the chance a user fills fewer than k slots shrinks
    * geometrically in (oversample − 1)·k — callers with dense users
    * raise it.
    *
    * Scale shape: |users|·k·oversample generated rows, one
    * (user, item)-keyed anti-join against the interactions, one
    * user-keyed rank window over ≤ k·oversample rows. Item ids are
    * assumed dense 0..nItems−1 (the fixture's part-key layout);
    * non-dense catalogs map through a dense-rank first.
    *
    * @return `(user, rank, neg_item)` — up to k rows per user
    */
  def uniformNegatives(interactions: DataFrame, userCol: String,
                       itemCol: String, nItems: Long, k: Int,
                       oversample: Int = 2): DataFrame = {
    require(nItems >= 1 && k >= 1 && oversample >= 1, "positive params")
    require(k * oversample <= 1024, "k*oversample must stay <= 1024")
    val users = interactions.select(col(userCol).as("user")).distinct()
    val cand = users
      .select(col("user"),
        explode(sequence(lit(0), lit(k * oversample - 1))).as("i"))
      .select(col("user"), col("i"),
        pmod(Sampling.bucket(col("user") * lit(1024L) + col("i")),
          lit(nItems)).as("item"))
      .groupBy(col("user"), col("item")).agg(min(col("i")).as("i"))
    val survivors = cand.join(
      interactions.select(col(userCol).as("user"), col(itemCol).as("item")),
      Seq("user", "item"), "left_anti")
    val w = Window.partitionBy(col("user")).orderBy(col("i").asc)
    survivors.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("user"), col("rank").cast("long").as("rank"),
        col("item").as("neg_item"))
  }

  /** Cumulative Poisson(1) probabilities at 6 dp — the weight ladder
    * of the distributed bootstrap (draws above 6 are ~1e-7 and cap). */
  private val PoissonCdf = Seq(0.367879, 0.735759, 0.919699, 0.981012,
    0.996340, 0.999406)

  /** 95% bootstrap confidence interval for MRR@k — the Poisson
    * bootstrap (Chamandy et al. 2012, the streaming/distributed
    * bootstrap Google published for exactly this shape): instead of
    * materializing B resampled query sets, every query carries an
    * independent Poisson(1) weight per replicate, so the whole
    * procedure is ONE fan-out of the per-query metric rows by B and
    * two bounded aggregates — no resample ever exists as data, and
    * per-replicate weighted means are the resample estimates.
    *
    * Determinism: the "random" weight for (query, replicate) inverts
    * the Poisson CDF at `u = knuthBucket(qid·B + j) / 2³²` — u is an
    * EXACT dyadic rational (division by a power of two) compared
    * against fixed 6-dp CDF literals, so every draw replays
    * bit-identically cross-engine (the [[uniformNegatives]] /
    * CUPED-split precedent, extended from bucketing to inverse-CDF
    * sampling). Per-replicate sums are DECIMAL-exact over round-6
    * `rr·w` products (each exact in double: ≤6 dp × small int).
    *
    * Returns one row: `(n_queries, mrr_at_<k>, ci_lo, ci_hi,
    * n_resamples)` — the point estimate with the 2.5%/97.5% exact
    * percentiles of the B replicate means. Scale shape: the batch
    * top-k join once, a ×B fan-out of Q METRIC rows (not corpus
    * rows), one (j)-keyed reduce, one percentile over B rows. */
  def mrrBootstrapCi(corpus: DataFrame, queries: DataFrame, k: Int,
                     resamples: Int = 200,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     labelCol: String = "label"): DataFrame = {
    require(resamples >= 2, s"resamples >= 2: $resamples")
    import org.apache.spark.sql.types.DecimalType
    def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(38, 12))
    val top = Search.similarityJoin(corpus,
      queries.select(col("qid"), col("qvec")), k, idCol, vecCol)
    val perQuery = top
      .join(broadcast(queries.select(col("qid"), col("qlabel"))), Seq("qid"))
      .groupBy(col("qid"))
      .agg(coalesce(lit(1.0) /
        min(when(col(labelCol) === col("qlabel"), col("rank"))), lit(0.0))
        .as("rr"))
    val perAll = queries.select(col("qid"))
      .join(perQuery, Seq("qid"), "left")
      .select(col("qid"), round(coalesce(col("rr"), lit(0.0)), 6).as("rr"))
    val grid = perAll.select(col("qid"), col("rr"),
      explode(sequence(lit(0), lit(resamples - 1))).as("j"))
    val u = Sampling.bucket(col("qid") * lit(resamples.toLong) + col("j"))
      .cast("double") / lit(4294967296.0)
    val wgt = PoissonCdf.zipWithIndex.reverse
      .foldLeft(lit(PoissonCdf.size.toLong)) { case (acc, (p, i)) =>
        when(u < p, i.toLong).otherwise(acc)
      }
    val means = grid.withColumn("w", wgt)
      .groupBy(col("j"))
      .agg(sum(dec(col("rr") * col("w").cast("double"))).as("s"),
        sum(col("w")).as("sw"))
      .select(round(when(col("sw") === 0, 0.0)
        .otherwise(col("s").cast("double") / col("sw").cast("double")), 6)
        .as("m"))
    val point = perAll.agg(count(lit(1)).as("n_queries"),
      round(avg(col("rr")), 6).as(s"mrr_at_$k"))
    point.crossJoin(means.agg(
      round(expr("percentile(m, 0.025)"), 6).as("ci_lo"),
      round(expr("percentile(m, 0.975)"), 6).as("ci_hi")))
      .withColumn("n_resamples", lit(resamples.toLong))
  }

  /** CONTEXT-PRECISION gate over a RAG batch — the answer-quality
    * metric for the A12–A14 tail (context assembly → prompt →
    * answer): of the k context chunks each query's prompt is built
    * from, what fraction is label-relevant? The ANSWERER can only be
    * as grounded as its context, so this is the end-to-end gate the
    * per-rank metrics (MRR/nDCG reward ONE early hit) don't give:
    * a prompt whose context is 4/5 off-topic scores 0.2 here while
    * MRR happily reports 1.0.
    *
    * `results` is the per-qid top-k frame FEEDING the context
    * assembly (must carry `qid`, `qlabel`, `labelCol` — the
    * [[graft.search.Search.similarityJoin]] output shape); `queries`
    * supplies the batch roster so a query retrieving NOTHING gates as
    * precision 0 rather than silently dropping out (the rankedEval
    * no-results lesson). One row: `n_queries`,
    * `mean_context_precision` (= total hits / (k·n) — exact integer
    * arithmetic, no order-dependent float mean),
    * `min_context_precision` (the worst prompt in the batch — the
    * number an SLA gates on), `frac_fully_relevant` (prompts whose
    * whole context is on-topic). Bounded: |queries| rows into one
    * aggregate. */
  def contextPrecisionGate(results: DataFrame, queries: DataFrame, k: Int,
                           labelCol: String = "label"): DataFrame = {
    require(k >= 1, "k >= 1")
    val per = results
      .groupBy(col("qid"))
      .agg(sum(when(col(labelCol) === col("qlabel"), 1L).otherwise(0L))
        .as("__hits"))
    val rostered = queries.select(col("qid")).distinct()
      .join(per, Seq("qid"), "left")
      .select(coalesce(col("__hits"), lit(0L)).as("h"))
    rostered.agg(
      count(lit(1)).as("n_queries"),
      round(sum(col("h")).cast("double") /
        (count(lit(1)) * k).cast("double"), 6).as("mean_context_precision"),
      round(min(col("h")).cast("double") / lit(k.toDouble), 6)
        .as("min_context_precision"),
      round(sum(when(col("h") === k.toLong, 1L).otherwise(0L)).cast("double") /
        count(lit(1)).cast("double"), 6).as("frac_fully_relevant"))
  }

  /** CONTEXT-RECALL gate — [[contextPrecisionGate]]'s RAGAS-style
    * dual, closing the pair: of each query's RELEVANT chunks in the
    * corpus (same label), what fraction reached its k-chunk context?
    * Precision gates what the answerer READ; recall gates what it was
    * never shown — a prompt can be 5/5 on-topic (precision 1.0) while
    * covering 5 of 500 relevant chunks, and only this number says so.
    *
    * Same conventions as the precision gate: `results` is the per-qid
    * top-k frame carrying `qid`/`qlabel`/`labelCol`; `queries` is the
    * roster (a query retrieving nothing gates as recall 0, never
    * drops); `corpus` supplies the per-label relevant counts. A query
    * whose label has ZERO corpus rows is vacuously complete (recall
    * 1.0) — there was nothing to retrieve, and gating it 0 would page
    * an operator about an empty class. Two recall forms per query:
    * the RAGAS total-relevant denominator (bounded by k/|relevant|
    * when the class outnumbers the context window — the honest
    * corpus-coverage number) and the k-capped denominator
    * `min(k, |relevant|)` (1.0 = the context window did the best any
    * k-chunk context could). Bounded: |queries| rows into one
    * aggregate; the per-label counts are one map-side-combined
    * aggregate over the corpus. */
  def contextRecallGate(results: DataFrame, queries: DataFrame,
                        corpus: DataFrame, k: Int,
                        labelCol: String = "label"): DataFrame = {
    require(k >= 1, "k >= 1")
    val rel = corpus.groupBy(col(labelCol).as("qlabel"))
      .agg(count(lit(1)).as("__rel"))
    val per = results
      .groupBy(col("qid"))
      .agg(sum(when(col(labelCol) === col("qlabel"), 1L).otherwise(0L))
        .as("__hits"))
    val rostered = queries.select(col("qid"), col("qlabel")).distinct()
      .join(per, Seq("qid"), "left")
      .join(rel, Seq("qlabel"), "left")
      .select(coalesce(col("__hits"), lit(0L)).as("h"),
        coalesce(col("__rel"), lit(0L)).as("r"))
    val recall = when(col("r") === 0, lit(1.0))
      .otherwise(col("h").cast("double") / col("r").cast("double"))
    val capped = when(col("r") === 0, lit(1.0))
      .otherwise(col("h").cast("double") /
        least(lit(k.toLong), col("r")).cast("double"))
    rostered.agg(
      count(lit(1)).as("n_queries"),
      round(avg(recall), 6).as("mean_context_recall"),
      round(min(recall), 6).as("min_context_recall"),
      round(avg(capped), 6).as("mean_capped_recall"))
  }

  /** FAITHFULNESS + ANSWER-RELEVANCE gate — the ANSWER half of the
    * RAGAS quartet (context precision/recall grade what the answerer
    * READ; these grade what it SAID — the reference's actual product,
    * `App.tsx:199-206`, was the streamed answer, and until now nothing
    * judged it). Deterministic token-support over the
    * [[graft.answer.Answerer]] output, so the whole end-to-end gate
    * replays in the oracle — no LLM judge, the engine-side analogue of
    * RAGAS's claim decomposition:
    *
    *  - `faithfulness`: of the answer's CLAIM tokens — its distinct
    *    tokens minus the question's (the echo of the question is not a
    *    claim about the corpus) — the fraction present in the context
    *    the answerer was shown. Unsupported tokens (including template
    *    scaffolding) count against it, honestly. No claims → vacuously
    *    1.0 (an answer that only restates the question asserts
    *    nothing).
    *  - `answer_relevance`: Jaccard overlap of the question's and
    *    answer's distinct token sets — low when the answer ignores the
    *    question (misses its terms) AND when it buries it in
    *    off-question content (the RAGAS redundancy penalty).
    *
    * `answers` carries one row per answered query (`qid`, `question`,
    * `context`, `answer` — the ask() output shape plus the batch key);
    * `queries` is the roster — a query with NO answer row gates as
    * 0/0 rather than silently dropping (the rankedEval no-results
    * lesson). Duplicate answer rows per qid — an at-least-once answer
    * LOG replay's shape — reduce to the per-qid WORST observation
    * (min f, min r) BEFORE the roster join (round-17 advice: a raw
    * left join would fan out the roster, weight means by answer-row
    * multiplicity, and let a replayed log silently move the gate), so
    * `n_queries` is always the roster size and a re-delivered answer
    * can only hold the gate down, never inflate it. One row out:
    * `n_queries`, mean/min of both metrics, and `frac_fully_faithful`
    * (answers whose every claim is supported — the exact-1.0 test is
    * integer-ratio-safe). Bounded: |queries| rows into one aggregate;
    * token sets are per-row scalar arrays. */
  def faithfulnessGate(answers: DataFrame, queries: DataFrame): DataFrame = {
    import graft.text.TextAnalysis.tokens
    val qt = array_distinct(tokens(col("question")))
    val at = array_distinct(tokens(col("answer")))
    val ct = array_distinct(tokens(col("context")))
    val claims = array_except(at, qt)
    val f = when(size(claims) === 0, lit(1.0))
      .otherwise(size(array_intersect(claims, ct)).cast("double") /
        size(claims).cast("double"))
    val unionN = size(array_union(qt, at))
    val r = when(unionN === 0, lit(1.0))
      .otherwise(size(array_intersect(qt, at)).cast("double") /
        unionN.cast("double"))
    val per = answers.select(col("qid"), f.as("__f"), r.as("__r"))
      .groupBy(col("qid"))
      .agg(min(col("__f")).as("__f"), min(col("__r")).as("__r"))
    val rostered = queries.select(col("qid")).distinct()
      .join(per, Seq("qid"), "left")
      .select(coalesce(col("__f"), lit(0.0)).as("f"),
        coalesce(col("__r"), lit(0.0)).as("r"))
    rostered.agg(
      count(lit(1)).as("n_queries"),
      round(avg(col("f")), 6).as("mean_faithfulness"),
      round(min(col("f")), 6).as("min_faithfulness"),
      round(sum(when(col("f") === 1.0, 1L).otherwise(0L)).cast("double") /
        count(lit(1)).cast("double"), 6).as("frac_fully_faithful"),
      round(avg(col("r")), 6).as("mean_answer_relevance"),
      round(min(col("r")), 6).as("min_answer_relevance"))
  }
}
