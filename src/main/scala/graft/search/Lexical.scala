package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.store.Sidecars
import graft.text.TextAnalysis

/** Lexical (keyword) retrieval and hybrid fusion — the other half of a
  * retrieval stack next to the vector path the reference implements
  * (`/root/reference/services/vectorDb.ts:11-24` is embedding-only).
  * Real RAG deployments pair a BM25 ranking with the embedding kNN and
  * fuse them; at 100 TB the lexical side is the cheap one (integer
  * postings, no dim-wide float math).
  *
  * Scale shape: tokenize → explode → FILTER TO QUERY TERMS → aggregate.
  * The term filter runs before any shuffle, so the keyed stages move
  * only |query terms| × |matching docs| rows, not the full postings
  * list; document frequencies and corpus stats are single-row /
  * |terms|-row broadcasts.
  */
object Lexical {

  /** Standard Robertson BM25 parameters. */
  val K1 = 1.2
  val B = 0.75

  /** The per-(doc, term) BM25 weight — query-INDEPENDENT, so every
    * ranking path (single, batch, index probe) shares this ONE
    * definition over columns `tf, df, dl, n_docs, avgdl`:
    * `idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))` with
    * idf = ln(1 + (N−df+0.5)/(df+0.5)) (the Lucene non-negative form).
    * The association mirrors the oracle SQL token-for-token, and the
    * constants are PRE-FOLDED (k1+1 → 2.2, 1−b → 0.25): both engines
    * then parse the same decimal literal instead of folding (1.2 + 1.0)
    * in different numeric types; the final per-doc sum is round-6 to
    * absorb accumulation order. A change to K1/B must update the folded
    * literals here AND in the oracle CTEs together. */
  private def bm25Weight: Column =
    log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
      col("tf") * lit(2.2) /
      (col("tf") + lit(K1) * (lit(0.25) + lit(B) * col("dl") / col("avgdl")))

  /** BM25 top-k of `docs` against a literal bag of query terms.
    * Scores are `Σ_t` [[bm25Weight]], rounded to 6 (float-determinism
    * contract).
    *
    * The doc length rides THROUGH the explode as a grouping column
    * (functionally dependent on the id — [[buildBm25Index]]'s layout),
    * so the plan has no corpus-sized doc-length join, and the corpus is
    * tokenized twice (stats branch + postings branch), not three times
    * — the in-memory twin of the fix `buildBm25Index` got in round 10.
    * The query-term prune happens INSIDE the token array (a codegen'd
    * array filter) so the generator only emits matching terms. */
  def bm25TopK(docs: DataFrame, textCol: String, idCol: String,
               queryTerms: Seq[String], k: Int): DataFrame =
    bm25Scored(docs, textCol, idCol, queryTerms)
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)

  /** PIGEONHOLE segment keys for edit-distance candidate blocking
    * (the Pass-Join partition scheme, Li 2011 — LOSSLESS at ANY
    * radius, unlike the end-character bands these replaced, which
    * dropped dist-2 pairs whose two edits touch both ends): the
    * INDEXED string of length L splits into `maxDist+1` contiguous
    * segments at the floor boundaries `⌊i·L/(maxDist+1)⌋`; if
    * ed(q, t) ≤ maxDist, fix an optimal alignment — at most maxDist
    * of the maxDist+1 segments contain an edit, so some segment t_i
    * aligns EDIT-FREE to a substring of q whose start differs from
    * t_i's by the net indel count before it, i.e. by at most
    * maxDist. The probe side ([[editProbeKeys]]) therefore
    * enumerates, per candidate indexed length, each segment window
    * shifted by −maxDist..maxDist, and key equality on
    * (segmentIdx, indexedLen, segmentText) catches every true pair.
    * Strings of length ≤ maxDist carry a single "S:len" key instead
    * (too short for maxDist+1 non-empty segments; the pigeonhole
    * argument needs every segment non-empty). */
  private[graft] def editSegmentKeys(c: Column, maxDist: Int): Column = {
    val n = maxDist + 1
    val len = length(c)
    val segs = (0 until n).map { i =>
      val st = floor(len * i / n).cast("int")
      val en = floor(len * (i + 1) / n).cast("int")
      concat(lit(s"$i:"), len.cast("string"), lit(":"),
        c.substr(st + 1, en - st))
    }
    when(len <= maxDist,
      array(concat(lit("S:"), len.cast("string")))).otherwise(array(segs: _*))
  }

  /** The PROBE side of [[editSegmentKeys]], evaluated on the driver
    * (query bags are literal broadcast state): for every indexed
    * length within the length band, the segment window of that length
    * shifted by every net-indel offset in ±maxDist. ≤ (2·maxDist+1) ·
    * (maxDist+1) · (2·maxDist+1) keys per term — bounded, query-side
    * only. */
  private[graft] def editProbeKeys(q: String, maxDist: Int): Seq[String] = {
    val n = maxDist + 1
    (math.max(0, q.length - maxDist) to (q.length + maxDist)).flatMap { l =>
      if (l <= maxDist) Seq(s"S:$l")
      else (0 until n).flatMap { i =>
        val st = l * i / n
        val segLen = l * (i + 1) / n - st
        (-maxDist to maxDist).flatMap { d =>
          val p = st + d
          if (p >= 0 && p + segLen <= q.length)
            Some(s"$i:$l:${q.substring(p, p + segLen)}")
          else None
        }
      }
    }.distinct
  }

  /** Vocabulary expansion of a broadcast query bag within Levenshtein
    * `maxDist`, blocked on [[editSegmentKeys]] (lossless at the given
    * radius) + the length band — the shared candidate generator of
    * [[bm25FuzzyTopK]] and [[spellSuggest]]. Emits (qterm, term,
    * dist). The oracle replays the UNBLOCKED semantics (full vocab ×
    * query expansion under the levenshtein bound), so the hash
    * compare is itself the losslessness proof on real data. */
  private def editExpand(vocab: DataFrame, queryTerms: Seq[String],
                         maxDist: Int): DataFrame = {
    import vocab.sparkSession.implicits._
    val probes = queryTerms
      .flatMap(q => editProbeKeys(q, maxDist).map(k => (q, k)))
      .toDF("qterm", "__bk")
    vocab
      .select(col("term"), explode(editSegmentKeys(col("term"), maxDist)).as("__bk"))
      .join(broadcast(probes), Seq("__bk"))
      .select(col("qterm"), col("term")).distinct()
      .filter(abs(length(col("term")) - length(col("qterm"))) <= maxDist &&
        levenshtein(col("term"), col("qterm")) <= maxDist)
      .select(col("qterm"), col("term"),
        levenshtein(col("term"), col("qterm")).cast("long").as("dist"))
  }

  /** Typo-tolerant BM25 (Lucene fuzzy-query semantics, determinized):
    * each query term expands to the corpus-VOCABULARY terms within
    * Levenshtein distance `maxDist`, under pigeonhole-segment +
    * length-band blocking (the fuzzy automaton's cheap prefilter — an
    * unblocked expansion is a vocab × queries cross join). The
    * blocking is LOSSLESS at ANY radius ([[editSegmentKeys]]): unlike
    * plain first-char blocking it keeps corrections that edit the
    * first character ("park" reaches "spark"). Every
    * matched vocabulary term then scores as plain BM25 discounted by
    * `1/(1+dist)`, so an exact match (dist 0) keeps exactly its
    * [[bm25TopK]] weight and a doc reached through several
    * (query term → vocab term) routes sums each route once.
    *
    * Scale shape: vocab = one distinct over the token explode
    * (keyed); the expansion joins the BROADCAST query bag on the
    * band keys then filters by the edit bound; everything
    * downstream is the [[bm25TopK]] chain. df stays per matched term
    * over distinct docs — double-matched routes can't inflate it. */
  def bm25FuzzyTopK(docs: DataFrame, textCol: String, idCol: String,
                    queryTerms: Seq[String], k: Int, maxDist: Int = 1): DataFrame = {
    val withDl = docs
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("toks"))
      .withColumn("dl", size(col("toks")))
    val stats = withDl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val vocab = withDl.select(explode(col("toks")).as("term")).distinct()
    val expanded = editExpand(vocab, queryTerms, maxDist)
    val postings = withDl
      .select(col(idCol), col("dl"), explode(col("toks")).as("term"))
      .join(broadcast(expanded), Seq("term"))
      .groupBy(col(idCol), col("qterm"), col("term"), col("dl"), col("dist"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = postings.select(col(idCol), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    postings
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("w", bm25Weight * (lit(1.0) / (lit(1.0) + col("dist"))))
      .groupBy(col(idCol)).agg(round(sum(col("w")), 6).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** PROXIMITY-boosted BM25 — the classic "terms near each other beat
    * terms far apart" rerank (Lucene's span/phrase scoring, reduced
    * to its deterministic core): the [[bm25TopK]] score plus
    * `1/(1+minDist)`, where minDist is the smallest token-position
    * gap between occurrences of two DISTINCT query terms in the doc.
    * Docs matching fewer than two distinct terms get no boost — bag
    * scoring already said everything about them.
    *
    * Scale shape: positions are a filtered posexplode (only query
    * terms survive), the pair search is a SELF-JOIN KEYED ON doc_id
    * over those few positions per doc — never a corpus-wide window —
    * and the boost joins back to the scored frame by id. */
  def bm25ProximityTopK(docs: DataFrame, textCol: String, idCol: String,
                        queryTerms: Seq[String], k: Int): DataFrame = {
    val scored = bm25Scored(docs, textCol, idCol, queryTerms)
    val pos = docs
      .select(col(idCol), posexplode(TextAnalysis.tokens(col(textCol)))
        .as(Seq("pos", "term")))
      .filter(col("term").isin(queryTerms: _*))
    val minDist = pos.as("a")
      .join(pos.as("b"),
        col(s"a.$idCol") === col(s"b.$idCol") &&
          col("a.term") < col("b.term"))
      .groupBy(col(s"a.$idCol").as(idCol))
      .agg(min(abs(col("a.pos") - col("b.pos"))).as("min_dist"))
    scored.join(minDist, Seq(idCol), "left")
      .select(col(idCol), col("score"),
        coalesce(round(lit(1.0) / (lit(1.0) + col("min_dist")), 6), lit(0.0))
          .as("prox_boost"))
      .withColumn("final", round(col("score") + col("prox_boost"), 6))
      .orderBy(col("final").desc, col(idCol).asc)
      .limit(k)
  }

  /** Exact PHRASE match — consecutive-position search ("spark join"
    * must appear as adjacent tokens, not just co-occur): the posting
    * positions of the first word join the second word's positions at
    * `pos + 1`, keyed on (doc, position) — the classic positional-
    * index intersection, generalized to any phrase length by folding
    * word i at offset i. Returns (id, n_occurrences) ranked by count
    * then id. Keyed equi-joins only; each join leg carries one word's
    * positions. */
  def phraseTopK(docs: DataFrame, textCol: String, idCol: String,
                 phrase: Seq[String], k: Int): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    val pos = docs
      .select(col(idCol), posexplode(TextAnalysis.tokens(col(textCol)))
        .as(Seq("pos", "term")))
    def wordAt(i: Int): DataFrame =
      pos.filter(col("term") === phrase(i))
        .select(col(idCol), (col("pos") - i).as("start"))
    val starts = phrase.indices.tail.foldLeft(wordAt(0))((acc, i) =>
      acc.join(wordAt(i), Seq(idCol, "start")))
    starts.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col(idCol).asc)
      .limit(k)
  }

  /** Result SNIPPETS — the highlighted-excerpt surface of a search
    * response: for each of the BM25 top-k docs, the best
    * `window`-token excerpt, where best = covers the most DISTINCT
    * query terms (tie → earliest). Candidate windows start at query-
    * term occurrences only (a best window with no term at its left
    * edge could shift left to one that has one — same coverage, so
    * the restriction is lossless for coverage, and it keeps the
    * candidate count at the per-doc term-occurrence count). Coverage
    * = a (doc, start)-keyed range join over the same few positions;
    * the excerpt text slices the token array by the winning offset.
    * Everything is keyed on the top-k ids — corpus cost is the
    * scoring chain it already shares with [[bm25TopK]]. */
  def searchSnippets(docs: DataFrame, textCol: String, idCol: String,
                     queryTerms: Seq[String], k: Int,
                     window: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = bm25Scored(docs, textCol, idCol, queryTerms)
      .orderBy(col("score").desc, col(idCol).asc).limit(k)
    val toks = docs.join(top.select(col(idCol)), Seq(idCol))
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("toks"))
    val pos = toks
      .select(col(idCol), posexplode(col("toks")).as(Seq("pos", "term")))
      .filter(col("term").isin(queryTerms: _*))
    val covered = pos.select(col(idCol), col("pos").as("start")).as("a")
      .join(pos.as("b"),
        col(s"a.$idCol") === col(s"b.$idCol") &&
          col("b.pos") >= col("a.start") &&
          col("b.pos") < col("a.start") + window)
      .groupBy(col(s"a.$idCol").as(idCol), col("a.start").as("start"))
      .agg(countDistinct(col("b.term")).as("n_terms"))
    val wBest = Window.partitionBy(col(idCol))
      .orderBy(col("n_terms").desc, col("start").asc)
    covered.withColumn("__r", row_number().over(wBest))
      .filter(col("__r") === 1)
      .join(toks, Seq(idCol))
      .join(top, Seq(idCol))
      .select(col(idCol), col("score"), col("n_terms"),
        concat_ws(" ", slice(col("toks"), col("start") + 1, lit(window)))
          .as("snippet"))
      .orderBy(col("score").desc, col(idCol).asc)
  }

  /** "Did you mean" — the spell-correction suggestion the fuzzy
    * search family implies: for each (possibly misspelled) query
    * term, the best corpus-vocabulary term by (edit distance ASC,
    * document frequency DESC, term ASC) within `maxDist`, under the
    * same pigeonhole-segment + length-band blocking as
    * [[bm25FuzzyTopK]] ([[editSegmentKeys]] — lossless at ANY radius,
    * so the default maxDist = 2 now finds corrections whose two edits
    * touch both ends, e.g. "tparkx" → "spark").
    * Terms with no candidate in range emit no row (nothing to
    * suggest). Vocab+df = one distinct-explode aggregation; the
    * candidate join broadcasts the query bag. */
  def spellSuggest(docs: DataFrame, textCol: String,
                   queryTerms: Seq[String], maxDist: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val termDf = docs
      .select(explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("tf_corpus"))
    val w = Window.partitionBy(col("qterm"))
      .orderBy(col("dist").asc, col("tf_corpus").desc, col("term").asc)
    editExpand(termDf.select(col("term")), queryTerms, maxDist)
      .join(termDf, Seq("term"))
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") === 1)
      .select(col("qterm"), col("term").as("suggestion"), col("dist"),
        col("tf_corpus"))
  }

  /** The full scored match set behind [[bm25TopK]] — every document
    * containing ≥ 1 query term with its round-6 BM25 score (no
    * truncation; the top-k and the facet report share this frame). */
  private def bm25Scored(docs: DataFrame, textCol: String, idCol: String,
                         queryTerms: Seq[String]): DataFrame = {
    val withDl = docs
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("toks"))
      .withColumn("dl", size(col("toks")))
    val stats = withDl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val postings = withDl
      .select(col(idCol), col("dl"),
        explode(filter(col("toks"), t => t.isin(queryTerms: _*))).as("term"))
      .groupBy(col(idCol), col("term"), col("dl")).agg(count(lit(1)).as("tf"))
    val dfreq = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    postings
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("w", bm25Weight)
      .groupBy(col(idCol)).agg(round(sum(col("w")), 6).as("score"))
  }

  /** Faceted search summary — the standard search-engine response
    * shape next to the hit list: for each value of `facetCol` among
    * the MATCHING documents (≥ 1 query term), the match count and the
    * best-scoring document (`score DESC, id ASC`). Facets aggregate
    * the FULL match set, not the top-k — that is the point (the
    * "filter by language" sidebar must count everything the query
    * touched).
    *
    * Scale shape: the [[bm25TopK]] scoring chain unchanged, one
    * id-keyed join to fetch the facet column, and two facet-keyed
    * windows sharing one exchange (count + rank). */
  def bm25Facets(docs: DataFrame, textCol: String, idCol: String,
                 facetCol: String, queryTerms: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = bm25Scored(docs, textCol, idCol, queryTerms)
    val wc = Window.partitionBy(col(facetCol))
    val wr = Window.partitionBy(col(facetCol))
      .orderBy(col("score").desc, col(idCol).asc)
    scored.join(docs.select(col(idCol), col(facetCol)), Seq(idCol))
      .withColumn("n_matches", count(lit(1)).over(wc))
      .withColumn("__rn", row_number().over(wr))
      .filter(col("__rn") === 1)
      .select(col(facetCol), col("n_matches"),
        col(idCol).as("top_doc_id"), col("score").as("top_score"))
  }

  /** Batch BM25: top-k per query over a QUERY TABLE (`qid`,
    * `terms array<string>`) — the multi-query production shape, no
    * per-query driver loop. The per-(doc, term) BM25 weight is
    * query-INDEPENDENT (idf, tf, length norm), so it is computed once
    * over the union of all queries' terms — postings still prune to
    * that union BEFORE any shuffle — and fanned out to queries by a
    * keyed join on the term; per-query top-k is a window over each
    * query's ≤ |terms|·|matching docs| scored rows. Query-side frames
    * broadcast (Q·terms rows); at a huge Q they become shuffle joins on
    * the term key — the shapes are already keyed. */
  def bm25TopKBatch(docs: DataFrame, textCol: String, idCol: String,
                    queries: DataFrame, k: Int): DataFrame = {
    val qterms = queries
      .select(col("qid"), explode(col("terms")).as("term")).distinct()
    val allTerms = qterms.select(col("term")).distinct()
    val withDl = docs
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("toks"))
      .withColumn("dl", size(col("toks")))
    val stats = withDl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    // dl rides through the explode as a grouping column (functionally
    // dependent on the id), so there is no corpus-sized doc-length join
    // and tokenization runs twice (stats + postings), not three times
    val postings = withDl
      .select(col(idCol), col("dl"), explode(col("toks")).as("term"))
      .join(broadcast(allTerms), Seq("term"), "left_semi") // prune BEFORE the shuffle
      .groupBy(col(idCol), col("term"), col("dl")).agg(count(lit(1)).as("tf"))
    val dfreq = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val weights = postings
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("w", bm25Weight)
    rankPerQuery(weights.join(broadcast(qterms), Seq("term")), idCol, k)
  }

  /** Per-query top-k over scored (qid, id, w) rows: round-6 per-doc sum
    * then a per-qid rank window (WindowGroupLimit-bounded). */
  private def rankPerQuery(scored: DataFrame, idCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col(idCol).asc)
    scored
      .groupBy(col("qid"), col(idCol)).agg(round(sum(col("w")), 6).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col(idCol), col("score"))
  }

  /** Materialize a lexical (BM25) index — the ingest-once/query-many
    * shape for the keyword side, mirroring [[Ann.buildIvfIndex]]'s
    * contract on the vector side. Without it every batch re-tokenizes
    * the corpus and recomputes tf/df/dl; at 100 TB the re-derivation
    * dominates every query batch.
    *
    * Layout under `path`:
    *   - `postings/`: one row per (term, doc) — `term, <idCol>, tf, dl`
    *     — written `partitionBy` the term's hash bucket `__tb`
    *     (portable polynomial hash mod `termBuckets`), so a probe's
    *     bucket filter is PARTITION PRUNING: files of non-probed
    *     buckets are never opened. dl is denormalized into the posting
    *     row (one int) to spare the probe a doc-length join.
    *   - `stats/`: MERGEABLE corpus stats `(n_docs, sum_dl)` — sums,
    *     not averages, so incremental appends just add a row and the
    *     probe aggregates (avgdl = sum_dl/n_docs exactly reproduces
    *     `avg(dl)`: token counts are small integers, their double sum
    *     is exact far past any corpus size).
    *   - `doclens/`: one `(<idCol>, dl)` row per doc — the side table
    *     [[deleteFromBm25Index]] reads so a delete can subtract the
    *     doc's exact stats contribution without scanning postings.
    *   - `tombstones/` (created by deletes): `(<idCol>, dl)` rows the
    *     probe subtracts logically; [[compactBm25Index]] applies them
    *     physically.
    */
  def buildBm25Index(docs: DataFrame, textCol: String, idCol: String,
                     path: String, termBuckets: Int = 64): Unit = {
    require(termBuckets >= 1, s"termBuckets >= 1: $termBuckets")
    Sidecars.reset(docs.sparkSession, path)
    val withDl = docs
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("toks"))
      .withColumn("dl", size(col("toks")))
    // postings and doclens are independent outputs of the same
    // tokenization — concurrent jobs (graft.io.Par, the writeGraphIndex
    // convention); stats then reads the written doclens
    graft.io.Par.unit(
      () => withDl
        .select(col(idCol), col("dl"), explode(col("toks")).as("term"))
        .groupBy(col("term"), col(idCol), col("dl")).agg(count(lit(1)).as("tf"))
        .withColumn("__tb",
          pmod(TextAnalysis.fingerprint(col("term")), lit(termBuckets.toLong)))
        // cluster by bucket before the partitioned write: without this,
        // every shuffle task writes a sliver into every bucket directory
        // (tasks × buckets tiny files per build — 2048 locally, worse at
        // scale); clustered, each bucket is written by one task
        .repartition(col("__tb"))
        .write.partitionBy("__tb").mode("overwrite").parquet(s"$path/postings"),
      () => withDl.select(col(idCol), col("dl"))
        .write.mode("overwrite").parquet(s"$path/doclens"))
    // stats from the just-written doclens (tiny (id, dl) read) — NOT a
    // third tokenization pass over the corpus
    docs.sparkSession.read.parquet(s"$path/doclens")
      .agg(count(lit(1)).as("n_docs"), sum(col("dl").cast("long")).as("sum_dl"))
      .withColumn("term_buckets", lit(termBuckets.toLong))
      .write.mode("overwrite").parquet(s"$path/stats")
  }

  /** The index's term-bucket count, with the consistency guard every
    * append/probe needs before trusting the bucket layout: all stats
    * rows must agree on `term_buckets` (a mixed value would silently
    * bucket delta postings differently from the build, and probes would
    * miss them), and a missing stats/ — an append to a path that never
    * saw [[buildBm25Index]] — fails with a clear message instead of an
    * AnalysisException deep in a plan. Ids must also be NEW on append:
    * a re-ingested id double-counts df/tf (documented contract; the
    * store cannot cheaply detect it without a full id scan). */
  private def bm25IndexBuckets(spark: org.apache.spark.sql.SparkSession,
                               path: String): Long =
    bm25IndexStats(spark, path)._1

  /** One guarded driver read of `stats/`: `(term_buckets, n_docs,
    * sum_dl)` — the mergeable rows summed, the config column checked
    * for agreement. One job serves guard AND corpus stats, so a probe
    * never scans stats twice. */
  private def bm25IndexStats(spark: org.apache.spark.sql.SparkSession,
                             path: String): (Long, Long, Long) = {
    val stats =
      try spark.read.parquet(s"$path/stats")
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalStateException(
            s"BM25 index at $path has no stats/ — not an index built by " +
              s"buildBm25Index", e)
      }
    val agg = stats.agg(countDistinct(col("term_buckets")).as("v"),
      max(col("term_buckets")), sum(col("n_docs")).cast("long"),
      sum(col("sum_dl")).cast("long")).head()
    require(agg.getLong(0) == 1L,
      s"BM25 index at $path has ${agg.getLong(0)} conflicting term_buckets " +
        s"values in stats/ — build and appends must share one bucket layout")
    (agg.getLong(1), agg.getLong(2), agg.getLong(3))
  }

  /** Incrementally add NEW documents to a materialized BM25 index (the
    * lexical twin of [[Ann.appendToIvfIndex]]). Delta postings append
    * into the same bucket layout; stats append a second mergeable row.
    * Same maintenance trade as the vector side: ids must be new (a
    * re-ingested id would double-count), repeated small appends leave a
    * file per batch per bucket — compact with
    * [[graft.store.CorpusStore.compact]] on the bucket directories. */
  def appendToBm25Index(delta: DataFrame, textCol: String, idCol: String,
                        path: String): Unit = {
    val spark = delta.sparkSession
    val termBuckets = bm25IndexBuckets(spark, path)
    val withDl = delta
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("toks"))
      .withColumn("dl", size(col("toks")))
    // the three appended outputs are independent derivations of the
    // same (small, by contract) delta — concurrent jobs (graft.io.Par)
    graft.io.Par.unit(
      () => withDl
        .select(col(idCol), col("dl"), explode(col("toks")).as("term"))
        .groupBy(col("term"), col(idCol), col("dl")).agg(count(lit(1)).as("tf"))
        .withColumn("__tb",
          pmod(TextAnalysis.fingerprint(col("term")), lit(termBuckets)))
        .repartition(col("__tb")) // one file per bucket per append
        .write.partitionBy("__tb").mode("append").parquet(s"$path/postings"),
      () => withDl.select(col(idCol), col("dl"))
        .write.mode("append").parquet(s"$path/doclens"),
      // re-deriving the delta's stats tokenizes the DELTA a third time —
      // deltas are small by contract; the build path (corpus-sized)
      // aggregates its written doclens instead
      () => withDl
        .agg(count(lit(1)).as("n_docs"), sum(col("dl").cast("long")).as("sum_dl"))
        .withColumn("term_buckets", lit(termBuckets))
        .write.mode("append").parquet(s"$path/stats"))
  }

  /** Tombstone-delete documents from a materialized BM25 index — the
    * missing quarter of the index lifecycle (build/append/probe/
    * DELETE; an update is delete + append). Postings are immutable
    * parquet, so a delete is LOGICAL: the doc's `(id, dl)` row — dl
    * read from `doclens/`, never recomputed — appends to
    * `tombstones/`, and the probe subtracts tombstoned docs from both
    * the candidate postings (anti-join) and the corpus stats
    * (n_docs/sum_dl sums), reproducing a from-scratch build on the
    * surviving corpus EXACTLY (df shrinks because the anti-join runs
    * before the df count; avgdl shrinks through the stats rows) —
    * spec-pinned. Unknown ids are ignored (the doclens join drops
    * them); deleting an id twice is idempotent (the probe reads
    * tombstones distinct). [[compactBm25Index]] applies tombstones
    * physically when their count stops being "bounded". */
  def deleteFromBm25Index(ids: DataFrame, idCol: String, path: String): Unit = {
    val spark = ids.sparkSession
    bm25IndexBuckets(spark, path): Unit // consistency guard only
    Sidecars.addTombstones(
      spark.read.parquet(s"$path/doclens")
        .join(ids.select(col(idCol)), Seq(idCol), "left_semi"),
      Sidecars.bm25Tombstones(path))
  }

  /** The index's distinct tombstone rows, or None when nothing was
    * ever deleted. Bounded by contract: deletes are batched and
    * compacted away ([[compactBm25Index]]), so the probe may broadcast
    * them. */
  private def bm25Tombstones(spark: org.apache.spark.sql.SparkSession,
                             path: String): Option[DataFrame] =
    Sidecars.readTombstones(spark, Sidecars.bm25Tombstones(path)).map(_.distinct())

  /** Physically apply tombstones: rewrite postings without tombstoned
    * docs (same bucket layout, so probes are unchanged), collapse
    * stats to one corrected row, refresh doclens, clear tombstones.
    * The small-files remedy AND the delete remedy in one pass —
    * [[Ann.compactIvfIndex]]'s contract extended with deletes.
    * `dstPath` must differ from `srcPath`, and starts sidecar-free. */
  def compactBm25Index(spark: org.apache.spark.sql.SparkSession,
                       srcPath: String, dstPath: String, idCol: String,
                       recordsPerFile: Long = 1L << 20): Unit = {
    require(srcPath != dstPath,
      "compact rewrites the layout: dstPath must differ from srcPath")
    val termBuckets = bm25IndexBuckets(spark, srcPath)
    Sidecars.reset(spark, dstPath)
    val tombs = bm25Tombstones(spark, srcPath)
    def dropTombs(df: DataFrame): DataFrame =
      tombs.fold(df)(t => df.join(broadcast(t.select(col(idCol))), Seq(idCol), "left_anti"))
    // the three rewritten sides are independent outputs — concurrent
    // jobs (the buildBm25Index convention); stats aggregates the
    // doclens FRAME, not the written file
    val doclens = dropTombs(spark.read.parquet(s"$srcPath/doclens"))
    graft.io.Par.unit(
      () => dropTombs(spark.read.parquet(s"$srcPath/postings"))
        .repartition(col("__tb"))
        .write.partitionBy("__tb").option("maxRecordsPerFile", recordsPerFile)
        .mode("overwrite").parquet(s"$dstPath/postings"),
      () => doclens.write.mode("overwrite").parquet(s"$dstPath/doclens"),
      () => doclens
        .agg(count(lit(1)).as("n_docs"), sum(col("dl").cast("long")).as("sum_dl"))
        .withColumn("term_buckets", lit(termBuckets))
        .write.mode("overwrite").parquet(s"$dstPath/stats"))
  }

  /** REBUCKET a materialized BM25 index: rewrite the postings into a
    * NEW term-bucket count — the remedy for the `bucket_skew` health
    * signal when the bucket layout no longer matches the term-mass
    * distribution. Rebucketing needs NO corpus text: postings already
    * carry the term, so `__tb` recomputes with the same fingerprint
    * hash mod the new count ([[buildBm25Index]]'s expression — build
    * and probe bucketing can never drift). Applies tombstones
    * physically on the way (this IS also a compact — one rewrite
    * resolves the tombstone debt and the skew together) and resets the
    * destination's sidecars like a fresh build. `dstPath` must differ
    * (immutable-layout rewrite, the [[compactBm25Index]] contract).
    *
    * Note the direction of the remedy: a skew driven by one heavy
    * TERM cannot be hashed away — a term's postings live in exactly
    * one bucket, so max bucket mass ≥ max_df and MORE buckets make
    * the ratio WORSE (smaller expected mass under the same floor).
    * The fix is FEWER buckets, sized so the expected bucket mass
    * dominates the heaviest term — see
    * [[graft.store.Maintenance.skewTargetBuckets]]. */
  def rebucketBm25Index(spark: org.apache.spark.sql.SparkSession,
                        srcPath: String, dstPath: String,
                        newTermBuckets: Int,
                        idCol: String = "doc_id",
                        recordsPerFile: Long = 1L << 20): Unit = {
    require(srcPath != dstPath,
      "rebucket rewrites the layout: dstPath must differ from srcPath")
    require(newTermBuckets >= 1, s"termBuckets >= 1: $newTermBuckets")
    bm25IndexBuckets(spark, srcPath): Unit // consistency guard only
    Sidecars.reset(spark, dstPath)
    val tombs = bm25Tombstones(spark, srcPath)
    def dropTombs(df: DataFrame): DataFrame =
      tombs.fold(df)(t =>
        df.join(broadcast(t.select(col(idCol))), Seq(idCol), "left_anti"))
    // the three rewritten sides are independent outputs — concurrent
    // jobs (the buildBm25Index convention); stats aggregates the
    // doclens FRAME, not the written file (same rows either way)
    val doclens = dropTombs(spark.read.parquet(s"$srcPath/doclens"))
    graft.io.Par.unit(
      () => dropTombs(spark.read.parquet(s"$srcPath/postings"))
        .drop("__tb")
        .withColumn("__tb",
          pmod(TextAnalysis.fingerprint(col("term")), lit(newTermBuckets.toLong)))
        .repartition(col("__tb"))
        .write.partitionBy("__tb").option("maxRecordsPerFile", recordsPerFile)
        .mode("overwrite").parquet(s"$dstPath/postings"),
      () => doclens.write.mode("overwrite").parquet(s"$dstPath/doclens"),
      () => doclens
        .agg(count(lit(1)).as("n_docs"), sum(col("dl").cast("long")).as("sum_dl"))
        .withColumn("term_buckets", lit(newTermBuckets.toLong))
        .write.mode("overwrite").parquet(s"$dstPath/stats"))
  }

  /** Health report of a materialized BM25 index — the lexical sibling
    * of the IVF cluster-stats report: one row of the signals that
    * drive maintenance decisions. `n_docs`/`avg_dl` from the mergeable
    * stats rows (a drifting avg_dl after appends quietly reweights
    * every score); `n_terms`/`n_postings` from one postings scan;
    * `max_df` + `top_term` (the heaviest postings list — the stopword
    * / skew suspect, ties to the term ascending); `n_tombstones` (the
    * logical-delete debt [[compactBm25Index]] would clear); and
    * `bucket_skew` = max bucket postings ÷ (n_postings / term_buckets)
    * — 1.0 is perfectly even, large values mean the bucket layout is
    * hashing poorly and probe pruning degrades.
    *
    * Scale shape: ONE scan of postings (round-21 optimization: the
    * first form scanned postings three times — totals, top term,
    * bucket max — for numbers that all derive from one per-(term,
    * bucket) aggregate): postings → df per (term, __tb) — a term's
    * postings live in exactly one bucket, so distinct terms ≡ the
    * aggregate's rows and per-bucket postings ≡ per-bucket Σdf — then
    * two vocab-/bucket-bounded re-aggregations. The top term rides as
    * `min(struct(-df, term))` so the (df DESC, term ASC) tie-break is
    * the struct order, value-identical to the old sort-limit-1. Raw
    * index contents by design: tombstoned docs still occupy postings
    * until compaction, and this report is the measure of exactly that
    * debt. */
  def bm25IndexHealth(spark: org.apache.spark.sql.SparkSession,
                      path: String): DataFrame = {
    import spark.implicits._
    // two independent eager scalar reads — overlap them (the
    // graft.io.Par convention)
    val ((buckets, nDocs, sumDl), nTombs) = graft.io.Par.join2(
      bm25IndexStats(spark, path),
      bm25Tombstones(spark, path).map(_.count()).getOrElse(0L))
    val postings = spark.read.parquet(s"$path/postings")
    val perBucket = postings
      .groupBy(col("term"), col("__tb")).agg(count(lit(1)).as("df"))
      .groupBy(col("__tb"))
      .agg(sum(col("df")).as("bn"), count(lit(1)).as("bterms"),
        min(struct((-col("df")).as("ndf"), col("term").as("t"))).as("btop"))
    val tots = perBucket.agg(sum(col("bn")).as("n_postings"),
      sum(col("bterms")).as("n_terms"), max(col("bn")).as("max_bn"),
      min(col("btop")).as("top"))
      // empty postings → empty report, like the old limit(1) crossJoin
      .filter(col("n_postings").isNotNull)
    Seq((nDocs, graft.vector.VectorOps.round6(sumDl.toDouble / nDocs), nTombs))
      .toDF("n_docs", "avg_dl", "n_tombstones")
      .crossJoin(broadcast(tots))
      .select(col("n_docs"), col("avg_dl"), col("n_terms"), col("n_postings"),
        (-col("top.ndf")).as("max_df"), col("top.t").as("top_term"),
        col("n_tombstones"),
        round(col("max_bn").cast("double") /
          (col("n_postings").cast("double") / lit(buckets.toDouble)), 6)
          .as("bucket_skew"))
  }

  /** Batch BM25 probe of a materialized index — [[bm25TopKBatch]]
    * semantics without touching the corpus: the scan reads only the
    * query terms' hash-bucket partitions. The union of query terms is
    * collected driver-side to derive the bucket LITERALS (bounded by
    * the query batch, never the corpus — the [[Ann.probeIds]]
    * precedent), so pruning happens at PLAN time; the exact term
    * filter stays a data-driven semi join. df/avgdl/N reconstruct
    * exactly: a term's postings live in exactly one bucket, so pruned
    * postings carry that term's full document list, and the stats rows
    * merge by summation. */
  def bm25IndexTopKBatch(spark: org.apache.spark.sql.SparkSession, path: String,
                         queries: DataFrame, k: Int,
                         idCol: String = "doc_id"): DataFrame = {
    val qterms = queries
      .select(col("qid"), explode(col("terms")).as("term")).distinct()
    val allTerms = qterms.select(col("term")).distinct()
    val (nDocs, avgdl, postings) = probeIndexPostings(spark, path, allTerms, idCol)
    val dfreq = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val weights = postings
      .join(broadcast(dfreq), "term")
      .withColumn("n_docs", lit(nDocs))
      .withColumn("avgdl", lit(avgdl))
      .withColumn("w", bm25Weight)
    rankPerQuery(weights.join(broadcast(qterms), Seq("term")), idCol, k)
  }

  /** The ONE probe preamble every index reader shares (batch probe,
    * RM3): tombstone-adjusted corpus stats as driver literals, and the
    * postings pruned to `terms` — partition pruning via bucket
    * literals derived with the SAME column expression the build used
    * (build/probe bucketing can never drift), a broadcast term
    * semi-join, and the tombstone anti-join BEFORE any df count so
    * deleted docs shrink document frequencies exactly like a rebuild.
    * Returns `(n_docs, avgdl, postings)`; callers must keep df
    * counting on the returned frame (the spec-pinned "index ≡
    * in-memory" contracts all flow through here). */
  private def probeIndexPostings(spark: org.apache.spark.sql.SparkSession,
                                 path: String, terms: DataFrame,
                                 idCol: String): (Long, Double, DataFrame) = {
    val (termBuckets, rawDocs, rawDl) = bm25IndexStats(spark, path)
    // tombstoned docs leave the corpus logically: their (id, dl) rows
    // subtract from the stats sums here and anti-join the candidate
    // postings below — so df, n_docs, and avgdl all reproduce a
    // from-scratch build on the surviving corpus exactly
    val tombs = bm25Tombstones(spark, path)
    val tombAgg = tombs.map(_.agg(
      count(lit(1)).cast("long").as("t_docs"),
      coalesce(sum(col("dl").cast("long")), lit(0L)).as("t_dl")).head())
    val (tDocs, tDl) = tombAgg.fold((0L, 0L))(r => (r.getLong(0), r.getLong(1)))
    // corpus stats become driver literals (two scalars) — no 1-row
    // broadcast join in the plan; the division happens in the same
    // double arithmetic as before
    val nDocs = rawDocs - tDocs
    val avgdl = (rawDl - tDl).toDouble / (rawDocs - tDocs).toDouble
    val termsOnly = terms.select(col("term")).distinct()
    val buckets = termsOnly
      .select(pmod(TextAnalysis.fingerprint(col("term")), lit(termBuckets)).as("tb"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val postingsLive = spark.read.parquet(s"$path/postings")
      .filter(col("__tb").isin(buckets: _*)) // partition pruning
      .join(broadcast(termsOnly), Seq("term"), "left_semi")
    val postings = tombs.fold(postingsLive)(t =>
      postingsLive.join(broadcast(t.select(col(idCol))), Seq(idCol), "left_anti"))
    (nDocs, avgdl, postings)
  }

  /** Batch reciprocal-rank fusion: [[rrfFuse]] per qid over two batch
    * rankings (`qid`, id, ordering column), each already limited to its
    * per-query top `depth` — the rank windows sort ≤ depth rows per
    * qid, never the corpus. */
  /** RM3 pseudo-relevance feedback (Lavrenko-Croft relevance models,
    * the Abdul-Jaleel 2004 RM3 interpolation): expand a keyword query
    * from its own top results, then re-rank with the expanded weighted
    * query — the standard recall lift when users under-specify terms.
    *
    *  1. Feedback set: [[bm25TopK]] top-`fbDocs` for the original terms.
    *  2. RM1 term model over those docs with a uniform doc prior:
    *     `rw(t) = round6((1/fbDocs) · Σ_d tf(t,d)/dl(d))`; top-`fbTerms`
    *     by `(rw DESC, term ASC)`.
    *  3. Interpolated weights: `alpha/|Q|` per original term plus
    *     `(1−alpha)·rw(t)` per expansion term (summed on overlap).
    *  4. Final score: `round6(Σ_t w(t) · bm25(t, d))`, top-k.
    *
    * Every stage is the keyed-shuffle BM25 shape: the feedback set is a
    * `fbDocs`-row broadcast semi-join, the term weights a ≤
    * `|Q|+fbTerms`-row broadcast attached to postings BEFORE the
    * shuffle (pruning and weighting in one join). Weights are round-6
    * with dyadic `alpha` so a SQL engine replays selection and scores
    * exactly; the RM1 divisor is the REQUESTED `fbDocs` even when the
    * corpus returns fewer feedback docs (a constant, not data). At
    * index scale, compose the same stages over [[bm25IndexTopKBatch]]'s
    * postings instead of re-tokenizing. */
  def rm3TopK(docs: DataFrame, textCol: String, idCol: String,
              queryTerms: Seq[String], k: Int,
              fbDocs: Int = 3, fbTerms: Int = 5, alpha: Double = 0.5): DataFrame = {
    require(queryTerms.nonEmpty && fbDocs >= 1 && fbTerms >= 0)
    import docs.sparkSession.implicits._
    val withDl = docs
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("toks"))
      .withColumn("dl", size(col("toks")))
    val fb = bm25TopK(docs, textCol, idCol, queryTerms, fbDocs).select(col(idCol))
    val fbtf = withDl.join(broadcast(fb), Seq(idCol), "left_semi")
      .select(col(idCol), col("dl"), explode(col("toks")).as("term"))
      .groupBy(col(idCol), col("term"), col("dl")).agg(count(lit(1)).as("tf"))
    val rm1 = fbtf
      .groupBy(col("term"))
      .agg(round(sum(col("tf").cast("double") / col("dl")) / lit(fbDocs.toDouble), 6)
        .as("rw"))
      .orderBy(col("rw").desc, col("term").asc)
      .limit(fbTerms)
    val origW = queryTerms.map(t => (t, alpha / queryTerms.size)).toDF("term", "w")
    val wts = origW
      .union(rm1.select(col("term"), (lit(1.0) - lit(alpha)) * col("rw")))
      .groupBy(col("term")).agg(sum(col("w")).as("w"))
    weightedBm25TopK(withDl, idCol, wts, k)
  }

  /** Query-performance prediction — the CLARITY score
    * (Cronen-Townsend 2002): KL divergence between the query's
    * relevance model (the same RM1 the RM3 expander distills from the
    * top-`fbDocs` feedback set, renormalized over its `fbTerms`
    * support) and the corpus language model. A focused query
    * concentrates feedback probability on corpus-RARE terms → high
    * clarity; a query whose feedback set looks like the corpus →
    * clarity ≈ 0. The retrieval-triage gate that flags "this query's
    * results are mush" before anyone reads them. One extra broadcast
    * join over the RM3 machinery; corpus LM = one token-explode agg. */
  def queryClarity(docs: DataFrame, textCol: String, idCol: String,
                   queryTerms: Seq[String], fbDocs: Int = 3,
                   fbTerms: Int = 10): DataFrame = {
    val withDl = docs
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("toks"))
      .withColumn("dl", size(col("toks")))
    val fb = bm25TopK(docs, textCol, idCol, queryTerms, fbDocs)
      .select(col(idCol))
    val rm1 = withDl.join(broadcast(fb), Seq(idCol), "left_semi")
      .select(col(idCol), col("dl"), explode(col("toks")).as("term"))
      .groupBy(col(idCol), col("term"), col("dl")).agg(count(lit(1)).as("tf"))
      .groupBy(col("term"))
      .agg(round(sum(col("tf").cast("double") / col("dl")) /
        lit(fbDocs.toDouble), 6).as("rw"))
      .orderBy(col("rw").desc, col("term").asc)
      .limit(fbTerms)
    val corpusLm = docs
      .select(explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cf"))
    val total = corpusLm.agg(sum(col("cf")).as("ct"))
    val norm = rm1.agg(sum(col("rw")).as("z"))
    rm1.join(broadcast(corpusLm), Seq("term")) // support ⊆ corpus by construction
      .crossJoin(broadcast(total)).crossJoin(broadcast(norm))
      .select(((col("rw") / col("z")) *
        log((col("rw") / col("z")) /
          (col("cf").cast("double") / col("ct")))).as("contrib"))
      .agg(round(sum(col("contrib")), 6).as("clarity"),
        count(lit(1)).as("n_terms"))
  }

  /** Weighted-query BM25 over a tokenized corpus: score =
    * Σ_terms w(term) · bm25(term, doc). The shared re-rank tail of the
    * expansion retrievers ([[rm3TopK]], [[pmiExpandedTopK]]). `wts`
    * (term, w) joins the postings BEFORE the shuffle — pruning and
    * weighting in one broadcast hop, so only weighted-term rows move. */
  private def weightedBm25TopK(withDl: DataFrame, idCol: String,
                               wts: DataFrame, k: Int): DataFrame = {
    val stats = withDl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val postings = withDl
      .select(col(idCol), col("dl"), explode(col("toks")).as("term"))
      .join(broadcast(wts), Seq("term")) // prune AND weight before the shuffle
      .groupBy(col(idCol), col("term"), col("dl"), col("w"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    postings
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("bw", bm25Weight)
      .groupBy(col(idCol)).agg(round(sum(col("w") * col("bw")), 6).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** PMI query expansion: each query term recruits its strongest
    * document-presence PMI associate from the CORPUS-GLOBAL
    * co-occurrence statistics (Monroe-free cousin of RM3 — RM3 expands
    * from the query's own feedback docs and needs a first retrieval
    * pass; PMI expansion is query-independent model state, so the
    * associate table can be precomputed once per corpus and reused by
    * every query). Original terms carry weight 1, associates
    * `expandWeight`; duplicates sum. The pair step is |Q|-bounded:
    * only query-term presence rows join the (df-cut) corpus presence
    * table — never the full vocabulary self-join.
    */
  def pmiExpandedTopK(docs: DataFrame, textCol: String, idCol: String,
                      queryTerms: Seq[String], k: Int, minDf: Long = 2,
                      expandWeight: Double = 0.5): DataFrame = {
    require(queryTerms.nonEmpty && k >= 1 && minDf >= 1)
    import docs.sparkSession.implicits._
    val withDl = docs
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("toks"))
      .withColumn("dl", size(col("toks")))
    val pres = docs.select(col(idCol).as("__id"),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .distinct()
    val dfc = pres.groupBy(col("term")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDf)
    val kept = pres.join(dfc, Seq("term"))
    val n = docs.agg(count(lit(1)).as("__n"))
    val qside = kept.filter(col("term").isin(queryTerms: _*))
      .select(col("__id"), col("term").as("qterm"), col("__df").as("__dfq"))
    val cand = qside
      .join(kept.select(col("__id"), col("term").as("partner"),
        col("__df").as("__dfp")), Seq("__id"))
      .filter(col("partner") =!= col("qterm") &&
        !col("partner").isin(queryTerms: _*))
      .groupBy(col("qterm"), col("partner"))
      .agg(count(lit(1)).as("n_ab"), max(col("__dfq")).as("__dfq"),
        max(col("__dfp")).as("__dfp"))
      .crossJoin(broadcast(n))
      .select(col("qterm"), col("partner"),
        round(log((col("n_ab") * col("__n")) /
          (col("__dfq") * col("__dfp")).cast("double")), 6).as("pmi"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qterm"))
      .orderBy(col("pmi").desc, col("partner").asc)
    val assoc = cand.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("partner").as("term"), lit(expandWeight).as("w"))
    val orig = queryTerms.map(t => (t, 1.0)).toDF("term", "w")
    val wts = orig.unionByName(assoc)
      .groupBy(col("term")).agg(sum(col("w")).as("w"))
    weightedBm25TopK(withDl, idCol, wts, k)
  }

  /** [[rm3TopK]] over a MATERIALIZED index — the 100 TB form: zero
    * tokenization passes. The feedback retrieval is the bucket-pruned
    * [[bm25IndexTopKBatch]] probe; the RM1 term model reads the
    * feedback docs' complete posting rows (tf and dl are denormalized
    * into postings, so one `fbDocs`-row broadcast semi-join over the
    * postings table replaces a corpus re-tokenize — this pass scans
    * all buckets, as docs spread across them, but moves only
    * |fb vocab| rows after the semi-join); the final re-rank is a
    * second bucket-pruned probe over the ≤ |Q|+fbTerms weighted terms.
    * Tombstones: the feedback set comes from the probe (live docs
    * only), so RM1 needs no anti-join; the re-rank reuses the probe's
    * own tombstone handling via stats/df adjustments mirrored here.
    * Arithmetic is [[rm3TopK]]'s exactly (round-6 RM1, dyadic alpha,
    * driver-literal corpus stats like every index probe), so
    * index-RM3 ≡ in-memory RM3 on the same corpus (spec-pinned,
    * including across an append). */
  def rm3IndexTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                   queryTerms: Seq[String], k: Int,
                   fbDocs: Int = 3, fbTerms: Int = 5, alpha: Double = 0.5,
                   idCol: String = "doc_id"): DataFrame = {
    require(queryTerms.nonEmpty && fbDocs >= 1 && fbTerms >= 0)
    import spark.implicits._
    val fb = bm25IndexTopKBatch(spark, path,
        Seq((0L, queryTerms)).toDF("qid", "terms"), fbDocs, idCol)
      .select(col(idCol))
    // RM1 over the feedback docs' COMPLETE posting rows: the fb set is
    // live by construction (the probe tombstone-filters), so the
    // semi-join needs no anti-join of its own
    val rm1 = spark.read.parquet(s"$path/postings")
      .join(broadcast(fb), Seq(idCol), "left_semi")
      .groupBy(col("term"))
      .agg(round(sum(col("tf").cast("double") / col("dl")) / lit(fbDocs.toDouble), 6)
        .as("rw"))
      .orderBy(col("rw").desc, col("term").asc)
      .limit(fbTerms)
    val origW = queryTerms.map(t => (t, alpha / queryTerms.size)).toDF("term", "w")
    val wts = origW
      .union(rm1.select(col("term"), (lit(1.0) - lit(alpha)) * col("rw")))
      .groupBy(col("term")).agg(sum(col("w")).as("w"))
    // weight rows are bounded (|Q|+fbTerms): collect driver-side like
    // every index probe's term set, then run the SHARED probe preamble
    // over them and re-attach the weight by one more broadcast join
    val wDf = wts.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
      .toDF("term", "w")
    val (nDocs, avgdl, postings) = probeIndexPostings(spark, path, wDf, idCol)
    val dfreq = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    postings
      .join(broadcast(wDf), Seq("term"))
      .join(broadcast(dfreq), "term")
      .withColumn("n_docs", lit(nDocs))
      .withColumn("avgdl", lit(avgdl))
      .withColumn("bw", bm25Weight)
      .groupBy(col(idCol)).agg(round(sum(col("w") * col("bw")), 6).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** BATCH RM3 over a materialized index — the query-table form of
    * [[rm3IndexTopK]] on the [[bm25IndexTopKBatch]] pattern, no
    * per-query driver loop: feedback = ONE batch probe (per-qid
    * window), RM1 = postings ⋈ the (qid, doc) feedback pairs (a doc
    * feeding two queries' models contributes to both — the join keys
    * it), per-qid top-`fbTerms` expansion window, interpolated weights
    * per (qid, term), and one final bucket-pruned probe over the union
    * of every query's weighted terms with the per-qid weight attached
    * by the same broadcast that fans postings out to queries. Weight
    * rows are bounded (Q·(|terms|+fbTerms)) and collect driver-side
    * like every index probe's term set — the [[rm3IndexTopK]]
    * precedent, which also spares the final plan a recompute of the
    * whole feedback stage. Arithmetic is [[rm3TopK]]'s exactly, so
    * batch-RM3 restricted to one query ≡ single-query RM3
    * (spec-pinned). Returns (qid, id, score), k rows per qid. */
  def rm3IndexTopKBatch(spark: org.apache.spark.sql.SparkSession, path: String,
                        queries: DataFrame, k: Int,
                        fbDocs: Int = 3, fbTerms: Int = 5, alpha: Double = 0.5,
                        idCol: String = "doc_id"): DataFrame = {
    require(fbDocs >= 1 && fbTerms >= 0)
    val fb = bm25IndexTopKBatch(spark, path, queries, fbDocs, idCol)
      .select(col("qid"), col(idCol))
    val rm1All = spark.read.parquet(s"$path/postings")
      .join(broadcast(fb), Seq(idCol))
      .groupBy(col("qid"), col("term"))
      .agg(round(sum(col("tf").cast("double") / col("dl")) / lit(fbDocs.toDouble), 6)
        .as("rw"))
    val wRm1 = Window.partitionBy(col("qid"))
      .orderBy(col("rw").desc, col("term").asc)
    val rm1 = rm1All
      .withColumn("__rn", row_number().over(wRm1))
      .filter(col("__rn") <= fbTerms)
      .select(col("qid"), col("term"), col("rw"))
    // alpha/|Q_q| per ORIGINAL term (raw array size, matching the
    // single-query form's queryTerms.size), summed on overlap with the
    // (1-alpha)-scaled expansion weights
    val origW = queries
      .select(col("qid"), size(col("terms")).as("__nq"), explode(col("terms")).as("term"))
      .select(col("qid"), col("term"), (lit(alpha) / col("__nq")).as("w"))
    val wts = origW.unionByName(
        rm1.select(col("qid"), col("term"),
          ((lit(1.0) - lit(alpha)) * col("rw")).as("w")))
      .groupBy(col("qid"), col("term")).agg(sum(col("w")).as("w"))
    val wDf = spark.createDataFrame(
      java.util.Arrays.asList(wts.collect(): _*), wts.schema)
    val (nDocs, avgdl, postings) = probeIndexPostings(spark, path,
      wDf.select(col("term")), idCol)
    val dfreq = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val wTop = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col(idCol).asc)
    postings
      .join(broadcast(dfreq), "term")
      .withColumn("n_docs", lit(nDocs))
      .withColumn("avgdl", lit(avgdl))
      .withColumn("bw", bm25Weight)
      .join(broadcast(wDf), Seq("term"))
      .groupBy(col("qid"), col(idCol)).agg(round(sum(col("w") * col("bw")), 6).as("score"))
      .withColumn("__rn", row_number().over(wTop))
      .filter(col("__rn") <= k)
      .select(col("qid"), col(idCol), col("score"))
  }

  def rrfFuseBatch(a: DataFrame, b: DataFrame, idCol: String, orderColA: String,
                   orderColB: String, k: Int, c: Int = 60): DataFrame = {
    def ranked(df: DataFrame, ord: String, as: String): DataFrame =
      df.withColumn(as, row_number().over(
          Window.partitionBy(col("qid")).orderBy(col(ord).desc, col(idCol).asc)))
        .select(col("qid"), col(idCol), col(as))
    val ra = ranked(a, orderColA, "ra")
    val rb = ranked(b, orderColB, "rb")
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("rrf").desc, col(idCol).asc)
    ra.join(rb, Seq("qid", idCol), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(c) + col("ra")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c) + col("rb")), lit(0.0)), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col(idCol), col("rrf"))
  }

  /** Reciprocal-rank fusion (`score = Σ 1/(c + rank)`, c = 60 in the
    * original paper) of two rankings carried as (id, ordering column)
    * frames that are ALREADY limited to their top `depth` — the
    * row_number windows here therefore sort ≤ depth rows, never the
    * corpus (a global rank window would be a SinglePartition sort). */
  def rrfFuse(a: DataFrame, b: DataFrame, idCol: String, orderColA: String,
              orderColB: String, k: Int, c: Int = 60): DataFrame = {
    def ranked(df: DataFrame, ord: String, as: String): DataFrame =
      df.withColumn(as,
        row_number().over(Window.orderBy(col(ord).desc, col(idCol).asc)))
        .select(col(idCol), col(as))
    val ra = ranked(a, orderColA, "ra")
    val rb = ranked(b, orderColB, "rb")
    ra.join(rb, Seq(idCol), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(c) + col("ra")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c) + col("rb")), lit(0.0)), 6))
      .select(col(idCol), col("rrf"))
      .orderBy(col("rrf").desc, col(idCol).asc)
      .limit(k)
  }

  /** SCORE-level hybrid fusion — the standard alternative to [[rrfFuse]]
    * when the two scores' SHAPES should matter, not just their ranks
    * (a close BM25 race and a runaway cosine winner fuse differently
    * here; RRF sees identical rank lists). Each input ranking (already
    * truncated to its retrieval depth) is min-max normalized to [0, 1]
    * within itself, then blended `alpha·normA + (1−alpha)·normB`,
    * rounded to 6. A degenerate list (max = min — one candidate, or
    * uniform scores) normalizes to 1.0 for every member: its presence
    * still votes, it just cannot discriminate. An id missing from one
    * list contributes 0 on that side (same convention as RRF's
    * coalesce). Scale shape: the min/max bounds are 1-row broadcasts
    * over depth-bounded frames and the fuse is a full-outer join of two
    * ≤-depth lists — nothing touches the corpus. */
  def linearFuse(a: DataFrame, b: DataFrame, idCol: String, orderColA: String,
                 orderColB: String, k: Int, alpha: Double = 0.5): DataFrame = {
    def normed(df: DataFrame, ord: String, as: String): DataFrame = {
      val bounds = df.agg(min(col(ord)).cast("double").as("__lo"),
        max(col(ord)).cast("double").as("__hi"))
      df.crossJoin(broadcast(bounds))
        .withColumn(as,
          when(col("__hi") === col("__lo"), lit(1.0))
            .otherwise((col(ord).cast("double") - col("__lo")) /
              (col("__hi") - col("__lo"))))
        .select(col(idCol), col(as))
    }
    normed(a, orderColA, "na").join(normed(b, orderColB, "nb"), Seq(idCol), "full_outer")
      .withColumn("fused", round(
        lit(alpha) * coalesce(col("na"), lit(0.0)) +
          lit(1.0 - alpha) * coalesce(col("nb"), lit(0.0)), 6))
      .select(col(idCol), col("fused"))
      .orderBy(col("fused").desc, col(idCol).asc)
      .limit(k)
  }

  /** [[linearFuse]] over a QUERY BATCH — per-qid min-max bounds (a
    * keyed k-row aggregate, not a broadcast scalar) and a per-qid rank
    * window, on the [[rrfFuseBatch]] pattern: both inputs carry
    * (qid, id, order column) already depth-bounded, so every window
    * sorts ≤ depth rows. Same degenerate-list (→ 1.0) and one-sided
    * (→ 0 on that side) conventions as the single-query form. */
  def linearFuseBatch(a: DataFrame, b: DataFrame, idCol: String,
                      orderColA: String, orderColB: String, k: Int,
                      alpha: Double = 0.5): DataFrame = {
    def normed(df: DataFrame, ord: String, as: String): DataFrame = {
      val bounds = df.groupBy(col("qid"))
        .agg(min(col(ord)).cast("double").as("__lo"),
          max(col(ord)).cast("double").as("__hi"))
      df.join(bounds, Seq("qid"))
        .withColumn(as,
          when(col("__hi") === col("__lo"), lit(1.0))
            .otherwise((col(ord).cast("double") - col("__lo")) /
              (col("__hi") - col("__lo"))))
        .select(col("qid"), col(idCol), col(as))
    }
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("fused").desc, col(idCol).asc)
    normed(a, orderColA, "na")
      .join(normed(b, orderColB, "nb"), Seq("qid", idCol), "full_outer")
      .withColumn("fused", round(
        lit(alpha) * coalesce(col("na"), lit(0.0)) +
          lit(1.0 - alpha) * coalesce(col("nb"), lit(0.0)), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col(idCol), col("fused"))
  }
}
