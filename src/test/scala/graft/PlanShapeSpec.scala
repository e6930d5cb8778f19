package graft

/** Plan-shape regression guards: the properties PLANS.md reviews must
  * survive refactors. These assert the INITIAL physical plan (strategy
  * choice), which is what a code change would silently regress — AQE
  * can only improve on it at runtime. */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan.toString

  test("top-k queries plan as TakeOrderedAndProject, never a global sort+limit") {
    // knn_top5 is a bare scan of a small store, which the driver-resident
    // serving snapshot answers without a plan to inspect: pin it to the
    // partitioned Spark plan, whose shape this guards
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try for (q <- Seq("knn_top5", "knn_top5_normalized", "q3_top10", "rag_top5",
        "cmin_heavy_hitters")) {
      assert(plan(q).contains("TakeOrderedAndProject"), q)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("TPC-H correlation shapes: EXISTS pairs plan as joins/aggregates, never cartesian; Q4 is one semi join") {
    // the decorrelated plans must keep their strategy: a refactor that
    // re-correlates (or drops a join key) would silently plan a
    // nested-loop or cartesian stage
    for (q <- Seq("q21_late_suppliers", "q22_idle_customers",
        "q16_supplier_count", "q3_shipping_priority", "q10_returned_revenue",
        "q13_custdist", "q7_nation_volume", "q2_min_cost_supplier",
        "q9_profit", "q20_excess_suppliers")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian")
    }
    // Q9's three dims broadcast (the star spine shuffles only on the
    // orders join); Q20's decorrelated availqty gate keeps both IN
    // clauses as semi joins
    assert(plan("q9_profit").contains("BroadcastHashJoin"), "q9 dims")
    assert(plan("q20_excess_suppliers").contains("LeftSemi"), "q20 semi")
    // Q4's correlated EXISTS must stay ONE conditioned semi join — no
    // per-order aggregate, no subplan
    val q4 = plan("q4_order_priority")
    assert(q4.contains("LeftSemi"), q4.take(1500))
    // top-k TPC-H answers are TakeOrderedAndProject, never sort+limit
    for (q <- Seq("q21_late_suppliers", "q3_shipping_priority",
        "q10_returned_revenue", "q16_supplier_count")) {
      assert(plan(q).contains("TakeOrderedAndProject"), q)
    }
  }

  test("count-min probe joins the broadcast sketch; no shuffle join, no cartesian") {
    val p = plan("cmin_heavy_hitters")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p.take(2000))
  }

  test("dedup pair joins never plan cartesian or nested-loop strategies") {
    // every pair generator must stay a keyed equi-join: a refactor that
    // drops the join keys (or compares on a non-equi condition only)
    // silently becomes an all-pairs O(N²) stage
    for (q <- Seq("dedup_jaccard", "dedup_jaccard_lsh", "minhash_cands",
        "simhash_pairs", "embed_neardup", "dedup_exact", "dedup_best_rep",
        "dedup_delta", "boilerplate_removed")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), q)
      assert(!p.contains("BroadcastNestedLoopJoin"), q)
    }
  }

  test("range-filter scan-aggs push their filters into the parquet scan") {
    val p = plan("q6_revenue")
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"), p.take(2000))
  }

  test("chunk_ids and seq_pack plan with no SinglePartition exchange") {
    assert(!plan("chunk_ids").contains("SinglePartition"))
    // the global prefix sum must stay the two-phase distributed form
    assert(!plan("seq_pack").contains("SinglePartition"))
  }

  test("bm25 plans a top-k; contamination stays a keyed broadcast semi-join") {
    assert(plan("bm25_top5").contains("TakeOrderedAndProject"))
    val c = plan("contamination")
    assert(!c.contains("CartesianProduct"), "contamination must not go all-pairs")
    assert(!c.contains("BroadcastNestedLoopJoin"), "gram join must stay an equi-join")
  }

  test("round-7 pair/score joins stay keyed: no cartesian, no all-pairs") {
    // edit_neardup: candidate + text joins must key on (band,sig)/ids;
    // bigram_surprisal / tfidf_keywords: count joins must key on the
    // gram/term (the 1-row scalar broadcasts are BNLJ by construction
    // and excluded by checking CartesianProduct only)
    for (q <- Seq("edit_neardup", "bigram_surprisal", "tfidf_keywords",
        "repetition_stats")) {
      assert(!plan(q).contains("CartesianProduct"), q)
    }
    assert(!plan("edit_neardup").contains("BroadcastNestedLoopJoin"),
      "edit_neardup joins must all be equi-joins")
  }

  test("PQ and IVF-PQ retrieval plan bounded top-k, never a global sort") {
    for (q <- Seq("pq_recall", "pq_recall_reranked", "ivfpq_recall")) {
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"), q)
      assert(!p.contains("CartesianProduct"), q)
    }
  }

  test("batch IVF-PQ retrieval: probes are a join, never a cartesian blowup") {
    // probe selection must stay (queries × broadcast centroids) + window
    // and candidate generation a keyed equi-join on the cluster id; the
    // only nested-loop joins are the broadcast query/centroid fan-outs
    val p = plan("ivfpq_batch_recall")
    assert(!p.contains("CartesianProduct"), "batch retrieval must never go all-pairs")
  }

  test("batch lexical/hybrid retrieval: keyed term joins, no cartesian") {
    for (q <- Seq("bm25_batch_top3", "hybrid_rrf_batch_top3",
        "bm25_index_delete_top3", "bm25_index_sync_top3", "snapshot_diff",
        "rm3_batch_top3")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), q)
    }
  }

  test("batch filtered IVF-PQ probe and index sync: keyed joins, no cartesian") {
    for (q <- Seq("ivfpq_filtered_batch_recall", "ann_index_sync_top5",
        "ivfpq_index_sync_top5")) {
      assert(!plan(q).contains("CartesianProduct"), q)
    }
  }

  test("round-12 additions: samples/fusion plan bounded top-k; drift/eval/transition joins stay keyed") {
    // fixed-size + weighted samples and score fusion must be
    // distributed TakeOrdered, never a global sort of the corpus
    for (q <- Seq("sample_fixed100", "dedup_weighted_sample", "hybrid_linear_top5",
        "path_surprisal_top10")) {
      assert(plan(q).contains("TakeOrderedAndProject"), q)
    }
    // the drift gates, eval curve, transitions, round trip, and index
    // health report must never degrade to an all-pairs strategy (their
    // only cross joins are 1-row broadcast scalar frames)
    for (q <- Seq("recall_curve", "event_transitions", "path_surprisal_top10",
        "source_profile", "unigram_kl", "psi_value_drift", "doc_reassembly",
        "dedup_weights", "source_quality_cut", "ivf_cluster_stats")) {
      assert(!plan(q).contains("CartesianProduct"), q)
    }
  }

  test("grouping sets expand once; histogram aggregates partial+final") {
    val g = plan("grouping_sets_stats")
    assert(g.contains("Expand"), "grouping sets must plan a single Expand")
    assert(!g.contains("Union"), "grouping sets must not plan as unioned scans")
    assert(plan("value_histogram").contains("HashAggregate"))
  }
}
