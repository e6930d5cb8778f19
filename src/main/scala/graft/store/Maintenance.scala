package graft.store

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One threshold rule of an index-maintenance policy: when a health
  * `signal` of an index of `indexKind` reaches `threshold`, schedule
  * `action` (a verified lifecycle op — compact / retrain / re_record /
  * rebucket). Thresholds are deployment policy: the defaults below are
  * sensible starting points, not laws. */
case class MaintenanceRule(indexKind: String, signal: String,
                           threshold: Double, action: String)

/** The auto-maintenance policy op over the engine's index health
  * surface — the closing piece of every index lifecycle this library
  * ships (build → append/delete → HEALTH → decide → compact/retrain/
  * re-record): normalizes the per-index health/drift reports
  * ([[graft.search.Ann.assignmentDrift]],
  * [[graft.search.Pq.reconstructionDrift]],
  * [[graft.search.Lexical.bm25IndexHealth]],
  * [[graft.search.KnnGraph.graphIndexHealth]]) into one
  * `(index_kind, index_name, signal, value)` frame, joins the policy
  * rules, and emits the RANKED action list an operator (or a cron'd
  * maintenance job) would execute top-down.
  *
  * Scale shape: every input report is already a 1-row frame produced
  * by a verified bounded op; the plan itself is |indexes|·|signals|
  * rows joined against a broadcast |rules| frame — driver-scale
  * arithmetic, no corpus scan here. The ranking window is global but
  * provably bounded by |indexes|·|rules| rows (the no-global-windows-
  * over-unbounded-rows contract holds). */
object Maintenance {

  /** Default policy. Signals are defined so that BIGGER is always
    * WORSE and every rule is a `value >= threshold` test:
    *  - `assignment_drift` (IVF): recorded-baseline mean assigned-
    *    centroid similarity minus current — positive when appends
    *    drifted the contents away from the frozen centroids → retrain.
    *  - `baseline_stale` (IVF): the NEGATIVE side of the same drift —
    *    deletes pruned the worst rows, the index now sits CLOSER than
    *    its recorded baseline claims, so gates keyed to the baseline
    *    misfire → re-record the model stats (cheap, no rebuild).
    *  - `recon_drift` (IVF-PQ): current mean reconstruction error
    *    minus the recorded build baseline → retrain codebooks.
    *  - `tombstone_ratio` (BM25): logical-delete debt per stats-row
    *    doc count → compact.
    *  - `bucket_skew` (BM25): max bucket postings over the even-hash
    *    expectation → rebucket (rebuild with more/better buckets).
    *  - `edge_debt` (graph): raw edge rows over the compacted n·k
    *    floor — append candidate-row debt → compact.
    *  - `tombstone_ratio` (graph): tombstoned nodes per node → compact
    *    (repair already fixed affected lists; compact drops the rows).
    *  - `assignment_drift` / `baseline_stale` (SQ8): the IVF coarse
    *    layer's signals on the SQ8 layout — the only trained state an
    *    SQ8 index carries (the int8 scheme is parameterless) → retrain
    *    / re-record.
    *  - `tombstone_ratio` (SQ8): codes-side delete debt → compact.
    *  - `layer_missing` (graph): due-but-absent coarse-layer nodes
    *    per due node ([[graft.search.KnnGraph.graphLayerHealth]]) —
    *    the layered walk's routing coverage decays as appends land
    *    outside the frozen layer → relayer (one sampled rebuild).
    *  - `tombstone_ratio` (LSH): delete debt → compact. LSH is the one
    *    family with NO drift rule BY CONSTRUCTION: planes are frozen
    *    seeded literals with no trained state ([[graft.search.Ann
    *    .lshIndexHealth]]) — only mechanical debt accumulates.
    *  - `file_debt` (LSH): data files per bucket directory — the
    *    one-file-per-bucket-per-append small-files tax (O(files)
    *    planning cost on every probe) → compact.
    */
  val DefaultRules: Seq[MaintenanceRule] = Seq(
    MaintenanceRule("ivf", "assignment_drift", 0.01, "retrain"),
    MaintenanceRule("ivf", "baseline_stale", 0.01, "re_record"),
    MaintenanceRule("ivfpq", "recon_drift", 0.01, "retrain"),
    MaintenanceRule("bm25", "tombstone_ratio", 0.10, "compact"),
    MaintenanceRule("bm25", "bucket_skew", 3.0, "rebucket"),
    MaintenanceRule("graph", "edge_debt", 2.0, "compact"),
    MaintenanceRule("graph", "tombstone_ratio", 0.05, "compact"),
    MaintenanceRule("graph", "layer_missing", 0.2, "relayer"),
    MaintenanceRule("graph", "layer2_missing", 0.2, "relayer2"),
    MaintenanceRule("sq8", "assignment_drift", 0.01, "retrain"),
    MaintenanceRule("sq8", "baseline_stale", 0.01, "re_record"),
    MaintenanceRule("sq8", "tombstone_ratio", 0.10, "compact"),
    MaintenanceRule("lsh", "tombstone_ratio", 0.10, "compact"),
    MaintenanceRule("lsh", "file_debt", 3.0, "compact"),
    // the tokenizer family (graft.text.Tokenizer): the trained
    // vocabulary is model state — a mixture shift fragments new text
    // into more pieces per token (fertility_drift: every downstream
    // token budget pays it) or off the trained alphabet entirely
    // (oov_rate: the new-script signal fertility alone can miss);
    // both remedies are one retrain from the observed stream
    MaintenanceRule("tokenizer", "fertility_drift", 0.2, "retrain"),
    MaintenanceRule("tokenizer", "oov_rate", 0.01, "retrain"),
    // the encoded-corpus family (graft.text.Tokenizer.writeEncodedStore):
    // a tokenizer retrain strands every piece-keyed dependent —
    // encoding_stale is the fraction of encoded piece occurrences the
    // serving vocabulary no longer carries, and the remedy re-encodes
    // the store's own corpus under the fresh generation. Usually fired
    // through a CASCADE edge ([[CascadeEdge]]) rather than the log:
    // the staleness only exists AFTER the parent retrain the frozen
    // book predates
    MaintenanceRule("encoded", "encoding_stale", 0.01, "reencode"))

  /** [[graft.search.Ann.assignmentDrift]]'s one-row report → the two
    * one-sided signals (`assignment_drift` = positive drift,
    * `baseline_stale` = positive NEGATIVE drift; both zero-floored so
    * the healthy side never fires its rule). */
  def ivfSignals(drift: DataFrame, name: String): DataFrame =
    drift.select(lit("ivf").as("index_kind"), lit(name).as("index_name"),
        lit("assignment_drift").as("signal"),
        greatest(col("drift"), lit(0.0)).as("value"))
      .unionAll(drift.select(lit("ivf"), lit(name),
        lit("baseline_stale"), greatest(-col("drift"), lit(0.0))))

  /** [[graft.search.Pq.reconstructionDrift]] → `recon_drift`
    * (zero-floored: shrinking error never schedules a retrain). */
  def pqSignals(drift: DataFrame, name: String): DataFrame =
    drift.select(lit("ivfpq").as("index_kind"), lit(name).as("index_name"),
      lit("recon_drift").as("signal"),
      greatest(col("drift"), lit(0.0)).as("value"))

  /** [[graft.search.Lexical.bm25IndexHealth]] → `tombstone_ratio` +
    * `bucket_skew`. The ratio is against the RAW stats-row doc count
    * (build + appends, deletes not subtracted) — exactly the debt
    * compaction clears. */
  def bm25Signals(health: DataFrame, name: String): DataFrame =
    health.select(lit("bm25").as("index_kind"), lit(name).as("index_name"),
        lit("tombstone_ratio").as("signal"),
        round(col("n_tombstones").cast("double") / col("n_docs"), 6).as("value"))
      .unionAll(health.select(lit("bm25"), lit(name),
        lit("bucket_skew"), col("bucket_skew").cast("double")))

  /** [[graft.search.Sq.ivfSqDrift]] + [[graft.search.Sq.ivfSqHealth]]
    * → the coarse-layer drift sides (the [[ivfSignals]] split) plus
    * codes-side `tombstone_ratio` against the RAW row count. */
  def sqSignals(drift: DataFrame, health: DataFrame, name: String): DataFrame =
    drift.select(lit("sq8").as("index_kind"), lit(name).as("index_name"),
        lit("assignment_drift").as("signal"),
        greatest(col("drift"), lit(0.0)).as("value"))
      .unionAll(drift.select(lit("sq8"), lit(name),
        lit("baseline_stale"), greatest(-col("drift"), lit(0.0))))
      .unionAll(health.select(lit("sq8"), lit(name), lit("tombstone_ratio"),
        round(col("n_tombstones").cast("double") / col("n_rows"), 6)))

  /** [[graft.search.Ann.lshIndexHealth]] → `tombstone_ratio` +
    * `file_debt` (files per bucket). Deliberately NO drift signal:
    * the planes are stateless seeded literals — there is nothing
    * trained to drift (documented on the health op and the rule). */
  def lshSignals(health: DataFrame, name: String): DataFrame =
    health.select(lit("lsh").as("index_kind"), lit(name).as("index_name"),
        lit("tombstone_ratio").as("signal"),
        round(col("n_tombstones").cast("double") / col("n_rows"), 6).as("value"))
      .unionAll(health.select(lit("lsh"), lit(name), lit("file_debt"),
        round(col("n_files").cast("double") / col("n_buckets"), 6)))

  /** [[graft.text.Tokenizer.tokenizerDrift]] → `fertility_drift`
    * (zero-floored: a batch that tokenizes BETTER than the training
    * corpus never schedules a retrain) + `oov_rate` (already a
    * one-sided ratio). */
  def tokenizerSignals(drift: DataFrame, name: String): DataFrame =
    drift.select(lit("tokenizer").as("index_kind"),
        lit(name).as("index_name"),
        lit("fertility_drift").as("signal"),
        greatest(col("drift"), lit(0.0)).as("value"))
      .unionAll(drift.select(lit("tokenizer"), lit(name),
        lit("oov_rate"), col("oov_rate")))

  /** [[graft.text.Tokenizer.encodedStaleness]] → `encoding_stale`
    * (already a one-sided ratio). */
  def encodedSignals(health: DataFrame, name: String): DataFrame =
    health.select(lit("encoded").as("index_kind"),
      lit(name).as("index_name"),
      lit("encoding_stale").as("signal"),
      col("stale_ratio").as("value"))

  /** [[graft.search.KnnGraph.graphLayerHealth]] → `layer_missing`
    * (due-but-absent layer nodes per due node; 0 when nothing is due —
    * an empty sample is covered, not broken). Emitted under the
    * `graph` kind: the layer is part of the graph index, not a store
    * of its own. `level` names the rung (`layer2_missing` for the
    * [[graft.search.KnnGraph.writeGraphLayer2]] rung) so one store's
    * two layers keep distinct signals through the plan, the order
    * book, and the resolution joins. */
  def layerSignals(health: DataFrame, name: String,
                   level: Int = 1): DataFrame =
    health.select(lit("graph").as("index_kind"), lit(name).as("index_name"),
      lit(if (level == 1) "layer_missing" else s"layer${level}_missing")
        .as("signal"),
      when(col("n_due") === 0, lit(0.0))
        .otherwise(round(col("n_missing").cast("double") / col("n_due"), 6))
        .as("value"))

  /** [[graft.search.KnnGraph.graphIndexHealth]] → `edge_debt` (raw
    * edge rows over the compacted `n_nodes·k` floor) +
    * `tombstone_ratio`. */
  def graphSignals(health: DataFrame, k: Int, name: String): DataFrame =
    health.select(lit("graph").as("index_kind"), lit(name).as("index_name"),
        lit("edge_debt").as("signal"),
        round(col("n_edge_rows").cast("double") /
          (col("n_nodes") * lit(k.toDouble)), 6).as("value"))
      .unionAll(health.select(lit("graph"), lit(name),
        lit("tombstone_ratio"),
        round(col("tombstone_debt").cast("double") / col("n_nodes"), 6)))

  /** The policy evaluation: normalized signals × broadcast rules →
    * the rows at/over threshold, ranked by how far over (severity =
    * value/threshold — the unit-free "how urgent", comparable across
    * signals with different scales), deterministic tie-break by
    * (kind, name, action, signal). Healthy signals emit NO row: an
    * empty frame is the "all indexes healthy" answer. */
  def plan(signals: DataFrame,
           rules: Seq[MaintenanceRule] = DefaultRules): DataFrame = {
    import signals.sparkSession.implicits._
    require(rules.nonEmpty && rules.forall(_.threshold > 0),
      "maintenance rules need positive thresholds")
    val ruleDf = rules.toDF("index_kind", "signal", "threshold", "action")
    // global window: bounded by |indexes|·|rules| rows (every input is
    // a 1-row health report fanned to a handful of signals)
    val w = Window.orderBy(col("severity").desc, col("index_kind").asc,
      col("index_name").asc, col("action").asc, col("signal").asc)
    signals.join(broadcast(ruleDf), Seq("index_kind", "signal"))
      .filter(col("value") >= col("threshold"))
      .withColumn("severity", round(col("value") / col("threshold"), 6))
      .withColumn("priority", row_number().over(w).cast("long"))
      .select(col("priority"), col("index_kind"), col("index_name"),
        col("action"), col("signal"), round(col("value"), 6).as("value"),
        col("threshold"), col("severity"))
      .orderBy(col("priority"))
  }

  /** Data-derived term-bucket count for the `bucket_skew` → `rebucket`
    * remedy: a term's postings live in exactly ONE bucket, so the max
    * bucket mass is floored at the heaviest term's df and MORE buckets
    * only shrink the denominator (expected mass) — the ratio gets
    * worse. Resolution means sizing buckets so the EXPECTED mass
    * dominates the heaviest term: `buckets = n_postings / (2·max_df)`
    * targets a skew around 2 under even hashing (floor division,
    * min 1). Same integer arithmetic on both engines. */
  def skewTargetBuckets(nPostings: Long, maxDf: Long): Int = {
    require(nPostings >= 0 && maxDf >= 1, "need nPostings >= 0, maxDf >= 1")
    // clamp before the narrowing cast: a quotient past Int.MaxValue
    // must saturate, not wrap negative into rebucket's `>= 1` require
    math.min(Int.MaxValue.toLong, math.max(1L, nPostings / (2L * maxDf))).toInt
  }

  /** The plan → act → VERIFY report: join the (frozen) planned action
    * rows against the re-read post-maintenance signals and say, per
    * action, whether the remedy actually resolved the signal
    * (`value_after < threshold`). `planned` is a [[plan]] output
    * materialized BEFORE the actions mutated any store (re-evaluating
    * it after would read the repaired state and report the wrong
    * before-values); `after` is a fresh signals union over the
    * maintained generations. A missing after-signal surfaces as NULL
    * rather than being dropped — a disappeared signal is a bug, not a
    * resolution. */
  def resolutionReport(planned: DataFrame, after: DataFrame): DataFrame =
    planned.join(
        after.select(col("index_kind"), col("index_name"), col("signal"),
          round(col("value"), 6).as("value_after")),
        Seq("index_kind", "index_name", "signal"), "left")
      .select(col("priority"), col("index_kind"), col("index_name"),
        col("action"), col("signal"), col("value").as("value_before"),
        col("value_after"), col("threshold"),
        (col("value_after") < col("threshold")).as("resolved"))
      .orderBy(col("priority"))

  /** The one-call policy op over the WHOLE index fleet: read every
    * registered index's health through its verified report op,
    * evaluate [[plan]]. `ivf`/`bm25`/`sq`/`lsh` are (name, path);
    * `graph` is (name, path, k); `ivfPq` is (name, path, codebooks) —
    * reconstruction drift needs the frozen codebooks the index encodes
    * through. Every index family this library ships an incremental
    * lifecycle for is watchable here — an index kind with maintenance
    * ops but no policy eyes would accumulate debt silently. */
  def indexMaintain(spark: org.apache.spark.sql.SparkSession,
                    ivf: Seq[(String, String)] = Nil,
                    bm25: Seq[(String, String)] = Nil,
                    graph: Seq[(String, String, Int)] = Nil,
                    ivfPq: Seq[(String, String, graft.search.Pq.Codebooks)] = Nil,
                    sq: Seq[(String, String)] = Nil,
                    lsh: Seq[(String, String)] = Nil,
                    graphLayer: Seq[(String, String)] = Nil,
                    graphLayer2: Seq[(String, String)] = Nil,
                    tokenizer: Seq[(String, String)] = Nil,
                    encoded: Seq[(String, String, String)] = Nil,
                    rules: Seq[MaintenanceRule] = DefaultRules): DataFrame = {
    // the per-store report ops are EAGER driver-blocking reads (drift
    // means, health counts) over independent stores — evaluate them on
    // parallel driver threads (graft.io.Par, order-preserving) so a
    // fleet's policy read costs one store's latency, not the sum
    val thunks: Seq[() => DataFrame] =
      ivf.map { case (n, p) => () =>
        ivfSignals(graft.search.Ann.assignmentDrift(spark, p), n) } ++
      bm25.map { case (n, p) => () =>
        bm25Signals(graft.search.Lexical.bm25IndexHealth(spark, p), n) } ++
      graph.map { case (n, p, k) => () =>
        graphSignals(graft.search.KnnGraph.graphIndexHealth(spark, p), k, n) } ++
      ivfPq.map { case (n, p, cb) => () =>
        pqSignals(graft.search.Pq.reconstructionDrift(spark, p, cb), n) } ++
      sq.map { case (n, p) => () =>
        val (d, h) = graft.io.Par.join2(
          graft.search.Sq.ivfSqDrift(spark, p),
          graft.search.Sq.ivfSqHealth(spark, p))
        sqSignals(d, h, n) } ++
      lsh.map { case (n, p) => () =>
        lshSignals(graft.search.Ann.lshIndexHealth(spark, p), n) } ++
      graphLayer.map { case (n, p) => () =>
        layerSignals(graft.search.KnnGraph.graphLayerHealth(spark, p), n) } ++
      graphLayer2.map { case (n, p) => () =>
        layerSignals(graft.search.KnnGraph.graphLayerHealth(spark, p, 2), n,
          2) } ++
      // the tokenizer's drift is batch-scoped by design; the fleet
      // planner evaluates the LAST observed batch — the freshest
      // evidence of the serving mixture
      tokenizer.map { case (n, p) => () =>
        tokenizerSignals(graft.text.Tokenizer.tokenizerDrift(spark, p,
          graft.text.Tokenizer.lastSeenBatch(spark, p), "text"), n) } ++
      // an encoded store watches its staleness against the SERVING
      // tokenizer generation (name, path, tokPath) — the dependent's
      // fleet eyes outside a cascade window
      encoded.map { case (n, p, tp) => () =>
        encodedSignals(graft.text.Tokenizer.encodedStaleness(spark, p, tp),
          n) }
    require(thunks.nonEmpty, "indexMaintain needs at least one index")
    plan(graft.io.Par.seq(thunks).reduce(_ unionAll _), rules)
  }

  /** The outstanding ORDER BOOK of a policy oplog — the READ side of
    * the streaming policy sinks ([[graft.streaming.StreamIngest]]'s
    * `*PolicySink` family appends one plan per applied micro-batch to
    * `<path>.oplog`): the same action logged across consecutive
    * batches is the signal STAYING over threshold, not N separate
    * orders, so the executor's view aggregates per
    * (kind, name, action, signal) to — first/last firing batch, how
    * many batches it has fired (persistence = urgency corroboration),
    * and the LATEST observation's value/severity (what the remedy
    * would act on NOW). Ranked by latest severity, the maintenance
    * executor's worklist. Bounded: the book is ≤ |signals| rows; the
    * log itself is ≤ batches·|rules| rows of plan output. */
  def orderBookOf(log: DataFrame): DataFrame =
    log.groupBy(col("index_kind"), col("index_name"), col("action"),
        col("signal"))
      .agg(min(col("batch_id")).as("first_batch"),
        max(col("batch_id")).as("last_batch"),
        count(lit(1)).as("n_fired"),
        max_by(col("value"), col("batch_id")).as("last_value"),
        first(col("threshold")).as("threshold"),
        max_by(col("severity"), col("batch_id")).as("last_severity"))
      .orderBy(col("last_severity").desc, col("index_kind").asc,
        col("index_name").asc, col("action").asc, col("signal").asc)

  /** [[orderBookOf]] over an index's persisted oplog. */
  def orderBook(spark: org.apache.spark.sql.SparkSession,
                path: String): DataFrame =
    orderBookOf(spark.read.parquet(Sidecars.oplog(path)))

  /** DRAIN the order book — the WRITE side that closes the streaming
    * maintenance loop (round-16 verdict item 2: the book was read-only;
    * nothing consumed the worklist, dispatched remedies, or
    * acknowledged resolution): take the book's ranked worklist FROZEN
    * before any store mutates (the [[resolutionReport]] convention —
    * re-reading it after would see the repaired state), dispatch each
    * distinct `(kind, name, action)` ONCE in severity order through
    * `dispatch` (the caller owns lifecycle specifics — paths, models,
    * and subsumption rules like "retrain subsumes compact", exactly as
    * the batch `index_maintenance_applied` composition does), re-read
    * the maintained generation's signals through `after`, and append
    * the per-order resolution rows — the book's columns plus
    * `(value_after, resolved)` — to `<path>.resolutions`. An order is
    * acknowledged through the batch span it covered (`last_batch`):
    * [[openOrders]] closes a RESOLVED order's log rows up to that
    * batch, so a signal that fires again in a LATER batch re-opens —
    * and a failed remedy (`resolved = false`) never closes its order
    * at all. Returns the resolution report, severity-ranked. Bounded:
    * the worklist is the ≤ |signals|-row book; dispatch runs on the
    * driver over those rows (remedies themselves are the verified
    * distributed lifecycle ops). */
  def orderBookDrain(spark: org.apache.spark.sql.SparkSession, path: String)
                    (dispatch: (String, String, String) => Unit)
                    (after: => DataFrame): DataFrame = {
    val book = orderBook(spark, path).localCheckpoint()
    book.select(col("index_kind"), col("index_name"), col("action"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .distinct // an action fired by two signals dispatches once
      .foreach { case (k, n, a) => dispatch(k, n, a) }
    val report = book.join(
        after.select(col("index_kind"), col("index_name"), col("signal"),
          round(col("value"), 6).as("value_after")),
        Seq("index_kind", "index_name", "signal"), "left")
      .select(col("index_kind"), col("index_name"), col("action"),
        col("signal"), col("first_batch"), col("last_batch"),
        col("n_fired"), col("last_value"), col("threshold"),
        col("last_severity"), col("value_after"),
        (col("value_after") < col("threshold")).as("resolved"))
      .orderBy(col("last_severity").desc, col("index_kind").asc,
        col("index_name").asc, col("action").asc, col("signal").asc)
      .localCheckpoint()
    report.write.mode("append").parquet(Sidecars.resolutions(path))
    report
  }

  /** A DEPENDENCY EDGE of the order book — the cross-family cascade
    * (round-19 verdict item 2): when the drain dispatches the PARENT
    * order `(parentKind, parentName, parentAction)`, the CHILD order
    * `(childKind, childName, childAction)` is derived and drained in
    * the SAME window, strictly AFTER every parent (topological
    * order). The canonical instance: `tokenizer.retrain` ⇒
    * `encoded.reencode` — a retrained vocabulary strands every
    * piece-keyed dependent, and the re-encode must read the FRESH
    * generation, never the one its parent is about to replace.
    * `childSignals` re-reads the child store's health frame (the
    * dispatcher's `afterSignals`); the drain calls it between the
    * parent and child dispatches, so the child's book row carries the
    * MEASURED migration bill (the staleness the parent's rewrite
    * actually caused), not a guess. */
  case class CascadeEdge(parentKind: String, parentName: String,
                        parentAction: String, childKind: String,
                        childName: String, childAction: String,
                        childSignals: () => DataFrame)

  /** [[orderBookDrain]] WITH dependency edges — the cascade window.
    * Semantics (argued in PLANS.md round-20 notes, pinned by
    * MaintenanceSpec): a fired parent's dependents drain in the SAME
    * window, strictly after ALL parents have acted —
    *
    *  1. parents dispatch in severity order (the frozen book's ranked
    *     worklist, exactly [[orderBookDrain]]);
    *  2. each fired edge's child measures its post-parent signal
    *     (the actual bill), then dispatches — a child never acts
    *     before its parent, so a window cannot re-encode against a
    *     vocabulary it is about to retrain, and the paid-for parent
    *     rewrite serves fresh state the same window rather than
    *     stranding the dependent stale until the next one;
    *  3. the composed `after` frame re-reads every store (children
    *     included) and acknowledges both levels to
    *     `<path>.resolutions` — child rows carry `n_fired` = 0 (a
    *     derived order, never log-fired), the parent's `last_batch`
    *     as their span (the batches whose evidence triggered the
    *     cascade), and the rule threshold for `(childKind,
    *     childSignal)`.
    *
    * A child that is ALSO a book order (its own signal fired from the
    * log) dispatches once as a book order and is not re-derived. One
    * child shared by several fired parents derives once (first edge
    * in `edges` order). Bounded exactly like [[orderBookDrain]]:
    * the worklist is the ≤ |signals|-row book plus ≤ |edges| derived
    * rows. */
  def orderBookDrainCascade(spark: org.apache.spark.sql.SparkSession,
                            path: String, edges: Seq[CascadeEdge],
                            rules: Seq[MaintenanceRule] = DefaultRules)
                           (dispatch: (String, String, String) => Unit)
                           (after: => DataFrame): DataFrame = {
    import spark.implicits._
    val book = orderBook(spark, path).localCheckpoint()
    val parentRows = book.select(col("index_kind"), col("index_name"),
        col("action"), col("last_batch")).collect()
      .map(r => ((r.getString(0), r.getString(1), r.getString(2)),
        r.getLong(3)))
    val parents = parentRows.map(_._1).distinct
    parents.foreach { case (k, n, a) => dispatch(k, n, a) }
    // topological levels (round-20 open thread closed: chains deeper
    // than one edge — e.g. retrain ⇒ re-encode ⇒ re-fit — dispatch
    // level by level): a level's dependents derive only from keys the
    // PREVIOUS level dispatched, measure after every one of those has
    // acted, and become the next frontier; a key never derives twice
    // (the cycle guard — a cyclic edge set terminates when every key
    // has dispatched once).
    val dispatched = scala.collection.mutable.Set(parents: _*)
    val spanOf = scala.collection.mutable.Map.empty[(String, String,
      String), Long]
    parents.foreach { k =>
      spanOf(k) = parentRows.collect { case (`k`, lb) => lb }.max
    }
    var frontier: Seq[(String, String, String)] = parents
    val childRows = scala.collection.mutable.Buffer.empty[(String,
      String, String, String, Long, Long, Long, Double, Double)]
    while (frontier.nonEmpty) {
      val fired = edges
        .filter(e => frontier.contains((e.parentKind, e.parentName,
          e.parentAction)))
        .filter(e => !dispatched.contains((e.childKind, e.childName,
          e.childAction)))
        .distinctBy(e => (e.childKind, e.childName, e.childAction))
      frontier = fired.map { e =>
        val key = (e.childKind, e.childName, e.childAction)
        val span = spanOf((e.parentKind, e.parentName, e.parentAction))
        spanOf(key) = span
        val thrDefault = rules.collectFirst {
          case r if r.indexKind == e.childKind &&
            r.action == e.childAction => r.threshold
        }.getOrElse(throw new IllegalArgumentException(
          s"no rule prices (${e.childKind}, ${e.childAction})"))
        // threshold per MEASURED SIGNAL (round-20 advice): a child kind
        // whose action is priced by several per-signal rules must not
        // stamp the first rule's threshold on every row — match
        // (kind, action, signal) per row, falling back to the
        // action-level rule above
        def thrOf(sig: String): Double = rules.collectFirst {
          case r if r.indexKind == e.childKind &&
            r.action == e.childAction && r.signal == sig => r.threshold
        }.getOrElse(thrDefault)
        childRows ++= e.childSignals()
          .filter(col("index_kind") === e.childKind &&
            col("index_name") === e.childName)
          .select(col("signal"), round(col("value"), 6).as("value"))
          .collect()
          .map(r => (e.childKind, e.childName, e.childAction,
            r.getString(0), span, span, 0L, r.getDouble(1),
            thrOf(r.getString(0))))
        dispatch(e.childKind, e.childName, e.childAction)
        dispatched += key
        key
      }
    }
    val childBook = childRows.toSeq
      .toDF("index_kind", "index_name", "action", "signal",
        "first_batch", "last_batch", "n_fired", "last_value", "threshold")
      .withColumn("last_severity",
        round(col("last_value") / col("threshold"), 6))
    val report = book
      .select(col("index_kind"), col("index_name"), col("action"),
        col("signal"), col("first_batch"), col("last_batch"),
        col("n_fired"), col("last_value"), col("threshold"),
        col("last_severity"))
      .unionByName(childBook)
      .join(
        after.select(col("index_kind"), col("index_name"), col("signal"),
          round(col("value"), 6).as("value_after")),
        Seq("index_kind", "index_name", "signal"), "left")
      .select(col("index_kind"), col("index_name"), col("action"),
        col("signal"), col("first_batch"), col("last_batch"),
        col("n_fired"), col("last_value"), col("threshold"),
        col("last_severity"), col("value_after"),
        (col("value_after") < col("threshold")).as("resolved"))
      .orderBy(col("last_severity").desc, col("index_kind").asc,
        col("index_name").asc, col("action").asc, col("signal").asc)
      .localCheckpoint()
    report.write.mode("append").parquet(Sidecars.resolutions(path))
    report
  }

  /** [[orderBookDrain]] under a COST BUDGET — the maintenance WINDOW
    * operator composing the book with [[indexMaintainCosted]]'s price
    * axis: `costs` carries `(index_kind, index_name, action,
    * cost_rows)` (the raw rows each remedy's rewrite must read — the
    * same numbers the costed plan derives from the verified health
    * reports; an unknown action costs 0), and the drain admits orders
    * GREEDILY in severity order while the cumulative cost fits
    * `budgetRows`. Severity still decides ORDER, the budget only
    * decides ADMISSION: an urgent-but-expensive order that misses the
    * window is never demoted — it stays unacknowledged at the top of
    * [[openOrders]] for the next window — while cheaper lower-ranked
    * orders still use the window's remainder (deferring them too
    * would idle paid-for capacity). An action fired by several
    * signals costs (and dispatches) once. Only ADMITTED orders are
    * dispatched, verified against `after`, and acknowledged to
    * `<path>.resolutions` (same sidecar schema as the un-budgeted
    * drain — the two compose on one store); the report adds
    * `cost_rows`. Bounded exactly like [[orderBookDrain]]. */
  def orderBookDrainCosted(spark: org.apache.spark.sql.SparkSession,
                           path: String, costs: DataFrame, budgetRows: Long)
                          (dispatch: (String, String, String) => Unit)
                          (after: => DataFrame): DataFrame =
    drainCosted(spark, path, orderBook(spark, path), costs, budgetRows)(
      dispatch)(after)

  /** The CASCADE window under a COST BUDGET over the OPEN orders —
    * [[orderBookDrainCascade]] composed with [[openOrdersDrainCosted]]
    * (the streaming-scheduled form: recurring windows must not
    * re-dispatch acknowledged orders, and remedies compete for a
    * bounded window). Admission prices a fired parent and its derived
    * dependents as ONE decision (the PLANS.md §Round 20 argument: a
    * retrain whose re-encode does not fit the window should not be
    * admitted either — admitting it would leave the fleet serving a
    * vocabulary/encoding pair that disagrees until some later window):
    * walking the ranked worklist, a parent with fired edges charges
    * `own cost + Σ over its TRANSITIVE derived closure` (grandchildren
    * included — chains like retrain ⇒ re-encode ⇒ re-fit price as one
    * decision) and admits only if the WHOLE charge fits; its
    * dependents are then implicitly admitted and dispatch in
    * topological levels after every admitted parent, each with the
    * measured post-parent bill. A child that is ALSO an open order
    * admits on its own (and never re-derives); cheaper lower-ranked
    * orders still use a skipped pair's window remainder.
    * Acknowledgments append to the same `.resolutions` sidecar —
    * windows with and without edges compose on one store. */
  def openOrdersDrainCascadeCosted(spark: org.apache.spark.sql.SparkSession,
                                   path: String, costs: DataFrame,
                                   budgetRows: Long, edges: Seq[CascadeEdge],
                                   rules: Seq[MaintenanceRule] = DefaultRules)
                                  (dispatch: (String, String, String) => Unit)
                                  (after: => DataFrame): DataFrame = {
    require(budgetRows >= 0, s"budgetRows must be >= 0: $budgetRows")
    import spark.implicits._
    val book = openOrders(spark, path).drop("n_acks")
      .join(broadcast(costs.select(col("index_kind"), col("index_name"),
        col("action"), col("cost_rows").cast("long").as("cost_rows"))),
        Seq("index_kind", "index_name", "action"), "left")
      .withColumn("cost_rows", coalesce(col("cost_rows"), lit(0L)))
      .orderBy(col("last_severity").desc, col("index_kind").asc,
        col("index_name").asc, col("action").asc, col("signal").asc)
      .localCheckpoint()
    val ranked = book
      .select(col("index_kind"), col("index_name"), col("action"),
        col("cost_rows"), col("last_batch"))
      .collect()
      .map(r => ((r.getString(0), r.getString(1), r.getString(2)),
        r.getLong(3), r.getLong(4)))
    val openKeys = ranked.map(_._1).distinct.toSet
    val costOf = costs.select(col("index_kind"), col("index_name"),
        col("action"), col("cost_rows").cast("long"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        r.getLong(3)).toMap
    var cum = 0L
    val seen = scala.collection.mutable.Set.empty[(String, String, String)]
    val admitted = scala.collection.mutable
      .LinkedHashSet.empty[(String, String, String)]
    // the TRANSITIVE closure of keys a parent's admission implicitly
    // commits the window to — grandchildren included, and INCLUDING
    // dependents that are themselves open orders (round-20 advice,
    // medium: excluding them priced a retrain without its re-encode —
    // if the budget then never admitted the child's own order, the
    // window dispatched exactly the mixed vocabulary/encoding state
    // joint pricing exists to prevent). Keys already admitted are
    // excluded (already paid, already dispatching). Two admitted
    // parents sharing an unadmitted descendant each price it
    // (conservative: it derives/dispatches once but the budget never
    // over-admits).
    def closureKeys(root: (String, String, String))
        : Seq[(String, String, String)] = {
      val out = scala.collection.mutable
        .Buffer.empty[(String, String, String)]
      val seenKeys = scala.collection.mutable.Set(root)
      var frontier = Seq(root)
      while (frontier.nonEmpty) {
        val fired = edges
          .filter(e => frontier.contains((e.parentKind, e.parentName,
            e.parentAction)))
          .filter(e => !seenKeys.contains((e.childKind, e.childName,
            e.childAction)))
          .filter(e => !admitted.contains((e.childKind, e.childName,
            e.childAction)))
          .distinctBy(e => (e.childKind, e.childName, e.childAction))
        val keys = fired.map(e => (e.childKind, e.childName,
          e.childAction))
        seenKeys ++= keys
        out ++= keys
        frontier = keys
      }
      out.toSeq
    }
    ranked.foreach { case (k, c, _) =>
      if (!seen(k)) {
        seen += k
        val closure = closureKeys(k)
        val charge = c + closure.map(costOf.getOrElse(_, 0L)).sum
        if (cum + charge <= budgetRows) {
          cum += charge; admitted += k
          // CO-ADMIT closure members that are open orders: they were
          // priced with the parent, so their own later walk must not
          // re-charge or re-admit them; insertion after the parent
          // makes them dispatch after it. Derived (non-order) members
          // dispatch through the topological level loop below instead.
          closure.filter(openKeys).foreach { ck =>
            seen += ck; admitted += ck
          }
        }
      }
    }
    if (admitted.isEmpty)
      return book.select(col("index_kind"), col("index_name"),
        col("action"), col("signal"), col("first_batch"), col("last_batch"),
        col("n_fired"), col("last_value"), col("threshold"),
        col("last_severity"), col("cost_rows"),
        lit(null).cast("double").as("value_after"),
        lit(null).cast("boolean").as("resolved"))
        .filter(lit(false))
    // Dispatch the admitted set in TOPOLOGICAL order along the cascade
    // edges, not raw admission order (round-21 advice): when an
    // open-order CHILD outranks its cascade parent by severity, the
    // admission walk admits the child first, and dispatching in that
    // order would re-encode BEFORE the retrain — ending the window in
    // exactly the mixed vocabulary/encoding state the joint pricing
    // exists to prevent. Kahn's levels restricted to admitted pairs,
    // stable within a level (admission order preserved); the
    // always-shrinking frontier is the cycle guard — a cyclic remnant
    // falls back to admission order rather than hanging.
    val admittedEdges = edges
      .map(e => ((e.parentKind, e.parentName, e.parentAction),
        (e.childKind, e.childName, e.childAction)))
      .filter { case (p, c) => admitted.contains(p) && admitted.contains(c) }
      .distinct
    val ordered = scala.collection.mutable
      .LinkedHashSet.empty[(String, String, String)]
    var pending: Seq[(String, String, String)] = admitted.toSeq
    var progressed = true
    while (pending.nonEmpty && progressed) {
      val free = pending.filter(k => !admittedEdges.exists {
        case (p, c) => c == k && pending.contains(p)
      })
      progressed = free.nonEmpty
      ordered ++= free
      pending = pending.filterNot(free.contains)
    }
    ordered ++= pending // cyclic remnant: admission order
    ordered.foreach { case (k, n, a) => dispatch(k, n, a) }
    // topological levels after the admitted-parent barrier (the
    // orderBookDrainCascade loop, cost column added): each level's
    // dependents derive from the previous level's dispatches, measure
    // the post-parent bill, dispatch, and become the next frontier;
    // the dispatched-set cycle guard terminates any edge set
    val dispatchedKeys = scala.collection.mutable.Set(admitted.toSeq: _*)
    val spanOf = scala.collection.mutable.Map.empty[(String, String,
      String), Long]
    admitted.foreach { k =>
      spanOf(k) = ranked.collect { case (`k`, _, lb) => lb }.max
    }
    var frontier: Seq[(String, String, String)] = admitted.toSeq
    val childRows = scala.collection.mutable.Buffer.empty[(String,
      String, String, String, Long, Long, Long, Double, Double, Long)]
    while (frontier.nonEmpty) {
      val fired = edges
        .filter(e => frontier.contains((e.parentKind, e.parentName,
          e.parentAction)))
        .filter(e => !openKeys.contains((e.childKind, e.childName,
          e.childAction)))
        .filter(e => !dispatchedKeys.contains((e.childKind, e.childName,
          e.childAction)))
        .distinctBy(e => (e.childKind, e.childName, e.childAction))
      frontier = fired.map { e =>
        val key = (e.childKind, e.childName, e.childAction)
        val span = spanOf((e.parentKind, e.parentName, e.parentAction))
        spanOf(key) = span
        val thrDefault = rules.collectFirst {
          case r if r.indexKind == e.childKind &&
            r.action == e.childAction => r.threshold
        }.getOrElse(throw new IllegalArgumentException(
          s"no rule prices (${e.childKind}, ${e.childAction})"))
        // per-signal threshold match (round-20 advice) — the
        // orderBookDrainCascade convention
        def thrOf(sig: String): Double = rules.collectFirst {
          case r if r.indexKind == e.childKind &&
            r.action == e.childAction && r.signal == sig => r.threshold
        }.getOrElse(thrDefault)
        val cost = costOf.getOrElse(key, 0L)
        childRows ++= e.childSignals()
          .filter(col("index_kind") === e.childKind &&
            col("index_name") === e.childName)
          .select(col("signal"), round(col("value"), 6).as("value"))
          .collect()
          .map(r => (e.childKind, e.childName, e.childAction,
            r.getString(0), span, span, 0L, r.getDouble(1),
            thrOf(r.getString(0)), cost))
        dispatch(e.childKind, e.childName, e.childAction)
        dispatchedKeys += key
        key
      }
    }
    val childBook = childRows.toSeq
      .toDF("index_kind", "index_name", "action", "signal",
        "first_batch", "last_batch", "n_fired", "last_value", "threshold",
        "cost_rows")
      .withColumn("last_severity",
        round(col("last_value") / col("threshold"), 6))
    val admittedDf = admitted.toSeq
      .toDF("index_kind", "index_name", "action")
    val report = book
      .join(broadcast(admittedDf),
        Seq("index_kind", "index_name", "action"), "left_semi")
      .select(col("index_kind"), col("index_name"), col("action"),
        col("signal"), col("first_batch"), col("last_batch"),
        col("n_fired"), col("last_value"), col("threshold"),
        col("last_severity"), col("cost_rows"))
      .unionByName(childBook.select(col("index_kind"), col("index_name"),
        col("action"), col("signal"), col("first_batch"),
        col("last_batch"), col("n_fired"), col("last_value"),
        col("threshold"), col("last_severity"), col("cost_rows")))
      .join(
        after.select(col("index_kind"), col("index_name"), col("signal"),
          round(col("value"), 6).as("value_after")),
        Seq("index_kind", "index_name", "signal"), "left")
      .select(col("index_kind"), col("index_name"), col("action"),
        col("signal"), col("first_batch"), col("last_batch"),
        col("n_fired"), col("last_value"), col("threshold"),
        col("last_severity"), col("cost_rows"), col("value_after"),
        (col("value_after") < col("threshold")).as("resolved"))
      .orderBy(col("last_severity").desc, col("index_kind").asc,
        col("index_name").asc, col("action").asc, col("signal").asc)
      .localCheckpoint()
    // non-empty by construction past the admitted.isEmpty return (every
    // admitted key is a book row key, and the child union only adds) —
    // no emptiness probe job before the append
    report.drop("cost_rows")
      .write.mode("append").parquet(Sidecars.resolutions(path))
    report
  }

  /** [[orderBookDrainCosted]] over only the OPEN orders — the
    * RECURRING-window form: a scheduled drain (cron, or the streaming
    * sink's `drainEvery` cadence) must not re-dispatch remedies for
    * orders an earlier window already acknowledged, so its worklist is
    * [[openOrders]] (unacknowledged firings only), not the full book.
    * A first drain on a never-drained store sees the full book (open ≡
    * book then); acknowledgments append to the same `<path>
    * .resolutions` sidecar with the same schema, so windows compose. */
  def openOrdersDrainCosted(spark: org.apache.spark.sql.SparkSession,
                            path: String, costs: DataFrame, budgetRows: Long)
                           (dispatch: (String, String, String) => Unit)
                           (after: => DataFrame): DataFrame =
    drainCosted(spark, path, openOrders(spark, path).drop("n_acks"), costs,
      budgetRows)(dispatch)(after)

  private def drainCosted(spark: org.apache.spark.sql.SparkSession,
                          path: String, bookDf: DataFrame,
                          costs: DataFrame, budgetRows: Long)
                         (dispatch: (String, String, String) => Unit)
                         (after: => DataFrame): DataFrame = {
    require(budgetRows >= 0, s"budgetRows must be >= 0: $budgetRows")
    import spark.implicits._
    val book = bookDf
      .join(broadcast(costs.select(col("index_kind"), col("index_name"),
        col("action"), col("cost_rows").cast("long").as("cost_rows"))),
        Seq("index_kind", "index_name", "action"), "left")
      .withColumn("cost_rows", coalesce(col("cost_rows"), lit(0L)))
      .orderBy(col("last_severity").desc, col("index_kind").asc,
        col("index_name").asc, col("action").asc, col("signal").asc)
      .localCheckpoint()
    val ranked = book
      .select(col("index_kind"), col("index_name"), col("action"),
        col("cost_rows"))
      .collect()
      .map(r => ((r.getString(0), r.getString(1), r.getString(2)),
        r.getLong(3)))
    var cum = 0L
    val seen = scala.collection.mutable.Set.empty[(String, String, String)]
    val admitted = scala.collection.mutable
      .LinkedHashSet.empty[(String, String, String)]
    ranked.foreach { case (k, c) =>
      if (!seen(k)) {
        seen += k
        if (cum + c <= budgetRows) { cum += c; admitted += k }
      }
    }
    // an empty window — empty book, or nothing fit the budget — must
    // not touch any store: no dispatch ran, so the (possibly eager)
    // `after` signal re-read is skipped and the report is the empty
    // frame with the report schema
    if (admitted.isEmpty)
      return book.select(col("index_kind"), col("index_name"),
        col("action"), col("signal"), col("first_batch"), col("last_batch"),
        col("n_fired"), col("last_value"), col("threshold"),
        col("last_severity"), col("cost_rows"),
        lit(null).cast("double").as("value_after"),
        lit(null).cast("boolean").as("resolved"))
        .filter(lit(false))
    admitted.foreach { case (k, n, a) => dispatch(k, n, a) }
    val admittedDf = admitted.toSeq
      .toDF("index_kind", "index_name", "action")
    val report = book
      .join(broadcast(admittedDf),
        Seq("index_kind", "index_name", "action"), "left_semi")
      .join(
        after.select(col("index_kind"), col("index_name"), col("signal"),
          round(col("value"), 6).as("value_after")),
        Seq("index_kind", "index_name", "signal"), "left")
      .select(col("index_kind"), col("index_name"), col("action"),
        col("signal"), col("first_batch"), col("last_batch"),
        col("n_fired"), col("last_value"), col("threshold"),
        col("last_severity"), col("cost_rows"), col("value_after"),
        (col("value_after") < col("threshold")).as("resolved"))
      .orderBy(col("last_severity").desc, col("index_kind").asc,
        col("index_name").asc, col("action").asc, col("signal").asc)
      .localCheckpoint()
    // the acknowledgment sidecar keeps the un-budgeted drain's exact
    // schema so both drains compose on one store's resolutions; an
    // EMPTY window (healthy store / nothing admitted) appended nothing
    // and already returned above — past that return the report is
    // provably non-empty (every admitted key IS a book row key, so the
    // semi-join keeps at least one row per admitted order), so the
    // write needs no emptiness probe job
    report.drop("cost_rows")
      .write.mode("append").parquet(Sidecars.resolutions(path))
    report
  }

  /** The OPEN orders of a drained book: the [[orderBook]] aggregation
    * over only the log rows no successful drain has acknowledged — a
    * resolution row closes its `(kind, name, action, signal)` through
    * the `last_batch` it covered IFF `resolved` was true (a failed
    * remedy leaves the order standing), and any later firing re-opens
    * the order with fresh batch spans. A never-drained store's open
    * book is its full book.
    *
    * `n_acks` (round-17 verdict item 8) counts the key's SUCCESSFUL
    * past acknowledgments, which is what tells a FLAPPING signal from
    * a STALE one — both look identical in the span columns (fresh
    * first_batch, small n_fired): n_acks = 0 means no remedy ever
    * resolved it (never drained, or the remedy keeps failing — check
    * `.resolutions` for resolved = false rows); n_acks ≥ 1 means a
    * remedy RESOLVED it and the signal came back (remedy fires, store
    * drifts back, fires again) — a data-distribution problem the next
    * identical remedy won't fix, not a backlog problem. */
  def openOrders(spark: org.apache.spark.sql.SparkSession,
                 path: String): DataFrame = {
    val log = spark.read.parquet(Sidecars.oplog(path))
    if (!graft.io.Fs.exists(spark, Sidecars.resolutions(path)))
      orderBookOf(log).withColumn("n_acks", lit(0L))
    else {
      val keys = Seq("index_kind", "index_name", "action", "signal")
      val drained = spark.read.parquet(Sidecars.resolutions(path))
        .filter(col("resolved"))
        .groupBy(keys.map(col): _*)
        .agg(max(col("last_batch")).as("__drained_through"),
          count(lit(1)).as("__n_acks"))
      orderBookOf(log
          .join(broadcast(drained.drop("__n_acks")), keys, "left")
          .filter(col("__drained_through").isNull ||
            col("batch_id") > col("__drained_through"))
          .drop("__drained_through"))
        .join(broadcast(drained.drop("__drained_through")), keys, "left")
        .withColumn("n_acks", coalesce(col("__n_acks"), lit(0L)))
        .drop("__n_acks")
        .orderBy(col("last_severity").desc, col("index_kind").asc,
          col("index_name").asc, col("action").asc, col("signal").asc)
    }
  }

  /** One store's DRAIN EXECUTOR — the registry entry [[orderBookDrain]]
    * / [[orderBookDrainCosted]] take their `dispatch` closure from
    * (round-17 verdict item 3: four query bodies re-implemented the
    * same dispatch + subsumption with local `var`s — the fourth copy
    * is where a divergence slips in). A dispatcher owns the store's
    * lifecycle specifics: which verified op serves each action, where
    * rewrites land, and the SUBSUMPTION rule; it tracks the store's
    * effective generation across remedies so the drain's `after`
    * signals read the maintained state. */
  trait DrainDispatcher {
    /** The store's CURRENT generation path (moves as remedies rewrite;
      * starts at the watched path). */
    def eff: String
    /** Route one book row's (kind, name, action); rows belonging to
      * other stores must be ignored (the fleet composition). */
    def dispatch(kind: String, name: String, action: String): Unit
    /** The store's signals re-read from the current generation — the
      * drain's `after` frame. */
    def afterSignals: DataFrame
    /** OPTIONAL: a health frame the caller already read from the
      * WATCHED (un-rewritten) generation in the same batch — the
      * stream batch body measures the store for its policy signals
      * right before the drain window, and nothing mutates the store
      * between that read and the first dispatch (the book writes are
      * sidecars). A dispatcher that prices its first rewrite from the
      * current generation's health may read it from here instead of
      * scanning the store again; once a rewrite moves `eff` off the
      * watched path the offer no longer describes the store and must
      * be ignored. Default: ignored. */
    def offer(health: DataFrame): Unit = ()
  }

  /** Compose a fleet of per-store dispatchers into the single
    * (dispatch, after) pair the drain ops consume: every dispatcher
    * sees every order (each ignores the ones it doesn't own), and the
    * after-frame is the union of every store's re-read signals. */
  def defaultDispatch(dispatchers: Seq[DrainDispatcher])
      : ((String, String, String) => Unit, () => DataFrame) = {
    require(dispatchers.nonEmpty, "defaultDispatch needs at least one store")
    ((k, n, a) => dispatchers.foreach(_.dispatch(k, n, a)),
      () => dispatchers.map(_.afterSignals).reduce(_ unionAll _))
  }

  /** The default dispatcher for an SQ8-IVF store — the lifecycle
    * registry entry matching [[indexMaintainCosted]]'s `sq` cost rows,
    * with the subsumption rule the applied-loop queries encode pinned
    * ONCE (MaintenanceSpec): a RETRAIN rebuilds from survivors with a
    * fresh baseline, clearing the tombstone debt too, so a compact
    * order dispatched after it is a no-op (an action fired by several
    * signals already dispatches once — this is the cross-ACTION rule);
    * a compact dispatched BEFORE a retrain still runs (severity chose
    * that order; the retrain then reads the compacted generation).
    * `re_record` re-records the baseline in place over the current
    * generation's contents with its stored model centroids — skipped
    * after a retrain, which already recorded a fresh baseline. */
  final class SqDrainDispatcher(spark: org.apache.spark.sql.SparkSession,
                                name: String, path: String,
                                k: Int, iters: Int,
                                retrainPath: String, compactPath: String,
                                idCol: String = "vec_id",
                                vecCol: String = "embedding")
      extends DrainDispatcher {
    private var effPath = path
    private var retrained = false
    def eff: String = effPath
    def dispatch(kind: String, n: String, action: String): Unit =
      if (kind == "sq8" && n == name) action match {
        case "retrain" =>
          graft.search.Sq.retrainIvfSqIndex(spark, effPath, retrainPath,
            k, iters, idCol, vecCol): Unit
          effPath = retrainPath; retrained = true
        case "compact" =>
          if (!retrained) {
            graft.search.Sq.compactIvfSqIndex(spark, effPath, compactPath,
              idCol = idCol)
            effPath = compactPath
          }
        case "re_record" =>
          if (!retrained)
            graft.search.Sq.recordIvfSqModel(spark, effPath,
              graft.search.Sq.readIvfSqModel(spark, effPath), idCol, vecCol)
        case _ => ()
      }
    def afterSignals: DataFrame = {
      // drift and health are independent eager reads — overlap them
      val (d, h) = graft.io.Par.join2(
        graft.search.Sq.ivfSqDrift(spark, effPath, idCol, vecCol),
        graft.search.Sq.ivfSqHealth(spark, effPath))
      sqSignals(d, h, name)
    }
  }

  /** The default dispatcher for an LSH store: the one index family
    * whose only remedy is mechanical — `compact` applies tombstones
    * and re-bounds the per-bucket file set ([[graft.search.Ann
    * .compactLshIndex]]); there is no trained state to retrain or
    * re-record, so no subsumption arises. */
  final class LshDrainDispatcher(spark: org.apache.spark.sql.SparkSession,
                                 name: String, path: String,
                                 compactPath: String,
                                 idCol: String = "vec_id")
      extends DrainDispatcher {
    private var effPath = path
    def eff: String = effPath
    def dispatch(kind: String, n: String, action: String): Unit =
      if (kind == "lsh" && n == name && action == "compact") {
        graft.search.Ann.compactLshIndex(spark, effPath, compactPath,
          idCol = idCol)
        effPath = compactPath
      }
    def afterSignals: DataFrame =
      lshSignals(graft.search.Ann.lshIndexHealth(spark, effPath), name)
  }

  /** The default dispatcher for a plain IVF store: `retrain` rebuilds
    * from survivors with fresh centroids AND a fresh baseline
    * ([[graft.search.Ann.retrainIvfIndex]] records it), so a later
    * `re_record` is subsumed; `re_record` alone re-records the
    * baseline IN PLACE over the current contents with the caller-held
    * frozen model (`cents` — the centroids the index assigns by; the
    * stats-only remedy for the deletes-pruned-the-worst-rows case). */
  final class IvfDrainDispatcher(spark: org.apache.spark.sql.SparkSession,
                                 name: String, path: String,
                                 k: Int, iters: Int, retrainPath: String,
                                 cents: Seq[Seq[Double]],
                                 idCol: String = "vec_id",
                                 vecCol: String = "embedding")
      extends DrainDispatcher {
    private var effPath = path
    private var retrained = false
    def eff: String = effPath
    def dispatch(kind: String, n: String, action: String): Unit =
      if (kind == "ivf" && n == name) action match {
        case "retrain" =>
          graft.search.Ann.retrainIvfIndex(spark, effPath, retrainPath,
            k, iters, idCol, vecCol): Unit
          effPath = retrainPath; retrained = true
        case "re_record" =>
          if (!retrained)
            graft.search.Ann.recordIvfModel(spark, effPath, cents, idCol,
              vecCol)
        case _ => ()
      }
    def afterSignals: DataFrame =
      ivfSignals(graft.search.Ann.assignmentDrift(spark, effPath, idCol,
        vecCol), name)
  }

  /** The default dispatcher for an IVF-PQ store: `retrain` re-learns
    * coarse centroids AND codebooks from the survivors, rebuilds at
    * `retrainPath`, and records the fresh error baseline; the
    * retrained codebooks are tracked so [[afterSignals]] (and the
    * caller, via [[codebooks]]) read drift against the model the new
    * generation actually encodes through. */
  final class IvfPqDrainDispatcher(spark: org.apache.spark.sql.SparkSession,
                                   name: String, path: String,
                                   numClusters: Int, ivfIters: Int,
                                   dim: Int, m: Int, ksub: Int, pqIters: Int,
                                   cb: graft.search.Pq.Codebooks,
                                   retrainPath: String,
                                   idCol: String = "vec_id",
                                   vecCol: String = "embedding")
      extends DrainDispatcher {
    private var effPath = path
    private var cbEff = cb
    def eff: String = effPath
    /** The codebooks of the CURRENT generation (fresh after retrain). */
    def codebooks: graft.search.Pq.Codebooks = cbEff
    def dispatch(kind: String, n: String, action: String): Unit =
      if (kind == "ivfpq" && n == name && action == "retrain") {
        val (_, cb2) = graft.search.Pq.retrainIvfPqIndex(spark, effPath,
          retrainPath, numClusters, ivfIters, dim, m, ksub, pqIters,
          idCol, vecCol)
        graft.search.Pq.recordIvfPqModel(spark, retrainPath, cb2, idCol,
          vecCol)
        effPath = retrainPath; cbEff = cb2
      }
    def afterSignals: DataFrame =
      pqSignals(graft.search.Pq.reconstructionDrift(spark, effPath, cbEff,
        idCol, vecCol), name)
  }

  /** The default dispatcher for a BM25 store: BOTH mechanical orders
    * route to ONE rewrite — [[graft.search.Lexical.rebucketBm25Index]]
    * at the data-derived [[skewTargetBuckets]] count applies the
    * tombstones (a compact) AND fixes the bucket skew in the same
    * pass, so whichever of `compact`/`rebucket` dispatches first does
    * the work and the other is subsumed. The target bucket count is
    * priced from the health of the generation being rewritten. */
  final class Bm25DrainDispatcher(spark: org.apache.spark.sql.SparkSession,
                                  name: String, path: String,
                                  dstPath: String,
                                  idCol: String = "doc_id")
      extends DrainDispatcher {
    private var effPath = path
    private var rebuilt = false
    private var offered: Option[DataFrame] = None
    def eff: String = effPath
    override def offer(health: DataFrame): Unit = { offered = Some(health) }
    def dispatch(kind: String, n: String, action: String): Unit =
      if (kind == "bm25" && n == name &&
          (action == "compact" || action == "rebucket") && !rebuilt) {
        // the rewrite prices from the health of the generation being
        // rewritten: the caller-offered read IS that health while eff
        // is still the watched path (the stream batch measured it and
        // only sidecars were written since) — re-scan only when no
        // offer exists or a rewrite already moved the generation
        val h = offered.filter(_ => effPath == path)
          .getOrElse(graft.search.Lexical.bm25IndexHealth(spark, effPath))
          .head()
        graft.search.Lexical.rebucketBm25Index(spark, effPath, dstPath,
          skewTargetBuckets(h.getAs[Long]("n_postings"),
            h.getAs[Long]("max_df")), idCol)
        effPath = dstPath; rebuilt = true
      }
    def afterSignals: DataFrame =
      bm25Signals(graft.search.Lexical.bm25IndexHealth(spark, effPath), name)
  }

  /** The default dispatcher for a TOKENIZER store ([[graft.text
    * .Tokenizer]]): both signals route to the ONE remedy — retrain
    * from everything observed — which lands on a fresh generation at
    * `retrainPath` (the watched store keeps serving and observing,
    * like every family here). [[afterSignals]] re-evaluates the LAST
    * observed batch — the drifted data itself — under the fresh
    * vocab, so the acknowledgment answers "does the new tokenizer
    * handle the data that fired the order": OOV lands at exactly 0
    * (the retrain's alphabet covers every seen char by the coverage
    * floor) and fertility re-measures against the new full-corpus
    * baseline. */
  final class TokenizerDrainDispatcher(spark: org.apache.spark.sql.SparkSession,
                                       name: String, path: String,
                                       retrainPath: String)
      extends DrainDispatcher {
    private var effPath = path
    def eff: String = effPath
    def dispatch(kind: String, n: String, action: String): Unit =
      if (kind == "tokenizer" && n == name && action == "retrain") {
        graft.text.Tokenizer.retrainTokenizer(spark, effPath, retrainPath)
        effPath = retrainPath
      }
    def afterSignals: DataFrame =
      tokenizerSignals(graft.text.Tokenizer.tokenizerDrift(spark, effPath,
        graft.text.Tokenizer.lastSeenBatch(spark, effPath), "text"), name)
  }

  /** The default dispatcher for an ENCODED-CORPUS store — the
    * piece-keyed DEPENDENT of a tokenizer store ([[graft.text
    * .Tokenizer.writeEncodedStore]]): `reencode` re-reads the store's
    * own corpus and encodes it under the tokenizer's CURRENT
    * generation (`tokEff` — typically the parent
    * [[TokenizerDrainDispatcher]]'s `eff`, so a cascade window's
    * child reads the freshly retrained vocabulary, never the one the
    * parent replaced), landing on a fresh generation at
    * `reencodePath`. One re-encode per window (the subsumption flag —
    * a cascade derivation and a log-fired order for the same store
    * must not encode twice). [[afterSignals]] measures staleness
    * against the same current generation, so the acknowledgment
    * answers "does the dependent now speak the serving vocabulary" —
    * exactly 0 after a re-encode under a generation whose alphabet
    * covers the corpus. */
  final class EncodedDrainDispatcher(spark: org.apache.spark.sql.SparkSession,
                                     name: String, path: String,
                                     reencodePath: String,
                                     tokEff: () => String)
      extends DrainDispatcher {
    private var effPath = path
    private var reencoded = false
    def eff: String = effPath
    def dispatch(kind: String, n: String, action: String): Unit =
      if (kind == "encoded" && n == name && action == "reencode" &&
          !reencoded) {
        graft.text.Tokenizer.reencodeStore(spark, effPath, reencodePath,
          tokEff())
        effPath = reencodePath; reencoded = true
      }
    def afterSignals: DataFrame =
      encodedSignals(graft.text.Tokenizer.encodedStaleness(spark, effPath,
        tokEff()), name)
  }

  /** The default dispatcher for a kNN-graph store, LAYERS INCLUDED:
    * `compact` rewrites the generation and — the compact scaladoc's
    * operational rule — re-derives EVERY coarse layer the watched
    * store carries (the layers are derived state pinned to a node-set
    * generation; the rewrite's fresh generation starts layer-less, and
    * a compact without the re-derive would strand the layered walk on
    * a loud missing-layer failure); `relayer`/`relayer2` without a
    * compact rebuild their rung IN PLACE from its recorded conf (rate,
    * k, build method — so an NN-Descent-built layer rebuilds the way
    * the operator chose). A compact subsumes pending relayer orders;
    * a relayer arriving BEFORE the compact still runs (severity chose
    * that order) and the compact's re-derive reproduces the identical
    * derived state on the fresh generation — order cannot change the
    * final stores. */
  final class GraphDrainDispatcher(spark: org.apache.spark.sql.SparkSession,
                                   name: String, path: String, k: Int,
                                   compactPath: String, buckets: Int = 16)
      extends DrainDispatcher {
    private var effPath = path
    private var relayered = Set.empty[Int]
    def eff: String = effPath
    private def layerConf(level: Int): Option[(Int, Int, String)] = {
      // conf read from the ORIGINAL path: a fresh compact destination
      // carries no layers yet, but the derived state's parameters are
      // a property of the watched store, not of one generation
      val p = Sidecars.layerConf(path, level)
      if (!graft.io.Fs.exists(spark, p)) None
      else {
        val c = spark.read.parquet(p).head()
        Some((c.getAs[Int]("sample_every"), c.getAs[Int]("k"),
          c.getAs[String]("method")))
      }
    }
    private def relayer(level: Int): Unit =
      if (level == 1)
        layerConf(1).foreach { case (r, lk, m) =>
          graft.search.KnnGraph.writeGraphLayer(spark, effPath, r, lk,
            buckets, m)
        }
      else
        // level 2 nests the LEVEL-1 rate (its own conf records the
        // applied rate r² — writeGraphLayer2 wants the base r)
        layerConf(1).foreach { case (r, _, _) =>
          layerConf(2).foreach { case (_, lk2, m2) =>
            graft.search.KnnGraph.writeGraphLayer2(spark, effPath, r, lk2,
              buckets, m2)
          }
        }
    def dispatch(kind: String, n: String, action: String): Unit =
      if (kind == "graph" && n == name) action match {
        case "compact" =>
          graft.search.KnnGraph.compactGraphIndex(spark, effPath,
            compactPath, k, buckets)
          effPath = compactPath
          // both rungs re-derive from their RECORDED confs (layer 2's
          // conf carries the applied rate r², so the nesting handshake
          // is already satisfied) — independent jobs over the fresh
          // .nodes side, overlapped (round-18 verdict item 5)
          (layerConf(1), layerConf(2)) match {
            case (Some((r1, lk1, m1)), Some((r2, lk2, m2))) =>
              graft.io.Par.unit(
                () => graft.search.KnnGraph.writeLayerAt(spark, effPath,
                  r1, lk1, buckets, m1, 1),
                () => graft.search.KnnGraph.writeLayerAt(spark, effPath,
                  r2, lk2, buckets, m2, 2))
            case _ => relayer(1); relayer(2)
          }
          relayered = Set(1, 2)
        case "relayer" =>
          if (!relayered(1)) { relayer(1); relayered += 1 }
        case "relayer2" =>
          if (!relayered(2)) { relayer(2); relayered += 2 }
        case _ => ()
      }
    def afterSignals: DataFrame = {
      // the graph health chain is lazy but the layer reads are eager
      // count chains — overlap whatever layers exist
      val hasL1 = graft.io.Fs.exists(spark, Sidecars.layerConf(effPath, 1))
      val hasL2 = graft.io.Fs.exists(spark, Sidecars.layerConf(effPath, 2))
      val base = graphSignals(
        graft.search.KnnGraph.graphIndexHealth(spark, effPath), k, name)
      if (hasL1 && hasL2) {
        val (l1, l2) = graft.io.Par.join2(
          graft.search.KnnGraph.graphLayerHealth(spark, effPath),
          graft.search.KnnGraph.graphLayerHealth(spark, effPath, 2))
        base.unionAll(layerSignals(l1, name))
          .unionAll(layerSignals(l2, name, 2))
      } else if (hasL1)
        base.unionAll(layerSignals(
          graft.search.KnnGraph.graphLayerHealth(spark, effPath), name))
      else base
    }
  }

  /** [[indexMaintain]] with a remedy COST estimate attached — the
    * number that lets an operator weigh urgency (severity) against
    * price: `cost_rows` = the RAW stored rows the remedy's rewrite
    * must READ (compact/retrain/rebucket scan every raw row and write
    * the survivors, so raw is the I/O bound; `re_record` rewrites only
    * the 1-row stats sidecar → 0). Every number comes from the same
    * verified health reports the signals do: IVF/IVF-PQ/SQ8/LSH row
    * counts, BM25 `n_postings`, graph `n_edge_rows`. Ranking stays
    * severity-first — cost informs the operator, it does not demote an
    * urgent remedy; an action no rule fired never appears, and a fired
    * action with no registered cost surfaces as 0 (nothing to read —
    * only `re_record` today). */
  def indexMaintainCosted(spark: org.apache.spark.sql.SparkSession,
                          ivf: Seq[(String, String)] = Nil,
                          bm25: Seq[(String, String)] = Nil,
                          graph: Seq[(String, String, Int)] = Nil,
                          ivfPq: Seq[(String, String, graft.search.Pq.Codebooks)] = Nil,
                          sq: Seq[(String, String)] = Nil,
                          lsh: Seq[(String, String)] = Nil,
                          graphLayer: Seq[(String, String)] = Nil,
                          graphLayer2: Seq[(String, String)] = Nil,
                          tokenizer: Seq[(String, String)] = Nil,
                          encoded: Seq[(String, String, String)] = Nil,
                          rules: Seq[MaintenanceRule] = DefaultRules): DataFrame = {
    val planned =
      indexMaintain(spark, ivf, bm25, graph, ivfPq, sq, lsh, graphLayer,
        graphLayer2, tokenizer, encoded, rules)
    def costRows(kind: String, name: String, health: DataFrame,
                 actions: (String, Column)*): DataFrame =
      actions.map { case (a, c) =>
        health.select(lit(kind).as("index_kind"), lit(name).as("index_name"),
          lit(a).as("action"), c.cast("long").as("cost_rows"))
      }.reduce(_ unionAll _)
    val costs =
      ivf.map { case (n, p) =>
        costRows("ivf", n, graft.search.Ann.ivfIndexHealth(spark, p),
          "retrain" -> col("n_rows"), "re_record" -> lit(0L)) } ++
      bm25.map { case (n, p) =>
        costRows("bm25", n, graft.search.Lexical.bm25IndexHealth(spark, p),
          "compact" -> col("n_postings"), "rebucket" -> col("n_postings")) } ++
      graph.map { case (n, p, _) =>
        costRows("graph", n, graft.search.KnnGraph.graphIndexHealth(spark, p),
          "compact" -> col("n_edge_rows")) } ++
      ivfPq.map { case (n, p, _) =>
        costRows("ivfpq", n,
          graft.search.Ann.ivfIndexHealth(spark, graft.search.CodedIvf.codes(p)),
          "retrain" -> col("n_rows")) } ++
      sq.map { case (n, p) =>
        costRows("sq8", n, graft.search.Sq.ivfSqHealth(spark, p),
          "retrain" -> col("n_rows"), "compact" -> col("n_rows"),
          "re_record" -> lit(0L)) } ++
      lsh.map { case (n, p) =>
        costRows("lsh", n, graft.search.Ann.lshIndexHealth(spark, p),
          "compact" -> col("n_rows")) } ++
      graphLayer.map { case (n, p) =>
        // a relayer scans the nodes side to re-sample: read cost = n
        costRows("graph", n, graft.search.KnnGraph.graphLayerHealth(spark, p),
          "relayer" -> col("n_nodes")) } ++
      graphLayer2.map { case (n, p) =>
        costRows("graph", n,
          graft.search.KnnGraph.graphLayerHealth(spark, p, 2),
          "relayer2" -> col("n_nodes")) } ++
      tokenizer.map { case (n, p) =>
        // a retrain's word dict is one pass over everything observed
        costRows("tokenizer", n,
          spark.read.parquet(s"$p.seen")
            .agg(org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)).as("n_seen")),
          "retrain" -> col("n_seen")) } ++
      encoded.map { case (n, p, _) =>
        // a re-encode re-reads the store's own corpus
        costRows("encoded", n,
          spark.read.parquet(s"$p.docs")
            .agg(org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)).as("n_docs")),
          "reencode" -> col("n_docs")) }
    planned.join(broadcast(costs.reduce(_ unionAll _)),
        Seq("index_kind", "index_name", "action"), "left")
      .select(col("priority"), col("index_kind"), col("index_name"),
        col("action"), col("signal"), col("value"), col("threshold"),
        col("severity"), coalesce(col("cost_rows"), lit(0L)).as("cost_rows"))
      .orderBy(col("priority"))
  }
}
