package graft.analysis

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.text.TextAnalysis

/** Count-min frequency sketch (Cormode & Muthukrishnan 2005) over the
  * engine's portable polynomial hash — the bounded-state twin of the
  * exact `top_terms` aggregation, completing the sketch family
  * (`kmv_distinct` for cardinality, `percentile_sketch` for quantiles,
  * `bloom_prefilter` for membership, this for frequency).
  *
  * State is `depth × width` counter cells REGARDLESS of key
  * cardinality; cells are sums, so partial aggregation combines
  * map-side and two sketches over disjoint corpora merge by adding
  * cells ([[merge]]) — the associative/commutative shape that
  * parallelizes on any cluster. Estimates are upper bounds
  * (`est >= true count`, over-counting only from hash collisions —
  * spec-pinned), and because every cell index comes from the portable
  * hash family (`(fp·a + b + row·c) mod p mod width` on the
  * [[TextAnalysis.fingerprint]] key, [[graft.functions.KmvSketch.hash]]
  * seed family), the ESTIMATE itself replays bit-for-bit in any SQL
  * engine — no implementation-defined sketch state, same contract that
  * made `approx_distinct_parts` hash-checkable.
  *
  * At 100 TB: the exact top-terms groupBy shuffles one row per
  * distinct term (web-scale corpora: billions); the sketch shuffles at
  * most `depth·width` cells per map task, and the heavy-hitter probe
  * joins candidates against a broadcast-sized cell table.
  */
object FreqSketch {
  private val P = 1000000007L

  /** Cell column for hash row `row` — one member of the pairwise
    * independent family, seeded per row by the 104729 prime stride. */
  private def cell(fp: Column, row: Column, width: Int): Column =
    (fp * lit(2654435761L) + lit(7919L) + row * lit(104729L)) % lit(P) % lit(width)

  /** SQL fragment computing [[cell]] — kept beside the Scala so the
    * two can't drift (the `KmvSketch.hashSql` convention). `fp` and
    * `row` are SQL expressions. */
  def cellSql(fp: String, row: String, width: Int): String =
    s"(($fp) * 2654435761 + 7919 + ($row) * 104729) % 1000000007 % $width"

  /** Build the sketch: one `(row, col) -> cnt` cell table with at most
    * `depth·width` rows. The depth-way explode happens map-side and
    * collapses into per-task partial cells before any shuffle. */
  def sketch(items: DataFrame, termCol: String, depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && width >= 2, s"depth >= 1, width >= 2: $depth x $width")
    items
      .filter(col(termCol).isNotNull) // NULL keys are ignored, like count(col)
      .select(TextAnalysis.fingerprint(col(termCol)).as("__fp"))
      .select(explode(sequence(lit(0L), lit(depth - 1L))).as("__row"), col("__fp"))
      .groupBy(col("__row"), cell(col("__fp"), col("__row"), width).as("__col"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Merge two sketches built with the same geometry: cell-wise sum —
    * the distributed-corpus composition (build per shard, add). */
  def merge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("__row", "__col").agg(sum("cnt").as("cnt"))

  /** Sketch-based equi-JOIN-SIZE estimation (Cormode & Muthukrishnan's
    * count-min inner product — the AGMS-style estimator an optimizer
    * consults before choosing a join strategy): the true size is
    * `Σ_k fA(k)·fB(k)`, and `min over hash rows of the cell-wise
    * inner product` upper-bounds it (collisions only ADD non-negative
    * cross terms — same one-sided guarantee as the point estimate).
    * Cost: `depth·width` cells per side instead of a group-count join
    * over every distinct key; the cell join is sketch-sized. Keys are
    * string-fingerprinted like every sketch probe, so the estimate
    * replays bit-for-bit in the oracle. */
  def joinSizeEstimate(a: DataFrame, aKey: String, b: DataFrame, bKey: String,
                       depth: Int, width: Int): DataFrame = {
    val sa = sketch(a.select(col(aKey).cast("string").as("__k")), "__k",
      depth, width)
    val sb = sketch(b.select(col(bKey).cast("string").as("__k")), "__k",
      depth, width)
    sa.as("x").join(sb.as("y"), Seq("__row", "__col"))
      .groupBy(col("__row"))
      .agg(sum(col("x.cnt") * col("y.cnt")).as("__ip"))
      .agg(min(col("__ip")).as("join_size_est"))
  }

  /** Point-query the sketch for every distinct probe term:
    * `est = min over rows of the term's cell` (0 when a cell was never
    * touched). The sketch side is at most `depth·width` rows —
    * broadcast — so probing any number of candidates is a map-side
    * join. */
  def estimate(sk: DataFrame, probes: DataFrame, termCol: String,
               depth: Int, width: Int): DataFrame =
    probes
      .filter(col(termCol).isNotNull)
      .select(col(termCol)).distinct()
      .withColumn("__fp", TextAnalysis.fingerprint(col(termCol)))
      .withColumn("__row", explode(sequence(lit(0L), lit(depth - 1L))))
      .withColumn("__col", cell(col("__fp"), col("__row"), width))
      .join(broadcast(sk), Seq("__row", "__col"), "left")
      .groupBy(col(termCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))

  /** Top-k terms by estimated frequency — the heavy-hitters endpoint.
    * Total order `(est DESC, term ASC)`; distributed top-k, never a
    * global sort. */
  def heavyHitters(items: DataFrame, termCol: String, depth: Int,
                   width: Int, k: Int): DataFrame = {
    val sk = sketch(items, termCol, depth, width)
    estimate(sk, items, termCol, depth, width)
      .orderBy(col("est").desc, col(termCol).asc)
      .limit(k)
  }

  /** Per-group heavy hitters with per-group bounded state: one sketch
    * per `groupCol` value (state = groups × depth × width, the
    * `kmv_distinct` grouped precedent), probed by each group's own
    * candidates, top-k per group by a keyed window — per-domain
    * vocabulary profiling where the exact per-group term counts would
    * shuffle a row per (group, term). */
  def heavyHittersByGroup(items: DataFrame, groupCol: String, termCol: String,
                          depth: Int, width: Int, k: Int): DataFrame = {
    require(depth >= 1 && width >= 2, s"depth >= 1, width >= 2: $depth x $width")
    val clean = items.filter(col(termCol).isNotNull)
    val sk = clean
      .select(col(groupCol), TextAnalysis.fingerprint(col(termCol)).as("__fp"))
      .select(col(groupCol),
        explode(sequence(lit(0L), lit(depth - 1L))).as("__row"), col("__fp"))
      .groupBy(col(groupCol), col("__row"),
        cell(col("__fp"), col("__row"), width).as("__col"))
      .agg(count(lit(1)).as("cnt"))
    val est = clean
      .select(col(groupCol), col(termCol)).distinct()
      .withColumn("__fp", TextAnalysis.fingerprint(col(termCol)))
      .withColumn("__row", explode(sequence(lit(0L), lit(depth - 1L))))
      .withColumn("__col", cell(col("__fp"), col("__row"), width))
      .join(sk, Seq(groupCol, "__row", "__col"), "left")
      .groupBy(col(groupCol), col(termCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col("est").desc, col(termCol).asc)
    est.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .select(col(groupCol), col("__rk").cast("long").as("rk"),
        col(termCol), col("est"))
  }

  // ---- persisted sketch store: because cells are SUMS, the append
  // path needs no read-modify-write — delta cell rows land next to the
  // base rows and the read side aggregates. The ingest-once/query-many
  // shape the BM25 and IVF indexes already follow, at sketch size.

  /** Write a fresh sketch store: `cells/` (append-mergeable rows) +
    * `config/` (one (depth, width) row — the geometry guard). Resets
    * the store's sidecars ([[graft.store.Sidecars]]) like every build. */
  def writeSketch(items: DataFrame, termCol: String, depth: Int, width: Int,
                  path: String): Unit = {
    val spark = items.sparkSession
    import spark.implicits._
    graft.store.Sidecars.reset(spark, path)
    sketch(items, termCol, depth, width)
      .write.mode("overwrite").parquet(s"$path/cells")
    Seq((depth, width)).toDF("depth", "width")
      .write.mode("overwrite").parquet(s"$path/config")
  }

  /** The store's geometry, failing loudly on a missing/inconsistent
    * store (the `bm25IndexBuckets` guard convention). */
  def sketchGeometry(spark: org.apache.spark.sql.SparkSession,
                     path: String): (Int, Int) = {
    require(graft.io.Fs.exists(spark, s"$path/config"),
      s"no sketch store at $path (write one with writeSketch)")
    val rows = spark.read.parquet(s"$path/config").distinct().collect()
    require(rows.length == 1, s"inconsistent sketch config rows at $path")
    (rows(0).getInt(0), rows(0).getInt(1))
  }

  /** Append a delta corpus into the store: build the delta's cells with
    * the STORE's geometry and drop the rows next to the base cells —
    * no read-modify-write, merge happens at read time (cells are
    * sums). Duplicate-item re-appends double-count, same contract as
    * `appendToBm25Index`. */
  def appendToSketch(items: DataFrame, termCol: String, path: String): Unit = {
    val (depth, width) = sketchGeometry(items.sparkSession, path)
    sketch(items, termCol, depth, width)
      .write.mode("append").parquet(s"$path/cells")
  }

  /** Read the store's merged cell table. */
  def readSketch(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/cells")
      .groupBy("__row", "__col").agg(sum("cnt").as("cnt"))

  /** Probe the persisted store for every distinct term of `probes`. */
  def estimateFromStore(probes: DataFrame, termCol: String, path: String): DataFrame = {
    val (depth, width) = sketchGeometry(probes.sparkSession, path)
    estimate(readSketch(probes.sparkSession, path), probes, termCol, depth, width)
  }

  /** Re-aggregate an appended store's cell rows into one compact file
    * (bounded: ≤ depth·width rows, so the driver round-trip is model-
    * state-sized) — the small-files remedy. */
  def compactSketch(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    import spark.implicits._
    val merged = readSketch(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    merged.toDF("__row", "__col", "cnt")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/cells")
  }
}
