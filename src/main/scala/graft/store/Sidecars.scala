package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.io.Fs

/** The one owner of an index's SIDECARS: the state an index keeps next
  * to its data, and the three rules that keep it consistent with the
  * data. Every index family (IVF, LSH, SQ8, IVF-PQ, graph, BM25) and
  * every store builder reaches its sidecars through here, so this is
  * the one place that names them all.
  *
  * Names. Siblings of the index path `p`:
  *   - `p.tombstones` — logically deleted ids ([[addTombstones]]);
  *   - `p.rstats` — per-cluster range certificates (`mu`, `radius`);
  *   - `p.model`, `p.stats` — centroid table and drift baseline;
  *   - `p.qstats` — IVF-PQ reconstruction-error baseline;
  *   - `p.oplog`, `p.resolutions` — the maintenance order book and its
  *     drain acknowledgements;
  *   - `p.nodes`, `p.layer1[_conf]`, `p.layer2[_conf]` — a graph
  *     index's node table and coarse routing layers.
  * Inside the index directory: `p/_applied_batches` (streaming replay
  * markers) and BM25's `p/tombstones` (`(id, dl)` rows).
  *
  * The list is explicit, never a `p.*` prefix: other siblings of `p`
  * are not the index's state and may be the very input of a write at
  * `p` (a BM25 index built at `p` from the snapshot store `p.snaps`).
  *
  * Rules. The reference resets its store with one assignment
  * (`vectorDb.ts:54-56`, `chunks = []`); an index here has state on
  * both sides of its directory, so a reset names every sidecar:
  *
  *  - [[reset]]: a write that REPLACES an index's contents (a build, a
  *    retrain, the destination of a compact or a rebucket) deletes
  *    every named sidecar first. An overwrite replaces the data
  *    directory, not its siblings, so without it a reused path keeps
  *    the previous generation's state and answers wrong without any
  *    error: stale tombstones anti-join valid rows out of the new
  *    index (and, for BM25, subtract their corpus stats); stale range
  *    certificates let a range search prune clusters whose new
  *    contents exceed the old bounds; a stale model or baseline makes
  *    a drift read compare against another build; a stale order book
  *    merges old orders into the new stream's (stream batch ids
  *    restart at 0, so old rows look new, and a stale `.resolutions`
  *    with a high drained-through batch silently closes the new
  *    generation's firings); stale replay markers swallow a new
  *    stream's first micro-batches; a stale graph layer routes walks
  *    through another corpus's nodes. With the sidecar gone, each of
  *    these reads fails loudly instead, until the state is recorded
  *    again for the new contents.
  *  - [[appended]]: an append deletes the certificates that hold only
  *    for the old contents — `.rstats`, whose radius appended rows may
  *    exceed. Deletes only shrink clusters, so tombstones keep every
  *    certificate sound and need no reset.
  *  - [[carry]]: a compact moves bytes, not contents, so the sidecars
  *    that describe contents (`.model`, `.stats`, `.qstats`) stay
  *    valid on the compacted generation and are copied to the
  *    destination (drift reads already exclude tombstoned rows). Each
  *    is copied only if it exists at the source: a model is written
  *    before its stats, and a crash between the two must not fail the
  *    compact. The destination was reset first, so a source that
  *    never recorded a baseline leaves none behind.
  *
  * Composed stores (SQ8, IVF-PQ) apply each rule at the store path and
  * at `p/codes`, whose IVF layout holds the codes side's tombstones,
  * certificates and error baseline.
  *
  * Tombstones are bounded by contract (deletes are batched and
  * compacted away), so probes may broadcast them. They are read through
  * [[CorpusStore.load]], which runs no schema-inference job.
  */
object Sidecars {

  def tombstones(path: String): String = s"$path.tombstones"
  def rstats(path: String): String = s"$path.rstats"
  def model(path: String): String = s"$path.model"
  def stats(path: String): String = s"$path.stats"
  def qstats(path: String): String = s"$path.qstats"
  def oplog(path: String): String = s"$path.oplog"
  def resolutions(path: String): String = s"$path.resolutions"
  def nodes(path: String): String = s"$path.nodes"
  def layer(path: String, level: Int): String = s"$path.layer$level"
  def layerConf(path: String, level: Int): String = s"$path.layer${level}_conf"
  def appliedBatches(path: String): String = s"$path/_applied_batches"
  def bm25Tombstones(path: String): String = s"$path/tombstones"

  /** Every sidecar of `path`, in the order [[reset]] deletes them. */
  def all(path: String): Seq[String] =
    Seq(tombstones(path), rstats(path), model(path), stats(path), qstats(path),
      oplog(path), resolutions(path), nodes(path), layer(path, 1), layerConf(path, 1),
      layer(path, 2), layerConf(path, 2), appliedBatches(path), bm25Tombstones(path))

  /** Delete every sidecar of `path`: call before a write that replaces
    * the index's contents. */
  def reset(spark: SparkSession, path: String): Unit =
    all(path).foreach(Fs.delete(spark, _))

  /** Delete the sidecars an append to `path` invalidates. */
  def appended(spark: SparkSession, path: String): Unit =
    Fs.delete(spark, rstats(path))

  /** Copy the contents-describing sidecars that exist at `src` to
    * `dst`, model first. */
  def carry(spark: SparkSession, src: String, dst: String): Unit =
    Seq[String => String](model, stats, qstats).foreach { side =>
      if (Fs.exists(spark, side(src)))
        CorpusStore.load(spark, side(src)).coalesce(1)
          .write.mode("overwrite").parquet(side(dst))
    }

  /** Append `rows` to the tombstone set at `at` ([[tombstones]] or
    * [[bm25Tombstones]] of an index). */
  def addTombstones(rows: DataFrame, at: String): Unit =
    rows.write.mode("append").parquet(at)

  /** The raw tombstone rows at `at`, or None when nothing was deleted.
    * Rows may repeat (a delete is idempotent). */
  def readTombstones(spark: SparkSession, at: String): Option[DataFrame] =
    if (!Fs.exists(spark, at)) None else Some(CorpusStore.load(spark, at))
}
