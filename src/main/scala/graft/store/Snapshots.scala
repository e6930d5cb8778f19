package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** NAMED corpus snapshots — the reference's reset-per-upload lifecycle
  * (`/root/reference/App.tsx:41`: one corpus live at a time, history
  * destroyed on every upload) generalized to a multi-corpus store that
  * KEEPS history: each upload lands as a named snapshot, any snapshot
  * stays independently queryable, and any two diff against each other.
  *
  * Layout: one parquet table partitioned by `__snap`, so
  *   - reading a snapshot is PARTITION PRUNING (the scan opens only
  *     that snapshot's directory — file skipping, not filtering);
  *   - writing a snapshot is a pure append of a new partition — no
  *     rewrite of history, safe for concurrent readers of older names;
  *   - a snapshot's name doubles as its retention unit: dropping one
  *     is deleting one directory.
  *
  * At 100 TB each snapshot directory carries its own file statistics;
  * a diff of two snapshots scans exactly two partitions and shuffles
  * only by id. Compose with [[CorpusStore.compact]] per snapshot
  * directory for the small-files remedy.
  */
object Snapshots {

  private val SnapCol = "__snap"

  /** Write `df` as snapshot `name`. Appending an EXISTING name merges
    * into that snapshot (the [[CorpusStore.append]] semantics inside
    * one snapshot); use a fresh name for upload-as-new-corpus. */
  def write(df: DataFrame, path: String, name: String): Unit = {
    require(!name.contains("/") && name.nonEmpty, s"snapshot name must be a simple id: $name")
    df.withColumn(SnapCol, lit(name))
      .write.partitionBy(SnapCol).mode("append").parquet(path)
  }

  /** Read one snapshot — the `__snap` filter is a partition filter, so
    * only that snapshot's files are opened (asserted via scan metrics
    * in SnapshotsSpec). */
  def read(spark: SparkSession, path: String, name: String): DataFrame =
    spark.read.parquet(path).filter(col(SnapCol) === name).drop(SnapCol)

  /** Snapshot names present in the store, from partition-directory
    * listing only — a real filesystem listing (Spark's metadata-only
    * distinct is disabled by default, so a DataFrame distinct over the
    * partition column would scan the store's files). Partition
    * directory names are Hive-escaped by the writer (`%XX` for the
    * chars in its escape set); decode ONLY `%XX` sequences — a full
    * URL decode would also turn a literal `+` into a space, and the
    * writer never escapes `+`, so `v1+hotfix` would list back as
    * `v1 hotfix`. */
  def names(spark: SparkSession, path: String): Seq[String] =
    graft.io.Fs.listDirNames(spark, path)
      .filter(_.startsWith(s"$SnapCol="))
      .map(n => unescapePathName(n.stripPrefix(s"$SnapCol=")))
      .sorted

  /** Retention: drop every snapshot except the `keep`
    * lexicographically-LAST names (snapshot names are the retention
    * order — use sortable names: dates, zero-padded versions), by
    * deleting those partitions' directories — O(dropped dirs), no
    * rewrite of surviving history, safe for readers of kept names.
    * Returns the dropped names (empty when nothing expires). */
  def expire(spark: SparkSession, path: String, keep: Int): Seq[String] = {
    require(keep >= 1, s"keep >= 1: $keep")
    val raw = graft.io.Fs.listDirNames(spark, path)
      .filter(_.startsWith(s"$SnapCol="))
    val dropped = raw
      .map(r => unescapePathName(r.stripPrefix(s"$SnapCol=")) -> r)
      .sortBy(_._1).dropRight(keep)
    dropped.foreach { case (_, r) => graft.io.Fs.delete(spark, s"$path/$r") }
    dropped.map(_._1)
  }

  /** Retention by AGE — the compliance contract [[expire]]'s
    * keep-last-N cannot express ("delete everything older than 90
    * days"): drop every snapshot whose last write predates
    * `cutoffMillis` (epoch ms). Age is the filesystem's, not the
    * name's — max file mtime inside the partition directory
    * ([[graft.io.Fs.dirLastWriteMillis]]), so appending into an old
    * snapshot refreshes it (it was written to, so it is not stale)
    * and non-sortable names work. Partition-directory deletes only;
    * survivors are untouched and stay readable throughout. Returns
    * the dropped names. The cutoff is caller-supplied (`now − ttl`)
    * — retention policy is deployment state, not library state. */
  def expireOlderThan(spark: SparkSession, path: String,
                      cutoffMillis: Long): Seq[String] = {
    val dropped = graft.io.Fs.listDirNames(spark, path)
      .filter(_.startsWith(s"$SnapCol="))
      .filter(r => graft.io.Fs.dirLastWriteMillis(spark, s"$path/$r") < cutoffMillis)
    dropped.foreach(r => graft.io.Fs.delete(spark, s"$path/$r"))
    dropped.map(r => unescapePathName(r.stripPrefix(s"$SnapCol="))).sorted
  }

  /** Inverse of Hive-style `escapePathName`: `%XX` (two hex digits) →
    * the char with that code; everything else — including `+` — passes
    * through verbatim. A `%` not followed by two hex digits is kept
    * literally, matching Spark's own lenient unescape. */
  private[store] def unescapePathName(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        val hi = Character.digit(s.charAt(i + 1), 16)
        val lo = Character.digit(s.charAt(i + 2), 16)
        if (hi >= 0 && lo >= 0) { sb.append(((hi << 4) + lo).toChar); i += 3 }
        else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Diff snapshot `a` → `b` by content hash: one row per id present
    * in either, with status `added` (only in b), `removed` (only in
    * a), `changed`, or `same` — the persisted-store composition of the
    * `corpus_diff` operator. Scans exactly the two snapshots'
    * partitions; the full-outer join shuffles by id only.
    *
    * The comparison key is a `(is_null, md5(coalesce(content, "")))`
    * STRUCT, not a bare `md5(content)`: md5 of a NULL content is NULL,
    * which would make a present-with-null-content row indistinguishable
    * from an ABSENT row — through [[syncBm25Index]] that row would be
    * re-appended without tombstoning its old postings, double-counting
    * n_docs/sum_dl. The struct is never null for a present row (its
    * fields encode nullness), so `isNull` on it means exactly "id
    * absent from that snapshot", and null-content vs empty-content
    * rows compare distinct. */
  def diff(spark: SparkSession, path: String, a: String, b: String,
           idCol: String, contentCol: String): DataFrame =
    diffBy(spark, path, a, b, idCol, contentCol, identity)

  /** [[diff]] with the content column passed through `render` before
    * hashing — the hook non-string corpora need: md5 takes a
    * string/binary, so a VECTOR snapshot store renders its
    * `array<float>` content via `cast(_ as string)` (deterministic
    * element formatting; the cast of a null array stays null, so the
    * null-vs-absent struct semantics of [[diff]] carry over
    * unchanged). */
  def diffBy(spark: SparkSession, path: String, a: String, b: String,
             idCol: String, contentCol: String,
             render: org.apache.spark.sql.Column => org.apache.spark.sql.Column): DataFrame = {
    def key(c: org.apache.spark.sql.Column) =
      struct(c.isNull.as("n"), md5(coalesce(render(c), lit(""))).as("h"))
    val ha = read(spark, path, a)
      .select(col(idCol), key(col(contentCol)).as("__ha"))
    val hb = read(spark, path, b)
      .select(col(idCol), key(col(contentCol)).as("__hb"))
    ha.join(hb, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__ha").isNull, "added")
          .when(col("__hb").isNull, "removed")
          .when(col("__ha") =!= col("__hb"), "changed")
          .otherwise("same").as("status"))
  }

  /** Sync a materialized BM25 index from snapshot `from` to snapshot
    * `to` — the [[diff]] applied as index maintenance, composing the
    * whole lifecycle: removed and changed docs tombstone-delete,
    * compaction applies the tombstones PHYSICALLY, then added docs and
    * the `to`-versions of changed docs append. The compact step is not
    * optional: tombstones are id-based, so re-appending a changed doc
    * before they are applied would anti-join the NEW postings away
    * too — delete → merge → add is the segment-rewrite order every
    * immutable-file index (Lucene-style) uses for updates. `srcIdx` is
    * consumed (it carries the sync's tombstones afterwards); the
    * synced index lands at `dstIdx`. Probe-for-probe ≡ a fresh build
    * on the `to` snapshot (spec-pinned, oracle-pinned). */
  def syncBm25Index(spark: SparkSession, path: String, from: String, to: String,
                    idCol: String, textCol: String,
                    srcIdx: String, dstIdx: String): Unit = {
    val d = diff(spark, path, from, to, idCol, textCol)
    graft.search.Lexical.deleteFromBm25Index(
      d.filter(col("status").isin("removed", "changed")).select(col(idCol)),
      idCol, srcIdx)
    graft.search.Lexical.compactBm25Index(spark, srcIdx, dstIdx, idCol)
    val fresh = read(spark, path, to).join(
      d.filter(col("status").isin("added", "changed")).select(col(idCol)),
      Seq(idCol), "left_semi")
    graft.search.Lexical.appendToBm25Index(fresh, textCol, idCol, dstIdx)
  }

  /** Sync a materialized IVF index from snapshot `from` to `to` — the
    * VECTOR twin of [[syncBm25Index]], closing the gap where a corpus
    * version move got a synced lexical index but left the vector side
    * to manual append/delete bookkeeping. Same delete → compact → add
    * segment-rewrite order (compact is load-bearing for the same
    * reason: tombstones are id-based, so a changed doc re-appended
    * before they apply would be anti-joined away with its old
    * version); the appended rows assign against the EXISTING `cents` —
    * sync maintains the index, it does not retrain it. `srcIdx` is
    * consumed (it carries the sync's tombstones); the synced index
    * lands at `dstIdx`, probe-for-probe ≡ a fresh
    * [[graft.search.Ann.buildIvfIndex]] on the `to` snapshot with the
    * same centroids (spec-pinned, oracle-pinned).
    *
    * Returns the post-sync [[graft.search.Ann.assignmentDrift]] report
    * when `srcIdx` carried a recorded drift baseline (`.model`/
    * `.stats` siblings — the build-time baseline moves to `dstIdx`
    * with the model the sync appended against): a sync is exactly the
    * moment the "should this have been a retrain?" scalar is due, and
    * without re-recording it here the baseline would be lost with the
    * consumed src. `None` when no baseline was ever recorded. */
  def syncIvfIndex(spark: SparkSession, path: String, from: String, to: String,
                   idCol: String, vecCol: String, cents: Seq[Seq[Double]],
                   srcIdx: String, dstIdx: String): Option[DataFrame] = {
    import spark.implicits._
    val d = diffBy(spark, path, from, to, idCol, vecCol, _.cast("string"))
    graft.search.Ann.deleteFromIvfIndex(
      d.filter(col("status").isin("removed", "changed")).select(col(idCol)),
      srcIdx, idCol)
    graft.search.Ann.compactIvfIndex(spark, srcIdx, dstIdx, idCol = idCol)
    val fresh = read(spark, path, to).join(
      d.filter(col("status").isin("added", "changed")).select(col(idCol)),
      Seq(idCol), "left_semi")
    graft.search.Ann.appendToIvfIndex(fresh, cents, dstIdx, vecCol)
    if (!graft.io.Fs.exists(spark, Sidecars.stats(srcIdx))) None
    else {
      // the compact carried the BUILD-time baseline (not a fresh one —
      // drift vs the original build is the question); the model is the
      // one the sync appended against
      cents.zipWithIndex.map { case (c, i) => (i, c) }
        .toDF("__cluster", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(Sidecars.model(dstIdx))
      Some(graft.search.Ann.assignmentDrift(spark, dstIdx, idCol, vecCol))
    }
  }

  /** [[syncIvfIndex]]'s contract on the composed IVF-PQ index
    * ([[graft.search.CodedIvf.sync]]): diff drives tombstone-delete
    * (codes side owns delete state), a BOTH-SIDES compaction
    * ([[graft.search.Pq.compactIvfPqIndex]] —
    * the vectors side must drop tombstoned ids too, or a changed doc's
    * re-append would leave two vector rows under one id and duplicate
    * the rerank output), then append against the existing centroids
    * AND codebooks. Synced ≡ fresh build on the `to` snapshot with the
    * same models (spec-pinned, oracle-pinned). */
  def syncIvfPqIndex(spark: SparkSession, path: String, from: String, to: String,
                     idCol: String, vecCol: String, cents: Seq[Seq[Double]],
                     cb: graft.search.Pq.Codebooks,
                     srcIdx: String, dstIdx: String): Unit =
    graft.search.CodedIvf.sync(spark, path, from, to, idCol, vecCol, cents,
      graft.search.CodedIvf.pq(cb), srcIdx, dstIdx)

  /** [[syncIvfPqIndex]]'s contract on the SQ8-IVF index — the middle
    * rung of the compression ladder gets the same snapshot-driven
    * maintenance as its float and PQ siblings: diff drives
    * tombstone-delete (codes side owns delete state), a BOTH-SIDES
    * compaction ([[graft.search.Sq.compactIvfSqIndex]] — the vectors
    * side must drop tombstoned ids too, or a changed doc's re-append
    * would leave two vector rows under one id and duplicate the
    * rerank output), then append against the existing centroids (SQ8
    * itself is parameterless — no codebook to carry). Synced ≡ fresh
    * build on the `to` snapshot with the same centroids (spec-pinned,
    * oracle-pinned). */
  def syncIvfSqIndex(spark: SparkSession, path: String, from: String, to: String,
                     idCol: String, vecCol: String, cents: Seq[Seq[Double]],
                     srcIdx: String, dstIdx: String): Unit =
    graft.search.CodedIvf.sync(spark, path, from, to, idCol, vecCol, cents,
      graft.search.CodedIvf.sq8, srcIdx, dstIdx)

  /** The latest row per id ACROSS a sequence of snapshots — last-wins
    * SCD-1 (the `upsert_latest` operator composed with the store):
    * snapshot order is the precedence order, later names win. */
  def latest(spark: SparkSession, path: String, order: Seq[String],
             idCol: String): DataFrame = {
    require(order.nonEmpty, "need at least one snapshot name")
    val prec = order.zipWithIndex.foldLeft(lit(-1)) {
      case (acc, (n, i)) => when(col(SnapCol) === n, lit(i)).otherwise(acc)
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__prec").desc)
    spark.read.parquet(path)
      .filter(col(SnapCol).isin(order: _*))
      .withColumn("__prec", prec)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop(SnapCol, "__prec", "__rn")
  }
}
