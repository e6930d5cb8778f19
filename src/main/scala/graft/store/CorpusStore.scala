package graft.store

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Corpus lifecycle — the Parquet-backed replacement for the reference's
  * in-memory array table (`/root/reference/services/vectorDb.ts:4-9,54-60`):
  *
  *   - `add(...)`   ⇔ `chunks.push(...)`  → append write
  *   - `reset` ⇔ `chunks = []`            → overwrite with next corpus
  *     (the reference resets before each upload, `App.tsx:41` — i.e. one
  *     corpus live at a time, overwrite-on-reload)
  *   - `isReady` ⇔ `count > 0`            → cheap head(1) probe
  *
  * Persistence is an upgrade the reference lacks (browser-tab heap,
  * `vectorDb.ts:5`); query semantics are unchanged. Writes partition by
  * an optional bucket column so a 100 TB corpus lands as prunable files.
  */
object CorpusStore {

  /** Incremental add (`vectorDb.ts:7-9`; called per embedded batch,
    * `App.tsx:79`). */
  def append(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Append)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** Reset + load new corpus in one atomic overwrite (`vectorDb.ts:54-56`
    * + `App.tsx:41` upload flow). */
  def overwrite(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** A store directory's GENERATION: its sorted data-file listing,
    * `(path, length, mtime)` per file ([[graft.io.Fs.dataFiles]]).
    * Any write that adds, replaces or deletes a file changes it. */
  type Generation = Seq[(String, Long, Long)]

  /** A handed-out relation: its generation, and the file whose footer
    * gave its schema. */
  private final case class Loaded(spark: SparkSession, gen: Generation, df: DataFrame,
                                  schema: Option[StructType], source: Option[(String, Long, Long)])

  /** The last relation handed out per path, at most [[MaxLoaded]]
    * paths, least recently loaded first out. */
  private val loaded = new java.util.LinkedHashMap[String, Loaded](16, 0.75f, true)
  private val MaxLoaded = 64

  /** The store at `path` as ONE relation per generation: a repeat load
    * of an unchanged store lists its files and returns the same frame,
    * so its plan is analyzed once. A new generation's schema comes from
    * the Spark schema one parquet footer carries (the previous
    * generation's, while the file it came from is still there), so no
    * schema-inference job runs; partition columns are still discovered
    * from the `k=v` directories the way `spark.read.parquet` does.
    * Files without that footer key (written by another engine) fall
    * back to Spark's inference. Every read of a store, and of an IVF
    * index in [[graft.search.Ann]], goes through here. */
  def load(spark: SparkSession, path: String): DataFrame = {
    val files = graft.io.Fs.dataFiles(spark, path)
    val gen: Generation = files.map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
    val prev = loaded.synchronized(Option(loaded.get(path))).filter(_.spark eq spark)
    prev match {
      // nothing listed (a missing path, a glob): Spark's own reader
      case _ if gen.isEmpty => spark.read.parquet(path)
      case Some(l) if l.gen == gen => l.df
      case _ =>
        val (schema, source) = prev.filter(_.source.exists(gen.contains)) match {
          case Some(l) => (l.schema, l.source)
          case None => (files.headOption.flatMap(footerSchema(spark, _)), gen.headOption)
        }
        val df = schema match {
          case Some(s) => spark.read.schema(s).parquet(path)
          case None => spark.read.parquet(path)
        }
        loaded.synchronized {
          loaded.put(path, Loaded(spark, gen, df, schema, source))
          if (loaded.size > MaxLoaded) loaded.remove(loaded.keySet.iterator.next())
        }
        df
    }
  }

  /** The Spark schema a Spark writer records in every parquet footer
    * (`org.apache.spark.sql.parquet.row.metadata`) — the schema
    * `spark.read.parquet` infers, read from one file on the driver. */
  private def footerSchema(spark: SparkSession,
                           file: org.apache.hadoop.fs.FileStatus): Option[StructType] = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromStatus(file, spark.sparkContext.hadoopConfiguration)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata"))
      .flatMap(json => scala.util.Try(DataType.fromJson(json)).toOption)
      .collect { case s: StructType => s }
    finally reader.close()
  }

  /** Partition BACKFILL — the lakehouse `INSERT OVERWRITE ... PARTITION`
    * dynamic mode: only the partitions PRESENT IN `df` are replaced;
    * every other partition's files are untouched (a plain Overwrite
    * would clobber the whole table — the classic reprocessing
    * footgun). This is the day-level reprocessing primitive: recompute
    * one corrupted day, write it back, nothing else moves. The mode
    * rides as a WRITER option, not a session conf, so concurrent
    * writers keep their own semantics. */
  def backfillPartitions(df: DataFrame, path: String,
                         partitionBy: Seq[String]): Unit = {
    require(partitionBy.nonEmpty, "backfill needs partition columns")
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionBy: _*)
      .parquet(path)
  }

  /** Compaction write — the small-files remedy for an incrementally
    * appended corpus. Streaming/batch appends leave one file per task
    * per trigger; at 100 TB that is millions of kilobyte files and an
    * O(files) planning cost on every read. This rewrites the corpus
    * range-clustered on `sortCol` (so min/max footer stats make range
    * predicates prune files) with `maxRecordsPerFile` bounding file
    * size WITHOUT a repartition-to-exact-count (which would either
    * skew or over-shuffle): Spark rolls to a new file within each task
    * at the cap. */
  def compact(df: DataFrame, path: String, sortCol: String,
              recordsPerFile: Long, numPartitions: Int = 0): Unit = {
    val clustered =
      if (numPartitions > 0)
        df.repartitionByRange(numPartitions, org.apache.spark.sql.functions.col(sortCol))
      else df.repartitionByRange(org.apache.spark.sql.functions.col(sortCol))
    clustered
      .sortWithinPartitions(sortCol)
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", recordsPerFile)
      .parquet(path)
  }

  /** Readiness predicate (`vectorDb.ts:58-60`): any row exists. Uses a
    * head(1) probe, not count() — no full scan. */
  def isReady(spark: SparkSession, path: String): Boolean =
    scala.util.Try(load(spark, path).head(1).nonEmpty).getOrElse(false)
}
