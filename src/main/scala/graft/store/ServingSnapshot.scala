package graft.store

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, UnsafeArrayData, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.{FileStatusWithMetadata, HadoopFsRelation, InMemoryFileIndex, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types._

import graft.functions.CosineSimilarity
import graft.vector.VectorOps

/** Driver-resident serving snapshot: exact top-k over a small store
  * without a Spark scan.
  *
  * An ask on a store of a few thousand chunks is almost all fixed Spark
  * cost (job, tasks, plan); the scan itself is microseconds of JVM
  * work. So when the corpus is a bare parquet scan of one store and its
  * on-disk bytes are at most `spark.sql.autoBroadcastJoinThreshold` —
  * the size at which Spark already copies a relation to every executor;
  * -1 turns the snapshot off — the vectors are held on the driver and
  * scored there:
  *
  *  - One packed block per data file: ids and vectors as primitive
  *    arrays (`double[]`, float vectors widened exactly), the other
  *    columns as one compact row each. Never boxed `Row`s of doubles.
  *  - The cache is keyed by the store's root path and holds one
  *    generation (file listing) per path. A new generation reads only
  *    the files the old one lacks, on the driver with the relation's
  *    own parquet reader (no Spark job); deleted files' blocks are
  *    dropped. Total held bytes are bounded by a quarter of
  *    the driver heap, least recently used paths evicted first. It is
  *    a bounded serving cache, not a collect of the data path: a store
  *    past the bound takes the partitioned Spark plan.
  *  - Scores use the cosine kernel's own loop
  *    ([[CosineSimilarity.packed]]; many queries share one pass over
  *    the held rows) and [[VectorOps.round6]]; the order
  *    is Spark's `sim DESC NULLS LAST, id ASC NULLS FIRST` with NaN
  *    above every number. A raw sim more than 1e-6 below the current
  *    k-th skips the round-6 (a `BigDecimal` round trip) and the
  *    candidate: rounding cannot lift it past the k-th. So the result
  *    equals the Spark plan's, row for row, and comes back as a
  *    single-partition frame with the Spark plan's schema: an aggregate
  *    over it is one job of one task.
  *
  * Readers, all through [[serve]] and all under the same bound (the
  * store's on-disk bytes at most `spark.sql.autoBroadcastJoinThreshold`):
  * `Search.knn`, the IVF probe, the batch `Search.similarityJoin`, and
  * both steps of an IVF build: the k-means (`Ann.kmeansCentroids`),
  * which runs its whole Lloyd loop over the held vectors
  * ([[Served.held]]), and the index write (`Ann.buildIvfIndex`, through
  * [[serveRows]]), which assigns the held vectors and writes every held
  * row ([[Served.values]]) grouped by cluster.
  */
object ServingSnapshot {

  /** One held data file's ids and vectors, for a driver pass over the
    * held vectors (k-means, the IVF build's assignment). Row `i`'s id
    * is `ids(i)`, NULL when `idNull(i)`; its vector is
    * `vec[off(i), off(i + 1))`, an empty range when the vector is NULL
    * or holds a NULL element. The arrays are the snapshot's own: read
    * them, never write them. */
  sealed trait Held {
    def ids: Array[Long]
    def idNull: Array[Boolean]
    def vec: Array[Double]
    def off: Array[Int]
  }

  /** One data file's rows, packed. Row `i`'s vector is
    * `vec[off(i), off(i + 1))`; rows whose vector is NULL or holds a
    * NULL element (their similarity is NULL) keep the original value in
    * `odd` instead. `rest` holds the row's other data columns; `fileLen`
    * is the file's length in bytes. */
  private final case class Block(
      ids: Array[Long], idNull: Array[Boolean], vec: Array[Double], off: Array[Int],
      odd: Map[Int, ArrayData], rest: Array[InternalRow], fileLen: Long) extends Held {
    def n: Int = ids.length
    lazy val bytes: Long = 8L * vec.length + 12L * n +
      rest.iterator.map {
        case u: org.apache.spark.sql.catalyst.expressions.UnsafeRow => u.getSizeInBytes.toLong
        case _ => 64L
      }.sum
  }

  /** File identity inside a generation: path, length and mtime. */
  private type FileKey = (String, Long, Long)

  /** One path's held generation. `layout` fixes what the blocks mean
    * (relation schema, id and vector columns); a different layout
    * discards them. */
  private final class Entry(val layout: Layout, val reader: Reader,
                            val blocks: Map[FileKey, Block], val bytes: Long)

  /** Relation schema, partition schema, read options, id and vector
    * columns. */
  private type Layout = (StructType, StructType, Map[String, String], String, String)

  /** Reads one listed file (with its partition values) on the driver. */
  private type Reader = (FileStatusWithMetadata, InternalRow) => Iterator[InternalRow]

  /** Held generations by root path, in access order (LRU first). */
  private val entries = new java.util.LinkedHashMap[String, Entry](16, 0.75f, true)

  /** Exact top-`k` of `corpus` against `q` from the snapshot, or None
    * when the snapshot does not apply ([[serve]]) and the caller must
    * plan the Spark scan. */
  def topK(corpus: DataFrame, q: Array[Double], k: Int, idCol: String, vecCol: String,
           keep: Option[(String, Any => Boolean)] = None,
           dead: Long => Boolean = _ => false,
           dropCols: Set[String] = Set.empty): Option[DataFrame] =
    serve(corpus, idCol, vecCol, keep, dead, dropCols).map { s =>
      val rows = s.topK(Seq(q), k).head.map { case (values, sim) =>
        new GenericInternalRow(values :+ sim): InternalRow
      }
      PlanBridge.singlePartitionFrame(corpus.sparkSession, StructType(s.fields :+ s.sim), rows)
    }

  /** A small store's held generation, ready to score against any number
    * of query vectors: what [[topK]] and the batch similarity join
    * (`Search.similarityJoin`) read; k-means reads [[held]]. `fields`
    * are the corpus columns a result row carries; `sim` is the
    * similarity column against a non-NULL literal query (a nullable
    * query side widens its nullability). The generation is brought up
    * to date on first use of [[held]], [[rows]], [[rowBytes]] or
    * [[topK]], so a caller can still refuse its input before any file
    * is listed or read. The IVF build reads every held row through
    * [[values]]. */
  final class Served private[ServingSnapshot] (
      val fields: Seq[StructField], val sim: StructField,
      load: () => IndexedSeq[(Block, InternalRow)],
      getters: Seq[(Block, InternalRow, Int) => Any], dead: Long => Boolean) {

    private lazy val chosen = load()

    /** The held blocks, one per data file in listing order, before
      * tombstones drop any row. */
    def held: IndexedSeq[Held] = chosen.map(_._1)

    /** Rows held for this answer (before tombstones drop any). */
    lazy val rows: Long = chosen.iterator.map(_._1.n.toLong).sum

    /** Held bytes per row: the driver-side size of one result row's
      * corpus values, vector included. */
    def rowBytes: Long =
      if (rows == 0) 0L else chosen.iterator.map(_._1.bytes).sum / rows

    /** Each query's top-`k` rows, in Spark's order: each row's values
      * of `fields`, and its sim (null for a NULL similarity). One pass
      * over the held rows scores them all. */
    def topK(qs: Seq[Array[Double]], k: Int): Seq[Seq[(Array[Any], Any)]] =
      select(chosen.map(_._1), qs, k, dead).map(_.map { case (bi, ri, s) =>
        (values(bi, ri), if (chosen(bi)._1.odd.contains(ri)) null else s)
      })

    /** The held blocks' indices in the order a Spark scan of the store
      * reads their files: longest file first, equal lengths in listing
      * order (`FileSourceScanExec` packs files into tasks so). Rows
      * written in this order keep the order the Spark plan's shuffle
      * gives each cluster's rows, so the files come out the same. */
    def scanOrder: IndexedSeq[Int] = chosen.indices.sortBy(bi => -chosen(bi)._1.fileLen)

    /** Row `ri` of held block `bi`: its values of `fields`, the vector
      * rebuilt in its stored element type. */
    def values(bi: Int, ri: Int): Array[Any] = {
      val (b, pv) = chosen(bi)
      getters.iterator.map(_(b, pv, ri)).toArray
    }
  }

  /** The snapshot of `corpus` (brought up to its current generation on
    * first use, see [[Served]]), or None when the snapshot does not apply (not a bare store scan, over
    * the size bound, or column types it does not hold). `keep` selects
    * blocks by the value of one partition column, `dead` drops ids
    * (tombstones), `dropCols` leaves columns out of the result — the
    * probe of a materialized IVF index. */
  def serve(corpus: DataFrame, idCol: String, vecCol: String,
            keep: Option[(String, Any => Boolean)] = None,
            dead: Long => Boolean = _ => false,
            dropCols: Set[String] = Set.empty): Option[Served] =
    for {
      (rel, output) <- bareScan(corpus)
      spark = corpus.sparkSession
      threshold = PlanBridge.autoBroadcastJoinThreshold(spark)
      if threshold >= 0 && rel.location.sizeInBytes <= threshold
      vecField <- output.find(_.name == vecCol)
      vecType <- Some(vecField.dataType).collect {
        case a @ ArrayType(FloatType | DoubleType, _) => a
      }
      idField <- output.find(_.name == idCol)
      if isIntegral(idField.dataType)
      if !rel.partitionSchema.fieldNames.exists(n => n == idCol || n == vecCol)
      partOk <- keep.fold(Option((_: InternalRow) => true)) { case (name, ok) =>
        indexOf(rel.partitionSchema, name).map { i =>
          val dt = rel.partitionSchema(i).dataType
          (pv: InternalRow) => ok(pv.get(i, dt))
        }
      }
    } yield {
      def chosen(): IndexedSeq[(Block, InternalRow)] = {
        val dirs = rel.location.listFiles(Nil, Nil)
        val blocks = refresh(spark, rel, output, dirs, idCol, vecCol)
        dirs.filter(d => partOk(d.values))
          .flatMap(d => d.files.map(f => (blocks(key(f.fileStatus)), d.values))).toIndexedSeq
      }
      val outFields = output.filterNot(f => dropCols(f.name))
      val sim = StructField("sim", DoubleType, vecField.nullable || vecType.containsNull)
      val rest = restCols(output, vecCol, rel)
      val isFloat = vecType.elementType == FloatType
      val getters: Seq[(Block, InternalRow, Int) => Any] = outFields.map { f =>
        indexOf(rel.partitionSchema, f.name) match {
          case Some(pi) => (_: Block, pv: InternalRow, _: Int) => pv.get(pi, f.dataType)
          case None if f.name == vecCol => (b: Block, _: InternalRow, ri: Int) => vectorOf(b, ri, isFloat)
          case None =>
            val ord = rest.indexOf(f.name)
            (b: Block, _: InternalRow, ri: Int) => b.rest(ri).get(ord, f.dataType)
        }
      }
      new Served(outFields, sim, () => chosen(), getters, dead)
    }

  /** [[serve]] for a reader of every held row that needs no id (the IVF
    * build): its id column is the one of the generation already held
    * for the store over the same columns, so it reuses what k-means
    * loaded, else the first integral data column. */
  private[graft] def serveRows(corpus: DataFrame, vecCol: String): Option[Served] =
    bareScan(corpus).flatMap { case (rel, output) =>
      val root = rel.location.rootPaths.head.toString
      val parts = rel.partitionSchema
      entries.synchronized(Option(entries.get(root))).map(_.layout).collect {
        case (o, p, opts, id, v) if (o, p, opts, v) == ((output, parts, rel.options, vecCol)) => id
      }.orElse(output.find(f => isIntegral(f.dataType) && !parts.fieldNames.contains(f.name))
        .map(_.name))
    }.flatMap(serve(corpus, _, vecCol))

  /** The ids of a bare scan (tombstones), as longs. None when the
    * column is not integral. One collect per generation: the result is
    * cached with the frame [[CorpusStore.load]] hands out per
    * generation. */
  def idSet(df: DataFrame): Option[Set[Long]] = {
    val f = df.schema.head
    if (!isIntegral(f.dataType)) None
    else idSets.synchronized(Option(idSets.get(df))).orElse {
      val ids = df.select(col(quoted(f.name)).cast(LongType)).distinct().collect()
        .iterator.filterNot(_.isNullAt(0)).map(_.getLong(0)).toSet
      idSets.synchronized(idSets.put(df, ids))
      Some(ids)
    }
  }
  private val idSets = new java.util.WeakHashMap[DataFrame, Set[Long]]()

  // ------------------------------------------------------------- internals

  private def isIntegral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  private def indexOf(schema: StructType, name: String): Option[Int] =
    Some(schema.fieldNames.indexOf(name)).filter(_ >= 0)

  private def quoted(name: String): String = "`" + name.replace("`", "``") + "`"

  /** The relation and its output schema when `df` is a bare scan of
    * ONE parquet store (directory or single file). */
  private def bareScan(df: DataFrame): Option[(HadoopFsRelation, StructType)] =
    df.queryExecution.analyzed match {
      case lr: LogicalRelation if !lr.isStreaming => lr.relation match {
        case h: HadoopFsRelation if h.fileFormat.isInstanceOf[ParquetFileFormat] &&
            h.bucketSpec.isEmpty && h.location.isInstanceOf[InMemoryFileIndex] &&
            h.location.rootPaths.size == 1 =>
          Some((h, df.schema))
        case _ => None
      }
      case _ => None
    }

  private def key(f: org.apache.hadoop.fs.FileStatus): FileKey =
    (f.getPath.toString, f.getLen, f.getModificationTime)

  /** The data columns held in `rest`, in relation order. */
  private def restCols(output: StructType, vecCol: String, rel: HadoopFsRelation): Seq[String] =
    output.fieldNames.toSeq.filterNot(n => n == vecCol || rel.partitionSchema.fieldNames.contains(n))

  /** Bring `rel`'s held generation up to `dirs`: keep the blocks of
    * files still listed, read the missing files, drop the rest, then
    * evict least recently used paths past the budget. */
  private def refresh(spark: SparkSession, rel: HadoopFsRelation, output: StructType,
                      dirs: Seq[PartitionDirectory], idCol: String,
                      vecCol: String): Map[FileKey, Block] = {
    val root = rel.location.rootPaths.head.toString
    val layout: Layout = (output, rel.partitionSchema, rel.options, idCol, vecCol)
    val held = entries.synchronized(Option(entries.get(root))).filter(_.layout == layout)
    val heldBlocks = held.map(_.blocks).getOrElse(Map.empty)
    val wanted = dirs.flatMap(_.files.map(f => key(f.fileStatus))).toSet
    val missing = dirs.map(d => PartitionDirectory(d.values,
      d.files.filterNot(f => heldBlocks.contains(key(f.fileStatus))))).filter(_.files.nonEmpty)
    if (missing.isEmpty && heldBlocks.size == wanted.size) return heldBlocks
    val rest = restCols(output, vecCol, rel)
    val required = StructType((rest :+ vecCol).map(output(_)))
    val reader = held.map(_.reader).getOrElse(PlanBridge.fileReader(spark, rel, required))
    val blocks = heldBlocks.filter { case (k, _) => wanted(k) } ++
      load(reader, missing, required, rest, idCol, output(idCol).dataType)
    val entry = new Entry(layout, reader, blocks, blocks.valuesIterator.map(_.bytes).sum)
    entries.synchronized {
      entries.put(root, entry)
      val budget = Runtime.getRuntime.maxMemory / 4
      var total = entries.values.asScala.iterator.map(_.bytes).sum
      val it = entries.entrySet.iterator
      while (total > budget && it.hasNext) {
        val e = it.next()
        if (e.getKey != root) { total -= e.getValue.bytes; it.remove() }
      }
    }
    blocks
  }

  /** Read `dirs`' files on the driver with the relation's own parquet
    * reader, one packed block per file, no Spark job: the store is
    * bounded by the size Spark itself would read whole to copy to every
    * executor. */
  private def load(read: Reader, dirs: Seq[PartitionDirectory], required: StructType,
                   rest: Seq[String], idCol: String, idType: DataType): Map[FileKey, Block] = {
    val restRow = UnsafeProjection.create(rest.indices.map(i =>
      BoundReference(i, required(i).dataType, nullable = true)))
    val isFloat = required.last.dataType.asInstanceOf[ArrayType].elementType == FloatType
    dirs.flatMap(d => d.files.map(f =>
      key(f.fileStatus) -> pack(read(f, d.values), restRow, rest.size, rest.indexOf(idCol),
        idType, isFloat, f.getLen))).toMap
  }

  /** One file's rows `(rest columns..., vector)` → its packed block. */
  private def pack(rows: Iterator[InternalRow], restRow: UnsafeProjection, vecOrd: Int,
                   idOrd: Int, idType: DataType, isFloat: Boolean, fileLen: Long): Block = {
    val ids = mutable.ArrayBuilder.make[Long]
    val idNull = mutable.ArrayBuilder.make[Boolean]
    val vec = mutable.ArrayBuilder.make[Double]
    val off = mutable.ArrayBuilder.make[Int]
    val odd = mutable.Map.empty[Int, ArrayData]
    val rest = mutable.ArrayBuilder.make[InternalRow]
    var n = 0
    var len = 0
    off += 0
    rows.foreach { row =>
      val r = restRow(row).copy()
      val nullId = r.isNullAt(idOrd)
      idNull += nullId
      ids += (if (nullId) 0L else idType match {
        case LongType => r.getLong(idOrd)
        case IntegerType => r.getInt(idOrd).toLong
        case ShortType => r.getShort(idOrd).toLong
        case _ => r.getByte(idOrd).toLong
      })
      rest += r
      if (row.isNullAt(vecOrd)) odd(n) = null
      else {
        val a = row.getArray(vecOrd)
        val m = a.numElements()
        var hasNull = false
        var i = 0
        while (i < m && !hasNull) { hasNull = a.isNullAt(i); i += 1 }
        if (hasNull) odd(n) = a.copy()
        else {
          i = 0
          while (i < m) { vec += (if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)); i += 1 }
          len += m
        }
      }
      off += len
      n += 1
    }
    Block(ids.result(), idNull.result(), vec.result(), off.result(), odd.toMap, rest.result(),
      fileLen)
  }

  private def vectorOf(b: Block, i: Int, isFloat: Boolean): Any =
    b.odd.get(i) match {
      case Some(a) => a
      case None =>
        val d = java.util.Arrays.copyOfRange(b.vec, b.off(i), b.off(i + 1))
        if (isFloat) UnsafeArrayData.fromPrimitiveArray(d.map(_.toFloat))
        else UnsafeArrayData.fromPrimitiveArray(d)
    }

  /** Each query's top-k `(block, row, sim)` in Spark's order: sim DESC
    * with NaN first and NULL (held as NaN + an odd row) last, then id
    * ASC with NULL first. One pass over the held rows serves every
    * query. */
  private def select(blocks: Seq[Block], qs: Seq[Array[Double]], k: Int,
                     dead: Long => Boolean): Seq[Seq[(Int, Int, Double)]] = {
    // a top never holds more than the held rows, however large k is
    val cap = math.min(k.toLong, blocks.iterator.map(_.n.toLong).sum).toInt
    if (cap <= 0 || qs.isEmpty) return qs.map(_ => Nil)
    // candidate: block, row, sim, simNull, id, idNull
    final case class C(bi: Int, ri: Int, sim: Double, simNull: Boolean, id: Long, idNull: Boolean)
    def before(a: C, b: C): Boolean =
      if (a.simNull != b.simNull) b.simNull
      else {
        val c = if (a.simNull || a.sim == b.sim) 0 else java.lang.Double.compare(a.sim, b.sim)
        if (c != 0) c > 0
        else if (a.idNull != b.idNull) a.idNull
        else a.id < b.id
      }
    val queries = qs.toArray
    val tops = Array.fill(queries.length)(new Array[C](cap))
    val sizes = new Array[Int](queries.length)
    var bi = 0
    while (bi < blocks.size) {
      val b = blocks(bi)
      val hasOdd = b.odd.nonEmpty
      var ri = 0
      while (ri < b.n) {
        val idNull = b.idNull(ri)
        if (idNull || !dead(b.ids(ri))) {
          val simNull = hasOdd && b.odd.contains(ri)
          val off = b.off(ri)
          val n = b.off(ri + 1) - off
          var qi = 0
          while (qi < queries.length) {
            val top = tops(qi)
            val size = sizes(qi)
            val raw = if (simNull) Double.NaN else CosineSimilarity.packed(b.vec, off, n, queries(qi))
            // round6 moves a sim by at most 5e-7 and never reorders two, so
            // a raw sim more than 1e-6 below the k-th rounded sim cannot
            // rank; NaN sims, and NULL ones (held as NaN), are never skipped
            if (size < cap || !(raw < top(cap - 1).sim - 1e-6)) {
              val c = C(bi, ri, VectorOps.round6(raw), simNull, b.ids(ri), idNull)
              if (size < cap || before(c, top(size - 1))) {
                var j = math.min(size, cap - 1)
                while (j > 0 && before(c, top(j - 1))) { top(j) = top(j - 1); j -= 1 }
                top(j) = c
                if (size < cap) sizes(qi) += 1
              }
            }
            qi += 1
          }
        }
        ri += 1
      }
      bi += 1
    }
    tops.indices.map(qi => tops(qi).iterator.take(sizes(qi)).map(c => (c.bi, c.ri, c.sim)).toSeq)
  }
}
