package graft.search

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, ExprId, GenericInternalRow}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.vector.VectorOps

/** Retrieval operators: brute-force kNN top-k, batch similarity join,
  * rank-ordered context aggregation.
  *
  * Reference semantics: `InMemoryVectorDB.search`
  * (`/root/reference/services/vectorDb.ts:11-24`) scores every chunk,
  * full-sorts desc, slices top-K. JS `Array.sort` leaves ties
  * unspecified; we define the total order `sim DESC, id ASC` (SURVEY §5).
  *
  * Scale notes:
  *  - `knn` reads the 1-row query back to the driver once
  *    ([[queryVector]]; a local frame reads back without a job) and
  *    scores it as a LITERAL. A bare scan of a small store is answered
  *    from the driver-resident serving snapshot
  *    ([[graft.store.ServingSnapshot]], bounded by
  *    `spark.sql.autoBroadcastJoinThreshold`, -1 = off) as a
  *    single-partition frame; anything else plans scan +
  *    TakeOrderedAndProject: per-partition bounded heap, driver merges
  *    k rows — strictly better than the reference's O(N log N) full
  *    sort, and embarrassingly parallel over corpus partitions. Both
  *    paths return the same rows, sims and schema.
  *  - `similarityJoin` over a bare scan of a small store (the same
  *    bound) is answered from the same snapshot: the query side is read
  *    on the driver, each query takes its top-k from the held blocks,
  *    and the result is one single-partition frame, so the per-qid
  *    aggregate of a batch RAG answer adds no exchange. A NULL or
  *    repeated `qid`, a NULL `qvec` or element, or a column name on both
  *    sides takes the Spark plan, whose window would merge or rename
  *    them; so does a query side or an estimated result past the same
  *    bound, which the driver would hold and score on one thread. That
  *    plan broadcasts the (small) query side across corpus
  *    partitions and takes each query's top-k with a window on qid; it
  *    stays the path for large stores, where holding the vectors on the
  *    driver would not fit and the scan is real work to spread over
  *    executors. For huge query sides, flip to
  *    [[similarityJoinBlocked]].
  */
object Search {

  /** The vector of a 1-row query frame (column `qvec`), read back to
    * the driver and widened to double (float elements widen exactly,
    * as in the kernels). None for a 0-row frame, whose answer is empty.
    * More than one row fails: a single-query operator would silently
    * rank against all of them. A NULL vector or element fails too. */
  def queryVector(query: DataFrame): Option[Array[Double]] = {
    val vectors: Seq[Seq[Any]] = localColumn(query, "qvec").getOrElse(
      query.select(col("qvec")).limit(2).collect().toSeq
        .map(r => if (r.isNullAt(0)) null else r.getSeq[Any](0).toSeq))
    vectors match {
      case Seq() => None
      case Seq(v) =>
        require(v != null, "the query vector (qvec) is NULL")
        require(!v.contains(null), "the query vector (qvec) holds a NULL element")
        Some(v.iterator.map(_.asInstanceOf[Number].doubleValue()).toArray)
      case _ =>
        throw new IllegalArgumentException(
          "a single-query search needs a 1-row query frame; got more than one row " +
            "(use similarityJoin for a query table)")
    }
  }

  /** [[queryVector]] for the index probes, which rank clusters before
    * they score rows: a 0-row query probes with an empty vector, and
    * the probe's own scoring of the (empty) query then yields no rows. */
  private[search] def probeVector(query: DataFrame): Seq[Double] =
    queryVector(query).getOrElse(Array.empty[Double]).toSeq

  /** The values of array column `name` of a frame built from driver
    * data ([[localSource]]), read straight from its rows — collecting it
    * would plan a query for the same values. None for any other plan. */
  private def localColumn(df: DataFrame, name: String): Option[Seq[Seq[Any]]] = {
    val plan = df.queryExecution.analyzed
    for {
      a <- plan.output.find(_.name == name)
      et <- Some(a.dataType).collect { case ArrayType(et, _) => et }
      (rel, ordinals) <- localSource(plan)
      i <- ordinals.get(a.exprId)
    } yield rel.data.map(r => if (r.isNullAt(i)) null else r.getArray(i).toSeq[Any](et))
  }

  /** The rows of a frame built from driver data ([[localSource]]), in
    * the frame's column order. None for any other plan, or when a
    * column is computed rather than selected. */
  private def localRows(df: DataFrame): Option[Seq[InternalRow]] = {
    val plan = df.queryExecution.analyzed
    localSource(plan).flatMap { case (rel, ordinals) =>
      val cols = plan.output.flatMap(a => ordinals.get(a.exprId).map(i => (i, a.dataType)))
      if (cols.size < plan.output.size) None
      else Some(rel.data.map(r =>
        new GenericInternalRow(cols.map { case (i, dt) => r.get(i, dt) }.toArray): InternalRow))
    }
  }

  /** The local relation under a frame built from driver data
    * (`Seq(...).toDF(...)`, then any chain of selections, renames and
    * aliases), with the relation ordinal of each output attribute that
    * is one of its columns. None when any other operator is in the
    * way. */
  private def localSource(plan: LogicalPlan): Option[(LocalRelation, Map[ExprId, Int])] =
    plan match {
      case rel: LocalRelation =>
        Some((rel, rel.output.iterator.zipWithIndex.map { case (a, i) => a.exprId -> i }.toMap))
      case Project(list, child) => localSource(child).map { case (rel, ordinals) =>
        (rel, list.flatMap {
          case a: Attribute => ordinals.get(a.exprId).map(a.exprId -> _)
          case al @ Alias(a: Attribute, _) => ordinals.get(a.exprId).map(al.exprId -> _)
          case _ => None
        }.toMap)
      }
      case SubqueryAlias(_, child) => localSource(child)
      case _ => None
    }

  /** Top-k most similar corpus rows to a single query vector.
    * `query` must be a 1-row DataFrame with a vector column `qvec`
    * ([[queryVector]]). Returns the corpus row plus `sim` (rounded to
    * 6), ordered `sim DESC, id ASC`.
    * Empty corpus or 0-row query → 0 rows (early return in
    * `vectorDb.ts:12-14`). */
  def knn(corpus: DataFrame, query: DataFrame, k: Int,
          idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    queryVector(query) match {
      case None => scored(corpus, Array.empty, vecCol).limit(0)
      case Some(q) =>
        graft.store.ServingSnapshot.topK(corpus, q, k, idCol, vecCol)
          .getOrElse(knnScan(corpus, q, k, idCol, vecCol))
    }

  /** [[knn]]'s partitioned Spark plan: one scan scored against the
    * literal query, then TakeOrderedAndProject. */
  private[search] def knnScan(corpus: DataFrame, q: Array[Double], k: Int,
                              idCol: String, vecCol: String): DataFrame =
    scored(corpus, q, vecCol).orderBy(col("sim").desc, col(idCol).asc).limit(k)

  private def scored(corpus: DataFrame, q: Array[Double], vecCol: String): DataFrame =
    corpus.withColumn("sim", VectorOps.cosine6(col(vecCol), typedlit(q)))

  /** Top-k over a PRE-NORMALIZED corpus: scores with the fused plain
    * dot product ([[graft.functions.DotProduct]]) — a third of the
    * multiply-adds and no per-row sqrt versus the cosine kernel, the
    * right trade at ingest-once/query-many scale. `query`'s `qvec` must
    * be normalized too ([[VectorOps.l2Normalize]]); then results equal
    * [[knn]] on the raw vectors, including the zero-vector (0.0) and
    * dim-mismatch (-1.0) edges. */
  def knnDot(corpus: DataFrame, query: DataFrame, k: Int,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queryVector(query)
    val qv = typedlit(q.getOrElse(Array.empty[Double]))
    corpus
      .withColumn("sim", round(graft.functions.DotProduct(col(vecCol), qv), 6))
      .orderBy(col("sim").desc, col(idCol).asc)
      .limit(if (q.isEmpty) 0 else k)
  }

  /** Maximal Marginal Relevance (Carbonell-Goldstein 1998) re-ranking:
    * top-k diversified results from a relevance `shortlist`. Pure
    * relevance ranking returns near-duplicates back to back; MMR picks
    * greedily by `lambda·rel − (1−lambda)·max-sim-to-already-picked`,
    * trading relevance against redundancy.
    *
    * The selection is inherently sequential in k, so it runs on the
    * DRIVER over the collected shortlist — bounded model state
    * (`shortlist` rows of one vector each, like Lloyd centroids), never
    * the corpus: the distributed work is exactly the [[knn]] shortlist
    * scan (TakeOrderedAndProject), and everything after is O(shortlist²)
    * on kilobytes. Arithmetic is the project float contract: relevance
    * and pairwise cosines round-6 (HALF_UP, the [[Ann.probeIds]]
    * precedent), scores `r6(lambda·rel − (1−lambda)·maxSim)`, ties to
    * the lower id — so a SQL engine replays the greedy fold exactly.
    * Prefer a dyadic `lambda` (0.75, 0.5) so `1 − lambda` is exact and
    * the replay can inline both factors bit-identically. */
  def mmrTopK(corpus: DataFrame, query: DataFrame, k: Int, shortlist: Int,
              lambda: Double,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && shortlist >= k, "need shortlist >= k >= 1")
    val spark = corpus.sparkSession
    import spark.implicits._
    // knn's total order (sim DESC, id ASC) survives the collect
    val sl = knn(corpus, query, shortlist, idCol, vecCol)
      .select(col(idCol).cast("long"), col("sim"), col(vecCol))
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1),
        r.getSeq[Number](2).map(_.doubleValue()).toSeq))
      .toSeq
    mmrGreedy(sl, k, lambda).toDF(idCol, "mmr_rank", "relevance", "mmr_score")
      .select(col(idCol), col("mmr_rank").cast("long"),
        col("relevance"), col("mmr_score"))
  }

  /** The sequential MMR greedy over ONE collected shortlist — shared
    * by the single-query and batch forms. Uses the shared driver-side
    * kernel pair (VectorOps): same accumulation order and HALF_UP
    * rounding as every other scorer. Returns
    * `(id, rank, relevance, score)` rows in pick order. */
  private def mmrGreedy(sl: Seq[(Long, Double, Seq[Double])], k: Int,
                        lambda: Double): Seq[(Long, Int, Double, Double)] = {
    def r6(x: Double): Double = VectorOps.round6(x)
    def cos(a: Seq[Double], b: Seq[Double]): Double = VectorOps.cosineLocal(a, b)
    val mu = 1.0 - lambda
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Double, Double)]
    val pickedVecs = scala.collection.mutable.ArrayBuffer.empty[Seq[Double]]
    val remaining = scala.collection.mutable.LinkedHashMap(
      sl.map { case (id, rel, v) => id -> ((rel, v)) }: _*)
    while (picked.size < math.min(k, sl.length)) {
      val scored = remaining.map { case (id, (rel, v)) =>
        val maxSim =
          if (pickedVecs.isEmpty) 0.0
          else pickedVecs.map(p => r6(cos(v, p))).max
        val score =
          if (pickedVecs.isEmpty) r6(lambda * rel)
          else r6(lambda * rel - mu * maxSim)
        (id, rel, score)
      }
      // rank 1 selects on the UNSCALED relevance (the oracle's pick1
      // orders by sim DESC, id ASC): round6(lambda·rel) can collapse
      // two distinct round-6 sims onto one score, and a rank-1 tie
      // broken differently would diverge the whole greedy sequence
      val (id, rel, score) =
        if (pickedVecs.isEmpty) scored.maxBy { case (i, r, _) => (r, -i) }
        else scored.maxBy { case (i, _, s) => (s, -i) }
      picked += ((id, picked.size + 1, rel, score))
      pickedVecs += remaining(id)._2
      remaining.remove(id)
    }
    picked.toSeq
  }

  /** BATCH MMR — [[mmrTopK]] over a query TABLE: ONE batch shortlist
    * ([[similarityJoin]]; never a per-query Spark job), then the
    * inherently-sequential greedy runs EXECUTOR-SIDE per qid
    * (`groupByKey(qid).flatMapGroups` over the same pure [[mmrGreedy]]
    * kernel the single-query form uses).
    * Per-group state is one shortlist (the single-query contract).
    * On the serving snapshot the shortlists are one single-partition
    * frame, so every greedy runs in one task with no exchange; the
    * snapshot only answers batches whose whole shortlist fits
    * `spark.sql.autoBroadcastJoinThreshold`, so that task is bounded.
    * A larger batch (a 100 k-query table) or store takes the per-qid
    * window plan: the driver never sees a shortlist row or a vector,
    * and the greedies parallelize over executors instead of
    * serializing through one task.
    * Batch restricted to one query ≡ [[mmrTopK]] (spec-pinned, both
    * against the driver-fold). Returns
    * `(qid, id, mmr_rank, relevance, mmr_score)`, k rows per qid. */
  def mmrTopKBatch(corpus: DataFrame, queries: DataFrame, k: Int, shortlist: Int,
                   lambda: Double,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && shortlist >= k, "need shortlist >= k >= 1")
    val spark = corpus.sparkSession
    import spark.implicits._
    similarityJoin(corpus, queries, shortlist, idCol, vecCol)
      .select(col("qid").cast("long"), col(idCol).cast("long"), col("sim"),
        col(vecCol).cast("array<double>"))
      .as[(Long, Long, Double, Seq[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        // restore the per-qid knn total order: grouping does not keep it
        val ordered = it.toSeq.sortBy(t => (-t._3, t._2))
          .map(t => (t._2, t._3, t._4))
        mmrGreedy(ordered, k, lambda).map { case (id, rank, rel, score) =>
          (qid, id, rank.toLong, rel, score)
        }
      }
      .toDF("qid", idCol, "mmr_rank", "relevance", "mmr_score")
  }

  /** Batch similarity join: for every row of `queries` (id `qid`, vector
    * `qvec`), the top-k most similar corpus rows — the corpus columns,
    * the query columns but `qvec`, `sim` (round-6 cosine) and `rank`
    * (int, 1..k in the total order `sim DESC, id ASC`).
    *
    * A bare scan of a small store (the bound of [[knn]]) is answered
    * from the serving snapshot ([[graft.store.ServingSnapshot]]): the
    * query side is read on the driver (a local frame without a job,
    * else the rows the broadcast would collect), and each query takes
    * its top-k from the held blocks. The result is one single-partition
    * frame, so a per-qid aggregate over it adds no exchange. A query
    * side or an estimated result past the same bound, and the inputs
    * [[snapshotJoin]] lists, take the Spark plan,
    * [[similarityJoinPlan]]; both return the same rows, sims, ranks and
    * schema. */
  def similarityJoin(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    snapshotJoin(corpus, queries, k, idCol, vecCol) match {
      case Right(answer) => answer
      case Left(planned) => similarityJoinPlan(corpus, planned, k, idCol, vecCol)
    }

  /** [[similarityJoin]]'s Spark plan: broadcast nested-loop join +
    * per-qid window top-k (`row_number <= k`). */
  private[search] def similarityJoinPlan(corpus: DataFrame, queries: DataFrame, k: Int,
                                         idCol: String, vecCol: String): DataFrame = {
    val scored = corpus
      .crossJoin(broadcast(queries))
      .withColumn("sim", VectorOps.cosine6(col(vecCol), col("qvec")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col(idCol).asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .drop("qvec")
  }

  /** [[similarityJoin]] from the serving snapshot: Right(answer), or
    * Left(the query side the Spark plan should join) wherever the plan
    * is not k independent per-query top-ks under the same column names,
    * for any store the snapshot refuses
    * ([[graft.store.ServingSnapshot.serve]]), and past the bound:
    *  - a NULL or repeated `qid` (the window keys on it and merges
    *    repeats; -0.0 repeats 0.0 and NaN repeats NaN there), or a `qid`
    *    type whose grouping is not plain value equality ([[keyed]]);
    *  - a NULL `qvec` or a NULL element in it;
    *  - a column name on both sides, or a `sim` or `rank` column
    *    (`withColumn` would replace it in place);
    *  - a query side, or an estimated result (queries × min(k, held
    *    rows) × row bytes), larger than
    *    `spark.sql.autoBroadcastJoinThreshold`: the result is held on
    *    the driver and scored on one thread, so it gets the store's
    *    bound.
    * The input is checked before the snapshot lists a file. A query side
    * that was collected and then refused goes to the plan as the
    * collected rows, so it is not read twice. */
  private def snapshotJoin(corpus: DataFrame, queries: DataFrame, k: Int,
                           idCol: String, vecCol: String): Either[DataFrame, DataFrame] = {
    val qSchema = queries.schema
    val names = (corpus.columns ++ queries.columns).map(_.toLowerCase(java.util.Locale.ROOT))
    def at(name: String): Option[Int] = Some(qSchema.fieldNames.indexOf(name)).filter(_ >= 0)
    val shape = for {
      qidAt <- at("qid")
      if keyed(qSchema(qidAt).dataType)
      qvecAt <- at("qvec")
      qvecType <- Some(qSchema(qvecAt).dataType).collect {
        case a @ ArrayType(FloatType | DoubleType, _) => a
      }
      if names.distinct.length == names.length && !names.exists(Set("sim", "rank"))
      served <- graft.store.ServingSnapshot.serve(corpus, idCol, vecCol)
    } yield (qidAt, qvecAt, qvecType, served)
    shape match {
      case None => Left(queries)
      case Some((qidAt, qvecAt, qvecType, served)) =>
        val (rows, collected) = localRows(queries) match {
          case Some(rows) => (rows, None)
          case None => val c = queries.collect().toSeq; (toInternal(c, qSchema), Some(c))
        }
        def refused = Left(collected.fold(queries)(c =>
          queries.sparkSession.createDataFrame(c.asJava, qSchema)))
        val bound = PlanBridge.autoBroadcastJoinThreshold(queries.sparkSession)
        val rest = qSchema.indices.filter(_ != qvecAt)
        val restBytes = rows.iterator.map(r => rest.iterator.map(i =>
          bytesOf(r.get(i, qSchema(i).dataType), qSchema(i).dataType)).sum).sum
        val qvecBytes = rows.iterator.map(r =>
          bytesOf(r.get(qvecAt, qvecType), qvecType)).sum
        queryVectors(rows, qidAt, qSchema(qidAt).dataType, qvecAt, qvecType.elementType) match {
          case None => refused
          case Some(_) if restBytes + qvecBytes > bound => refused
          case Some(vectors) =>
            val perQuery = math.min(k.max(0).toLong, served.rows)
            val resultBytes = perQuery * (rows.size * (served.rowBytes + 12L) + restBytes)
            if (resultBytes > bound) refused
            else Right(snapshotAnswer(corpus, served, rows, vectors, k, qSchema, qvecAt, qvecType))
        }
    }
  }

  /** The snapshot join's frame: each query row's top-k, with the Spark
    * plan's schema. */
  private def snapshotAnswer(corpus: DataFrame, served: graft.store.ServingSnapshot.Served,
                             rows: Seq[InternalRow], vectors: Seq[Array[Double]], k: Int,
                             qSchema: StructType, qvecAt: Int,
                             qvecType: ArrayType): DataFrame = {
    val rest = qSchema.indices.filter(_ != qvecAt)
    val out = rows.zip(served.topK(vectors, k)).flatMap { case (qr, top) =>
      val qValues = rest.map(i => qr.get(i, qSchema(i).dataType))
      top.zipWithIndex.map { case ((values, sim), i) =>
        new GenericInternalRow(values ++ qValues ++ Seq(sim, i + 1)): InternalRow
      }
    }
    val sim = served.sim.copy(nullable =
      served.sim.nullable || qSchema(qvecAt).nullable || qvecType.containsNull)
    PlanBridge.singlePartitionFrame(corpus.sparkSession,
      StructType(served.fields ++ rest.map(qSchema(_)) :+ sim :+
        StructField("rank", IntegerType, nullable = false)), out)
  }

  /** A `qid` type whose values the window groups exactly as [[groupKey]]
    * compares them: atomic, with strings under the default (binary)
    * collation. Nested types, byte arrays (compared by reference on the
    * driver) and other collations take the Spark plan. */
  private def keyed(dt: DataType): Boolean = dt match {
    case _: NumericType | BooleanType | DateType | TimestampType | TimestampNTZType => true
    case st: StringType => st == StringType
    case _ => false
  }

  /** A `qid` value as the window groups it: -0.0 with 0.0, every NaN
    * with every other. */
  private def groupKey(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)
    case f: Float => java.lang.Float.floatToIntBits(if (f == 0.0f) 0.0f else f)
    case other => other
  }

  /** Estimated bytes of one value of a driver-held row. */
  private def bytesOf(v: Any, dt: DataType): Long = (v, dt) match {
    case (null, _) => 0L
    case (a: ArrayData, ArrayType(et, _)) => 8L + a.numElements().toLong * et.defaultSize
    case (s: UTF8String, _) => s.numBytes().toLong
    case _ => dt.defaultSize.toLong
  }

  /** Collected rows in Catalyst's internal form. */
  private def toInternal(rows: Seq[Row], schema: StructType): Seq[InternalRow] = {
    val convert = CatalystTypeConverters.createToCatalystConverter(schema)
    rows.map(r => convert(r).asInstanceOf[InternalRow])
  }

  /** Each query's vector widened to double, or None when a `qid` is
    * NULL or repeated, or a vector is NULL or holds a NULL element. */
  private def queryVectors(rows: Seq[InternalRow], qidAt: Int, qidType: DataType,
                           qvecAt: Int, et: DataType): Option[Seq[Array[Double]]] = {
    val qids = rows.map(r => if (r.isNullAt(qidAt)) null else groupKey(r.get(qidAt, qidType)))
    val vectors = rows.map(r => if (r.isNullAt(qvecAt)) null else r.getArray(qvecAt))
    val ok = !qids.contains(null) && qids.distinct.size == qids.size &&
      vectors.forall(a => a != null && !(0 until a.numElements()).exists(a.isNullAt))
    if (!ok) None
    else Some(vectors.map(a =>
      if (et == FloatType) a.toFloatArray().map(_.toDouble) else a.toDoubleArray()))
  }

  /** Block-partitioned similarity join — the scale path when the query
    * side is too large to broadcast. The corpus is split into `blocks`
    * deterministic hash blocks; queries replicate once per block (an
    * explode, not a broadcast), the scored join shuffles on the block
    * id, and top-k resolves in two phases: local top-k inside each
    * (qid, block), then global top-k per qid over the k·blocks
    * survivors. Neither side ever needs to fit on one node; the shuffle
    * carries each query row `blocks` times and each corpus row once. */
  def similarityJoinBlocked(corpus: DataFrame, queries: DataFrame, k: Int,
                            blocks: Int,
                            idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val blockedCorpus = corpus.withColumn("__block",
      pmod(hash(col(idCol)), lit(blocks)))
    val replicatedQueries = queries.withColumn("__block",
      explode(sequence(lit(0), lit(blocks - 1))))
    val scored = blockedCorpus.join(replicatedQueries, Seq("__block"))
      .withColumn("sim", VectorOps.cosine6(col(vecCol), col("qvec")))
    val wLocal = Window.partitionBy(col("qid"), col("__block"))
      .orderBy(col("sim").desc, col(idCol).asc)
    val wGlobal = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col(idCol).asc)
    scored
      .withColumn("__lr", row_number().over(wLocal))
      .filter(col("__lr") <= k)
      .withColumn("rank", row_number().over(wGlobal))
      .filter(col("rank") <= k)
      .drop("__lr", "__block", "qvec")
  }

  /** Rank-ordered concatenation of the top-k texts with the reference's
    * separator `"\n---\n"` (`/root/reference/App.tsx:192`). Shuffle-safe:
    * order is carried inside the collected structs, not assumed from row
    * order. Input needs columns (sim, id, text-ish). */
  def contextAgg(topK: DataFrame, idCol: Column, textCol: Column, simCol: Column): DataFrame =
    topK
      .agg(collect_list(struct((-simCol).as("nsim"), idCol.as("id"), textCol.as("text"))).as("rows"))
      .select(array_join(transform(sort_array(col("rows")), r => r.getField("text")), "\n---\n").as("context"))

  /** Per-query [[contextAgg]] — the batch-RAG form: one context row
    * per `qid`, the same rank-ordered concat with order carried
    * inside the collected structs (shuffle-safe). Per-group state is
    * bounded by the retrieval depth k, not the corpus. */
  def contextAggBatch(topK: DataFrame, idCol: Column, textCol: Column,
                      simCol: Column): DataFrame =
    topK
      .groupBy(col("qid"))
      .agg(collect_list(struct((-simCol).as("nsim"), idCol.as("id"),
        textCol.as("text"))).as("rows"))
      .select(col("qid"),
        array_join(transform(sort_array(col("rows")),
          r => r.getField("text")), "\n---\n").as("context"))

  /** Prompt assembly — VERBATIM parity with the reference's template
    * literal (`/root/reference/services/geminiService.ts:80-88`):
    * instruction sentence, blank line, `Context:` with `---` fences
    * around the context, blank line, `Question: ` inline, trailing
    * newline. */
  def prompt(context: Column, question: Column): Column =
    format_string(
      "Based on the following context, please provide a comprehensive answer to the user's question. If the context does not contain the answer, state that you cannot find the answer in the provided document.\n\nContext:\n---\n%s\n---\n\nQuestion: %s\n",
      context, question)
}
